"""Round-3 precision/scale knobs: trap whitelist + min_urls,
pretrained-LM broadcast path."""

from __future__ import annotations

import pytest


def _url_rows(host, paths):
    return [(f"http://{host}/{p}", host) for p in paths]


@pytest.fixture(scope="module")
def trap_hosts(spark):
    # calendar trap: 100 URLs, 1 digit-collapsed template
    rows = _url_rows("trap.example",
                     [f"cal?y={2000 + i % 50}&m={i % 12}" for i in range(100)])
    # deep-but-DIVERSE host: 100 URLs across ~100 distinct templates —
    # high cardinality but not mechanical; must never be flagged
    rows += _url_rows("blog.example",
                      [f"post-{'x' * (i % 97)}" for i in range(100)])
    # mechanical but known-legit (a forum's /post/N): whitelisted
    rows += _url_rows("forum.example", [f"post/{i}" for i in range(100)])
    # tiny sample that happens to collapse: below min_urls
    rows += _url_rows("tiny.example", [f"p/{i}" for i in range(5)])
    return spark.createDataFrame(rows, "url string, host string")


def _flags(df):
    return {r["host"]: r["is_trap"] for r in df.collect()}


def test_trap_flags_only_the_trap_with_knobs(trap_hosts):
    from flyscrape_spark.operators.traps import trap_stats

    flags = _flags(trap_stats(trap_hosts, ratio=50.0, min_urls=10,
                              whitelist=["forum.example"]))
    assert flags == {"trap.example": True, "blog.example": False,
                     "forum.example": False, "tiny.example": False}


def test_trap_deep_but_diverse_never_flagged_even_without_knobs(trap_hosts):
    from flyscrape_spark.operators.traps import trap_stats

    flags = _flags(trap_stats(trap_hosts))
    assert flags["blog.example"] is False  # diversity, not a whitelist
    assert flags["trap.example"] is True


def test_trap_default_knobs_preserve_prior_behavior(trap_hosts):
    from flyscrape_spark.operators.traps import trap_stats

    # min_urls=0 + no whitelist == the pure ratio test: the forum's
    # mechanical /post/N family flags (the round-2 precision complaint)
    flags = _flags(trap_stats(trap_hosts))
    assert flags["forum.example"] is True
    assert flags["tiny.example"] is False  # 5 URLs / 1 template < 50


def test_trap_min_urls_suppresses_small_samples(trap_hosts):
    from flyscrape_spark.operators.traps import trap_stats

    # at an aggressive ratio the 5-URL host would flag on noise;
    # min_urls is the small-sample guard
    noisy = _flags(trap_stats(trap_hosts, ratio=3.0))
    assert noisy["tiny.example"] is True
    guarded = _flags(trap_stats(trap_hosts, ratio=3.0, min_urls=10))
    assert guarded["tiny.example"] is False
    assert guarded["trap.example"] is True


def test_lm_pretrained_model_matches_in_corpus_scores(spark):
    from flyscrape_spark.operators.lm import bigram_model, lm_scores

    docs = spark.createDataFrame(
        [(i, f"the cat sat on the mat {i % 3}") for i in range(20)]
        + [(99, "zq")],  # < 2 words: n_bigrams 0, NULL score
        "doc_id long, text string",
    )
    in_corpus = {r["doc_id"]: r for r in lm_scores(docs).collect()}
    # the same model, supplied as a pretrained (broadcast) model, must
    # score identically — only the join strategy changes
    pre = {r["doc_id"]: r
           for r in lm_scores(docs, model=bigram_model(docs)).collect()}
    assert in_corpus.keys() == pre.keys()
    for k in in_corpus:
        assert in_corpus[k]["avg_logprob"] == pre[k]["avg_logprob"]
        assert in_corpus[k]["keep_lm"] == pre[k]["keep_lm"]
    assert pre[99]["n_bigrams"] == 0 and pre[99]["avg_logprob"] is None


def test_lm_supplied_model_joins_are_broadcast(spark):
    from flyscrape_spark.operators.lm import lm_scores

    docs = spark.createDataFrame([(1, "the cat sat")],
                                 "doc_id long, text string")
    uni = spark.createDataFrame([("the", 10)], "w1 string, c_unigram long")
    bi = spark.createDataFrame([("the", "cat", 3)],
                               "w1 string, w2 string, c_bigram long")
    vocab = spark.createDataFrame([(100,)], "vocab_size long")
    df = lm_scores(docs, model=(uni, bi, vocab))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    # no gram-key shuffle anywhere: the round-2 item-8 gate
    assert "Exchange hashpartitioning(w1" not in plan
