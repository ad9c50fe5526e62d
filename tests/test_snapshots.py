"""Checkpoint/resume: a killed crawl resumes from the last complete
generation snapshot with zero re-fetches of committed work
(north_rule; reference analog is the bbolt cache idempotency,
/root/reference/modules/cache/cache.go)."""

import json
import os
from pathlib import Path

import pytest

from flyscrape_spark.plans.frontier import CrawlEngine
from flyscrape_spark.sources.fixtures import SCENARIOS
from flyscrape_spark.sources.snapshots import SnapshotStore


@pytest.fixture
def scenario():
    return SCENARIOS["depth_cycle"]


def canonical(result):
    return [
        (r["depth"], r["discovery_order"], r["url"])
        for r in result.seen.orderBy("discovery_order").collect()
    ]


def test_checkpointed_equals_plain(spark, scenario, tmp_path):
    plain = CrawlEngine(spark, scenario.config, scenario.transport(spark)).run(
        scenario.seeds
    )
    store = SnapshotStore(str(tmp_path / "snap"))
    ck = CrawlEngine(
        spark, scenario.config, scenario.transport(spark), checkpoint=store
    ).run(scenario.seeds)
    assert canonical(ck) == canonical(plain)
    strip = lambda ms: [{k: v for k, v in m.items() if k != "sec"} for m in ms]
    assert strip(ck.metrics) == strip(plain.metrics)


def test_kill_and_resume_zero_refetch(spark, scenario, tmp_path):
    store_dir = str(tmp_path / "snap")

    # uninterrupted reference run (no checkpoint)
    full = CrawlEngine(spark, scenario.config, scenario.transport(spark)).run(
        scenario.seeds
    )

    # "killed" run: stop after generation 1 commits
    killed = CrawlEngine(
        spark, scenario.config, scenario.transport(spark),
        checkpoint=SnapshotStore(store_dir), max_generations=2,
    ).run(scenario.seeds)
    assert killed.generations == 2

    # resume with a fresh engine over the same store
    resumed = CrawlEngine(
        spark, scenario.config, scenario.transport(spark),
        checkpoint=SnapshotStore(store_dir),
    ).run(scenario.seeds)

    assert canonical(resumed) == canonical(full)
    # metrics = 2 replayed-from-manifest + only the NEW generations;
    # fetch work re-done is exactly the post-kill generations
    strip = lambda ms: [{k: v for k, v in m.items() if k != "sec"} for m in ms]
    assert strip(resumed.metrics[:2]) == strip(full.metrics[:2])
    new_gens = resumed.metrics[2:]
    assert [m["generation"] for m in new_gens] == [
        m["generation"] for m in full.metrics[2:]
    ]
    refetched = sum(m["fetched"] for m in new_gens)
    assert refetched == sum(m["fetched"] for m in full.metrics[2:])


def test_invalidate_forces_refetch(spark, scenario, tmp_path):
    """Cache bypass (utils.go:14, cache.go:89-95): invalidating a URL
    after a completed crawl makes the next resume refetch exactly that
    URL — everything else stays zero-refetch."""
    store_dir = str(tmp_path / "snap")
    target = "http://www.google.com"

    first = CrawlEngine(
        spark, scenario.config, scenario.transport(spark),
        checkpoint=SnapshotStore(store_dir),
    ).run(scenario.seeds)
    n_gens = len(first.metrics)
    assert target in {r["url"] for r in first.results.collect()}

    store = SnapshotStore(store_dir)
    assert store.invalidate(spark, [target]) == 1
    # dropped from the committed snapshots
    for m in store.manifests():
        snap = spark.read.parquet(m["tables"]["fetched"])
        assert snap.filter(snap["url"] == target).count() == 0

    resumed = CrawlEngine(
        spark, scenario.config, scenario.transport(spark),
        checkpoint=SnapshotStore(store_dir),
    ).run(scenario.seeds)

    # exactly one new generation fetching exactly the invalidated URL
    new_gens = resumed.metrics[n_gens:]
    assert sum(m["fetched"] for m in new_gens) == 1
    rows = resumed.results.filter(resumed.results["url"] == target).collect()
    assert len(rows) == 1 and rows[0]["status"] == 200
    # full result set equals the pre-invalidation crawl's URL set
    assert {r["url"] for r in resumed.results.collect()} == {
        r["url"] for r in first.results.collect()
    }
    # idempotent: a further resume refetches nothing
    again = CrawlEngine(
        spark, scenario.config, scenario.transport(spark),
        checkpoint=SnapshotStore(store_dir),
    ).run(scenario.seeds)
    assert sum(m["fetched"] for m in again.metrics[len(resumed.metrics):]) == 0


def test_manifest_lineage_recorded(spark, scenario, tmp_path):
    store = SnapshotStore(str(tmp_path / "snap"))
    CrawlEngine(
        spark, scenario.config, scenario.transport(spark), checkpoint=store
    ).run(scenario.seeds)
    manifests = store.manifests()
    assert manifests, "no manifests committed"
    for m in manifests:
        assert {"frontier", "fetched", "links"} <= set(m["tables"])
        assert m["lineage"], "per-partition lineage missing"
        for part in m["lineage"]:
            assert part["rows"] > 0
            assert part["host_min"] <= part["host_max"]
        json.dumps(m)  # manifest is valid JSON-serializable


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, status int, html string")


def _interrupted(spark, config, pages, store_dir, stop_after):
    """Crawl with checkpoints, stop after ``stop_after`` generations,
    then resume with a fresh engine over the same store."""
    from flyscrape_spark.sources.transport import JoinTransport

    def engine(**kw):
        return CrawlEngine(spark, config, JoinTransport(pages, config),
                           checkpoint=SnapshotStore(store_dir), **kw)

    engine(max_generations=stop_after).run(["http://a.test/"])
    return engine().run(["http://a.test/"])


def _robots_probes(spark, store_dir) -> list[str]:
    """Every robots.txt fetch of a checkpointed crawl: each generation
    commits one robots row per host it probed."""
    return sorted(
        r["host"]
        for m in SnapshotStore(store_dir).manifests()
        for r in spark.read.parquet(m["tables"]["robots"]).collect()
    )


def test_resume_restores_robots_cache(spark, tmp_path):
    """A resumed crawl probes robots.txt only for hosts the committed
    generations never probed, and still obeys the rules they fetched."""
    from flyscrape_spark.config import CrawlConfig
    from flyscrape_spark.sources.transport import JoinTransport

    pages = _pages(spark, [
        ("http://a.test/robots.txt", 200, "User-agent: *\nDisallow: /private"),
        ("http://a.test/", 200,
         '<a href="/1">1</a><a href="http://b.test/">b</a>'),
        ("http://a.test/1", 200, '<a href="/private/x">p</a><a href="/2">2</a>'),
        ("http://b.test/", 200, '<a href="http://a.test/3">3</a>'),
        ("http://a.test/2", 200, "<p>2</p>"),
        ("http://a.test/3", 200, "<p>3</p>"),
        ("http://a.test/private/x", 200, "<p>private</p>"),
    ])
    config = CrawlConfig(depth=3, domain_filter=False, respect_robots=True)
    full_dir, cut_dir = str(tmp_path / "full"), str(tmp_path / "cut")
    full = CrawlEngine(spark, config, JoinTransport(pages, config),
                       checkpoint=SnapshotStore(full_dir)).run(["http://a.test/"])
    resumed = _interrupted(spark, config, pages, cut_dir, stop_after=1)

    assert _robots_probes(spark, full_dir) == ["a.test", "b.test"]
    assert _robots_probes(spark, cut_dir) == _robots_probes(spark, full_dir)
    assert canonical(resumed) == canonical(full)
    fetched = {r["url"] for r in resumed.results.collect()}
    assert fetched == {r["url"] for r in full.results.collect()}
    assert "http://a.test/private/x" not in fetched
    assert sorted(r["host"] for r in resumed.robots.collect()) == [
        "a.test", "b.test"]


def test_resume_restores_host_health(spark, tmp_path):
    """The host circuit breaker remembers, across a resume, the host it
    tripped before the crawl stopped."""
    from flyscrape_spark.config import CrawlConfig
    from flyscrape_spark.sources.transport import JoinTransport

    pages = _pages(spark, [
        ("http://a.test/", 200,
         '<a href="http://bad.test/1">b</a><a href="/g1">g</a>'),
        ("http://bad.test/1", 503, '<a href="http://bad.test/2">b2</a>'),
        ("http://a.test/g1", 200, '<a href="http://bad.test/3">b3</a>'),
        ("http://bad.test/2", 503, "<p>x</p>"),
        ("http://bad.test/3", 503, "<p>x</p>"),
    ])
    config = CrawlConfig(depth=3, domain_filter=False,
                         host_cooldown_ratio=0.5, host_cooldown_min_fetches=1)
    full = CrawlEngine(spark, config, JoinTransport(pages, config)).run(
        ["http://a.test/"])
    # stop right after the generation that trips bad.test
    resumed = _interrupted(spark, config, pages, str(tmp_path / "cut"),
                           stop_after=2)

    fetched = {r["url"] for r in resumed.results.collect()}
    assert fetched == {r["url"] for r in full.results.collect()}
    assert fetched == {"http://a.test/", "http://bad.test/1", "http://a.test/g1"}
    assert canonical(resumed) == canonical(full)


def test_crash_after_resume_keeps_invalidated(spark, scenario, tmp_path):
    """``resume()`` re-admits queued force-refetch URLs but keeps the
    queue until a manifest commits them: a crash right after a resume
    loses none."""
    store_dir = str(tmp_path / "snap")
    target = "http://www.google.com"
    first = CrawlEngine(
        spark, scenario.config, scenario.transport(spark),
        checkpoint=SnapshotStore(store_dir),
    ).run(scenario.seeds)
    assert SnapshotStore(store_dir).invalidate(spark, [target]) == 1

    # a process that resumes and dies before committing anything
    assert SnapshotStore(store_dir).resume(spark) is not None

    resumed = CrawlEngine(
        spark, scenario.config, scenario.transport(spark),
        checkpoint=SnapshotStore(store_dir),
    ).run(scenario.seeds)
    new_gens = resumed.metrics[len(first.metrics):]
    assert sum(m["fetched"] for m in new_gens) == 1
    rows = resumed.results.filter(resumed.results["url"] == target).collect()
    assert len(rows) == 1 and rows[0]["status"] == 200
    assert {r["url"] for r in resumed.results.collect()} == {
        r["url"] for r in first.results.collect()
    }
    # spent once the generation that re-admitted it is published
    assert not list((tmp_path / "snap" / "_invalidated").glob("inv-*.json"))


def test_manifest_writes_fsync_before_rename(spark, scenario, tmp_path,
                                             monkeypatch):
    """Every manifest and queue file is fsynced before its rename, and
    its directory after it (commit_meta, invalidate and the queue)."""
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", os.stat(src).st_ino,
                       os.stat(Path(dst).parent).st_ino, Path(dst).parent.name))
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    store_dir = str(tmp_path / "snap")
    CrawlEngine(
        spark, scenario.config, scenario.transport(spark),
        checkpoint=SnapshotStore(store_dir),
    ).run(scenario.seeds)
    n_commits = sum(e[0] == "replace" for e in events)
    assert SnapshotStore(store_dir).invalidate(
        spark, ["http://www.google.com"]) == 1

    replaces = [i for i, e in enumerate(events) if e[0] == "replace"]
    dirs = [events[i][3] for i in replaces]
    assert dirs[:n_commits] == ["_manifests"] * n_commits and n_commits >= 3
    # invalidate rewrites at least one manifest, then writes the queue
    assert "_manifests" in dirs[n_commits:-1] and dirs[-1] == "_invalidated"
    for i in replaces:
        _, src_ino, dir_ino, _ = events[i]
        assert ("fsync", src_ino) in events[:i], "file not fsynced"
        assert events[i + 1] == ("fsync", dir_ino), "directory not fsynced"
