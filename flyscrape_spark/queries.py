"""Driver-contract queries: every implemented operator exposed as
``(spark, sf_dir) -> DataFrame`` with (where SQL-expressible) a DuckDB
oracle that reproduces it bit-for-bit.

The crawl queries run over a deterministic synthetic web derived from
the ``documents`` testdata table (TESTDATA.md): doc i lives at
``http://h{i%13}.example/d/{i}`` and links to docs ``(2i+1)%N`` and
``(3i+2)%N`` — so the BFS frontier, host distribution and dedup
behavior are all reproducible in pure SQL (recursive CTE) while the
Spark side exercises the REAL engine end-to-end: fetch-by-join, HTML
parsing UDF, link resolution, anti-join dedup, generation loop.

Cross-engine exactness rules used throughout:
- hashes: portable md5-prefix hash (functions/hashing.py)
- floats: cast to double BEFORE arithmetic, round(…, 4) at the end
- every computed column aliased identically on both sides
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.functions.hashing import portable_hash64, portable_hash64_sql
from flyscrape_spark.functions import urls as urls_mod
from flyscrape_spark.functions.urls import canonicalize, canonicalize_sql, host_of
from flyscrape_spark.operators import ann, cluster, dedup, text as text_ops
from flyscrape_spark.plans.frontier import CrawlEngine
from flyscrape_spark.sources.transport import JoinTransport

GRAPH_HOSTS = 13
BFS_DEPTH = 6
STOPWORDS_SQL = "['" + "', '".join(text_ops.STOPWORDS_EN) + "']"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ------------------------------------------------------- synthetic web

def _doc_url(c) -> F.Column:
    return F.concat(
        F.lit("http://h"), (c % GRAPH_HOSTS).cast("string"),
        F.lit(".example/d/"), c.cast("string"),
    )


def _doc_url_sql(expr: str) -> str:
    return f"'http://h' || ({expr} % {GRAPH_HOSTS}) || '.example/d/' || {expr}"


def synthetic_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages(url, host, status, html): each page embeds
    its text and two outlinks (2i+1)%N, (3i+2)%N; every 4th page also
    an <img> whose ref is (3i)%max(N/4,1) — interleaved text+media
    with deliberate media_ref collisions so dedup is non-trivial."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    n_media = max(n // 4, 1)
    i = F.col("doc_id")
    img = F.when(
        i % 4 == 0,
        F.concat(F.lit('<img src="/media/m'),
                 ((3 * i) % n_media).cast("string"), F.lit('.png">')),
    ).otherwise(F.lit(""))
    return docs.select(
        _doc_url(i).alias("url"),
        F.concat(F.lit("h"), (i % GRAPH_HOSTS).cast("string"), F.lit(".example")).alias("host"),
        F.lit(200).alias("status"),
        F.concat(
            F.lit("<html><body><p>"), F.col("text"),
            F.lit('</p><a href="'), _doc_url((2 * i + 1) % n),
            F.lit('">a</a>'), img, F.lit('<a href="'), _doc_url((3 * i + 2) % n),
            F.lit('">b</a></body></html>'),
        ).alias("html"),
    )


# ------------------------------------------------------- crawl queries

def q_crawl_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine BFS from doc 0 to depth 6: the flagship crawl.
    Output = fetched URL set with first-discovery (=min) depth."""
    config = CrawlConfig(depth=BFS_DEPTH, domain_filter=False)
    pages = synthetic_pages(spark, sf_dir)
    engine = CrawlEngine(
        spark, config, JoinTransport(pages, config), collect_metrics=False
    )
    result = engine.run([f"http://h0.example/d/0"])
    return (
        result.seen.filter(F.col("depth") <= BFS_DEPTH)
        .select("url", F.col("depth").cast("int").alias("depth"))
    )


def sql_crawl_bfs() -> str:
    return f"""
WITH RECURSIVE n AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (2*doc_id+1) % n.n AS dst FROM documents, n
  UNION ALL
  SELECT doc_id, (3*doc_id+2) % n.n FROM documents, n
),
bfs(id, depth) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT e.dst, b.depth+1 FROM bfs b JOIN edges e ON e.src = b.id
  WHERE b.depth < {BFS_DEPTH}
)
SELECT {_doc_url_sql('id')} AS url, CAST(min(depth) AS INT) AS depth
FROM bfs GROUP BY id
"""


MANUAL_DEPTH = 4


def q_manual_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl driven by a Python scrape script that manually follow()s a
    third, deterministic outlink per page (reference js.go:217-219 ->
    scrape.go:210-212; example examples/hackernews_manual_follow.js):
    BFS over the edge set {2i+1, 3i+2 (auto-follow), 5i+3 (manual)} to
    depth 4. Output = fetched URL set with first-discovery depth."""
    from flyscrape_spark.parse.script import make_script_udf

    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    hosts = GRAPH_HOSTS

    def script(ctx):
        i = int(ctx.url.rsplit("/", 1)[1])
        j = (5 * i + 3) % n
        ctx.follow(f"http://h{j % hosts}.example/d/{j}")
        return None  # no output row (undefined semantics)

    config = CrawlConfig(depth=MANUAL_DEPTH, domain_filter=False)
    pages = synthetic_pages(spark, sf_dir)
    engine = CrawlEngine(
        spark, config, JoinTransport(pages, config),
        collect_metrics=False, script_udf=make_script_udf(script),
    )
    result = engine.run(["http://h0.example/d/0"])
    return (
        result.seen.filter(F.col("depth") <= MANUAL_DEPTH)
        .select("url", F.col("depth").cast("int").alias("depth"))
    )


def sql_manual_follow() -> str:
    return f"""
WITH RECURSIVE n AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (2*doc_id+1) % n.n AS dst FROM documents, n
  UNION ALL
  SELECT doc_id, (3*doc_id+2) % n.n FROM documents, n
  UNION ALL
  SELECT doc_id, (5*doc_id+3) % n.n FROM documents, n
),
bfs(id, depth) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT e.dst, b.depth+1 FROM bfs b JOIN edges e ON e.src = b.id
  WHERE b.depth < {MANUAL_DEPTH}
)
SELECT {_doc_url_sql('id')} AS url, CAST(min(depth) AS INT) AS depth
FROM bfs GROUP BY id
"""


def q_script_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The element-API script surface (js.go:257-300) driver-verified:
    a Python scrape script navigates find/first/last/next/parent/
    siblings/attr/name over every synthetic page; the JSON payload is
    re-typed with from_json. Every accessor's value is reconstructible
    in SQL because the page HTML is expression-generated."""
    from flyscrape_spark.parse.script import make_script_udf

    pages = synthetic_pages(spark, sf_dir)

    def script(ctx):
        doc = ctx.doc
        anchors = doc.find("a")
        first = anchors.first()
        after = first.next()
        return {
            "text": doc.find("p").text(),
            "n_links": anchors.length,
            "after_first": after.name(),
            "media": after.attr("src"),
            "last_href": anchors.last().attr("href"),
            "parent_tag": first.parent().name(),
            "n_siblings": first.siblings().length,
        }

    udf = make_script_udf(script)
    schema = (
        "text string, n_links int, after_first string, media string, "
        "last_href string, parent_tag string, n_siblings int"
    )
    return (
        pages.withColumn("script", udf(F.col("html"), F.col("url")))
        .withColumn("d", F.from_json(F.col("script.data"), schema))
        .select(
            "url", F.col("d.text").alias("text"),
            F.col("d.n_links").alias("n_links"),
            F.col("d.after_first").alias("after_first"),
            F.col("d.media").alias("media"),
            F.col("d.last_href").alias("last_href"),
            F.col("d.parent_tag").alias("parent_tag"),
            F.col("d.n_siblings").alias("n_siblings"),
        )
    )


def sql_script_extract() -> str:
    return f"""
WITH n AS (SELECT count(*) AS n, greatest(count(*) // 4, 1) AS nm FROM documents)
SELECT {_doc_url_sql('doc_id')} AS url,
  text,
  CAST(2 AS INT) AS n_links,
  CASE WHEN doc_id % 4 = 0 THEN 'img' ELSE 'a' END AS after_first,
  CASE WHEN doc_id % 4 = 0
       THEN '/media/m' || ((3*doc_id) % n.nm) || '.png' ELSE '' END AS media,
  {_doc_url_sql('(3*doc_id+2) % n.n')} AS last_href,
  'body' AS parent_tag,
  CAST(CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 2 END AS INT) AS n_siblings
FROM documents, n
"""


_JS_EXTRACT_SRC = """
export default function ({ doc, url }) {
  const anchors = doc.find("a");
  const first = anchors.first();
  const after = first.next();
  return {
    text: doc.find("p").text(),
    n_links: anchors.length,
    after_first: after.name(),
    media: after.attr("src"),
    last_href: anchors.last().attr("href"),
    parent_tag: first.parent().name(),
    n_siblings: first.siblings().length,
  };
}
"""


def q_js_script_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME extraction as ``script_extract`` but authored in
    JavaScript and executed by the from-scratch JS interpreter
    (parse/jsvm.py) through the Arrow-batched bridge
    (parse/jsbridge.make_js_script_udf) — the reference's goja VM path
    (js.go:105-153, :155-246) driver-verified against the identical
    SQL oracle. Compiles once per Python worker; one pandas-UDF call
    per Arrow batch (no per-row Python dispatch from Spark's side)."""
    from flyscrape_spark.parse.jsbridge import make_js_script_udf

    pages = synthetic_pages(spark, sf_dir)
    udf = make_js_script_udf(_JS_EXTRACT_SRC)
    schema = (
        "text string, n_links int, after_first string, media string, "
        "last_href string, parent_tag string, n_siblings int"
    )
    return (
        pages.withColumn("script", udf(F.col("html"), F.col("url")))
        .withColumn("d", F.from_json(F.col("script.data"), schema))
        .select(
            "url", F.col("d.text").alias("text"),
            F.col("d.n_links").alias("n_links"),
            F.col("d.after_first").alias("after_first"),
            F.col("d.media").alias("media"),
            F.col("d.last_href").alias("last_href"),
            F.col("d.parent_tag").alias("parent_tag"),
            F.col("d.n_siblings").alias("n_siblings"),
        )
    )


def sql_js_script_extract() -> str:
    return sql_script_extract()


def q_js_crawl_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``manual_follow`` driven by a verbatim JavaScript script through
    the full engine: the JS default export parses the doc-id out of the
    page URL and ``follow()``s the deterministic (5i+3)%N outlink
    (js.go:217-219 -> scrape.go:210-212), returning undefined (no
    output row, js_test.go:80-170). Same BFS oracle as manual_follow —
    proves the JS ScrapeParams surface (url, follow) inside the
    generation loop, not just the standalone UDF."""
    from flyscrape_spark.parse.jsbridge import make_js_script_udf

    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    hosts = GRAPH_HOSTS
    src = f"""
export default function ({{ url, follow }}) {{
  const i = parseInt(url.split("/").pop());
  const j = (5 * i + 3) % {n};
  follow("http://h" + (j % {hosts}) + ".example/d/" + j);
}}
"""
    config = CrawlConfig(depth=MANUAL_DEPTH, domain_filter=False)
    pages = synthetic_pages(spark, sf_dir)
    engine = CrawlEngine(
        spark, config, JoinTransport(pages, config),
        collect_metrics=False, script_udf=make_js_script_udf(src),
    )
    result = engine.run(["http://h0.example/d/0"])
    return (
        result.seen.filter(F.col("depth") <= MANUAL_DEPTH)
        .select("url", F.col("depth").cast("int").alias("depth"))
    )


def sql_js_crawl_follow() -> str:
    return sql_manual_follow()


def q_cookie_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 6265 cookie matching (SURVEY §2.1 #17, reference
    modules/cookies/cookies.go:40-59) over every synthetic frontier
    URL: a fixed 5-cookie store exercising exact-domain, suffix,
    path-bound, secure-only and host-only rules; output = the Cookie
    header each request would carry. Pure JVM expressions, 0 shuffles."""
    from flyscrape_spark.sources.cookies import Cookie, cookie_header

    jar = [
        Cookie("sess", "s0", "h0.example"),
        Cookie("track", "t", "example"),              # suffix: every host
        Cookie("docs", "d", "h1.example", path="/d"),
        Cookie("tls", "x", "h2.example", secure=True),  # http -> never
        Cookie("pin", "p", "h3.example", host_only=True),
    ]
    docs = load(spark, sf_dir, "documents")
    urls = docs.select(_doc_url(F.col("doc_id")).alias("url"))
    return urls.select("url", cookie_header(jar).alias("cookie"))


def sql_cookie_match() -> str:
    # ordering twin: longer cookie-path first (docs, len 2), then
    # store order among "/" cookies (sess, track, pin); tls never
    # matches over http
    return f"""
SELECT {_doc_url_sql('doc_id')} AS url,
  concat_ws('; ',
    CASE WHEN doc_id % {GRAPH_HOSTS} = 1 THEN 'docs=d' END,
    CASE WHEN doc_id % {GRAPH_HOSTS} = 0 THEN 'sess=s0' END,
    'track=t',
    CASE WHEN doc_id % {GRAPH_HOSTS} = 3 THEN 'pin=p' END) AS cookie
FROM documents
"""


def q_host_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host URL counts over the synthetic frontier — the skew /
    politeness statistic (host extracted JVM-side via parse_url)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(host_of(_doc_url(F.col("doc_id"))).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n_urls"))
    )


def sql_host_counts() -> str:
    return (
        f"SELECT 'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS host, "
        "count(*) AS n_urls FROM documents GROUP BY 1"
    )


def q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One frontier expansion step in isolation: seeds = docs with
    doc_id%97==0; candidates = their outlinks; new = candidates not in
    the seed set (the URL-seen anti-join with the portable hash key)."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    i = F.col("doc_id")
    seeds = docs.filter(i % 97 == 0).select(_doc_url(i).alias("url"))
    cands = (
        docs.filter(i % 97 == 0)
        .select(F.explode(F.array(_doc_url((2 * i + 1) % n),
                                  _doc_url((3 * i + 2) % n))).alias("url"))
        .distinct()
    )
    return (
        cands.join(seeds, "url", "left_anti")
        .select("url", portable_hash64(F.col("url")).alias("url_key"))
    )


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC round trip (sources/warc.py): archive the documents table
    as per-shard gzipped WARC response blobs (Common Crawl's layout:
    one gzip member per record, one blob per shard), then parse the
    blobs back into page rows. Output = what a WET-style extractor
    yields; the oracle recomputes it straight from documents because
    the round trip is lossless."""
    from flyscrape_spark.sources.warc import pages_to_warc, read_warc_blobs

    docs = load(spark, sf_dir, "documents")
    pages = docs.select(
        _doc_url(F.col("doc_id")).alias("url"),
        F.lit(200).alias("status"),
        F.col("text").alias("html"),
        F.pmod(F.col("doc_id"), F.lit(16)).cast("string").alias("shard"),
    )
    blobs = pages_to_warc(pages, group_col="shard")
    parsed = read_warc_blobs(blobs, content_col="warc")
    return parsed.select(
        "url",
        F.col("status").cast("int").alias("status"),
        F.length("html").cast("bigint").alias("chars"),
    )


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl budget allocation: change-rate estimates
    (Cho & Garcia-Molina) → top-3 most-volatile URLs per host
    (operators/recrawl.py schedule_crawl, WindowGroupLimit rank-cap)."""
    from flyscrape_spark.operators.recrawl import change_rate, schedule_crawl

    rates = change_rate(_fetch_history(spark, sf_dir), horizon=86400.0)
    return schedule_crawl(rates, budget_per_host=3)


def sql_crawl_schedule(budget: int = 3) -> str:
    return f"""
WITH rates AS ({sql_change_rate()}),
ranked AS (
  SELECT url,
         lower(regexp_extract(url, '^[a-z]+://([^/]+)', 1)) AS host,
         lambda_hat, next_due,
         row_number() OVER (PARTITION BY
             lower(regexp_extract(url, '^[a-z]+://([^/]+)', 1))
             ORDER BY lambda_hat DESC, url) AS sched_rank
  FROM rates
)
SELECT url, host, lambda_hat, next_due,
       CAST(sched_rank AS INT) AS sched_rank
FROM ranked WHERE sched_rank <= {budget}
"""


def sql_warc_ingest() -> str:
    return f"""
SELECT {_doc_url_sql('doc_id')} AS url,
       CAST(200 AS INT) AS status,
       CAST(length(text) AS BIGINT) AS chars
FROM documents
"""


def sql_seen_antijoin() -> str:
    u1 = _doc_url_sql("(2*doc_id+1) % n.n")
    u2 = _doc_url_sql("(3*doc_id+2) % n.n")
    return f"""
WITH n AS (SELECT count(*) AS n FROM documents),
seeds AS (SELECT {_doc_url_sql('doc_id')} AS url FROM documents WHERE doc_id % 97 = 0),
cands AS (
  SELECT DISTINCT url FROM (
    SELECT {u1} AS url FROM documents, n WHERE doc_id % 97 = 0
    UNION ALL
    SELECT {u2} FROM documents, n WHERE doc_id % 97 = 0
  )
)
SELECT url, {portable_hash64_sql('url')} AS url_key
FROM cands WHERE url NOT IN (SELECT url FROM seeds)
"""


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-3986-lite canonicalization of deterministically messy URLs
    (uppercase scheme/host, default port, fragments, whitespace)."""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    messy = F.concat(
        F.lit("  HTTP://H"), (i % GRAPH_HOSTS).cast("string"),
        F.lit(".EXAMPLE:80/d/"), i.cast("string"),
        F.when(i % 5 == 0, F.concat(F.lit("?q="), i.cast("string"))).otherwise(F.lit("")),
        F.when(i % 3 == 0, F.lit("#frag")).otherwise(F.lit("")),
        F.lit(" "),
    )
    return docs.select("doc_id", canonicalize(messy).alias("canonical_url"))


def sql_url_canonicalize() -> str:
    messy = (
        f"'  HTTP://H' || (doc_id % {GRAPH_HOSTS}) || '.EXAMPLE:80/d/' || doc_id "
        "|| (CASE WHEN doc_id % 5 = 0 THEN '?q=' || doc_id ELSE '' END) "
        "|| (CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END) || ' '"
    )
    return (
        f"SELECT doc_id, {canonicalize_sql(messy)} AS canonical_url FROM documents"
    )


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots filtering over the synthetic frontier: host
    h{k} publishes ``Disallow: /d/{k}`` (a prefix rule), so doc i on
    host k is blocked iff str(i) starts with str(k). Runs the REAL
    parse + match path (parse_rules_udf -> allowed_filter); the oracle
    reproduces the prefix-match subset in SQL. Wildcard/$ rules are
    pinned by tests/test_robots.py instead."""
    from flyscrape_spark.operators.robots import allowed_filter, parse_rules_udf

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    host = F.concat(F.lit("h"), (i % GRAPH_HOSTS).cast("string"), F.lit(".example"))
    frontier = docs.select(_doc_url(i).alias("url"), host.alias("host"))
    robots = (
        spark.range(GRAPH_HOSTS)
        .select(
            F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example")).alias("host"),
            parse_rules_udf(
                F.concat(F.lit("User-agent: *\nDisallow: /d/"), F.col("id").cast("string"))
            ).alias("rules"),
        )
    )
    return allowed_filter(frontier, robots).select("url", "robots_allowed")


def sql_robots_filter() -> str:
    return f"""
SELECT {_doc_url_sql('doc_id')} AS url,
       NOT starts_with(CAST(doc_id AS VARCHAR), CAST(doc_id % {GRAPH_HOSTS} AS VARCHAR))
       AS robots_allowed
FROM documents
"""


# ------------------------------------------------------- dedup / text

_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load(spark, sf_dir, "documents"))


def sql_dedup_exact() -> str:
    return f"""
SELECT {portable_hash64_sql(_NORM_SQL)} AS content_hash,
       min(doc_id) AS representative, count(*) AS dup_count
FROM documents GROUP BY 1
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.fingerprint(load(spark, sf_dir, "documents"))


def sql_fingerprint() -> str:
    return (
        f"SELECT doc_id, {portable_hash64_sql(_NORM_SQL)} AS fingerprint FROM documents"
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.text_quality(load(spark, sf_dir, "documents"))


def sql_text_quality() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, text, string_split({_NORM_SQL}, ' ') AS toks,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents
)
SELECT doc_id,
  CAST(CASE WHEN trim(text) = '' THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
  round(n_chars / greatest(CAST(len(toks) AS DOUBLE), 1.0), 4) AS mean_token_len,
  round((n_chars - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
        / greatest(n_chars, 1.0), 4) AS punct_ratio,
  round(CAST(len(list_filter(toks, t -> list_contains({STOPWORDS_SQL}, t))) AS DOUBLE)
        / greatest(CAST(len(toks) AS DOUBLE), 1.0), 4) AS stopword_ratio
FROM base
"""


def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.repetition_scores(load(spark, sf_dir, "documents"))


def sql_repetition_scores() -> str:
    return f"""
WITH t AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents),
b AS (
  SELECT doc_id, w,
    list_transform(range(0, greatest(len(w)-2, 0)+1),
                   i -> concat_ws(' ', w[i+1], w[i+2])) AS bg
  FROM t
)
SELECT doc_id,
  round((CAST(len(w) AS DOUBLE) - len(list_distinct(w)))
        / greatest(CAST(len(w) AS DOUBLE), 1.0), 6) AS dup_word_frac,
  CASE WHEN len(w) < 2 THEN 0.0 ELSE
    round(CAST(list_max(list_transform(list_distinct(bg),
                g -> len(list_filter(bg, x -> x = g)))) AS DOUBLE)
          / CAST(len(bg) AS DOUBLE), 6) END AS top_bigram_frac
FROM b
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.lang_id(load(spark, sf_dir, "documents"))


def _sql_lang_pred(toks: str = "toks") -> str:
    """DuckDB twin of text.lang_pred_expr over a word-list column."""
    score = {
        lang: (
            f"len(list_filter({toks}, t -> list_contains(['"
            + "', '".join(markers) + "'], t)))"
        )
        for lang, markers in text_ops.LANG_MARKERS.items()
    }
    pred, best = "'unknown'", "0"
    for lang in sorted(score):
        s = score[lang]
        pred = f"CASE WHEN {s} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN {s} > {best} THEN {s} ELSE {best} END"
    return pred


def sql_lang_id() -> str:
    return f"""
WITH base AS (SELECT doc_id, lang, string_split({_NORM_SQL}, ' ') AS toks FROM documents)
SELECT doc_id, lang AS lang_true, {_sql_lang_pred()} AS lang_pred FROM base
"""


_N_TOKENS_SQL = (
    "CAST(CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)"
)


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flyscrape_spark.operators import mixing

    return mixing.source_mix_stats(load(spark, sf_dir, "documents"))


def sql_source_mix() -> str:
    return f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(ntok) AS BIGINT) AS total_tokens,
         round(avg(CAST(ntok AS DOUBLE)), 4) AS mean_tokens
  FROM (SELECT source, {_N_TOKENS_SQL} AS ntok FROM documents) GROUP BY 1
),
tot AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS corpus_tokens FROM per)
SELECT source, n_docs, total_tokens, mean_tokens,
       round(CAST(total_tokens AS DOUBLE) / CAST(corpus_tokens AS DOUBLE), 6)
         AS token_share
FROM per CROSS JOIN tot
"""


TOKEN_BUDGET = 600


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flyscrape_spark.operators import mixing

    return mixing.token_budget_sample(
        load(spark, sf_dir, "documents"), budget=TOKEN_BUDGET
    )


def sql_token_budget_sample(budget: int = TOKEN_BUDGET) -> str:
    return f"""
WITH t AS (SELECT doc_id, source, {_N_TOKENS_SQL} AS n_tokens FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
              AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= {budget}
"""


DECON_N = 3  # tiny synthetic vocab: 3-grams give meaningful overlap
DECON_BENCH_DOCS = 3


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flyscrape_spark.operators.curate import flag_contaminated

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < DECON_BENCH_DOCS)
    return flag_contaminated(docs, bench, n=DECON_N)


def sql_decontaminate(n: int = DECON_N, bench_docs: int = DECON_BENCH_DOCS) -> str:
    gram = ", ".join(f"w[i + {j + 1}]" for j in range(n))
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS w
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(0, greatest(len(w) - {n} + 1, 0)),
                i -> concat_ws(' ', {gram}))) AS ngram
  FROM toks WHERE len(w) >= {n}
),
dg AS (SELECT DISTINCT doc_id, ngram FROM g),
bg AS (SELECT DISTINCT ngram FROM g WHERE doc_id < {bench_docs}),
hits AS (
  SELECT dg.doc_id, count(*) AS n_hits FROM dg JOIN bg USING (ngram) GROUP BY 1
)
SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.tfidf_top_terms(load(spark, sf_dir, "documents"), k=5)


def sql_tfidf_terms(k: int = 5) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((n.n_docs + 1.0) / (dfr.df + 1.0)), 6) AS score
  FROM tf JOIN dfr ON tf.term = dfr.term CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term) AS INT) AS rank,
         score
  FROM scored
)
SELECT doc_id, term, rank, score FROM ranked WHERE rank <= {k}
"""


def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.top_ngrams(load(spark, sf_dir, "documents"), n=2, k=20)


def sql_top_bigrams(n: int = 2, k: int = 20) -> str:
    return f"""
WITH t AS (
  SELECT list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS w
  FROM documents
),
g AS (
  SELECT unnest(list_transform(range(0, greatest(len(w) - {n} + 1, 0)),
                i -> concat_ws(' ', {", ".join(f"w[i + {j + 1}]" for j in range(n))})))
         AS ngram
  FROM t WHERE len(w) >= {n}
)
SELECT ngram, count(*) AS n_occurrences FROM g GROUP BY 1
ORDER BY n_occurrences DESC, ngram LIMIT {k}
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(load(spark, sf_dir, "documents"), num_hashes=16, n=3)


def _sql_shingle_list(n: int) -> str:
    return (
        f"list_distinct(list_transform(range(0, greatest(len(w)-{n}, 0)+1), "
        f"i -> array_to_string(w[i+1:i+{n}], ' ')))"
    )


def _sql_minhash_aggs(num_hashes: int) -> str:
    """mh_i = min((a_i * (base & 2^30-1) + b_i) % (2^61-1)) — the
    universal-hash family of dedup.minhash_params, one md5 per
    shingle."""
    base = f"({portable_hash64_sql('shingle')} & {dedup._MINHASH_MASK})"
    aggs = [
        f"min(({a} * {base} + {b}) % {dedup.MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.minhash_params(num_hashes))
    ]
    return ",\n  ".join(aggs)


def sql_minhash_signatures(num_hashes: int = 16, n: int = 3) -> str:
    return f"""
WITH words AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents),
sh AS (SELECT doc_id, unnest({_sql_shingle_list(n)}) AS shingle FROM words)
SELECT doc_id, {_sql_minhash_aggs(num_hashes)} FROM sh GROUP BY doc_id
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load(spark, sf_dir, "documents"), bits=16)


def sql_simhash(bits: int = 16) -> str:
    h = portable_hash64_sql("token")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS token FROM documents
),
hashed AS (SELECT doc_id, {h} AS th FROM toks),
per_bit AS (
  SELECT doc_id, t.bit,
         sum(CASE WHEN ((th >> t.bit) & 1) = 1 THEN 1 ELSE -1 END) AS votes
  FROM hashed, range(0, {bits}) t(bit)
  GROUP BY doc_id, t.bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END)
            AS BIGINT) AS simhash
FROM per_bit GROUP BY doc_id
"""


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded hamming-neighbor candidate join
    + exact popcount verify (lossless for max_distance <= bands-1, so
    the oracle's pairwise scan is the exact expected output)."""
    return dedup.simhash_near_dup(
        load(spark, sf_dir, "documents"), bits=16, bands=4, max_distance=3
    )


def sql_simhash_near_dup(bits: int = 16, max_distance: int = 3) -> str:
    return f"""
WITH fp AS ({sql_simhash(bits)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_distance}
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components (alternating large-
    star/small-star, Kiveris et al. 2014) over the SimHash near-dup
    pair edges; every document labeled with its component's min doc_id
    (singletons label as self). The keep-one-representative table of a
    training-data dedup pipeline."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_dup(docs, bits=16, bands=4, max_distance=3)
    return cluster.dedup_clusters(docs, pairs)


def sql_dedup_clusters() -> str:
    # component min via recursive label walk: lbl reaches node over the
    # bidirected edge set, so min(lbl) per node = the component minimum
    return f"""
WITH RECURSIVE pairs AS ({sql_simhash_near_dup()}),
bidir AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(node, lbl) AS (
  SELECT src, src FROM bidir
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN bidir e ON e.src = w.node
),
comp AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node),
labeled AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labeled
"""


def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel (operators/curate.py): per-row
    quality+language gate (0 shuffles, prunes before any shuffle) →
    exact dedup among survivors → SimHash-component representative;
    every doc labeled kept/drop_reason."""
    from flyscrape_spark.operators.curate import curate

    return curate(load(spark, sf_dir, "documents"))


def sql_corpus_curate(min_tokens: int = 5, max_dup: float = 0.6,
                      keep_lang: str = "en") -> str:
    n_tokens = ("CAST(CASE WHEN trim(text) = '' THEN 0 "
                "ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)")
    dup_frac = ("round((CAST(len(toks) AS DOUBLE) - len(list_distinct(toks)))"
                " / greatest(CAST(len(toks) AS DOUBLE), 1.0), 6)")
    return f"""
WITH RECURSIVE pairs AS ({sql_simhash_near_dup(bits=64)}),
bidir AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
walk(node, lbl) AS (
  SELECT src, src FROM bidir
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN bidir e ON e.src = w.node
),
comp AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node),
clusters AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
base AS (SELECT doc_id, text, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
feats AS (
  SELECT doc_id,
    {n_tokens} AS n_tokens,
    {dup_frac} AS dup_word_frac,
    {_sql_lang_pred()} AS lang_pred,
    {portable_hash64_sql(_NORM_SQL)} AS content_hash
  FROM base
),
q AS (
  SELECT *, (n_tokens >= {min_tokens} AND dup_word_frac <= {max_dup}
             AND lang_pred = '{keep_lang}') AS quality_ok
  FROM feats
),
exact_rep AS (
  SELECT content_hash, min(doc_id) AS exact_rep FROM q
  WHERE quality_ok GROUP BY content_hash
),
survivors AS (
  SELECT q.doc_id, c.cluster_id FROM q
  JOIN exact_rep e USING (content_hash)
  JOIN clusters c USING (doc_id)
  WHERE q.quality_ok AND q.doc_id = e.exact_rep
),
near_rep AS (
  SELECT cluster_id, min(doc_id) AS cluster_rep FROM survivors
  GROUP BY cluster_id
)
SELECT q.doc_id, q.lang_pred, q.n_tokens, c.cluster_id,
  (CASE WHEN NOT q.quality_ok THEN 'quality'
        WHEN q.doc_id <> e.exact_rep THEN 'exact_duplicate'
        WHEN q.doc_id <> n.cluster_rep THEN 'near_duplicate' END) IS NULL AS kept,
  CASE WHEN NOT q.quality_ok THEN 'quality'
       WHEN q.doc_id <> e.exact_rep THEN 'exact_duplicate'
       WHEN q.doc_id <> n.cluster_rep THEN 'near_duplicate' END AS drop_reason
FROM q
JOIN clusters c USING (doc_id)
LEFT JOIN exact_rep e USING (content_hash)
LEFT JOIN near_rep n USING (cluster_id)
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), n=3, threshold=0.2, max_shingle_freq=100
    )


def sql_ngram_jaccard(n: int = 3, threshold: float = 0.2, max_freq: int = 100) -> str:
    h = portable_hash64_sql("shingle")
    return f"""
WITH words AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents),
idx0 AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(
      range(0, greatest(len(w)-{n}, 0)+1),
      i -> array_to_string(w[i+1:i+{n}], ' ')))) AS shingle
  FROM words
),
idx AS (SELECT doc_id, {h} AS shingle_hash FROM idx0),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM idx GROUP BY doc_id),
freq AS (SELECT shingle_hash FROM idx GROUP BY shingle_hash HAVING count(*) <= {max_freq}),
filtered AS (SELECT i.doc_id, i.shingle_hash FROM idx i JOIN freq USING (shingle_hash)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
  FROM filtered a JOIN filtered b
    ON a.shingle_hash = b.shingle_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  round(CAST(intersection AS DOUBLE)
        / (sa.n_shingles + sb.n_shingles - intersection), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(intersection AS DOUBLE)
      / (sa.n_shingles + sb.n_shingles - intersection) >= {threshold}
"""


def q_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH near-dup: shingle -> 16 minhashes -> 4 bands
    -> bucket-join candidates -> exact Jaccard >= 0.2 verify."""
    return dedup.lsh_near_dup(
        load(spark, sf_dir, "documents"), num_hashes=16, bands=4, n=3, threshold=0.2
    )


def sql_lsh_near_dup(num_hashes: int = 16, bands: int = 4, n: int = 3,
                     threshold: float = 0.2) -> str:
    rows = num_hashes // bands
    mh = _sql_minhash_aggs(num_hashes)

    def bandcat(b: int) -> str:
        parts = []
        for r in range(rows):
            c = f"CAST(mh_{b * rows + r} AS VARCHAR)"
            parts.append(c if r == 0 else f"'_' || {c}")
        return portable_hash64_sql(" || ".join(parts))

    banded = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {bandcat(b)} AS bucket FROM sigs"
        for b in range(bands)
    )
    shingle_list = _sql_shingle_list(n)
    return f"""
WITH words AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents),
sh AS (SELECT doc_id, unnest({shingle_list}) AS shingle FROM words),
sigs AS (SELECT doc_id, {mh} FROM sh GROUP BY doc_id),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
shl AS (SELECT doc_id, {shingle_list} AS s FROM words)
SELECT c.doc_a, c.doc_b,
  round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6) AS jaccard
FROM cand c
JOIN shl sa ON sa.doc_id = c.doc_a
JOIN shl sb ON sb.doc_id = c.doc_b
WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
      / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= {threshold}
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.token_counts(load(spark, sf_dir, "documents"))


def sql_token_counts() -> str:
    return f"""
SELECT doc_id,
  CAST(CASE WHEN trim(text) = '' THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_words,
  CAST(len(regexp_extract_all(text, '{text_ops.BPEISH_PATTERN}')) AS BIGINT)
    AS n_bpeish_tokens
FROM documents
"""


# ------------------------------------------------------- similarity

def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    joined = emb.crossJoin(F.broadcast(qv))
    return (
        joined.select(
            "vec_id",
            F.round(
                ann._dot(F.col("embedding"), F.col("qv"))
                / (ann._norm(F.col("embedding")) * ann._norm(F.col("qv"))),
                4,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def sql_ann_cosine_topk() -> str:
    return """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
z AS (
  SELECT e.vec_id, unnest(e.embedding) AS ev, unnest(q.qv) AS qe
  FROM embeddings e, q
),
parts AS (
  SELECT vec_id,
    sum(CAST(ev AS DOUBLE) * CAST(qe AS DOUBLE)) AS dot,
    sum(CAST(ev AS DOUBLE) * CAST(ev AS DOUBLE)) AS na,
    sum(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE)) AS nb
  FROM z GROUP BY vec_id
)
SELECT vec_id, round(dot/(sqrt(na)*sqrt(nb)), 4) AS cosine FROM parts
ORDER BY cosine DESC, vec_id LIMIT 10
"""


IVF_CENTROIDS = 16
IVF_NPROBE = 4


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: assign every vector to its nearest of 16 deterministic
    centroids (the first 16 corpus vectors), probe the query's 4
    nearest centroid lists, exact cosine top-10 within them."""
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ann.ivf_topk(
        emb, query, k=10, n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE
    )


def sql_ivf_ann_topk(n_centroids: int = IVF_CENTROIDS, nprobe: int = IVF_NPROBE,
                     k: int = 10) -> str:
    return f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
  WHERE vec_id < {n_centroids}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
az AS (
  SELECT e.vec_id, c.cent_id,
         unnest(e.embedding) AS x, unnest(c.cv) AS y
  FROM embeddings e, cents c
),
acos AS (
  SELECT vec_id, cent_id,
    round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
          / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
             * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS c
  FROM az GROUP BY 1, 2
),
assign AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
    FROM acos
  ) WHERE rn = 1
),
qz AS (SELECT c.cent_id, unnest(c.cv) AS y, unnest(q.qv) AS x FROM cents c, q),
probe AS (
  SELECT cent_id FROM (
    SELECT cent_id,
      round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
            / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
               * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS qcos
    FROM qz GROUP BY cent_id
  ) ORDER BY qcos DESC, cent_id LIMIT {nprobe}
),
cand AS (SELECT a.vec_id FROM assign a JOIN probe p USING (cent_id)),
cz AS (
  SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qv) AS y
  FROM embeddings e JOIN cand USING (vec_id), q
)
SELECT vec_id,
  round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
           * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 4) AS cosine
FROM cz GROUP BY vec_id
ORDER BY cosine DESC, vec_id LIMIT {k}
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded SRP-LSH candidates
    (2 bands x 8 hash-derived planes), exact cosine >= 0.15 on the
    candidate set only — the linear-shuffle scale path."""
    return ann.embedding_near_dup(
        load(spark, sf_dir, "embeddings"),
        threshold=0.15, planes_per_band=8, bands=2,
    )


def sql_embedding_near_dup(threshold: float = 0.15, planes_per_band: int = 8,
                           bands: int = 2, dims: int = 64) -> str:
    n_planes = planes_per_band * bands
    sign = (
        "(CASE WHEN "
        + portable_hash64_sql("(p.p)::VARCHAR || ':' || (i)::VARCHAR")
        + " % 2 = 0 THEN 1.0 ELSE -1.0 END)"
    )
    return f"""
WITH dims AS (
  SELECT vec_id, t.i AS i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
  FROM embeddings, range({dims}) t(i)
),
proj AS (
  SELECT vec_id, p.p AS p, sum(x * {sign}) AS proj
  FROM dims, range({n_planes}) p(p)
  GROUP BY 1, 2
),
buckets AS (
  SELECT vec_id, p // {planes_per_band} AS band,
         sum(CASE WHEN proj > 0 THEN 1 << (p % {planes_per_band}) ELSE 0 END) AS bucket
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
u AS (
  SELECT c.vec_a, c.vec_b, unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_a
  JOIN embeddings eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b,
  round(sum(CAST(x AS DOUBLE) * y)
        / (sqrt(sum(CAST(x AS DOUBLE) * x)) * sqrt(sum(CAST(y AS DOUBLE) * y))), 4)
  AS cosine
FROM u GROUP BY 1, 2
HAVING sum(CAST(x AS DOUBLE) * y)
       / (sqrt(sum(CAST(x AS DOUBLE) * x)) * sqrt(sum(CAST(y AS DOUBLE) * y)))
       >= {threshold}
"""


def q_nested_scrape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested scrape(url, fn) (SURVEY §2.1 #9): parents (every 20th
    doc) extract their first outlink with the REAL parse UDF, the
    child page is fetched as one deduplicated batch and its <p> text
    extracted and re-nested as the parent's child_data JSON — the
    join-shaped replacement for the reference's synchronous
    processImmediate (scrape.go:224-268)."""
    from flyscrape_spark.config import CrawlConfig
    from flyscrape_spark.parse.udfs import make_extract_udf, parse_spans_udf
    from flyscrape_spark.plans.nested import scrape_children

    pages = synthetic_pages(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    parents = docs.select(_doc_url(F.col("doc_id")).alias("url")).join(
        pages, "url"
    )
    first_link = F.filter(
        parse_spans_udf("html"), lambda s: s["kind"] == F.lit("link")
    )[0]["media_ref"]
    parents = parents.select("url", first_link.alias("child_ref"))
    out = scrape_children(
        parents, "child_ref",
        JoinTransport(pages, CrawlConfig()),
        make_extract_udf({"text": ("p", "text")}),
    )
    return out.select("url", "child_url", "child_data")


def sql_nested_scrape() -> str:
    child_url = _doc_url_sql("(2*p.doc_id+1) % n.n")
    return f"""
WITH n AS (SELECT count(*) AS n FROM documents)
SELECT {_doc_url_sql('p.doc_id')} AS url,
       {child_url} AS child_url,
       '{{"text": "' || trim(c.text) || '", "url": "' || {child_url} || '"}}'
         AS child_data
FROM documents p
CROSS JOIN n
JOIN documents c ON c.doc_id = (2*p.doc_id+1) % n.n
WHERE p.doc_id % 20 = 0
"""


# ------------------------------------------------------- multimodal

def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-span dedup over the synthetic web: pages -> REAL parse
    UDF -> media spans -> per-ref occurrence counts (the download
    dedup of js_lib.go:174-176, as data). The oracle reconstructs the
    deterministic ref arithmetic in SQL."""
    from flyscrape_spark.parse.udfs import parse_spans_udf

    pages = synthetic_pages(spark, sf_dir)
    return (
        pages.select(F.explode(parse_spans_udf("html")).alias("s"))
        .filter(F.col("s.kind") == "media")
        .groupBy(F.col("s.media_ref").alias("media_ref"))
        .agg(F.count("*").alias("n_occurrences"))
    )


def sql_media_dedup() -> str:
    return """
WITH n AS (SELECT greatest(count(*) // 4, 1) AS n_media FROM documents)
SELECT '/media/m' || ((3 * doc_id) % n.n_media) || '.png' AS media_ref,
       count(*) AS n_occurrences
FROM documents, n WHERE doc_id % 4 = 0
GROUP BY 1
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction: crawl-shaped media refs ->
    deterministic binary payloads -> mapInPandas decode/feature stage
    (operators/multimodal.py). Payload bytes are md5-hex repeats with
    a portable-hash repeat count, so the DuckDB oracle reproduces the
    binary pipeline (byte_len/content_hash/dims) exactly."""
    from flyscrape_spark.operators import multimodal
    from flyscrape_spark.parse.udfs import parse_spans_udf

    pages = synthetic_pages(spark, sf_dir)
    results = pages.select(parse_spans_udf("html").alias("spans"))
    media = multimodal.media_from_results(results)
    # use_pil=False pins the deterministic stub the DuckDB twin
    # models (production auto-detects Pillow; see multimodal.py)
    return multimodal.extract_features(media, use_pil=False)


def sql_media_features() -> str:
    """DuckDB twin of the full media pipeline: ref arithmetic ->
    payload synthesis (repeat of md5 hex, portable repeat count) ->
    feature extraction (md5-prefix content hash, byte-derived fake
    dims mirroring multimodal._fake_decode)."""
    cnt = f"CAST({portable_hash64_sql('media_ref')} % 8 + 1 AS INT)"
    return f"""
WITH nm AS (SELECT greatest(count(*) // 4, 1) AS n_media FROM documents),
refs AS (
  SELECT DISTINCT '/media/m' || ((3 * doc_id) % nm.n_media) || '.png' AS media_ref
  FROM documents, nm WHERE doc_id % 4 = 0
),
p AS (SELECT media_ref, repeat(md5(media_ref), {cnt}) AS payload FROM refs)
SELECT media_ref,
  CAST(length(payload) AS BIGINT) AS byte_len,
  CAST(('0x' || substr(md5(payload), 1, 14)) AS BIGINT) AS content_hash,
  CASE WHEN length(payload) % 2 = 0 THEN 'image' ELSE 'audio' END AS kind_guess,
  CAST(16 + ascii(substr(payload, 1, 1)) % 64 AS INT) AS width,
  CAST(16 + ascii(substr(payload, 2, 1)) % 64 AS INT) AS height
FROM p
"""


def _media_refs_sql() -> str:
    """Shared oracle CTE: crawl-shaped media refs + synthesized payload
    (mirrors media_from_results' portable-hash repeat count)."""
    cnt = f"CAST({portable_hash64_sql('media_ref')} % 8 + 1 AS INT)"
    return f"""
WITH nm AS (SELECT greatest(count(*) // 4, 1) AS n_media FROM documents),
refs AS (
  SELECT DISTINCT '/media/m' || ((3 * doc_id) % nm.n_media) || '.png' AS media_ref
  FROM documents, nm WHERE doc_id % 4 = 0
),
p AS (SELECT media_ref, repeat(md5(media_ref), {cnt}) AS payload FROM refs)
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (operators/multimodal.py resize_images):
    aspect-preserving integer scale to max_dim=24 over the stub-decoded
    dims; output is the dims contract plus resized byte length."""
    from flyscrape_spark.operators import multimodal
    from flyscrape_spark.parse.udfs import parse_spans_udf

    pages = synthetic_pages(spark, sf_dir)
    results = pages.select(parse_spans_udf("html").alias("spans"))
    media = multimodal.media_from_results(results)
    return multimodal.resize_images(media, max_dim=24, use_pil=False).select(
        "media_ref", "width", "height", "out_width", "out_height",
        F.length("content").cast("int").alias("out_len"),
    )


def sql_media_resize(max_dim: int = 24) -> str:
    return f"""{_media_refs_sql()},
dims AS (
  SELECT media_ref, length(payload) AS byte_len,
         16 + ascii(substr(payload, 1, 1)) % 64 AS w,
         16 + ascii(substr(payload, 2, 1)) % 64 AS h
  FROM p
),
scaled AS (
  SELECT media_ref, byte_len, w, h,
         CASE WHEN greatest(w, h) <= {max_dim} THEN w
              ELSE greatest(w * {max_dim} // greatest(w, h), 1) END AS ow,
         CASE WHEN greatest(w, h) <= {max_dim} THEN h
              ELSE greatest(h * {max_dim} // greatest(w, h), 1) END AS oh
  FROM dims
)
SELECT media_ref, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(ow AS INT) AS out_width, CAST(oh AS INT) AS out_height,
       CAST(least(byte_len, ow + oh) AS INT) AS out_len
FROM scaled
"""


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (multimodal.sample_frames): the
    per-media fan-out to sampled-frame rows, frame payloads projected
    as their md5-hex signature so the oracle reproduces them."""
    from flyscrape_spark.operators import multimodal
    from flyscrape_spark.parse.udfs import parse_spans_udf

    pages = synthetic_pages(spark, sf_dir)
    results = pages.select(parse_spans_udf("html").alias("spans"))
    media = multimodal.media_from_results(results)
    return multimodal.sample_frames(media, every_ms=1000).select(
        "media_ref",
        "frame_idx",
        "ts_ms",
        F.decode("frame", "utf-8").alias("frame_sig"),
    )


def sql_media_frames(every_ms: int = 1000) -> str:
    return f"""{_media_refs_sql()},
vids AS (SELECT media_ref, length(payload) * 125 AS duration_ms FROM p),
frames AS (
  SELECT media_ref,
         unnest(range(0, (duration_ms + {every_ms} - 1) // {every_ms}))
           AS frame_idx
  FROM vids
)
SELECT media_ref, CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * {every_ms} AS BIGINT) AS ts_ms,
       md5(media_ref || ':' || frame_idx) AS frame_sig
FROM frames
"""


# ------------------------------------------------------- events / tpch

def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_new = events.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return with_new.groupBy("user_id").agg(
        F.sum("is_new").alias("n_sessions"), F.count("*").alias("n_events")
    )


def sql_events_sessionize() -> str:
    return """
WITH g AS (
  SELECT user_id,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id
"""


def q_events_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured rollup: parse the `props` JSON payload and
    aggregate its numeric field per event type — the shape of every
    structured-log / JSON-LD extraction a crawl pipeline runs over
    fetched pages (the reference's scrape scripts return exactly such
    JSON objects, js.go:161-162; at warehouse scale the payload lands
    as a string column like this one).

    Scale shape: `get_json_object` is a JVM-side Catalyst expression —
    the parse fuses into the parquet scan projection (no Python, no
    explode), then ONE combinable groupBy with map-side partial agg.
    At 100 TB this is a pure scan-shaped job; for repeated multi-field
    extraction `from_json` with an explicit schema amortizes the parse
    across fields (single-field here, so get_json_object is optimal).
    """
    events = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def sql_events_json_rollup() -> str:
    return """
SELECT event_type,
  count(*) AS n_events,
  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
    AS sum_k,
  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
    AS max_k
FROM events
GROUP BY event_type
"""


def q_events_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed burst detection: per event type, hourly counts vs the
    trailing 3-bucket average; a bucket whose count exceeds 1.5x the
    trailing mean is flagged. This is the crawl-ops anomaly monitor —
    the same shape detects per-host fetch-rate spikes (crawler traps
    firing, a site going hot) and error-rate bursts in the fetch log.

    Scale shape: ONE combinable groupBy(event_type, hour) collapses
    the raw log to bucket granularity BEFORE the window (the window
    runs over |types|x|hours| rows, not raw events), then one window
    partitioned by event_type — thousands of partitions at web scale
    (per-host variant), each tiny. Bucket emitted as epoch seconds so
    the oracle compare is integer-exact.
    """
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    buckets = (
        events.groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
            .alias("bucket_ts"),
        ).agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ts")
        .rowsBetween(-3, -1)
    )
    return (
        buckets.withColumn("trailing_avg", F.round(F.avg("n").over(w), 4))
        .filter(F.col("trailing_avg").isNotNull())
        .withColumn(
            "is_burst",
            (F.col("n") > 1.5 * F.col("trailing_avg")).cast("int"),
        )
        .select("event_type", "bucket_ts", "n", "trailing_avg", "is_burst")
    )


def sql_events_burst() -> str:
    return """
WITH b AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_ts,
         count(*) AS n
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, bucket_ts, n,
    round(avg(n) OVER (PARTITION BY event_type ORDER BY bucket_ts
                       ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 4)
      AS trailing_avg
  FROM b
)
SELECT event_type, bucket_ts, CAST(n AS BIGINT) AS n, trailing_avg,
       CAST(CASE WHEN n > 1.5 * trailing_avg THEN 1 ELSE 0 END AS INT)
         AS is_burst
FROM t WHERE trailing_avg IS NOT NULL
"""


def q_source_dup_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication factor: documents vs distinct content
    fingerprints — the corpus-QA table that ranks sources by internal
    redundancy (a CommonCrawl-style pipeline uses it to decide which
    sources need aggressive dedup before tokenization; a dup_factor
    near 1.0 means the source is already clean).

    Scale shape: two-level combinable aggregation — groupBy(source,
    fingerprint) collapses duplicates map-side FIRST (the same
    two-phase shape as segment dedup), then groupBy(source) rolls up;
    both stages partial-agg. The fingerprint is the shared 64-bit
    normalized-content hash, so this composes with `dedup_exact` and
    `fingerprint` on identical keys.
    """
    docs = load(spark, sf_dir, "documents")
    per_fp = (
        text_ops.fingerprint(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", "fingerprint")
        .agg(F.count("*").alias("n"))
    )
    return per_fp.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count("*").alias("n_distinct"),
        F.round(F.sum("n") / F.count("*"), 4).alias("dup_factor"),
    )


def sql_source_dup_factor() -> str:
    return f"""
WITH fp AS (
  SELECT source, {portable_hash64_sql(_NORM_SQL)} AS fingerprint, count(*) AS n
  FROM documents GROUP BY 1, 2
)
SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
       count(*) AS n_distinct,
       round(CAST(sum(n) AS DOUBLE) / count(*), 4) AS dup_factor
FROM fp GROUP BY source
"""


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length histogram per source — the
    power-law sanity check a corpus QA pass runs before mixing (a
    source whose histogram collapses into one bucket is template spam;
    a missing tail means truncation upstream).

    Scale shape: the bucket is a pure projection (floor(log2(n)));
    ONE combinable groupBy. At 100 TB this is scan-bound with a
    kilobyte-sized result (sources x ~20 buckets).
    """
    docs = load(spark, sf_dir, "documents")
    bucket = F.floor(F.log2(F.greatest(F.col("n_chars"), F.lit(1)))).cast("int")
    return (
        docs.groupBy("source", bucket.alias("log2_bucket"))
        .agg(F.count("*").alias("n_docs"))
    )


def sql_length_histogram() -> str:
    return """
SELECT source,
       CAST(floor(log2(greatest(n_chars, 1))) AS INT) AS log2_bucket,
       count(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm audit per label: L2-norm stats that catch
    degenerate vectors BEFORE they poison ANN / near-dup (unnormalized
    batches skew cosine denominators; zero vectors NaN them). Run as
    the admission gate in front of `embedding_near_dup`.

    Scale shape: the norm is a sequential JVM-side fold over the
    array column (F.aggregate — no explode, no Python), then ONE
    combinable groupBy(label). Result is |labels| rows.
    """
    emb = load(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"), F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.round(F.min("norm"), 4).alias("min_norm"),
            F.round(F.max("norm"), 4).alias("max_norm"),
        )
    )


def sql_embedding_norms() -> str:
    return """
WITH z AS (
  SELECT vec_id, label, unnest(embedding) AS ev FROM embeddings
),
norms AS (
  SELECT vec_id, label,
         sqrt(sum(CAST(ev AS DOUBLE) * CAST(ev AS DOUBLE))) AS norm
  FROM z GROUP BY vec_id, label
)
SELECT label, count(*) AS n_vecs,
       round(avg(norm), 4) AS avg_norm,
       round(min(norm), 4) AS min_norm,
       round(max(norm), 4) AS max_norm
FROM norms GROUP BY label
"""


def q_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WINDOWED aggregation end-to-end, driver-gated: the
    events table re-cast as a live feed (NDJSON chunks → ≥2 file-source
    micro-batches), aggregated with Structured Streaming's native
    `F.window` tumbling 1-hour windows per event type — the other
    streaming shape next to `streaming_admission`'s foreachBatch
    anti-join: state-store incremental aggregation, the live
    fetch-rate / error-rate monitor (`windowed_host_counts` in
    streaming/ingest.py is this exact plan over the crawl feed).

    Gate mechanics: complete output mode into a memory sink because
    the oracle wants the FULL bounded-input truth (tumbling windows
    aligned to the hour == `date_trunc('hour', ts)` in batch SQL, so
    the twin is exact). The memory sink is the bounded-gate harness
    only — in production this runs append mode + watermark (state
    evicted as event time passes; see `windowed_host_counts`) into
    Kafka/foreachBatch, and the result is identical per finalized
    window.
    """
    import tempfile
    import uuid

    events = load(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="fs_stream_win_")
    feed_dir, ckpt = f"{base}/feed", f"{base}/ckpt"
    events.select("event_type", "ts").repartition(24).write.mode(
        "overwrite").json(feed_dir)
    stream = (
        spark.readStream.schema("event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 16)
        .json(feed_dir)
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    name = "win_" + uuid.uuid4().hex[:12]
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName(name).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.unix_timestamp(F.col("w.start")).alias("window_start"),
        "event_type",
        "n_events",
    )


def sql_streaming_window_counts() -> str:
    return """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
       event_type, count(*) AS n_events
FROM events GROUP BY 1, 2
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: chars/token and tokens/word
    over the BPE-ish pre-tokenization — THE comparative statistic for
    tokenizer choice in a multilingual corpus (a language whose
    fertility is 2x the corpus mean pays 2x the context budget per
    character; XLM-R-style mixes reweight on exactly this table).

    Scale shape: per-doc token counts are pure JVM projections
    (regexp_extract_all + size, no Python), then ONE combinable
    groupBy(lang); ratios computed from the summed numerators so the
    result is exact regardless of partitioning.
    """
    docs = load(spark, sf_dir, "documents")
    toks = text_ops.token_counts(docs).join(
        docs.select("doc_id", "lang", "n_chars"), "doc_id")
    return toks.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("n_bpeish_tokens").alias("sum_tokens"),
        F.round(F.sum("n_chars") / F.sum("n_bpeish_tokens"), 4)
        .alias("chars_per_token"),
        F.round(F.sum("n_bpeish_tokens") / F.sum("n_words"), 4)
        .alias("tokens_per_word"),
    )


def sql_tokenizer_fertility() -> str:
    return f"""
WITH per AS (
  SELECT lang, n_chars,
    CAST(CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
      AS n_words,
    CAST(len(regexp_extract_all(text, '{text_ops.BPEISH_PATTERN}')) AS BIGINT)
      AS n_tok
  FROM documents
)
SELECT lang, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
  round(CAST(sum(n_chars) AS DOUBLE) / sum(n_tok), 4) AS chars_per_token,
  round(CAST(sum(n_tok) AS DOUBLE) / sum(n_words), 4) AS tokens_per_word
FROM per GROUP BY lang
"""


def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-SIZE distribution: how many clusters exist at
    each size — the dedup-QA histogram (a heavy tail of giant clusters
    means template spam survived shingling; all-singletons means the
    banding is too strict). Composes directly over `dedup_clusters`.

    Scale shape: the component labels come from the O(log^2 n)
    large-star/small-star rounds; the histogram itself is two
    combinable groupBys over (cluster_id) then (size) — output is
    ~tens of rows at any corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_dup(docs, bits=16, bands=4, max_distance=3)
    labeled = cluster.dedup_clusters(docs, pairs)
    sizes = labeled.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"))


def sql_dup_cluster_sizes() -> str:
    return f"""
WITH labeled AS ({sql_dedup_clusters()}),
sizes AS (
  SELECT cluster_id, count(*) AS cluster_size FROM labeled GROUP BY cluster_id
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       count(*) AS n_clusters
FROM sizes GROUP BY cluster_size
"""


def q_streaming_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming admission END-TO-END, driver-gated: the
    documents table re-cast as an externally-arriving URL feed (NDJSON
    chunks → file-source micro-batches, the Kafka stand-in), admitted
    through `streaming.ingest.FrontierIngest` — per micro-batch:
    canonicalize → xxhash64 key → in-batch dedup → anti-join against
    all PRIOR batches' admitted partitions → idempotent
    batch_id-partition overwrite — then the accumulated admitted table
    rolled up per host. The feed deliberately overlaps (every third
    doc's URL plus a sheared copy of every fifth's), so the oracle
    equality proves the cross-batch dedup, not just the plumbing.

    The oracle is the BATCH truth: distinct canonical URLs of the same
    feed, counted per host — exactly-once admission means the
    streaming path must reproduce it bit-for-bit regardless of how the
    file source slices micro-batches.

    Scale shape: each micro-batch is one bounded anti-join (same plan
    as the engine's generation step); checkpoint × idempotent
    partition overwrite = exactly-once across crash/replay. On a
    cluster the file source swaps for Kafka and the admitted dir for
    an Iceberg table; nothing downstream changes.
    """
    import tempfile

    from flyscrape_spark.streaming.ingest import FrontierIngest, stream_urls

    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    i = F.col("doc_id")
    feed = (
        docs.filter(i % 3 == 0).select(_doc_url(i).alias("url"))
        .unionAll(
            docs.filter(i % 5 == 0)
            .select(_doc_url((2 * i + 1) % n).alias("url"))
        )
        .withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    )
    base = tempfile.mkdtemp(prefix="fs_stream_admission_")
    feed_dir, admitted_dir, ckpt = (
        f"{base}/feed", f"{base}/admitted", f"{base}/ckpt")
    # >16 files at maxFilesPerTrigger=16 => at least two micro-batches,
    # so the prior-batch anti-join path genuinely executes
    feed.repartition(24).write.mode("overwrite").json(feed_dir)
    ingest = FrontierIngest(admitted_dir)
    ingest.start(stream_urls(spark, feed_dir), ckpt).awaitTermination()
    return (
        spark.read.parquet(admitted_dir)
        .groupBy("host")
        .agg(F.count("*").alias("n_urls"))
    )


def sql_streaming_admission() -> str:
    return f"""
WITH n AS (SELECT count(*) AS n FROM documents),
feed AS (
  SELECT {_doc_url_sql('doc_id')} AS url FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT {_doc_url_sql('(2*doc_id+1) % n.n')} AS url
  FROM documents, n WHERE doc_id % 5 = 0
),
dedup AS (SELECT DISTINCT {canonicalize_sql('url')} AS url FROM feed)
SELECT split_part(split_part(url, '//', 2), '/', 1) AS host,
       count(*) AS n_urls
FROM dedup GROUP BY host
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation over lineitem."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def sql_pricing_summary() -> str:
    return """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(avg(l_discount), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join orders->customer, revenue per market segment."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer),
                    orders["o_custkey"] == customer["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def sql_segment_revenue() -> str:
    return """
SELECT c_mktsegment,
  round(sum(o_totalprice), 2) AS total_revenue,
  count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_region_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: lineitem revenue by supplier region/nation.
    Join strategy: dims (region, nation, supplier) broadcast in
    dependency order — only the lineitem fact ever shuffles."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    supplier = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    dims = (
        supplier.join(F.broadcast(nation),
                      supplier["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select("s_suppkey", "n_name", "r_name")
    )
    revenue = F.sum(
        F.col("l_extendedprice").cast("double")
        * (F.lit(1.0) - F.col("l_discount").cast("double"))
    )
    return (
        li.join(F.broadcast(dims), li["l_suppkey"] == dims["s_suppkey"])
        .groupBy("r_name", "n_name")
        .agg(F.round(revenue, 2).alias("revenue"),
             F.count("*").alias("n_lineitems"))
    )


def sql_region_supplier_volume() -> str:
    return """
SELECT r_name, n_name,
  round(sum(CAST(l_extendedprice AS DOUBLE)
            * (1.0 - CAST(l_discount AS DOUBLE))), 2) AS revenue,
  count(*) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_brand_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand part shipping stats: part dim broadcast into the
    lineitem fact, grouped on the dim attribute."""
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("double")), 2).alias("sum_qty"),
            F.round(F.avg(F.col("p_retailprice").cast("double")), 4).alias("avg_retail"),
            F.count("*").alias("n_shipped"),
        )
    )


def sql_brand_part_stats() -> str:
    return """
SELECT p_brand,
  round(sum(CAST(l_quantity AS DOUBLE)), 2) AS sum_qty,
  round(avg(CAST(p_retailprice AS DOUBLE)), 4) AS avg_retail,
  count(*) AS n_shipped
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# --------------------------------------------- rows-only (non-SQL) ops

def q_interleaved_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-parse the synthetic pages with the production UDF and
    explode to one row per span — the input_hint payload shape. The
    DuckDB oracle reconstructs the expected span sequence from the
    deterministic page template (text, link a, [media], link b) with
    strip/empty-chunk and offset rules matching parse/html.py
    spans_from_root; HTML-parse edge cases beyond the template are
    pinned by pytest span-equality tests."""
    from flyscrape_spark.parse.udfs import parse_spans_udf

    pages = synthetic_pages(spark, sf_dir)
    return (
        pages.select(F.col("url").alias("doc_id"), parse_spans_udf("html").alias("spans"))
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id", F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"), F.col("s.offset").alias("offset"),
        )
    )


def sql_interleaved_spans() -> str:
    u1 = _doc_url_sql("(2 * b.doc_id + 1) % n.n")
    u2 = _doc_url_sql("(3 * b.doc_id + 2) % n.n")
    return f"""
WITH n AS (SELECT count(*) AS n, greatest(count(*) // 4, 1) AS n_media FROM documents),
b AS (
  SELECT doc_id, {_doc_url_sql('b0.doc_id')} AS url,
         regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS chunk,
         doc_id % 4 = 0 AS has_media
  FROM documents b0
),
spans AS (
  SELECT url AS doc_id, 'text' AS kind, chunk AS text, '' AS media_ref, 0 AS off
  FROM b WHERE chunk != ''
  UNION ALL
  SELECT url, 'link', 'a', {u1},
         CASE WHEN chunk != '' THEN 1 ELSE 0 END
  FROM b, n
  UNION ALL
  SELECT url, 'media', '', '/media/m' || ((3 * b.doc_id) % n.n_media) || '.png',
         (CASE WHEN chunk != '' THEN 1 ELSE 0 END) + 1
  FROM b, n WHERE has_media
  UNION ALL
  SELECT url, 'link', 'b', {u2},
         (CASE WHEN chunk != '' THEN 1 ELSE 0 END) + 1
         + (CASE WHEN has_media THEN 1 ELSE 0 END)
  FROM b, n
)
SELECT doc_id, kind, text, media_ref, CAST(off AS INT) AS "offset" FROM spans
"""


def sql_srp_ann_topk(num_planes: int = 8, k: int = 10, dims: int = 64) -> str:
    """DuckDB twin of ann.srp_topk: rebuild the hash-derived SRP
    planes, bucket every vector, restrict candidates to vec 0's
    bucket, exact cosine top-k within it."""
    sign = (
        "(CASE WHEN "
        + portable_hash64_sql("(p.p)::VARCHAR || ':' || (i)::VARCHAR")
        + " % 2 = 0 THEN 1.0 ELSE -1.0 END)"
    )
    return f"""
WITH dims AS (
  SELECT vec_id, t.i AS i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
  FROM embeddings, range({dims}) t(i)
),
proj AS (
  SELECT vec_id, p.p AS p, sum(x * {sign}) AS proj
  FROM dims, range({num_planes}) p(p)
  GROUP BY 1, 2
),
buckets AS (
  SELECT vec_id,
         sum(CASE WHEN proj > 0 THEN 1 << p ELSE 0 END) AS bucket
  FROM proj GROUP BY 1
),
qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
cand AS (SELECT b.vec_id FROM buckets b JOIN qb USING (bucket)),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
z AS (
  SELECT e.vec_id, unnest(e.embedding) AS ev, unnest(q.qv) AS qe
  FROM embeddings e JOIN cand USING (vec_id), q
),
parts AS (
  SELECT vec_id,
    sum(CAST(ev AS DOUBLE) * CAST(qe AS DOUBLE)) AS dot,
    sum(CAST(ev AS DOUBLE) * CAST(ev AS DOUBLE)) AS na,
    sum(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE)) AS nb
  FROM z GROUP BY vec_id
)
SELECT vec_id, round(dot/(sqrt(na)*sqrt(nb)), 4) AS cosine FROM parts
ORDER BY cosine DESC, vec_id LIMIT {k}
"""


def q_srp_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH (signed-random-projection) bucketed ANN — the scale path
    for similarity search; candidates restricted to the query bucket
    (a partition-prunable key at scale). Oracle: sql_srp_ann_topk."""
    emb = load(spark, sf_dir, "embeddings")
    query_vec = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    return ann.srp_topk(emb, list(query_vec), k=10, num_planes=8)


# --------------------------------------------- round-2 additions (2)

HOST_BUDGET = 10


def q_host_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl-budget admission over the synthetic frontier:
    at most HOST_BUDGET URLs per host in (depth, url) priority order
    (depth simulated as doc_id % 4 — four interleaved generations)."""
    from flyscrape_spark.operators.politeness import host_budget

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    frontier = docs.select(
        _doc_url(i).alias("url"),
        host_of(_doc_url(i)).alias("host"),
        (i % 4).cast("int").alias("depth"),
    )
    return host_budget(frontier, HOST_BUDGET, order_cols=("depth", "url"))


def sql_host_budget(budget: int = HOST_BUDGET) -> str:
    return f"""
WITH f AS (
  SELECT {_doc_url_sql('doc_id')} AS url,
         'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS host,
         CAST(doc_id % 4 AS INT) AS depth
  FROM documents
)
SELECT url, host, depth,
       CAST(row_number() OVER (PARTITION BY host ORDER BY depth, url) AS INT)
         AS host_rank
FROM f QUALIFY host_rank <= {budget}
"""


def _pii_text(i: F.Column) -> F.Column:
    """Deterministic PII-bearing text derived from doc_id: the
    documents corpus itself is PII-free word soup, so the scrub query
    plants one email, one IPv4 and one phone per doc (same expression
    on both engines) to make redaction observable."""
    s = lambda c: c.cast("string")  # noqa: E731
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), s(i), F.lit("@mail"), s(i % 7),
        F.lit(".example.com ip "),
        s(i % 90 + 10), F.lit("."), s(i % 256), F.lit(".0."), s(i % 254 + 1),
        F.lit(" tel +1 ("), s(i % 700 + 200), F.lit(") 555-"),
        s(i % 9000 + 1000),
    )


_PII_TEXT_SQL = (
    "text || ' contact user' || doc_id || '@mail' || (doc_id % 7)"
    " || '.example.com ip ' || (doc_id % 90 + 10) || '.' || (doc_id % 256)"
    " || '.0.' || (doc_id % 254 + 1) || ' tel +1 (' || (doc_id % 700 + 200)"
    " || ') 555-' || (doc_id % 9000 + 1000)"
)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flyscrape_spark.operators.pii import pii_scrub

    docs = load(spark, sf_dir, "documents")
    return pii_scrub(docs.withColumn("text", _pii_text(F.col("doc_id"))))


def sql_pii_scrub() -> str:
    from flyscrape_spark.operators.pii import (
        EMAIL_RE, EMAIL_TOKEN, IP_TOKEN, IPV4_RE, PHONE_RE, PHONE_TOKEN,
    )

    return f"""
WITH d AS (SELECT doc_id, {_PII_TEXT_SQL} AS text FROM documents),
s1 AS (SELECT doc_id, text,
              regexp_replace(text, '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g') AS no_email
       FROM d),
s2 AS (SELECT doc_id, text, no_email,
              regexp_replace(no_email, '{IPV4_RE}', '{IP_TOKEN}', 'g') AS no_ip
       FROM s1)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(no_email, '{IPV4_RE}')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(no_ip, '{PHONE_RE}')) AS BIGINT) AS n_phones,
  regexp_replace(no_ip, '{PHONE_RE}', '{PHONE_TOKEN}', 'g') AS redacted
FROM s2
"""


def q_source_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flyscrape_spark.operators import mixing

    return mixing.source_length_quantiles(load(spark, sf_dir, "documents"))


def sql_source_length_stats() -> str:
    return f"""
WITH t AS (SELECT source, CAST({_N_TOKENS_SQL} AS DOUBLE) AS n FROM documents)
SELECT source, count(*) AS n_docs,
  CAST(min(n) AS BIGINT) AS min_tokens,
  round(quantile_cont(n, 0.25), 4) AS p25_tokens,
  round(quantile_cont(n, 0.50), 4) AS p50_tokens,
  round(quantile_cont(n, 0.75), 4) AS p75_tokens,
  round(quantile_cont(n, 0.90), 4) AS p90_tokens,
  CAST(max(n) AS BIGINT) AS max_tokens
FROM t GROUP BY 1
"""


def _graph_edges(spark: SparkSession, sf_dir: str):
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    i = F.col("doc_id")
    edges = docs.select(i.alias("src"), ((2 * i + 1) % n).alias("dst")).unionAll(
        docs.select(i.alias("src"), ((3 * i + 2) % n).alias("dst"))
    )
    return docs, edges


_GRAPH_EDGES_SQL = """
n AS (SELECT count(*) AS n FROM documents),
e AS (
  SELECT doc_id AS src, (2 * doc_id + 1) % n.n AS dst FROM documents, n
  UNION ALL
  SELECT doc_id, (3 * doc_id + 2) % n.n FROM documents, n
)"""


def q_link_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In/out-degree per doc over the synthetic link graph — the
    cheapest frontier-prioritization signal (in-degree ~ authority)."""
    from flyscrape_spark.operators.graph import degrees

    docs, edges = _graph_edges(spark, sf_dir)
    return degrees(edges)


def sql_link_degrees() -> str:
    return f"""
WITH {_GRAPH_EDGES_SQL},
o AS (SELECT src AS node, count(*) AS out_degree FROM e GROUP BY 1),
i AS (SELECT dst AS node, count(*) AS in_degree FROM e GROUP BY 1)
SELECT coalesce(o.node, i.node) AS node,
       CAST(coalesce(out_degree, 0) AS BIGINT) AS out_degree,
       CAST(coalesce(in_degree, 0) AS BIGINT) AS in_degree
FROM o FULL OUTER JOIN i ON o.node = i.node
"""


PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the synthetic link graph (the
    crawl-priority score). Rounded to 8dp: plenty for a priority
    signal, and wide enough above double ulp that the cross-engine
    sum-order difference can't surface."""
    from flyscrape_spark.operators.graph import pagerank

    docs, edges = _graph_edges(spark, sf_dir)
    ranks = pagerank(
        docs.select(F.col("doc_id").alias("node")), edges,
        iterations=PAGERANK_ITERS, damping=PAGERANK_DAMPING,
    )
    return ranks.select("node", F.round("pr", 8).alias("pr"))


def sql_pagerank(iterations: int = PAGERANK_ITERS,
                 damping: float = PAGERANK_DAMPING) -> str:
    # all literals forced to DOUBLE: DuckDB otherwise does DECIMAL
    # arithmetic on 0.85/1.0, which diverges from Spark's doubles
    d = f"CAST({damping} AS DOUBLE)"
    base = f"(CAST(1.0 AS DOUBLE) - {d}) / nd.nd"
    ctes = [
        "nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents)",
        "deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS out_degree FROM e GROUP BY 1)",
        "p0 AS (SELECT doc_id AS node, CAST(1.0 AS DOUBLE) / nd.nd AS pr"
        " FROM documents, nd)",
    ]
    for it in range(iterations):
        ctes.append(
            f"c{it + 1} AS (SELECT e.dst AS node,"
            f" sum(p{it}.pr / deg.out_degree) AS mass"
            f" FROM e JOIN p{it} ON e.src = p{it}.node"
            f" JOIN deg ON deg.src = e.src GROUP BY 1)"
        )
        ctes.append(
            f"p{it + 1} AS (SELECT doc_id AS node,"
            f" {base} + {d} * coalesce(mass, CAST(0 AS DOUBLE)) AS pr"
            f" FROM documents CROSS JOIN nd"
            f" LEFT JOIN c{it + 1} ON c{it + 1}.node = doc_id)"
        )
    return (
        f"WITH {_GRAPH_EDGES_SQL},\n" + ",\n".join(ctes)
        + f"\nSELECT node, round(pr, 8) AS pr FROM p{iterations}"
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. ACL 2022, suffix-array
    semantics via overlapping 5-token windows): per-document count of
    corpus-repeated windows plus the longest consecutive duplicated
    run. See operators/substrings.py for the scale shape."""
    from flyscrape_spark.operators.substrings import substring_dup_stats

    docs = load(spark, sf_dir, "documents")
    return substring_dup_stats(docs, k=5, min_count=2)


def sql_substring_dedup(k: int = 5, min_count: int = 2) -> str:
    from flyscrape_spark.functions.hashing import portable_hash64_sql

    win_key = portable_hash64_sql("array_to_string(t[i:i+" + str(k - 1) + "], ' ')")
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
wins AS (
  SELECT doc_id, i AS win_idx, {win_key} AS win_key
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, len(t) - {k} + 1)) AS i) g
  WHERE len(t) >= {k}
),
dup AS (SELECT win_key FROM wins GROUP BY 1 HAVING count(*) >= {min_count}),
flagged AS (SELECT w.doc_id, w.win_idx FROM wins w JOIN dup USING (win_key)),
runs AS (
  SELECT doc_id, max(run_len) AS max_dup_run FROM (
    SELECT doc_id, count(*) AS run_len FROM (
      SELECT doc_id, win_idx,
             win_idx - row_number() OVER (PARTITION BY doc_id ORDER BY win_idx) AS grp
      FROM flagged)
    GROUP BY doc_id, grp)
  GROUP BY doc_id
),
per_doc AS (
  SELECT w.doc_id, count(*) AS n_windows,
         sum(CASE WHEN d.win_key IS NOT NULL THEN 1 ELSE 0 END) AS dup_windows
  FROM wins w LEFT JOIN dup d USING (win_key)
  GROUP BY w.doc_id
)
SELECT doc.doc_id,
       CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(p.dup_windows, 0) AS BIGINT) AS dup_windows,
       round(coalesce(p.dup_windows, 0) * 1.0
             / greatest(coalesce(p.n_windows, 0), 1), 6) AS dup_frac,
       CAST(coalesce(r.max_dup_run, 0) AS BIGINT) AS max_dup_run
FROM documents doc
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN runs r USING (doc_id)
"""


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal: strip 3-token
    segments that occur in >= 5 distinct documents, keep the rest in
    original order."""
    from flyscrape_spark.operators.segments import dedup_segments

    docs = load(spark, sf_dir, "documents")
    return dedup_segments(docs, width=3, min_docs=5).select(
        "doc_id", "n_segs", "n_removed", "clean_text"
    )


def sql_segment_dedup(width: int = 3, min_docs: int = 5) -> str:
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
segs AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(t[(i*{width}+1):(i*{width}+{width})], ' ') AS seg_text
  FROM toks, LATERAL (
    SELECT unnest(generate_series(
      0, CAST(ceil(len(t) / {width}.0) AS INT) - 1)) AS i) g
),
boiler AS (
  SELECT seg_text FROM segs GROUP BY 1
  HAVING count(DISTINCT doc_id) >= {min_docs}
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(count(b.seg_text) AS BIGINT) AS n_removed,
       coalesce(string_agg(CASE WHEN b.seg_text IS NULL THEN s.seg_text END,
                           ' ' ORDER BY s.seg_idx), '') AS clean_text
FROM segs s LEFT JOIN boiler b USING (seg_text)
GROUP BY 1
"""


def _recrawl_snapshots(spark: SparkSession, sf_dir: str):
    """Deterministic snapshot pair from the documents table: docs
    0-6 (mod 10) unchanged, 7-8 changed, 9 new in the current crawl;
    plus one synthetic gone page per doc_id % 10 == 0 (id shifted
    past the current range)."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    m = F.col("doc_id") % 10
    cur = docs.select("doc_id", portable_hash64("text").alias("content_hash"))
    prev = (
        docs.filter(m <= 8)
        .select(
            "doc_id",
            F.when(m <= 6, portable_hash64("text"))
            .otherwise(portable_hash64(F.concat(F.col("text"), F.lit("#v0"))))
            .alias("content_hash"),
        )
        .unionAll(
            docs.filter(m == 0).select(
                (F.col("doc_id") + n).alias("doc_id"),
                portable_hash64("text").alias("content_hash"),
            )
        )
    )
    return cur, prev


def q_recrawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl scheduling table: diff the current snapshot
    against the previous one and label every page."""
    from flyscrape_spark.operators.recrawl import snapshot_delta

    cur, prev = _recrawl_snapshots(spark, sf_dir)
    return snapshot_delta(cur, prev)


def sql_recrawl_delta() -> str:
    h = portable_hash64_sql("text")
    hv = portable_hash64_sql("text || '#v0'")
    return f"""
WITH n AS (SELECT count(*) AS n FROM documents),
cur AS (SELECT doc_id, {h} AS h FROM documents),
prev AS (
  SELECT doc_id, CASE WHEN doc_id % 10 <= 6 THEN {h} ELSE {hv} END AS h
  FROM documents WHERE doc_id % 10 <= 8
  UNION ALL
  SELECT doc_id + n.n, {h} FROM documents, n WHERE doc_id % 10 = 0
)
SELECT coalesce(cur.doc_id, prev.doc_id) AS doc_id,
       CASE WHEN prev.h IS NULL THEN 'new'
            WHEN cur.h IS NULL THEN 'gone'
            WHEN cur.h = prev.h THEN 'unchanged'
            ELSE 'changed' END AS status,
       (prev.h IS NULL OR (cur.h IS NOT NULL AND cur.h <> prev.h)) AS refetch
FROM cur FULL OUTER JOIN prev ON cur.doc_id = prev.doc_id
"""


PRIORITY_BUDGET = 25


def q_frontier_prioritize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-first admission: top-25 frontier URLs per depth by link
    in-degree (the graph.py signal), FIFO tiebreak."""
    from flyscrape_spark.plans.priority import prioritize_frontier

    docs, edges = _graph_edges(spark, sf_dir)
    frontier = docs.select(
        F.col("doc_id").alias("url_key"),
        (F.col("doc_id") % 4).cast("int").alias("depth"),
        F.col("doc_id").alias("discovery_order"),
    )
    scores = edges.groupBy(F.col("dst").alias("url_key")).agg(
        F.count("*").cast("double").alias("score")
    )
    return prioritize_frontier(frontier, scores, budget=PRIORITY_BUDGET)


def sql_frontier_prioritize(budget: int = PRIORITY_BUDGET) -> str:
    return f"""
WITH {_GRAPH_EDGES_SQL},
sc AS (SELECT dst AS url_key, CAST(count(*) AS DOUBLE) AS score FROM e GROUP BY 1),
fr AS (SELECT doc_id AS url_key, CAST(doc_id % 4 AS INT) AS depth,
              doc_id AS discovery_order FROM documents),
r AS (
  SELECT fr.*, CAST(row_number() OVER (
           PARTITION BY depth
           ORDER BY coalesce(sc.score, 0.0) DESC, discovery_order) AS INT)
         AS admit_rank
  FROM fr LEFT JOIN sc USING (url_key)
)
SELECT url_key, depth, discovery_order, admit_rank
FROM r WHERE admit_rank <= {budget}
"""


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation over the synthetic web: pages -> REAL
    parse UDF -> link spans -> per-target (in-link count, distinct
    source hosts, sorted anchor set). The oracle reconstructs the
    deterministic link arithmetic in SQL."""
    from flyscrape_spark.operators.anchors import anchor_stats
    from flyscrape_spark.parse.udfs import parse_spans_udf

    pages = synthetic_pages(spark, sf_dir)
    parsed = pages.select("url", parse_spans_udf("html").alias("spans"))
    return anchor_stats(parsed)


def sql_anchor_texts() -> str:
    return f"""
WITH n AS (SELECT count(*) AS n FROM documents),
l AS (
  SELECT (2*doc_id+1) % n.n AS tid, 'a' AS anchor,
         'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS src_host
  FROM documents, n
  UNION ALL
  SELECT (3*doc_id+2) % n.n, 'b',
         'h' || (doc_id % {GRAPH_HOSTS}) || '.example'
  FROM documents, n
)
SELECT {_doc_url_sql('tid')} AS target_url,
       CAST(count(*) AS BIGINT) AS n_inlinks,
       CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts,
       array_to_string(list_sort(list(DISTINCT anchor)), ',') AS anchors
FROM l GROUP BY tid
"""


REDIRECT_MOD = 7
REDIRECT_RESIDUE = 3
REDIRECT_A = 9
REDIRECT_B = 4


def _redirect_tables(spark: SparkSession, sf_dir: str):
    """Synthetic redirect map over the doc URL space: doc i with
    i%7==3 is a 301 to doc (9i+4)%N — at sf0.01 this yields chains
    of length 1-3 plus one genuine loop, at sf0.1 chains to 4 plus
    two loops, so the hop-cap path is exercised for real."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    i = F.col("doc_id")
    urls = docs.select(_doc_url(i).alias("url"))
    redirects = docs.filter(i % REDIRECT_MOD == REDIRECT_RESIDUE).select(
        _doc_url(i).alias("src"),
        _doc_url((REDIRECT_A * i + REDIRECT_B) % n).alias("dst"),
    )
    return urls, redirects


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution via pointer doubling
    (operators/redirects.py): every URL -> final destination, exact
    hop count, net/http-style 10-hop cap with loop detection."""
    from flyscrape_spark.operators.redirects import resolve_redirects

    urls, redirects = _redirect_tables(spark, sf_dir)
    return resolve_redirects(urls, redirects)


def sql_redirect_resolve(max_hops: int = 10) -> str:
    a, b, m, r = REDIRECT_A, REDIRECT_B, REDIRECT_MOD, REDIRECT_RESIDUE
    return f"""
WITH RECURSIVE n AS (SELECT count(*) AS n FROM documents),
r AS (
  SELECT doc_id AS src, ({a} * doc_id + {b}) % n.n AS dst
  FROM documents, n WHERE doc_id % {m} = {r}
),
walk(src, cur, hops) AS (
  SELECT src, dst, 1 FROM r
  UNION ALL
  SELECT w.src, r.dst, w.hops + 1 FROM walk w JOIN r ON r.src = w.cur
  WHERE w.hops < {max_hops}
),
term AS (
  SELECT src, cur, hops, cur NOT IN (SELECT src FROM r) AS terminated
  FROM walk
),
final AS (
  SELECT src,
         CASE WHEN terminated THEN cur END AS final_id,
         CASE WHEN terminated THEN hops ELSE {max_hops} END AS fhops,
         terminated AS resolved
  FROM term WHERE terminated OR hops = {max_hops}
)
SELECT {_doc_url_sql('doc_id')} AS url,
       CASE WHEN f.src IS NULL THEN {_doc_url_sql('doc_id')}
            WHEN f.resolved THEN {_doc_url_sql('f.final_id')}
       END AS final_url,
       CAST(coalesce(f.fhops, 0) AS INT) AS hops,
       coalesce(f.resolved, TRUE) AS resolved
FROM documents LEFT JOIN final f ON f.src = doc_id
"""


HITS_ITERS = 2


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration HITS hubs/authorities over the synthetic link
    graph (operators/graph.py) — the authority-style companion to
    pagerank for frontier prioritization. L1-normalized, 8dp."""
    from flyscrape_spark.operators.graph import hits

    docs, edges = _graph_edges(spark, sf_dir)
    scores = hits(
        docs.select(F.col("doc_id").alias("node")), edges, iterations=HITS_ITERS
    )
    return scores.select(
        "node",
        F.round("authority", 8).alias("authority"),
        F.round("hub", 8).alias("hub"),
    )


def sql_hits_scores(iterations: int = HITS_ITERS) -> str:
    ctes = ["h0 AS (SELECT doc_id AS node, CAST(1.0 AS DOUBLE) AS hub"
            " FROM documents)"]
    for t in range(1, iterations + 1):
        ctes.append(
            f"am{t} AS (SELECT e.dst AS node, sum(h{t - 1}.hub) AS mass"
            f" FROM e JOIN h{t - 1} ON e.src = h{t - 1}.node GROUP BY 1)"
        )
        ctes.append(
            f"a{t} AS (SELECT doc_id AS node,"
            f" coalesce(mass, CAST(0 AS DOUBLE)) AS auth"
            f" FROM documents LEFT JOIN am{t} ON am{t}.node = doc_id)"
        )
        ctes.append(
            f"hm{t} AS (SELECT e.src AS node, sum(a{t}.auth) AS mass"
            f" FROM e JOIN a{t} ON e.dst = a{t}.node GROUP BY 1)"
        )
        ctes.append(
            f"h{t} AS (SELECT doc_id AS node,"
            f" coalesce(mass, CAST(0 AS DOUBLE)) AS hub"
            f" FROM documents LEFT JOIN hm{t} ON hm{t}.node = doc_id)"
        )
    t = iterations
    return (
        f"WITH {_GRAPH_EDGES_SQL},\n" + ",\n".join(ctes) + f""",
norms AS (SELECT (SELECT sum(auth) FROM a{t}) AS an,
                 (SELECT sum(hub) FROM h{t}) AS hn)
SELECT a{t}.node, round(auth / an, 8) AS authority,
       round(hub / hn, 8) AS hub
FROM a{t} JOIN h{t} ON a{t}.node = h{t}.node CROSS JOIN norms
"""
    )


def _trap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc URLs plus a synthetic calendar trap: every 5th doc also
    emits http://trap.example/cal?y=2000+i%50&m=i%12 — many distinct
    URLs, one digit-collapsed template. (At sf0.1 the h-hosts' own
    /d/{i} families exceed the ratio too and are flagged — correct:
    they ARE mechanically generated; the oracle agrees at any SF.)"""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    doc_urls = docs.select(
        _doc_url(i).alias("url"),
        F.concat(F.lit("h"), (i % GRAPH_HOSTS).cast("string"),
                 F.lit(".example")).alias("host"),
    )
    trap_urls = docs.filter(i % 5 == 0).select(
        F.concat(
            F.lit("http://trap.example/cal?y="), (2000 + i % 50).cast("string"),
            F.lit("&m="), (i % 12).cast("string"),
        ).alias("url"),
        F.lit("trap.example").alias("host"),
    )
    return doc_urls.unionByName(trap_urls)


def q_trap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-trap detection (operators/traps.py): per-host distinct
    URLs vs distinct digit-collapsed templates; ratio >= 50 flags.
    Precision knobs exercised (round-2 verdict item 7): the doc hosts'
    own /d/{i} families exceed the ratio at sf >= 0.1 — correctly
    mechanical, but known-legit — so they ride TRAP_WHITELIST; hosts
    under TRAP_MIN_URLS distinct URLs are never flagged. The synthetic
    calendar trap still flags at every SF."""
    from flyscrape_spark.operators.traps import trap_stats

    return trap_stats(_trap_urls(spark, sf_dir), min_urls=TRAP_MIN_URLS,
                      whitelist=TRAP_WHITELIST)


def sql_trap_detect(ratio: float = 50.0) -> str:
    wl = ", ".join(f"'{h}'" for h in TRAP_WHITELIST)
    return f"""
WITH u AS (
  SELECT {_doc_url_sql('doc_id')} AS url,
         'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS host
  FROM documents
  UNION ALL
  SELECT 'http://trap.example/cal?y=' || (2000 + doc_id % 50)
           || '&m=' || (doc_id % 12),
         'trap.example'
  FROM documents WHERE doc_id % 5 = 0
),
t AS (SELECT host, url, regexp_replace(url, '[0-9]+', 'N', 'g') AS template
      FROM u),
s AS (SELECT host, count(DISTINCT url) AS n_urls,
             count(DISTINCT template) AS n_templates
      FROM t GROUP BY 1)
SELECT host, n_urls, n_templates,
       round(CAST(n_urls AS DOUBLE) / n_templates, 4) AS urls_per_template,
       CAST(n_urls AS DOUBLE) / n_templates >= {ratio}
         AND n_urls >= {TRAP_MIN_URLS}
         AND host NOT IN ({wl}) AS is_trap
FROM s
"""


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality scoring (operators/lm.py):
    per-doc mean log-probability under the corpus's own add-one-
    smoothed bigram model, keep flag at the -9.0 threshold."""
    from flyscrape_spark.operators.lm import lm_scores

    return lm_scores(load(spark, sf_dir, "documents"))


def sql_lm_perplexity(keep_threshold: float = -9.0) -> str:
    return f"""
WITH words AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents),
bg0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
                               i -> {{'w1': w[i], 'w2': w[i+1]}})) AS p
  FROM words WHERE len(w) >= 2
),
bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg0),
bgc AS (SELECT w1, w2, count(*) AS c_bigram FROM bg GROUP BY 1, 2),
ugc AS (SELECT w1, count(*) AS c_unigram FROM bg GROUP BY 1),
v AS (SELECT CAST(count(DISTINCT x) AS DOUBLE) AS vocab
      FROM (SELECT w1 AS x FROM bg UNION ALL SELECT w2 FROM bg)),
scored AS (
  SELECT bg.doc_id,
         ln(CAST(coalesce(c_bigram, 0) + 1 AS DOUBLE)
            / (CAST(coalesce(c_unigram, 0) AS DOUBLE) + vocab)) AS lp
  FROM bg LEFT JOIN bgc USING (w1, w2) LEFT JOIN ugc USING (w1) CROSS JOIN v
),
per_doc AS (
  SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logprob
  FROM scored GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       avg_logprob,
       coalesce(avg_logprob >= {keep_threshold}, FALSE) AS keep_lm
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


CONTAINMENT_THRESHOLD = 0.6


def q_containment_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle-containment near-dup (Broder 1997):
    |A∩B|/|A| over 3-gram shingles, either direction >= 0.6 — the
    subset-duplication detector Jaccard misses."""
    return dedup.containment_pairs(
        load(spark, sf_dir, "documents"),
        n=3, threshold=CONTAINMENT_THRESHOLD, max_shingle_freq=100,
    )


def sql_containment_dup(n: int = 3, threshold: float = CONTAINMENT_THRESHOLD,
                        max_freq: int = 100) -> str:
    h = portable_hash64_sql("shingle")
    return f"""
WITH words AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents),
idx0 AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(
      range(0, greatest(len(w)-{n}, 0)+1),
      i -> array_to_string(w[i+1:i+{n}], ' ')))) AS shingle
  FROM words
),
idx AS (SELECT doc_id, {h} AS shingle_hash FROM idx0),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM idx GROUP BY doc_id),
freq AS (SELECT shingle_hash FROM idx GROUP BY shingle_hash HAVING count(*) <= {max_freq}),
filtered AS (SELECT i.doc_id, i.shingle_hash FROM idx i JOIN freq USING (shingle_hash)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
  FROM filtered a JOIN filtered b
    ON a.shingle_hash = b.shingle_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
c AS (
  SELECT doc_a, doc_b,
         round(CAST(intersection AS DOUBLE) / sa.n_shingles, 6) AS containment_a_in_b,
         round(CAST(intersection AS DOUBLE) / sb.n_shingles, 6) AS containment_b_in_a
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT * FROM c
WHERE containment_a_in_b >= {threshold} OR containment_b_in_a >= {threshold}
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-gated stratified sampling by language
    (operators/mixing.py): every stratum downsampled to the smallest
    stratum's expected size, reproducible across runs/engines."""
    from flyscrape_spark.operators.mixing import stratified_sample

    return stratified_sample(load(spark, sf_dir, "documents"), ["lang"])


def sql_stratified_sample(scale: int = 1_000_000) -> str:
    h = portable_hash64_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH c AS (SELECT lang, count(*) AS n_stratum FROM documents GROUP BY 1),
t AS (SELECT min(n_stratum) AS t FROM c),
g AS (SELECT lang,
             CAST(floor(least(CAST(t.t AS DOUBLE) / n_stratum, 1.0) * {scale})
                  AS BIGINT) AS gate
      FROM c, t)
SELECT d.* FROM documents d JOIN g USING (lang)
WHERE {h} % {scale} < gate
"""


def _site_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic multi-suffix host population: doc i lives on a host
    whose public suffix rotates through co.uk / com / github.io /
    org.uk / an unknown TLD (.zz) by i%5, with 7 distinct sites."""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    site = F.concat(F.lit("site"), (i % 7).cast("string"))
    host = (
        F.when(i % 5 == 0, F.concat(F.lit("www."), site, F.lit(".co.uk")))
        .when(i % 5 == 1, F.concat(F.lit("blog."), site, F.lit(".com")))
        .when(i % 5 == 2, F.concat(site, F.lit(".github.io")))
        .when(i % 5 == 3, F.concat(F.lit("a.b."), site, F.lit(".org.uk")))
        .otherwise(F.concat(F.lit("cdn."), site, F.lit(".zz")))
    )
    return docs.select("doc_id", host.alias("host"))


def q_registrable_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eTLD+1 rollup (functions/urls.registrable_domain): hosts
    grouped by registrable domain — the unit of crawl policy. NULL
    group = unknown-TLD hosts."""
    from flyscrape_spark.functions.urls import registrable_domain

    hosts = _site_hosts(spark, sf_dir)
    return (
        hosts.select("doc_id", registrable_domain("host").alias("registrable"),
                     "host")
        .groupBy("registrable")
        .agg(F.count("*").alias("n_urls"),
             F.countDistinct("host").alias("n_hosts"))
    )


def sql_registrable_domains() -> str:
    # ground-truth eTLD+1 from the synthesis rule itself (i%5 picks
    # the suffix; .zz is not a listed public suffix -> NULL)
    return """
WITH h AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN 'www.site' || (doc_id % 7) || '.co.uk'
           WHEN 1 THEN 'blog.site' || (doc_id % 7) || '.com'
           WHEN 2 THEN 'site' || (doc_id % 7) || '.github.io'
           WHEN 3 THEN 'a.b.site' || (doc_id % 7) || '.org.uk'
           ELSE 'cdn.site' || (doc_id % 7) || '.zz'
         END AS host,
         CASE doc_id % 5
           WHEN 0 THEN 'site' || (doc_id % 7) || '.co.uk'
           WHEN 1 THEN 'site' || (doc_id % 7) || '.com'
           WHEN 2 THEN 'site' || (doc_id % 7) || '.github.io'
           WHEN 3 THEN 'site' || (doc_id % 7) || '.org.uk'
           ELSE NULL
         END AS registrable
  FROM documents
)
SELECT registrable, count(*) AS n_urls, count(DISTINCT host) AS n_hosts
FROM h GROUP BY 1
"""


def _sitemap_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synthetic sitemap per host: all of the host's doc URLs in
    doc_id order, lastmod 2026-01-(1 + i%28)."""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    lastmod = F.concat(
        F.lit("2026-01-"), F.lpad(((i % 28) + 1).cast("string"), 2, "0")
    )
    entry = F.concat(
        F.lit("<url><loc>"), _doc_url(i), F.lit("</loc><lastmod>"),
        lastmod, F.lit("</lastmod></url>"),
    )
    per_host = docs.select(
        F.concat(F.lit("h"), (i % GRAPH_HOSTS).cast("string"),
                 F.lit(".example")).alias("host"),
        F.struct(i.alias("doc_id"), entry.alias("entry")).alias("e"),
    )
    return per_host.groupBy("host").agg(
        F.concat(
            F.lit('<?xml version="1.0" encoding="UTF-8"?><urlset>'),
            F.array_join(
                F.transform(F.array_sort(F.collect_list("e")), lambda s: s["entry"]),
                "",
            ),
            F.lit("</urlset>"),
        ).alias("xml")
    )


def q_sitemap_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion (sources/sitemaps.py): build each host's
    urlset XML, then parse it back JVM-side with from_xml into
    (host, url, lastmod, position) seed rows. The oracle computes
    the expected rows arithmetically — the parse must invert the
    build exactly."""
    from flyscrape_spark.sources.sitemaps import parse_sitemaps

    return parse_sitemaps(_sitemap_xml(spark, sf_dir)).select(
        "host", "url", "lastmod", "position"
    )


def sql_sitemap_extract() -> str:
    return f"""
SELECT 'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS host,
       {_doc_url_sql('doc_id')} AS url,
       '2026-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0') AS lastmod,
       CAST(doc_id // {GRAPH_HOSTS} AS INT) AS position
FROM documents
"""


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt (operators/robots.py
    sitemap_directives): host h{k} publishes k%3+1 ``Sitemap:`` lines
    among its rule groups; extraction is pure JVM regexp."""
    from flyscrape_spark.operators.robots import sitemap_directives

    k = F.col("id")
    host = F.concat(F.lit("h"), k.cast("string"), F.lit(".example"))
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n"),
        F.concat_ws(
            "\n",
            F.transform(
                F.sequence(F.lit(0), k % 3),
                lambda j: F.concat(
                    F.lit("Sitemap: http://h"), k.cast("string"),
                    F.lit(".example/sitemap"), j.cast("string"), F.lit(".xml"),
                ),
            ),
        ),
        F.lit("\nUser-agent: badbot\nDisallow: /\n"),
    )
    bodies = spark.range(GRAPH_HOSTS).select(host.alias("host"), body.alias("body"))
    return sitemap_directives(bodies)


def sql_robots_sitemaps() -> str:
    return f"""
WITH h AS (SELECT unnest(range(0, {GRAPH_HOSTS})) AS k),
s AS (SELECT k, unnest(range(0, k % 3 + 1)) AS j FROM h)
SELECT 'h' || k || '.example' AS host,
       'http://h' || k || '.example/sitemap' || j || '.xml' AS sitemap_url,
       CAST(j AS INT) AS position
FROM s
"""


RECRAWL_SNAPSHOTS = 6
RECRAWL_INTERVAL = 100.0


def _fetch_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic fetch log: every doc observed at ts 0,100,…,500; doc
    i's content changes at snapshot s iff (i + 7s) % 4 == 0, so the
    per-URL change count varies 0..3 across the corpus. The content
    hash is the cumulative change count (changes exactly when a
    change happens)."""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = F.col("snap")
    # guard snap=0: Spark's sequence(1, 0) is DESCENDING [1, 0], not
    # empty — the s=0 observation must be version 0
    version = F.when(s == 0, F.lit(0)).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), s),
            F.lit(0),
            lambda acc, t: acc
            + F.when((i + 7 * t) % 4 == 0, F.lit(1)).otherwise(F.lit(0)),
        )
    )
    return (
        docs.select("doc_id")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(RECRAWL_SNAPSHOTS - 1))
            ).alias("snap"),
        )
        .select(
            _doc_url(i).alias("url"),
            (s.cast("double") * RECRAWL_INTERVAL).alias("fetch_ts"),
            F.concat(F.lit("v"), version.cast("string")).alias("content_hash"),
        )
    )


def q_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson change-rate estimation over the synthetic fetch log
    (operators/recrawl.py change_rate, Cho & Garcia-Molina 2003):
    per-URL lambda_hat + next_due refresh schedule."""
    from flyscrape_spark.operators.recrawl import change_rate

    return change_rate(_fetch_history(spark, sf_dir), horizon=86400.0)


def sql_change_rate(horizon: float = 86400.0) -> str:
    ns, iv = RECRAWL_SNAPSHOTS, RECRAWL_INTERVAL
    return f"""
WITH hist AS (
  SELECT {_doc_url_sql('doc_id')} AS url,
         CAST(s AS DOUBLE) * {iv} AS ts,
         'v' || coalesce(list_sum(list_transform(range(1, s + 1),
             t -> CASE WHEN (doc_id + 7 * t) % 4 = 0 THEN 1 ELSE 0 END)), 0) AS h
  FROM documents, (SELECT unnest(range(0, {ns})) AS s)
),
obs AS (
  SELECT url, ts,
         h <> lag(h) OVER (PARTITION BY url ORDER BY ts) AS changed,
         lag(ts) OVER (PARTITION BY url ORDER BY ts) AS prev_ts
  FROM hist
),
agg AS (
  SELECT url,
         count(prev_ts) AS n_intervals,
         CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
         max(ts) AS last_ts, min(ts) AS first_ts
  FROM obs GROUP BY url
),
est AS (
  SELECT url, n_intervals, n_changes, last_ts,
         CASE WHEN n_intervals > 0 AND n_changes > 0 THEN
           round(-ln((CAST(n_intervals AS DOUBLE) - n_changes + 0.5)
                     / (n_intervals + 0.5))
                 / ((last_ts - first_ts) / n_intervals), 10)
         ELSE CAST(0 AS DOUBLE) END AS lambda_hat
  FROM agg
)
SELECT url, n_intervals, n_changes, lambda_hat,
       round(last_ts + CASE WHEN lambda_hat > 0
                            THEN least(1.0 / lambda_hat, {horizon})
                            ELSE {horizon} END, 4) AS next_due
FROM est
"""


KMEANS_K = 8
KMEANS_ITERS = 1


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration Lloyd k-means over the embeddings table
    (operators/kmeans.py): one real centroid update from the
    smallest-id init, then the final assignment."""
    from flyscrape_spark.operators.kmeans import kmeans

    return kmeans(
        load(spark, sf_dir, "embeddings"), k=KMEANS_K, iterations=KMEANS_ITERS
    )


def sql_kmeans_clusters(k: int = KMEANS_K) -> str:
    # one Lloyd round unrolled: assign under init centroids c0, mean
    # per (cluster, dim) -> c1 (empty clusters fall back to c0), final
    # assignment under c1. Distances rounded to 6dp before the argmin
    # (ties to smaller cluster id), means to 9dp — same as Spark.
    return f"""
WITH c0 AS (
  SELECT vec_id AS cent_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id < {k}
),
az1 AS (
  SELECT e.vec_id, c.cent_id,
         unnest(e.embedding) AS x, unnest(c.cv) AS y
  FROM embeddings e, c0 c
),
d1 AS (
  SELECT vec_id, cent_id,
         round(sum((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 6) AS d2
  FROM az1 GROUP BY 1, 2
),
a1 AS (
  SELECT vec_id, cent_id AS cluster FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1
),
elong AS (
  SELECT e.vec_id,
         unnest(list_transform(e.embedding, (x, i) -> {{'d': i, 'v': x}})) AS u
  FROM embeddings e
),
u1 AS (
  SELECT a.cluster AS cent_id, el.u.d AS dim,
         round(avg(CAST(el.u.v AS DOUBLE)), 9) AS cval
  FROM elong el JOIN a1 a ON a.vec_id = el.vec_id
  GROUP BY 1, 2
),
c0long AS (
  SELECT cent_id, unnest(list_transform(cv, (x, i) -> {{'d': i, 'v': x}})) AS u
  FROM c0
),
c1 AS (
  SELECT c.cent_id, c.u.d AS dim, coalesce(u1.cval, c.u.v) AS cval
  FROM c0long c LEFT JOIN u1 ON u1.cent_id = c.cent_id AND u1.dim = c.u.d
),
d2tbl AS (
  SELECT el.vec_id, c1.cent_id,
         round(sum((CAST(el.u.v AS DOUBLE) - c1.cval)
                   * (CAST(el.u.v AS DOUBLE) - c1.cval)), 6) AS d2
  FROM elong el JOIN c1 ON c1.dim = el.u.d
  GROUP BY 1, 2
)
SELECT vec_id, cent_id AS cluster, d2 AS dist FROM d2tbl
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1
"""


def q_strip_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tracking-parameter canonicalization (functions/urls.py
    strip_tracking_params): synthetic URLs carrying interleaved utm/
    gclid/real params are reduced to their resource identity — the
    crawl-side defense against campaign-parameter URL-space blowup."""
    from flyscrape_spark.functions.urls import strip_tracking_params

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.when(
        i % 4 == 0,
        F.concat(_doc_url(i), F.lit("?id="), i.cast("string"),
                 F.lit("&utm_source=s"), (i % 3).cast("string"),
                 F.lit("&page="), (i % 7).cast("string")),
    ).when(
        i % 4 == 1,
        F.concat(_doc_url(i), F.lit("?utm_campaign=c"), (i % 5).cast("string"),
                 F.lit("&gclid=g"), i.cast("string")),
    ).when(
        i % 4 == 2,
        F.concat(_doc_url(i), F.lit("?q=term"), (i % 11).cast("string")),
    ).otherwise(_doc_url(i))
    return docs.select(
        url.alias("url"), strip_tracking_params(url).alias("clean_url")
    )


def sql_strip_tracking() -> str:
    from flyscrape_spark.functions.urls import strip_tracking_params_sql

    base = _doc_url_sql("doc_id")
    url = f"""CASE doc_id % 4
      WHEN 0 THEN {base} || '?id=' || doc_id || '&utm_source=s'
                  || (doc_id % 3) || '&page=' || (doc_id % 7)
      WHEN 1 THEN {base} || '?utm_campaign=c' || (doc_id % 5)
                  || '&gclid=g' || doc_id
      WHEN 2 THEN {base} || '?q=term' || (doc_id % 11)
      ELSE {base} END"""
    return f"""
WITH u AS (SELECT ({url}) AS url FROM documents)
SELECT url, {strip_tracking_params_sql('url')} AS clean_url FROM u
"""


def q_domain_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level reputation rollup: per registrable domain (eTLD+1)
    aggregate the corpus quality signals — the site-granularity prior
    a frontier joins back (broadcast) to prioritize or demote whole
    sites. Composition of registrable_domain × text_quality; one
    groupBy on the (tiny-cardinality) domain key."""
    from flyscrape_spark.functions.urls import registrable_domain
    from flyscrape_spark.operators.text import text_quality

    docs = load(spark, sf_dir, "documents")
    quality = text_quality(docs)
    hosts = _site_hosts(spark, sf_dir)
    return (
        hosts.join(quality, "doc_id")
        .select(registrable_domain("host").alias("registrable"),
                "n_tokens", "stopword_ratio")
        .groupBy("registrable")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("stopword_ratio"), 6).alias("avg_stopword_ratio"),
        )
    )


def sql_domain_reputation() -> str:
    return f"""
WITH q AS (
  SELECT doc_id,
    CAST(CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
    round(CAST(len(list_filter(string_split({_NORM_SQL}, ' '),
                               t -> list_contains({STOPWORDS_SQL}, t))) AS DOUBLE)
          / greatest(CAST(len(string_split({_NORM_SQL}, ' ')) AS DOUBLE), 1.0),
          4) AS stopword_ratio
  FROM documents
),
h AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN 'site' || (doc_id % 7) || '.co.uk'
           WHEN 1 THEN 'site' || (doc_id % 7) || '.com'
           WHEN 2 THEN 'site' || (doc_id % 7) || '.github.io'
           WHEN 3 THEN 'site' || (doc_id % 7) || '.org.uk'
           ELSE NULL
         END AS registrable
  FROM documents
)
SELECT registrable,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(stopword_ratio), 6) AS avg_stopword_ratio
FROM h JOIN q USING (doc_id)
GROUP BY 1
"""


SEQ_LEN = 512


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (operators/mixing.py): each doc's
    window placement when the corpus concatenates in doc_id order and
    splits into 512-token sequences — skew-free two-phase prefix sums,
    no global-orderBy window anywhere."""
    from flyscrape_spark.operators.mixing import pack_sequences

    return pack_sequences(load(spark, sf_dir, "documents"), seq_len=SEQ_LEN)


def sql_pack_sequences(seq_len: int = SEQ_LEN) -> str:
    return f"""
WITH t AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
           AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM t
)
SELECT doc_id, n_tokens, cum_before,
       cum_before // {seq_len} AS seq_start,
       (cum_before + n_tokens - 1) // {seq_len} AS seq_end,
       cum_before % {seq_len} AS offset
FROM c
"""


def q_host_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host circuit breaker (operators/politeness.py host_health):
    synthetic fetch log where hosts h2/h5 serve 503 on every third
    doc — error ratio ~1/3 trips the 0.25 cooldown; all other hosts
    stay healthy."""
    from flyscrape_spark.operators.politeness import host_health

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    log = docs.select(
        _doc_url(i).alias("url"),
        F.concat(F.lit("h"), (i % GRAPH_HOSTS).cast("string"),
                 F.lit(".example")).alias("host"),
        F.when(((i % GRAPH_HOSTS).isin(2, 5)) & (i % 3 == 0), F.lit(503))
        .otherwise(F.lit(200)).alias("status"),
    )
    return host_health(log, cooldown_ratio=0.25, min_fetches=10)


def sql_host_health(ratio: float = 0.25, min_fetches: int = 10) -> str:
    return f"""
WITH log AS (
  SELECT 'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS host,
         CASE WHEN (doc_id % {GRAPH_HOSTS}) IN (2, 5) AND doc_id % 3 = 0
              THEN 503 ELSE 200 END AS status
  FROM documents
),
agg AS (
  SELECT host, count(*) AS n_fetches,
         CAST(sum(CASE WHEN status IN (429, 500, 502, 503, 504)
                       OR status = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
  FROM log GROUP BY 1
)
SELECT host, n_fetches, n_errors,
       round(CAST(n_errors AS DOUBLE) / n_fetches, 6) AS error_ratio,
       n_fetches >= {min_fetches}
         AND round(CAST(n_errors AS DOUBLE) / n_fetches, 6) >= {ratio}
         AS cooldown
FROM agg
"""


def q_crawl_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-crawl seen-state merge (operators/recrawl.py
    merge_crawls): crawl 'a' saw every doc at depth (3i)%7, crawl 'b'
    saw the even docs at depth (5i)%7 — per URL the minimum depth
    wins, ties to crawl 'a'."""
    from flyscrape_spark.operators.recrawl import merge_crawls

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    a = docs.select(_doc_url(i).alias("url"), ((3 * i) % 7).alias("depth"))
    b = docs.filter(i % 2 == 0).select(
        _doc_url(i).alias("url"), ((5 * i) % 7).alias("depth")
    )
    return merge_crawls([("a", a), ("b", b)])


def sql_crawl_merge() -> str:
    return f"""
WITH s AS (
  SELECT {_doc_url_sql('doc_id')} AS url,
         CAST((3 * doc_id) % 7 AS INT) AS depth, 0 AS crawl_rank,
         'a' AS crawl
  FROM documents
  UNION ALL
  SELECT {_doc_url_sql('doc_id')}, CAST((5 * doc_id) % 7 AS INT), 1, 'b'
  FROM documents WHERE doc_id % 2 = 0
),
best AS (
  SELECT url, count(*) AS n_crawls
  FROM s GROUP BY 1
),
win AS (
  SELECT url, depth, crawl
  FROM s
  QUALIFY row_number() OVER (PARTITION BY url
                             ORDER BY depth, crawl_rank) = 1
)
SELECT w.url, w.depth, w.crawl, b.n_crawls
FROM win w JOIN best b ON b.url = w.url
"""


CHUNK_SIZE = 24
CHUNK_OVERLAP = 8


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/text.py
    chunk_documents) — the embedding/RAG prep stage; 24-token windows
    stepping by 16 so most docs produce several chunks."""
    from flyscrape_spark.operators.text import chunk_documents

    return chunk_documents(
        load(spark, sf_dir, "documents"), size=CHUNK_SIZE, overlap=CHUNK_OVERLAP
    )


def sql_chunk_documents(size: int = CHUNK_SIZE,
                        overlap: int = CHUNK_OVERLAP) -> str:
    step = size - overlap
    return f"""
WITH words AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
  WHERE trim(text) <> ''
),
s AS (
  SELECT doc_id, w,
         unnest(range(0, greatest(len(w) - 1, 0) + 1, {step})) AS start
  FROM words
)
SELECT doc_id,
       CAST(start / {step} AS INT) AS chunk_idx,
       CAST(least({size}, len(w) - start) AS INT) AS n_chunk_tokens,
       array_to_string(w[start + 1:start + {size}], ' ') AS chunk_text
FROM s
"""


# -- round 3: pretrained-LM scoring, whitelist-aware traps, browser --

TRAP_MIN_URLS = 10
#: known-legit high-cardinality hosts (round-2 verdict item 7: a pure
#: ratio test flags the doc hosts' own /d/{i} families — correctly, they
#: ARE mechanically generated, but a curator would whitelist them)
TRAP_WHITELIST = [f"h{i}.example" for i in range(GRAPH_HOSTS)]


def q_lm_scores_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretrained-model LM scoring — the 100 TB shape (the in-corpus
    estimation of ``lm_perplexity`` shuffles raw grams; here the model
    is estimated once on a small reference slice, doc_id % 10 == 0,
    and BROADCAST into the scoring joins, so the scoring path shuffles
    no gram keys — plan-audited in PLANS.md)."""
    from flyscrape_spark.operators.lm import bigram_model, lm_scores

    docs = load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    return lm_scores(docs, model=bigram_model(ref))


def sql_lm_scores_pretrained(keep_threshold: float = -9.0) -> str:
    return f"""
WITH words AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents),
bg0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
                               i -> {{'w1': w[i], 'w2': w[i+1]}})) AS p
  FROM words WHERE len(w) >= 2
),
bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg0),
ref AS (SELECT * FROM bg WHERE doc_id % 10 = 0),
bgc AS (SELECT w1, w2, count(*) AS c_bigram FROM ref GROUP BY 1, 2),
ugc AS (SELECT w1, count(*) AS c_unigram FROM ref GROUP BY 1),
v AS (SELECT CAST(count(DISTINCT x) AS DOUBLE) AS vocab
      FROM (SELECT w1 AS x FROM ref UNION ALL SELECT w2 FROM ref)),
scored AS (
  SELECT bg.doc_id,
         ln(CAST(coalesce(c_bigram, 0) + 1 AS DOUBLE)
            / (CAST(coalesce(c_unigram, 0) AS DOUBLE) + vocab)) AS lp
  FROM bg LEFT JOIN bgc USING (w1, w2) LEFT JOIN ugc USING (w1) CROSS JOIN v
),
per_doc AS (
  SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logprob
  FROM scored GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       avg_logprob,
       coalesce(avg_logprob >= {keep_threshold}, FALSE) AS keep_lm
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


def q_browser_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Browser-render transport (SURVEY §2.1 #18): every 20th document
    becomes a fixture page whose link rides a JS-deferred script
    payload (invisible to plain HTML parsing); the frontier is fetched
    through RenderingTransport + the fake DOM-settling renderer, which
    splices the deferred DOM inline before capture. The pages dict
    plays the network and is collected driver-side ONLY because the
    fixture IS the fake network (bounded: doc_id % 20); a real crawl's
    bodies come from Chromium, never from a table."""
    from flyscrape_spark.sources.browser import (
        FakeDomSettlingRenderer,
        RenderingTransport,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    i = F.col("doc_id")
    fixture = docs.select(
        _doc_url(i).alias("url"),
        F.concat(F.lit("h"), (i % GRAPH_HOSTS).cast("string"),
                 F.lit(".example")).alias("host"),
        F.concat(
            F.lit("<p>"), F.col("text"),
            F.lit('</p><script type="application/x-deferred-html">'
                  '<a href="/late/'),
            i.cast("string"), F.lit('">x</a></script>'),
        ).alias("html"),
    )
    pages = {r["url"]: r["html"] for r in fixture.collect()}
    transport = RenderingTransport(FakeDomSettlingRenderer(pages), pace=False)
    frontier = fixture.drop("html").withColumn("depth", F.lit(0))
    return transport.fetch(frontier).select(
        "url", "status", F.col("body").alias("rendered_html"))


def sql_browser_render() -> str:
    return f"""
SELECT {_doc_url_sql('doc_id')} AS url,
       CAST(200 AS INTEGER) AS status,
       '<p>' || text || '</p><a href="/late/' || doc_id || '">x</a>'
         AS rendered_html
FROM documents WHERE doc_id % 20 = 0
"""


# ----------------------------------------------- round-3 session 2 ops

TRUSTRANK_ITERS = 3
TRUSTRANK_DAMPING = 0.85
TRUSTRANK_SEED_MOD = 17


def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration TrustRank (Gyongyi et al. VLDB 2004) over the
    synthetic link graph, teleporting only to the hand-vetted seed
    set doc_id % 17 == 0 — the spam-demotion complement to pagerank
    in the frontier's priority mix."""
    from flyscrape_spark.operators.graph import trustrank

    docs, edges = _graph_edges(spark, sf_dir)
    nodes = docs.select(F.col("doc_id").alias("node"))
    seeds = nodes.filter(F.col("node") % TRUSTRANK_SEED_MOD == 0)
    ranks = trustrank(nodes, edges, seeds,
                      iterations=TRUSTRANK_ITERS, damping=TRUSTRANK_DAMPING)
    return ranks.select("node", F.round("tr", 8).alias("tr"))


def sql_trustrank(iterations: int = TRUSTRANK_ITERS,
                  damping: float = TRUSTRANK_DAMPING) -> str:
    d = f"CAST({damping} AS DOUBLE)"
    ctes = [
        f"ns AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM documents"
        f" WHERE doc_id % {TRUSTRANK_SEED_MOD} = 0)",
        "deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS out_degree FROM e GROUP BY 1)",
        f"base AS (SELECT doc_id AS node,"
        f" CASE WHEN doc_id % {TRUSTRANK_SEED_MOD} = 0"
        f" THEN CAST(1.0 AS DOUBLE) / ns.ns ELSE CAST(0 AS DOUBLE) END AS s"
        f" FROM documents, ns)",
        "p0 AS (SELECT node, s AS tr FROM base)",
    ]
    for it in range(iterations):
        ctes.append(
            f"c{it + 1} AS (SELECT e.dst AS node,"
            f" sum(p{it}.tr / deg.out_degree) AS mass"
            f" FROM e JOIN p{it} ON e.src = p{it}.node"
            f" JOIN deg ON deg.src = e.src GROUP BY 1)"
        )
        ctes.append(
            f"p{it + 1} AS (SELECT base.node,"
            f" (CAST(1.0 AS DOUBLE) - {d}) * base.s"
            f" + {d} * coalesce(mass, CAST(0 AS DOUBLE)) AS tr"
            f" FROM base LEFT JOIN c{it + 1} ON c{it + 1}.node = base.node)"
        )
    return (
        f"WITH {_GRAPH_EDGES_SQL},\n" + ",\n".join(ctes)
        + f"\nSELECT node, round(tr, 8) AS tr FROM p{iterations}"
    )


VOCAB_MIN_DF = 3


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (token, tf, df, vocab_id) with min-df cutoff
    — tokenizer/embedding-table prep over the whole corpus."""
    from flyscrape_spark.operators.text import vocab_build

    return vocab_build(load(spark, sf_dir, "documents"), min_df=VOCAB_MIN_DF)


def sql_vocab_build(min_df: int = VOCAB_MIN_DF) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS token
  FROM documents
),
per_doc AS (
  SELECT doc_id, token, count(*) AS n FROM toks
  WHERE token != '' GROUP BY 1, 2
),
counts AS (
  SELECT token, sum(n) AS tf, count(*) AS df FROM per_doc
  GROUP BY 1 HAVING count(*) >= {min_df}
)
SELECT token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(row_number() OVER (ORDER BY tf DESC, token ASC) AS BIGINT)
         AS vocab_id
FROM counts
"""


KMV_K = 8
KMV_SALTS = 16


def q_host_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct pages per host via the mergeable KMV sketch
    (operators/sketches.py) over the synthetic web's URL space — the
    frontier scheduler's per-host capacity signal without a
    count(DISTINCT) shuffle over the Zipf host key."""
    from flyscrape_spark.operators.sketches import kmv_distinct

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    urls = docs.select(
        F.concat(F.lit("h"), (i % GRAPH_HOSTS).cast("string"),
                 F.lit(".example")).alias("host"),
        _doc_url(i).alias("url"),
    )
    return kmv_distinct(urls, "url", ["host"], k=KMV_K,
                        salt_buckets=KMV_SALTS)


def sql_host_distinct_kmv() -> str:
    from flyscrape_spark.operators.sketches import kmv_distinct_sql

    inner = (
        f"(SELECT 'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS host, "
        f"{_doc_url_sql('doc_id')} AS url FROM documents) u"
    )
    return kmv_distinct_sql(inner, "url", ["host"], k=KMV_K,
                            salt_buckets=KMV_SALTS)


N_EXPORT_SHARDS = 8


def q_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-sharded training export layout
    (operators/mixing.shard_export): (doc_id, shard_id, shard_pos),
    byte-identical regardless of input partitioning."""
    from flyscrape_spark.operators.mixing import shard_export

    return shard_export(load(spark, sf_dir, "documents"),
                        n_shards=N_EXPORT_SHARDS)


def sql_shard_export(n_shards: int = N_EXPORT_SHARDS) -> str:
    h = portable_hash64_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH h AS (SELECT doc_id, {h} AS h FROM documents)
SELECT doc_id, CAST(h % {n_shards} AS INT) AS shard_id,
       CAST(row_number() OVER (
         PARTITION BY h % {n_shards} ORDER BY h ASC, doc_id ASC) - 1
         AS BIGINT) AS shard_pos
FROM h
"""


# --- round-3 batch 2: model-quality scoring, quantization, semantic
# --- dedup, LSH tuning eval ------------------------------------------

CLS_DIM = 512
CLS_BIAS = 0.0


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier (operators/classifier.py): hashed
    bag-of-words features scored under a broadcast (feature, weight)
    model — the fastText-shaped CCNet/LLaMA curation stage. The demo
    weight table stands in for a trained export."""
    from flyscrape_spark.operators.classifier import (
        demo_weights, linear_quality_score,
    )

    docs = load(spark, sf_dir, "documents")
    return linear_quality_score(
        docs, demo_weights(spark, CLS_DIM), dim=CLS_DIM, bias=CLS_BIAS
    )


def sql_quality_classifier(dim: int = CLS_DIM, bias: float = CLS_BIAS) -> str:
    h = portable_hash64_sql("token")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS token
  FROM documents
),
feats AS (
  SELECT doc_id, {h} % {dim} AS feature, count(*) AS n
  FROM toks WHERE token != '' GROUP BY 1, 2
),
w AS (
  SELECT t.i AS feature,
         CAST(((37 * t.i + 11) % 201 - 100) AS DOUBLE) / 100.0 AS weight
  FROM range({dim}) t(i)
),
scored AS (
  SELECT f.doc_id, sum(f.n) AS n_tokens,
         sum(f.n * coalesce(w.weight, 0.0)) AS wsum
  FROM feats f LEFT JOIN w USING (feature) GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
  round(CASE WHEN s.doc_id IS NULL
        THEN 1.0 / (1.0 + exp(-CAST({bias} AS DOUBLE)))
        ELSE 1.0 / (1.0 + exp(-(CAST({bias} AS DOUBLE) + s.wsum / s.n_tokens)))
        END, 6) AS score
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
"""


QUANT_LEVELS = 255
QUANT_DIMS = 64


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization (operators/quantize.py): global
    per-dimension affine codes + per-vector reconstruction MSE.
    Codes emitted CSV-joined (the suite's engine-agnostic array
    convention)."""
    from flyscrape_spark.operators.quantize import quantize_int8

    q = quantize_int8(load(spark, sf_dir, "embeddings"), levels=QUANT_LEVELS)
    return q.select(
        "vec_id",
        F.array_join(F.col("codes"), ",").alias("codes_csv"),
        "mse",
    )


def sql_quantize_embeddings(levels: int = QUANT_LEVELS,
                            dims: int = QUANT_DIMS) -> str:
    return f"""
WITH el AS (
  SELECT vec_id, t.i AS dim, CAST(embedding[t.i + 1] AS DOUBLE) AS v
  FROM embeddings, range({dims}) t(i)
),
stats AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM el GROUP BY 1),
coded AS (
  SELECT el.vec_id, el.dim, el.v, s.lo, s.hi,
    CASE WHEN s.hi = s.lo THEN 0
         ELSE CAST(floor((el.v - s.lo) / ((s.hi - s.lo) / {levels}.0) + 0.5)
                   AS INT)
    END AS code
  FROM el JOIN stats s USING (dim)
),
errs AS (
  SELECT vec_id, dim, code,
         v - (lo + code * ((hi - lo) / {levels}.0)) AS e
  FROM coded
)
SELECT vec_id,
  array_to_string(list(code ORDER BY dim), ',') AS codes_csv,
  round(sum(e * e) / {dims}, 6) AS mse
FROM errs GROUP BY vec_id
"""


SEMDEDUP_K = 8
SEMDEDUP_ITERS = 1
SEMDEDUP_TAU = 0.12


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/semdedup.py): k-means-partitioned
    embedding near-dup removal — within-cluster cosine >= tau drops
    the junior vector. tau tuned to the synthetic embeddings' cosine
    spread (the sf tables are near-orthogonal random vectors)."""
    from flyscrape_spark.operators.semdedup import semantic_dedup

    return semantic_dedup(
        load(spark, sf_dir, "embeddings"),
        k=SEMDEDUP_K, iterations=SEMDEDUP_ITERS, tau=SEMDEDUP_TAU,
    )


def sql_semantic_dedup(k: int = SEMDEDUP_K, tau: float = SEMDEDUP_TAU) -> str:
    # same 1-round Lloyd unroll as sql_kmeans_clusters, then
    # within-cluster pairwise cosine (6dp) >= tau drops the larger id
    return f"""
WITH c0 AS (
  SELECT vec_id AS cent_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id < {k}
),
az1 AS (
  SELECT e.vec_id, c.cent_id,
         unnest(e.embedding) AS x, unnest(c.cv) AS y
  FROM embeddings e, c0 c
),
d1 AS (
  SELECT vec_id, cent_id,
         round(sum((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 6) AS d2
  FROM az1 GROUP BY 1, 2
),
a1 AS (
  SELECT vec_id, cent_id AS cluster FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1
),
elong AS (
  SELECT e.vec_id,
         unnest(list_transform(e.embedding, (x, i) -> {{'d': i, 'v': x}})) AS u
  FROM embeddings e
),
u1 AS (
  SELECT a.cluster AS cent_id, el.u.d AS dim,
         round(avg(CAST(el.u.v AS DOUBLE)), 9) AS cval
  FROM elong el JOIN a1 a ON a.vec_id = el.vec_id
  GROUP BY 1, 2
),
c0long AS (
  SELECT cent_id, unnest(list_transform(cv, (x, i) -> {{'d': i, 'v': x}})) AS u
  FROM c0
),
c1 AS (
  SELECT c.cent_id, c.u.d AS dim, coalesce(u1.cval, c.u.v) AS cval
  FROM c0long c LEFT JOIN u1 ON u1.cent_id = c.cent_id AND u1.dim = c.u.d
),
d2tbl AS (
  SELECT el.vec_id, c1.cent_id,
         round(sum((CAST(el.u.v AS DOUBLE) - c1.cval)
                   * (CAST(el.u.v AS DOUBLE) - c1.cval)), 6) AS d2
  FROM elong el JOIN c1 ON c1.dim = el.u.d
  GROUP BY 1, 2
),
a2 AS (
  SELECT vec_id, cent_id AS cluster FROM d2tbl
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
  FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
),
cos AS (
  SELECT id_a, id_b,
         round(sum(CAST(x AS DOUBLE) * y)
               / (sqrt(sum(CAST(x AS DOUBLE) * x))
                  * sqrt(sum(CAST(y AS DOUBLE) * y))), 6) AS c
  FROM pairs GROUP BY 1, 2
),
dropped AS (SELECT DISTINCT id_b AS vec_id FROM cos WHERE c >= {tau})
SELECT a2.vec_id, a2.cluster,
       (d.vec_id IS NULL) AS keep
FROM a2 LEFT JOIN dropped d ON d.vec_id = a2.vec_id
"""


LSH_EVAL_HASHES = 16
LSH_EVAL_BANDS = 4
LSH_EVAL_N = 3
LSH_EVAL_THRESHOLD = 0.2


def q_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning report (dedup.lsh_eval): precision/recall of the
    banded MinHash candidate set against exact-Jaccard ground truth
    at the configured threshold — the measurement that picks
    (num_hashes, bands) before a corpus-scale run."""
    return dedup.lsh_eval(
        load(spark, sf_dir, "documents"),
        num_hashes=LSH_EVAL_HASHES, bands=LSH_EVAL_BANDS,
        n=LSH_EVAL_N, threshold=LSH_EVAL_THRESHOLD,
    )


def sql_lsh_eval(num_hashes: int = LSH_EVAL_HASHES, bands: int = LSH_EVAL_BANDS,
                 n: int = LSH_EVAL_N, threshold: float = LSH_EVAL_THRESHOLD) -> str:
    rows = num_hashes // bands
    mh = _sql_minhash_aggs(num_hashes)

    def bandcat(b: int) -> str:
        parts = []
        for r in range(rows):
            c = f"CAST(mh_{b * rows + r} AS VARCHAR)"
            parts.append(c if r == 0 else f"'_' || {c}")
        return portable_hash64_sql(" || ".join(parts))

    banded = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {bandcat(b)} AS bucket FROM sigs"
        for b in range(bands)
    )
    h = portable_hash64_sql("shingle")
    return f"""
WITH words AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents),
sh AS (SELECT doc_id, unnest({_sql_shingle_list(n)}) AS shingle FROM words),
sigs AS (SELECT doc_id, {mh} FROM sh GROUP BY doc_id),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
idx AS (SELECT doc_id, {h} AS shingle_hash FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM idx GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
  FROM idx a JOIN idx b
    ON a.shingle_hash = b.shingle_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(intersection AS DOUBLE)
        / (sa.n_shingles + sb.n_shingles - intersection) >= {threshold}
),
m AS (
  SELECT (SELECT count(*) FROM cand) AS n_candidates,
         (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM cand c JOIN truth t
            ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_hit
)
SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(n_hit AS BIGINT) AS n_hit,
       round(CAST(n_hit AS DOUBLE) / greatest(CAST(n_candidates AS DOUBLE), 1.0), 4)
         AS "precision",
       round(CAST(n_hit AS DOUBLE) / greatest(CAST(n_true AS DOUBLE), 1.0), 4)
         AS recall
FROM m
"""


# --- round-3 batch 3: rule-based cleaning, mixture temperature, ----
# --- CDX indexing, corpus drift, DSIR selection --------------------

C4_LINE_WORDS = 12
C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT = 3
#: C4's published markers plus one synthetic-vocab token so the rule
#: actually discriminates on the word-soup test corpus.
C4_QUERY_BLOCKLIST = ("javascript", "cookie", "cookies", "lorem",
                      "ipsum", "{", "}", "slow")


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (operators/rules.py): pseudo-lines of
    12 tokens (the corpus has no newlines), min 5 words/line, lines
    containing a blocklist token dropped, docs keep iff >= 3 lines
    survive. Terminal-punctuation rule disabled (no punctuation in
    the synthetic corpus; on by default in the operator)."""
    from flyscrape_spark.operators.rules import c4_line_filter

    return c4_line_filter(
        load(spark, sf_dir, "documents"),
        line_words=C4_LINE_WORDS, min_line_words=C4_MIN_LINE_WORDS,
        blocklist=C4_QUERY_BLOCKLIST, require_terminal_punct=False,
        min_kept_lines=C4_MIN_KEPT,
    )


def sql_c4_line_filter(lw: int = C4_LINE_WORDS,
                       min_lw: int = C4_MIN_LINE_WORDS,
                       min_kept: int = C4_MIN_KEPT) -> str:
    block = "['" + "', '".join(C4_QUERY_BLOCKLIST) + "']"
    line_ok = (
        f"len(list_filter(string_split(lower(l), ' '), t -> t != '')) >= {min_lw} "
        f"AND len(list_intersect("
        f"list_filter(string_split(lower(l), ' '), t -> t != ''), {block})) = 0"
    )
    return f"""
WITH words AS (
  SELECT doc_id,
         list_filter(string_split({_NORM_SQL}, ' '), t -> t != '') AS w
  FROM documents
),
lined AS (
  SELECT doc_id,
    list_transform(
      range(0, greatest(CAST(trunc((len(w) + {lw - 1}) / {lw}.0 - 1) AS INT), 0) + 1),
      i -> array_to_string(w[i * {lw} + 1:i * {lw} + {lw}], ' ')) AS ls
  FROM words
),
kept AS (
  SELECT doc_id, ls, list_filter(ls, l -> {line_ok}) AS ks FROM lined
)
SELECT doc_id,
  CAST(len(ls) AS INT) AS n_lines,
  CAST(len(ks) AS INT) AS n_kept_lines,
  len(ks) >= {min_kept} AS keep,
  coalesce(array_to_string(ks, ' '), '') AS clean_text
FROM kept
"""


GOPHER_MIN_WORDS = 20
GOPHER_QUERY_STOPWORDS = ("the", "a", "and", "of")


def q_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality gate (operators/rules.py): word count,
    mean word length, symbol ratio, alphabetic fraction, stop-word
    presence — first failing rule reported per doc. min_words adapted
    to the synthetic docs' 10-110-word range (published value 50)."""
    from flyscrape_spark.operators.rules import gopher_quality_gate

    return gopher_quality_gate(
        load(spark, sf_dir, "documents"),
        min_words=GOPHER_MIN_WORDS,
        stopwords=GOPHER_QUERY_STOPWORDS, min_stop_hits=2,
    )


def sql_gopher_gate(min_words: int = GOPHER_MIN_WORDS,
                    max_words: int = 100_000,
                    min_mwl: float = 3.0, max_mwl: float = 10.0,
                    min_alpha: float = 0.8, max_sym: float = 0.1,
                    min_stop: int = 2) -> str:
    stop = "['" + "', '".join(GOPHER_QUERY_STOPWORDS) + "']"
    return f"""
WITH words AS (
  SELECT doc_id, text,
         list_filter(string_split({_NORM_SQL}, ' '), t -> t != '') AS w
  FROM documents
),
m AS (
  SELECT doc_id,
    CAST(len(w) AS INT) AS n_words,
    round(CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE)
          / greatest(len(w), 1), 4) AS mean_word_len,
    round(CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
          / greatest(len(w), 1), 4) AS alpha_frac,
    round(CAST(len(regexp_extract_all(text, '#'))
               + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
          / greatest(len(w), 1), 4) AS symbol_ratio,
    CAST(len(list_intersect(list_distinct(w), {stop})) AS INT) AS stop_hits
  FROM words
)
SELECT doc_id, n_words, mean_word_len, alpha_frac, symbol_ratio, stop_hits,
  (CASE WHEN n_words < {min_words} THEN 'too_few_words'
        WHEN n_words > {max_words} THEN 'too_many_words'
        WHEN mean_word_len < {min_mwl} OR mean_word_len > {max_mwl}
          THEN 'word_length'
        WHEN symbol_ratio > {max_sym} THEN 'symbol_ratio'
        WHEN alpha_frac < {min_alpha} THEN 'non_alpha'
        WHEN stop_hits < {min_stop} THEN 'stopwords'
   END) IS NULL AS keep,
  CASE WHEN n_words < {min_words} THEN 'too_few_words'
       WHEN n_words > {max_words} THEN 'too_many_words'
       WHEN mean_word_len < {min_mwl} OR mean_word_len > {max_mwl}
         THEN 'word_length'
       WHEN symbol_ratio > {max_sym} THEN 'symbol_ratio'
       WHEN alpha_frac < {min_alpha} THEN 'non_alpha'
       WHEN stop_hits < {min_stop} THEN 'stopwords'
  END AS fail_reason
FROM m
"""


MIX_ALPHA = 0.5
MIX_BUDGET = 50_000


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (operators/mixing.py
    temperature_mix): weight_i proportional to token-share^alpha with
    the implied per-source token budget and epoch count."""
    from flyscrape_spark.operators.mixing import temperature_mix

    return temperature_mix(
        load(spark, sf_dir, "documents"),
        alpha=MIX_ALPHA, token_budget=MIX_BUDGET,
    )


def sql_temperature_mix(alpha: float = MIX_ALPHA,
                        budget: int = MIX_BUDGET) -> str:
    return f"""
WITH per AS (
  SELECT source, CAST(sum(ntok) AS BIGINT) AS total_tokens
  FROM (SELECT source, {_N_TOKENS_SQL} AS ntok FROM documents) GROUP BY 1
),
tot AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS corpus_tokens FROM per),
sh AS (
  SELECT source, total_tokens,
         CAST(total_tokens AS DOUBLE) / corpus_tokens AS share
  FROM per CROSS JOIN tot
),
p AS (SELECT *, pow(share, {alpha}) AS sp FROM sh),
z AS (SELECT sum(sp) AS z FROM p)
SELECT source, total_tokens,
  round(share, 6) AS raw_share,
  round(sp / z, 6) AS weight,
  CAST(floor(sp / z * {budget}.0) AS BIGINT) AS budget_tokens,
  round(floor(sp / z * {budget}.0) / total_tokens, 6) AS epochs
FROM p CROSS JOIN z
"""


CDX_TS_BASE = 20240101000000


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index (sources/warc.py cdx_index) over the
    synthetic crawl: SURT keys (host-reversed, query params sorted —
    every 5th URL carries '?b=2&a=1' to exercise the sort), content
    digests, and per-host-shard sorted positions."""
    from flyscrape_spark.sources.warc import cdx_index

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.concat(
        _doc_url(i),
        F.when(i % 5 == 0, F.lit("?b=2&a=1")).otherwise(F.lit("")),
    )
    pages = docs.select(
        url.alias("url"),
        (F.lit(CDX_TS_BASE) + i).alias("ts"),
        portable_hash64(F.col("text")).alias("digest"),
    )
    return cdx_index(pages)


def sql_cdx_index() -> str:
    url = (f"({_doc_url_sql('doc_id')}) || "
           "CASE WHEN doc_id % 5 = 0 THEN '?b=2&a=1' ELSE '' END")
    surt = urls_mod.surt_key_sql("url")
    return f"""
WITH pages AS (
  SELECT {url} AS url, {CDX_TS_BASE} + doc_id AS ts,
         {portable_hash64_sql('text')} AS digest,
         'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS shard_host
  FROM documents
)
SELECT {surt} AS surt_key, ts, url, digest, shard_host,
  CAST(row_number() OVER (
    PARTITION BY shard_host ORDER BY {surt}, ts, url) - 1 AS BIGINT)
    AS shard_pos
FROM pages
"""


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon corpus drift (operators/drift.py): per-term JSD
    contributions between the even-doc_id and odd-doc_id halves of
    the corpus (standing in for old-crawl vs new-crawl)."""
    from flyscrape_spark.operators.drift import corpus_drift

    docs = load(spark, sf_dir, "documents")
    return corpus_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


def sql_corpus_drift() -> str:
    toks = (f"SELECT doc_id, unnest(list_filter("
            f"string_split({_NORM_SQL}, ' '), t -> t != '')) AS token "
            f"FROM documents")
    return f"""
WITH a AS (
  SELECT token, count(*) AS n_a FROM ({toks}) WHERE doc_id % 2 = 0 GROUP BY 1
),
b AS (
  SELECT token, count(*) AS n_b FROM ({toks}) WHERE doc_id % 2 = 1 GROUP BY 1
),
ta AS (SELECT sum(n_a) AS tot_a FROM a),
tb AS (SELECT sum(n_b) AS tot_b FROM b),
j AS (
  SELECT coalesce(a.token, b.token) AS token,
         CAST(coalesce(n_a, 0) AS DOUBLE) / tot_a AS p,
         CAST(coalesce(n_b, 0) AS DOUBLE) / tot_b AS q
  FROM a FULL OUTER JOIN b USING (token) CROSS JOIN ta CROSS JOIN tb
)
SELECT token, round(p, 6) AS p_old, round(q, 6) AS p_new,
  round(((CASE WHEN p > 0 THEN p * log2(p / ((p + q) / 2)) ELSE 0 END)
       + (CASE WHEN q > 0 THEN q * log2(q / ((p + q) / 2)) ELSE 0 END))
      / 2, 8) AS jsd_term
FROM j
"""


DSIR_DIM = 256
DSIR_EPS = 1e-6


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-weighted selection (operators/dsir.py): score
    every doc by the hashed-unigram log-likelihood ratio of the
    lang='en' target distribution vs the raw corpus; selected =
    more probable under the target."""
    from flyscrape_spark.operators.dsir import dsir_select

    return dsir_select(
        load(spark, sf_dir, "documents"),
        target_pred=F.col("lang") == "en",
        dim=DSIR_DIM, eps=DSIR_EPS,
    )


def sql_dsir_select(dim: int = DSIR_DIM, eps: float = DSIR_EPS) -> str:
    h = portable_hash64_sql("token")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    string_split({_NORM_SQL}, ' '), t -> t != '')) AS token
  FROM documents
),
feats AS (
  SELECT doc_id, {h} % {dim} AS feature, count(*) AS n
  FROM toks GROUP BY 1, 2
),
raw AS (SELECT feature, sum(n) AS c_raw FROM feats GROUP BY 1),
tgt AS (
  SELECT feature, sum(n) AS c_tgt FROM feats
  JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1
),
traw AS (SELECT CAST(sum(c_raw) AS DOUBLE) AS t_raw FROM raw),
ttgt AS (SELECT CAST(sum(c_tgt) AS DOUBLE) AS t_tgt FROM tgt),
dist AS (
  SELECT raw.feature,
    ln((coalesce(c_tgt, 0) / t_tgt + {eps}) / (c_raw / t_raw + {eps})) AS llr
  FROM raw LEFT JOIN tgt USING (feature) CROSS JOIN traw CROSS JOIN ttgt
),
scored AS (
  SELECT f.doc_id, sum(f.n) AS n_tokens, sum(f.n * d.llr) AS llr_sum
  FROM feats f JOIN dist d USING (feature) GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
  coalesce(round(s.llr_sum / s.n_tokens, 6), 0.0) AS log_ratio,
  coalesce(round(s.llr_sum / s.n_tokens, 6) > 0, false) AS selected
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
"""


# --- round-3 batch 4: composed curation funnel, interleaved span stats


def q_refinedweb_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/FineWeb-style composed funnel (operators/curate.py
    refinedweb_funnel): Gopher gate -> C4 line cleaning -> exact dedup
    of cleaned text -> MinHash-LSH junior drop, each doc labeled with
    the first stage that killed it. Gate/LSH parameters match the
    standalone gopher_gate / c4_line_filter / lsh_near_dup queries."""
    from flyscrape_spark.operators.curate import refinedweb_funnel

    return refinedweb_funnel(
        load(spark, sf_dir, "documents"),
        line_words=C4_LINE_WORDS, min_line_words=C4_MIN_LINE_WORDS,
        c4_blocklist=C4_QUERY_BLOCKLIST, require_terminal_punct=False,
        min_kept_lines=C4_MIN_KEPT,
        min_words=GOPHER_MIN_WORDS, stopwords=GOPHER_QUERY_STOPWORDS,
        min_stop_hits=2,
        num_hashes=16, bands=4, n=3, threshold=0.2,
    )


def sql_refinedweb_funnel(num_hashes: int = 16, bands: int = 4,
                          n: int = 3, threshold: float = 0.2) -> str:
    rows = num_hashes // bands
    mh = _sql_minhash_aggs(num_hashes)

    def bandcat(b: int) -> str:
        parts = []
        for r in range(rows):
            c = f"CAST(mh_{b * rows + r} AS VARCHAR)"
            parts.append(c if r == 0 else f"'_' || {c}")
        return portable_hash64_sql(" || ".join(parts))

    banded = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {bandcat(b)} AS bucket FROM fsigs"
        for b in range(bands)
    )
    shingle_list = _sql_shingle_list(n)
    norm_ct = "regexp_replace(lower(trim(clean_text)), '\\s+', ' ', 'g')"
    h_ct = portable_hash64_sql(norm_ct)
    jac = ("CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) "
           "/ (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))")
    return f"""
WITH g AS ({sql_gopher_gate()}),
c AS ({sql_c4_line_filter()}),
perrow AS (
  SELECT d.doc_id, g.fail_reason AS gr, c.keep AS c4_ok, c.clean_text
  FROM documents d
  JOIN g ON g.doc_id = d.doc_id
  JOIN c ON c.doc_id = d.doc_id
),
surv AS (
  SELECT doc_id, clean_text FROM perrow WHERE gr IS NULL AND c4_ok
),
hashed AS (SELECT doc_id, {h_ct} AS content_hash FROM surv),
exact_rep AS (
  SELECT content_hash, min(doc_id) AS exact_rep FROM hashed GROUP BY 1
),
ex AS (
  SELECT h.doc_id, e.exact_rep FROM hashed h
  JOIN exact_rep e USING (content_hash)
),
seniors AS (
  SELECT s.doc_id, s.clean_text FROM surv s
  JOIN ex ON ex.doc_id = s.doc_id WHERE s.doc_id = ex.exact_rep
),
words AS (SELECT doc_id, string_split({norm_ct}, ' ') AS w FROM seniors),
sh AS (SELECT doc_id, unnest({shingle_list}) AS shingle FROM words),
fsigs AS (SELECT doc_id, {mh} FROM sh GROUP BY doc_id),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
shl AS (SELECT doc_id, {shingle_list} AS s FROM words),
dropped AS (
  SELECT DISTINCT c.doc_b AS doc_id
  FROM cand c
  JOIN shl sa ON sa.doc_id = c.doc_a
  JOIN shl sb ON sb.doc_id = c.doc_b
  WHERE round({jac}, 6) >= {threshold}
),
labeled AS (
  SELECT p.doc_id,
    CASE WHEN p.gr IS NOT NULL THEN 'gopher_' || p.gr
         WHEN NOT p.c4_ok THEN 'c4_lines'
         WHEN ex.exact_rep IS NOT NULL AND p.doc_id != ex.exact_rep
           THEN 'exact_dup'
         WHEN dr.doc_id IS NOT NULL THEN 'near_dup'
    END AS drop_stage
  FROM perrow p
  LEFT JOIN ex ON ex.doc_id = p.doc_id
  LEFT JOIN dropped dr ON dr.doc_id = p.doc_id
)
SELECT doc_id, drop_stage IS NULL AS keep, drop_stage FROM labeled
"""


def q_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-document span statistics: per doc, counts of
    text/media/link spans, media share, and the first media position
    — the corpus-composition table for a multimodal training mix,
    computed per-row over the parsed span array (0 shuffles; the
    aggregation never leaves the document)."""
    from flyscrape_spark.parse.udfs import parse_spans_udf

    pages = synthetic_pages(spark, sf_dir)
    df = pages.select(
        F.col("url").alias("doc_id"), parse_spans_udf("html").alias("sp")
    )
    sp = F.col("sp")
    n = F.size(sp)

    def n_kind(kind: str):
        return F.size(F.filter(sp, lambda s: s["kind"] == kind))

    first_media = F.coalesce(
        F.array_min(
            F.transform(
                F.filter(sp, lambda s: s["kind"] == "media"),
                lambda s: s["offset"],
            )
        ),
        F.lit(-1),
    )
    return df.select(
        "doc_id",
        n.alias("n_spans"),
        n_kind("text").alias("n_text"),
        n_kind("media").alias("n_media"),
        n_kind("link").alias("n_links"),
        F.round(
            n_kind("media").cast("double") / F.greatest(n, F.lit(1)), 4
        ).alias("media_ratio"),
        first_media.cast("int").alias("first_media_offset"),
    )


def sql_span_stats() -> str:
    return f"""
WITH sp AS ({sql_interleaved_spans()})
SELECT doc_id,
  CAST(count(*) AS INT) AS n_spans,
  CAST(count(*) FILTER (WHERE kind = 'text') AS INT) AS n_text,
  CAST(count(*) FILTER (WHERE kind = 'media') AS INT) AS n_media,
  CAST(count(*) FILTER (WHERE kind = 'link') AS INT) AS n_links,
  round(CAST(count(*) FILTER (WHERE kind = 'media') AS DOUBLE)
        / greatest(count(*), 1), 4) AS media_ratio,
  CAST(coalesce(min("offset") FILTER (WHERE kind = 'media'), -1) AS INT)
    AS first_media_offset
FROM sp GROUP BY doc_id
"""


# --- round-3 batch 5: LPA communities, inverted index ---------------

LPA_ITERS = 3


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (operators/graph.py
    lpa_communities) over the synthetic link graph: 3 fixed
    iterations, most-frequent label among neighbors+self with
    smallest-label tie-break (the self-vote stabilizes the
    synchronous schedule)."""
    from flyscrape_spark.operators.graph import lpa_communities

    docs, edges = _graph_edges(spark, sf_dir)
    return lpa_communities(
        docs.select(F.col("doc_id").alias("node")), edges,
        iterations=LPA_ITERS,
    )


def sql_lpa_communities(iterations: int = LPA_ITERS) -> str:
    ctes = [
        "und AS (SELECT DISTINCT a, b FROM ("
        "SELECT src AS a, dst AS b FROM e"
        " UNION ALL SELECT dst AS a, src AS b FROM e))",
        "l0 AS (SELECT doc_id AS node, doc_id AS label FROM documents)",
    ]
    for it in range(iterations):
        ctes.append(
            f"v{it + 1} AS (SELECT node, label, count(*) AS n_votes FROM ("
            f"SELECT und.a AS node, l{it}.label"
            f" FROM und JOIN l{it} ON l{it}.node = und.b"
            f" UNION ALL SELECT node, label FROM l{it}) GROUP BY 1, 2)"
        )
        ctes.append(
            f"w{it + 1} AS (SELECT node, label AS new_label FROM v{it + 1}"
            f" QUALIFY row_number() OVER (PARTITION BY node"
            f" ORDER BY n_votes DESC, label ASC) = 1)"
        )
        ctes.append(
            f"l{it + 1} AS (SELECT l{it}.node,"
            f" coalesce(w{it + 1}.new_label, l{it}.label) AS label"
            f" FROM l{it} LEFT JOIN w{it + 1} ON w{it + 1}.node = l{it}.node)"
        )
    return (
        f"WITH {_GRAPH_EDGES_SQL},\n" + ",\n".join(ctes)
        + f"\nSELECT node, label AS community FROM l{iterations}"
    )


INDEX_MAX_POSTINGS = 10


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped inverted index (operators/index.py): top-10 postings
    per term by (tf desc, doc_id), exact df on every row — the
    corpus-search artifact; the cap compiles to WindowGroupLimit."""
    from flyscrape_spark.operators.index import inverted_index

    return inverted_index(
        load(spark, sf_dir, "documents"), max_postings=INDEX_MAX_POSTINGS
    )


def sql_inverted_index(max_postings: int = INDEX_MAX_POSTINGS) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    string_split({_NORM_SQL}, ' '), t -> t != '')) AS token
  FROM documents
),
tf AS (SELECT token, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT token,
         count(*) OVER (PARTITION BY token) AS df,
         doc_id, tf,
         row_number() OVER (
           PARTITION BY token ORDER BY tf DESC, doc_id ASC) AS rank
  FROM tf
)
SELECT token, CAST(df AS BIGINT) AS df, doc_id, CAST(tf AS BIGINT) AS tf,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {max_postings}
"""


# UT1-style blocklist: (domain, category) literals spanning the
# _site_hosts suffix population. "b.site3.org.uk" is MORE specific
# than "site3.org.uk" — a.b.site3.* must take the deeper category;
# "ite4.zz" must NOT match cdn.site4.zz (label alignment).
BLOCKLIST_ENTRIES = (
    ("site0.co.uk", "adult"),
    ("site1.com", "ads"),
    ("site2.github.io", "malware"),
    ("b.site3.org.uk", "gambling"),
    ("site3.org.uk", "phishing"),
    ("ite4.zz", "adult"),
    ("site5.com", "ads"),
)


def q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style domain blocklist gate (operators/blocklist.py):
    label-aligned suffix match against a category blocklist,
    most-specific listed domain decides the category."""
    from flyscrape_spark.operators.blocklist import domain_blocklist_filter

    hosts = _site_hosts(spark, sf_dir)
    bl = spark.createDataFrame(
        list(BLOCKLIST_ENTRIES), "domain string, category string"
    )
    return domain_blocklist_filter(hosts, bl, n_blocked=len(BLOCKLIST_ENTRIES))


def sql_domain_blocklist() -> str:
    values = ", ".join(
        f"('{d}', '{c}')" for d, c in BLOCKLIST_ENTRIES
    )
    return f"""
WITH h AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN 'www.site' || (doc_id % 7) || '.co.uk'
           WHEN 1 THEN 'blog.site' || (doc_id % 7) || '.com'
           WHEN 2 THEN 'site' || (doc_id % 7) || '.github.io'
           WHEN 3 THEN 'a.b.site' || (doc_id % 7) || '.org.uk'
           ELSE 'cdn.site' || (doc_id % 7) || '.zz'
         END AS host
  FROM documents
),
bl(domain, category) AS (VALUES {values}),
sfx AS (
  SELECT doc_id, s.pos, s.suffix FROM (
    SELECT doc_id,
      unnest(list_transform(
        range(0, greatest(len(string_split(host, '.')) - 2, 0) + 1),
        i -> {{'pos': i,
               'suffix': array_to_string(string_split(host, '.')[i+1:], '.')}}
      )) AS s
    FROM h
  )
),
best AS (
  SELECT doc_id,
         min_by(sfx.suffix, sfx.pos) AS matched_domain,
         min_by(bl.category, sfx.pos) AS category
  FROM sfx JOIN bl ON bl.domain = sfx.suffix
  GROUP BY doc_id
)
SELECT h.doc_id, h.host,
       best.matched_domain IS NOT NULL AS blocked,
       best.matched_domain, best.category
FROM h LEFT JOIN best USING (doc_id)
"""


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity buckets (operators/lm.py
    ccnet_buckets): per-language LM-score terciles via deterministic
    ntile(3); unscored docs land in tail."""
    from flyscrape_spark.operators.lm import ccnet_buckets

    return ccnet_buckets(load(spark, sf_dir, "documents"))


def sql_ccnet_buckets() -> str:
    return f"""
WITH words AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents),
bg0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
                               i -> {{'w1': w[i], 'w2': w[i+1]}})) AS p
  FROM words WHERE len(w) >= 2
),
bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg0),
bgc AS (SELECT w1, w2, count(*) AS c_bigram FROM bg GROUP BY 1, 2),
ugc AS (SELECT w1, count(*) AS c_unigram FROM bg GROUP BY 1),
v AS (SELECT CAST(count(DISTINCT x) AS DOUBLE) AS vocab
      FROM (SELECT w1 AS x FROM bg UNION ALL SELECT w2 FROM bg)),
sc AS (
  SELECT bg.doc_id,
         ln(CAST(coalesce(c_bigram, 0) + 1 AS DOUBLE)
            / (CAST(coalesce(c_unigram, 0) AS DOUBLE) + vocab)) AS lp
  FROM bg LEFT JOIN bgc USING (w1, w2) LEFT JOIN ugc USING (w1) CROSS JOIN v
),
per_doc AS (
  SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logprob
  FROM sc GROUP BY 1
),
scored AS (
  SELECT d.doc_id, d.lang,
         CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         p.avg_logprob
  FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
),
tiled AS (
  SELECT doc_id, lang, n_bigrams, avg_logprob,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY avg_logprob DESC, doc_id ASC) AS tile
  FROM scored WHERE n_bigrams > 0
)
SELECT doc_id, lang, n_bigrams, avg_logprob,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket
FROM tiled
UNION ALL
SELECT doc_id, lang, n_bigrams, avg_logprob, 'tail' AS bucket
FROM scored WHERE n_bigrams = 0
"""


FAMILY_MIN_URLS = 5


def _family_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic parametric-URL population: doc i's URL rotates
    through an item-id path, a hex-session query, a static page and
    a two-parameter path by i%4 — so per host, three templates
    collapse many URLs and one is a single static URL."""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    istr = i.cast("string")
    host = F.concat(F.lit("h"), (i % GRAPH_HOSTS).cast("string"),
                    F.lit(".example"))
    path = (
        F.when(i % 4 == 0, F.concat(F.lit("/article/"), istr))
        .when(i % 4 == 1, F.concat(F.lit("/item?id="), istr,
                                   F.lit("&session=abcdef"), istr,
                                   F.lit("deadbeef")))
        .when(i % 4 == 2, F.lit("/static/about"))
        .otherwise(F.concat(F.lit("/p/"), istr, F.lit("/v/"),
                            (i * 7).cast("string")))
    )
    return docs.select(
        "doc_id", host.alias("host"),
        F.concat(F.lit("http://"), host, path).alias("url"),
    )


def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parametric URL-family mining (operators/traps.py
    template_families): hex-aware template collapse, per-(host,
    template) distinct-URL counts, deterministic example, parametric
    flag — the pattern-level complement to the per-host trap ratio."""
    from flyscrape_spark.operators.traps import template_families

    return template_families(
        _family_urls(spark, sf_dir), threshold=FAMILY_MIN_URLS
    )


def sql_url_templates(threshold: int = FAMILY_MIN_URLS) -> str:
    return f"""
WITH u AS (
  SELECT doc_id,
         'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS host,
         'http://h' || (doc_id % {GRAPH_HOSTS}) || '.example' ||
         CASE doc_id % 4
           WHEN 0 THEN '/article/' || doc_id
           WHEN 1 THEN '/item?id=' || doc_id || '&session=abcdef'
                       || doc_id || 'deadbeef'
           WHEN 2 THEN '/static/about'
           ELSE '/p/' || doc_id || '/v/' || (doc_id * 7)
         END AS url
  FROM documents
),
fam AS (
  SELECT host,
         regexp_replace(
           regexp_replace(lower(url), '[0-9a-f]{{12,}}', 'H', 'g'),
           '[0-9]+', 'N', 'g') AS template,
         url
  FROM u GROUP BY ALL
),
agg AS (
  SELECT host, template, count(*) AS n_urls, min(url) AS example_url
  FROM fam GROUP BY 1, 2
)
SELECT host, template, CAST(n_urls AS BIGINT) AS n_urls, example_url,
       n_urls >= {threshold} AS parametric
FROM agg
"""


DOMAIN_CAP_K = 10


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style per-domain document cap (operators/curate.py
    domain_cap): at most K docs per registrable domain, preferring
    longer documents, doc_id tie-break; compiles to
    WindowGroupLimit (k-row heap, never a full per-domain sort)."""
    from flyscrape_spark.functions.urls import registrable_domain
    from flyscrape_spark.operators.curate import domain_cap
    from flyscrape_spark.operators.text import token_count

    docs = load(spark, sf_dir, "documents")
    hosts = _site_hosts(spark, sf_dir)
    with_dom = (
        docs.join(hosts.select("doc_id", "host"), "doc_id")
        .select(
            "doc_id",
            registrable_domain("host").alias("registrable"),
            token_count().alias("n_tokens"),
        )
    )
    return domain_cap(
        with_dom, domain_col="registrable", cap=DOMAIN_CAP_K
    ).select("doc_id", "registrable", "n_tokens", "rank")


def sql_domain_cap(cap: int = DOMAIN_CAP_K) -> str:
    return f"""
WITH h AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN 'site' || (doc_id % 7) || '.co.uk'
           WHEN 1 THEN 'site' || (doc_id % 7) || '.com'
           WHEN 2 THEN 'site' || (doc_id % 7) || '.github.io'
           WHEN 3 THEN 'site' || (doc_id % 7) || '.org.uk'
           ELSE NULL
         END AS registrable
  FROM documents
),
t AS (
  SELECT d.doc_id, h.registrable, {_N_TOKENS_SQL} AS n_tokens
  FROM documents d JOIN h ON h.doc_id = d.doc_id
),
r AS (
  -- NULL-domain rows are cap-exempt: each is its own singleton
  -- partition (mirrors operators/curate.py domain_cap)
  SELECT doc_id, registrable, n_tokens,
         CAST(row_number() OVER (
           PARTITION BY coalesce(registrable,
                                 chr(0) || 'null:' || CAST(doc_id AS VARCHAR))
           ORDER BY n_tokens DESC, doc_id ASC) AS INT) AS rank
  FROM t
)
SELECT doc_id, registrable, n_tokens, rank FROM r WHERE rank <= {cap}
"""


def _canonical_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages with rel=canonical variety: every 3 consecutive docs
    share the canonical of the first. i%3==0 declares none (self
    fallback); i%3==1 declares it absolute (alternating rel-first /
    href-first attribute order by i%6); i%3==2 declares it
    root-relative (resolves against the PAGE's own host)."""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    base = i - (i % 3)
    abs_href = _doc_url(base)
    rel_href = F.concat(F.lit("/d/"), base.cast("string"))
    link = (
        F.when(i % 3 == 0, F.lit(""))
        .when((i % 6) == 1,
              F.concat(F.lit('<link rel="canonical" href="'), abs_href,
                       F.lit('"/>')))
        .when(i % 3 == 1,
              F.concat(F.lit('<link href="'), abs_href,
                       F.lit('" rel="canonical"/>')))
        .otherwise(
            F.concat(F.lit('<link rel="canonical" href="'), rel_href,
                     F.lit('"/>')))
    )
    html = F.concat(
        F.lit("<html><head>"), link,
        F.lit("</head><body><p>d</p></body></html>"),
    )
    return docs.select(_doc_url(i).alias("url"), html.alias("html"))


def q_rel_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical consolidation (operators/canonical.py): declared
    canonicals extracted (both attribute orders), root-relative
    resolved against the page host, groups rolled up with the
    canonical-fetched frontier-feedback flag."""
    from flyscrape_spark.operators.canonical import canonical_groups

    return canonical_groups(_canonical_pages(spark, sf_dir))


def sql_rel_canonical() -> str:
    url = _doc_url_sql("doc_id")
    base = _doc_url_sql("(doc_id - (doc_id % 3))")
    return f"""
WITH p AS (
  SELECT doc_id, {url} AS url,
         CASE
           WHEN doc_id % 3 = 0 THEN NULL
           WHEN doc_id % 3 = 1 THEN {base}
           ELSE 'http://h' || (doc_id % {GRAPH_HOSTS}) || '.example'
                || '/d/' || (doc_id - (doc_id % 3))
         END AS canon
  FROM documents
),
m AS (SELECT url, coalesce(canon, url) AS canonical_url FROM p)
SELECT canonical_url, count(*) AS n_pages, min(url) AS example_url,
       CAST(max(CASE WHEN url = canonical_url THEN 1 ELSE 0 END) AS BOOLEAN)
         AS canonical_fetched
FROM m GROUP BY 1
"""


def _mirror_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host, content_hash): every doc on its h-host, plus an
    'm'-prefixed mirror host carrying each EVEN doc — deterministic
    perfect-overlap mirrors on top of the corpus's natural cross-host
    duplicate texts."""
    from flyscrape_spark.operators.dedup import normalized_text

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    h = portable_hash64(normalized_text("text"))
    base = docs.select(
        F.concat(F.lit("h"), (i % GRAPH_HOSTS).cast("string")).alias("host"),
        h.alias("content_hash"),
    )
    mirror = docs.filter(i % 2 == 0).select(
        F.concat(F.lit("m"), (i % GRAPH_HOSTS).cast("string")).alias("host"),
        h.alias("content_hash"),
    )
    return base.unionByName(mirror)


def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-host mirror detection (operators/mirrors.py): distinct
    content-hash postings, boilerplate-frequency cap, within-bucket
    pairing, containment overlap vs the smaller host."""
    from flyscrape_spark.operators.mirrors import mirror_hosts

    return mirror_hosts(_mirror_content(spark, sf_dir))


def sql_mirror_hosts(max_hosts: int = 20, threshold: float = 0.5) -> str:
    h = portable_hash64_sql(_NORM_SQL)
    return f"""
WITH c AS (
  SELECT 'h' || (doc_id % {GRAPH_HOSTS}) AS host, {h} AS ch FROM documents
  UNION ALL
  SELECT 'm' || (doc_id % {GRAPH_HOSTS}) AS host, {h} AS ch
  FROM documents WHERE doc_id % 2 = 0
),
hh AS (SELECT DISTINCT ch, host FROM c),
eligible AS (SELECT ch FROM hh GROUP BY ch HAVING count(*) <= {max_hosts}),
f AS (SELECT hh.ch, hh.host FROM hh JOIN eligible USING (ch)),
-- sizes from the CAPPED postings (mirrors operators/mirrors.py):
-- numerator and denominator see the same hash universe
sizes AS (SELECT host, count(*) AS n FROM f GROUP BY 1),
pairs AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*) AS shared
  FROM f a JOIN f b ON a.ch = b.ch AND a.host < b.host
  GROUP BY 1, 2
)
SELECT host_a, host_b, CAST(shared AS BIGINT) AS shared,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       round(CAST(shared AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap,
       round(CAST(shared AS DOUBLE) / least(sa.n, sb.n), 6) >= {threshold}
         AS is_mirror
FROM pairs
JOIN sizes sa ON sa.host = host_a
JOIN sizes sb ON sb.host = host_b
"""


def q_meta_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots meta directives (operators/metarobots.py): noindex /
    nofollow per page, both attribute orders, case-insensitive
    tokens, ``none`` expanding to both."""
    from flyscrape_spark.operators.metarobots import meta_robots

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    meta = (
        F.when(i % 5 == 0,
               F.lit('<meta name="robots" content="noindex, nofollow"/>'))
        .when(i % 5 == 1, F.lit('<meta content="noindex" name="robots"/>'))
        .when(i % 5 == 2, F.lit('<meta name="robots" content="NOFOLLOW"/>'))
        .when(i % 5 == 3, F.lit('<meta name="robots" content="none"/>'))
        .otherwise(F.lit(""))
    )
    pages = docs.select(
        _doc_url(i).alias("url"),
        F.concat(F.lit("<html><head>"), meta,
                 F.lit("</head><body/></html>")).alias("html"),
    )
    return meta_robots(pages)


def sql_meta_robots() -> str:
    # ground truth from the synthesis rule: i%5 -> directive set
    return f"""
SELECT {_doc_url_sql('doc_id')} AS url,
       (doc_id % 5) IN (0, 1, 3) AS noindex,
       (doc_id % 5) IN (0, 2, 3) AS nofollow
FROM documents
"""


def q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed refresh scheduling (Cho & Garcia-Molina): importance
    (fixed-iteration PageRank) x estimated change rate (Poisson
    lambda_hat) -> expected importance-weighted changes per day, the
    recrawl queue's ordering key. Pure composition of two verified
    operators joined on the URL key."""
    from flyscrape_spark.operators.graph import pagerank
    from flyscrape_spark.operators.recrawl import change_rate

    docs, edges = _graph_edges(spark, sf_dir)
    ranks = pagerank(
        docs.select(F.col("doc_id").alias("node")), edges,
        iterations=PAGERANK_ITERS, damping=PAGERANK_DAMPING,
    ).select(_doc_url(F.col("node")).alias("url"),
             F.round("pr", 8).alias("pr"))
    rates = change_rate(_fetch_history(spark, sf_dir), horizon=86400.0)
    return ranks.join(rates.select("url", "lambda_hat"), "url").select(
        "url", "pr", "lambda_hat",
        F.round(F.col("pr") * F.col("lambda_hat") * 86400.0, 8)
        .alias("priority"),
    )


def sql_recrawl_priority() -> str:
    return f"""
SELECT cr.url, pr.pr, cr.lambda_hat,
       round(pr.pr * cr.lambda_hat * 86400.0, 8) AS priority
FROM ({sql_change_rate()}) cr
JOIN (
  SELECT 'http://h' || (node % {GRAPH_HOSTS}) || '.example/d/' || node
           AS url, pr
  FROM ({sql_pagerank()})
) pr USING (url)
"""


def q_media_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media fetch planning (operators/multimodal.py media_frontier):
    demand-counted media refs from the REAL parse UDF's spans,
    anti-joined against the prior crawl's fetched set (pages with
    doc_id%8==0 modeled as already fetched)."""
    from flyscrape_spark.operators.multimodal import media_frontier
    from flyscrape_spark.parse.udfs import parse_spans_udf

    pages = synthetic_pages(spark, sf_dir)
    parsed = pages.select(
        F.col("url").alias("doc_id"), parse_spans_udf("html").alias("spans")
    )
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    n_media = max(n // 4, 1)
    i = F.col("doc_id")
    fetched = (
        docs.filter(i % 8 == 0)
        .select(
            F.concat(F.lit("/media/m"), ((3 * i) % n_media).cast("string"),
                     F.lit(".png")).alias("media_ref")
        )
        .distinct()
    )
    return media_frontier(parsed, fetched=fetched)


def sql_media_frontier() -> str:
    return f"""
WITH n AS (SELECT greatest(count(*) // 4, 1) AS n_media FROM documents),
refs AS (
  SELECT {_doc_url_sql('doc_id')} AS doc,
         '/media/m' || ((3 * doc_id) % n.n_media) || '.png' AS media_ref
  FROM documents, n WHERE doc_id % 4 = 0
),
demand AS (
  SELECT media_ref, CAST(count(*) AS BIGINT) AS n_refs,
         min(doc) AS first_doc
  FROM refs GROUP BY 1
),
fetched AS (
  SELECT DISTINCT '/media/m' || ((3 * doc_id) % n.n_media) || '.png'
           AS media_ref
  FROM documents, n WHERE doc_id % 8 = 0
)
SELECT d.media_ref, d.n_refs, d.first_doc
FROM demand d LEFT JOIN fetched f ON f.media_ref = d.media_ref
WHERE f.media_ref IS NULL
"""


def q_interleave_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal sample serialization (operators/multimodal.py
    interleave_render): spans from the REAL parse UDF rendered in
    offset order — text/link spans verbatim, media spans as
    <|media:REF|> sentinels."""
    from flyscrape_spark.operators.multimodal import interleave_render
    from flyscrape_spark.parse.udfs import parse_spans_udf

    pages = synthetic_pages(spark, sf_dir)
    parsed = pages.select(
        F.col("url").alias("doc_id"), parse_spans_udf("html").alias("spans")
    )
    return interleave_render(parsed)


def sql_interleave_render() -> str:
    u1 = _doc_url_sql("(2 * b.doc_id + 1) % n.n")
    u2 = _doc_url_sql("(3 * b.doc_id + 2) % n.n")
    return f"""
WITH n AS (SELECT count(*) AS n, greatest(count(*) // 4, 1) AS n_media FROM documents),
b AS (
  SELECT doc_id, {_doc_url_sql('b0.doc_id')} AS url,
         regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS chunk,
         doc_id % 4 = 0 AS has_media
  FROM documents b0
),
spans AS (
  SELECT url AS doc_id, chunk AS r, 0 AS off, FALSE AS is_media
  FROM b WHERE chunk != ''
  UNION ALL
  SELECT url, 'a', CASE WHEN chunk != '' THEN 1 ELSE 0 END, FALSE
  FROM b, n
  UNION ALL
  SELECT url,
         '<|media:/media/m' || ((3 * b.doc_id) % n.n_media) || '.png|>',
         (CASE WHEN chunk != '' THEN 1 ELSE 0 END) + 1, TRUE
  FROM b, n WHERE has_media
  UNION ALL
  SELECT url, 'b',
         (CASE WHEN chunk != '' THEN 1 ELSE 0 END) + 1
         + (CASE WHEN has_media THEN 1 ELSE 0 END), FALSE
  FROM b, n
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_spans,
       CAST(sum(CASE WHEN is_media THEN 1 ELSE 0 END) AS INT) AS n_media,
       string_agg(r, ' ' ORDER BY off) AS sample
FROM spans GROUP BY doc_id
"""


SERVER_CAP = 60.0


def _resolved_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake DNS over the multi-suffix host population:
    ip = 10.0.(hash(host)%7).1 (collisions by construction — virtual
    hosting), per-host requested rate = 10 + hash(host)%20 req/min."""
    hosts = _site_hosts(spark, sf_dir).select("host").distinct()
    h = portable_hash64(F.col("host"))
    return hosts.select(
        "host",
        F.concat(F.lit("10.0."), F.pmod(h, F.lit(7)).cast("string"),
                 F.lit(".1")).alias("ip"),
        (F.lit(10) + F.pmod(h, F.lit(20))).cast("double")
        .alias("requested_rate"),
    )


def q_server_politeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Server-level politeness rollup (operators/politeness.py
    server_politeness): co-hosted names share one origin's budget —
    per-ip totals, throttle flag at the 60 req/min cap, fair per-host
    share."""
    from flyscrape_spark.operators.politeness import server_politeness

    return server_politeness(
        _resolved_hosts(spark, sf_dir), server_cap=SERVER_CAP
    )


def sql_server_politeness(cap: float = SERVER_CAP) -> str:
    h = portable_hash64_sql("host")
    return f"""
WITH hosts AS (
  SELECT DISTINCT
         CASE doc_id % 5
           WHEN 0 THEN 'www.site' || (doc_id % 7) || '.co.uk'
           WHEN 1 THEN 'blog.site' || (doc_id % 7) || '.com'
           WHEN 2 THEN 'site' || (doc_id % 7) || '.github.io'
           WHEN 3 THEN 'a.b.site' || (doc_id % 7) || '.org.uk'
           ELSE 'cdn.site' || (doc_id % 7) || '.zz'
         END AS host
  FROM documents
),
r AS (
  SELECT host, '10.0.' || (({h}) % 7 + CASE WHEN ({h}) % 7 < 0 THEN 7 ELSE 0 END) || '.1' AS ip,
         CAST(10 + (({h}) % 20 + CASE WHEN ({h}) % 20 < 0 THEN 20 ELSE 0 END) AS DOUBLE)
           AS requested_rate
  FROM hosts
),
g AS (
  SELECT ip, count(DISTINCT host) AS n_hosts,
         round(sum(requested_rate), 6) AS total_requested
  FROM r GROUP BY 1
)
SELECT ip, n_hosts, total_requested,
       total_requested > {cap} AS throttled,
       round(least({cap}, total_requested) / n_hosts, 6)
         AS effective_host_rate,
       n_hosts >= 10 AS shared_hosting
FROM g
"""


def q_frontier_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-depth frontier growth over the flagship BFS: URLs first
    discovered at each depth and the generation-over-generation
    growth factor — the branching observable that decides frontier
    capacity planning. The window runs over ≤ depth+1 rows (one per
    generation), not over URLs."""
    from pyspark.sql import Window

    seen = q_crawl_bfs(spark, sf_dir)
    per_depth = seen.groupBy("depth").agg(F.count("*").alias("n_urls"))
    w = Window.orderBy("depth")
    return per_depth.select(
        "depth", "n_urls",
        F.round(
            F.col("n_urls").cast("double")
            / F.lag("n_urls").over(w).cast("double"), 6
        ).alias("growth"),
    )


def sql_frontier_growth() -> str:
    return f"""
WITH bfs AS ({sql_crawl_bfs()}),
per_depth AS (
  SELECT depth, CAST(count(*) AS BIGINT) AS n_urls FROM bfs GROUP BY 1
)
SELECT depth, n_urls,
       round(CAST(n_urls AS DOUBLE)
             / CAST(lag(n_urls) OVER (ORDER BY depth) AS DOUBLE), 6)
         AS growth
FROM per_depth
"""


SM_HOSTS = 5
SM_PATHS = 60
SM_CAP = 25


def _synthetic_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sitemap XML per host, derived from doc_id: loc
    repeats every lcm(5,60)=60 ids (exercising the per-(host,loc)
    dedup), lastmod on ids % 3 == 0, priority on even ids, pretty-
    printed whitespace inside <loc> (exercising the trim)."""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    host = F.concat(F.lit("h"), (i % SM_HOSTS).cast("string"),
                    F.lit(".example"))
    loc = F.concat(F.lit("https://"), host, F.lit("/page/"),
                   (i % SM_PATHS).cast("string"))
    lastmod = F.when(
        i % 3 == 0,
        F.concat(F.lit("<lastmod>2026-01-"),
                 F.lpad((i % 28 + 1).cast("string"), 2, "0"),
                 F.lit("</lastmod>")),
    ).otherwise(F.lit(""))
    priority = F.when(
        i % 2 == 0,
        F.concat(F.lit("<priority>"),
                 F.round((i % 7) / 10.0 + 0.2, 1).cast("string"),
                 F.lit("</priority>")),
    ).otherwise(F.lit(""))
    entry = F.concat(
        F.lit("<url>\n  <loc> "), loc, F.lit(" </loc>\n  "),
        lastmod, priority, F.lit("\n</url>\n"),
    )
    return (
        docs.select(host.alias("host"), entry.alias("entry"))
        .groupBy("host")
        .agg(F.array_join(F.collect_list("entry"), "").alias("body"))
        .select(
            F.concat(F.lit("https://"), F.col("host"),
                     F.lit("/sitemap.xml")).alias("sitemap_url"),
            F.concat(F.lit('<?xml version="1.0"?>\n<urlset>\n'),
                     F.col("body"), F.lit("</urlset>")).alias("xml"),
        )
    )


def q_sitemap_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap seed planning (operators/sitemaps.py): deterministic
    <urlset> XML synthesized per host -> JVM from_xml parse
    (sources/sitemaps.py) -> canonicalized locs -> per-(host,loc)
    dedup -> per-host (priority, lastmod) seed ranking with cap. The
    oracle computes
    the expected seeds closed-form from the same doc_id rules, so
    the whole XML round-trip is what's under test."""
    from flyscrape_spark.operators.sitemaps import sitemap_seeds

    return sitemap_seeds(
        _synthetic_sitemaps(spark, sf_dir), per_host_cap=SM_CAP
    )


def sql_sitemap_seeds() -> str:
    return f"""
WITH syn AS (
  SELECT doc_id,
         'h' || (doc_id % {SM_HOSTS}) || '.example' AS host,
         'https://h' || (doc_id % {SM_HOSTS}) || '.example/page/'
           || (doc_id % {SM_PATHS}) AS loc,
         CASE WHEN doc_id % 3 = 0
              THEN '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR),
                                      2, '0') END AS lastmod,
         CASE WHEN doc_id % 2 = 0
              THEN round((doc_id % 7) / 10.0 + 0.2, 6)
              ELSE 0.5 END AS priority
  FROM documents
),
per_url AS (
  SELECT host, loc, max(priority) AS priority, max(lastmod) AS lastmod
  FROM syn GROUP BY 1, 2
),
ranked AS (
  SELECT host, loc, round(priority, 6) AS priority, lastmod,
         CAST(row_number() OVER (
           PARTITION BY host
           ORDER BY priority DESC, lastmod DESC NULLS LAST, loc ASC
         ) AS BIGINT) AS seed_rank
  FROM per_url
)
SELECT host, loc, priority, lastmod, seed_rank
FROM ranked WHERE seed_rank <= {SM_CAP}
"""


BPE_MIN_COUNT = 2


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training step-0 statistics (operators/bpe.py): adjacent
    character-pair frequencies over the corpus weighted by word
    frequency, word-final symbols pairing with the </w> marker
    (Sennrich 2016). Corpus is touched once by a combinable word
    count; the char fan-out runs over the bounded vocabulary."""
    from flyscrape_spark.operators.bpe import bpe_pair_counts

    return bpe_pair_counts(
        load(spark, sf_dir, "documents"), min_count=BPE_MIN_COUNT
    )


def sql_bpe_pairs(min_count: int = BPE_MIN_COUNT) -> str:
    return f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split({_NORM_SQL}, ' '),
                            t -> t <> '')) AS word
  FROM documents
),
words AS (SELECT word, count(*) AS freq FROM toks GROUP BY 1),
pairs AS (
  SELECT freq,
         unnest(list_transform(range(1, length(word) + 1),
                               i -> substr(word, i, 1))) AS left_sym,
         unnest(list_transform(range(1, length(word) + 1),
             i -> CASE WHEN i < length(word)
                       THEN substr(word, i + 1, 1)
                       ELSE '</w>' END)) AS right_sym
  FROM words
),
counts AS (
  SELECT left_sym, right_sym, CAST(sum(freq) AS BIGINT) AS pair_count
  FROM pairs GROUP BY 1, 2 HAVING sum(freq) >= {min_count}
)
SELECT left_sym, right_sym, pair_count,
       CAST(row_number() OVER (ORDER BY pair_count DESC, left_sym ASC,
                               right_sym ASC) AS BIGINT) AS merge_rank
FROM counts
"""


BPE_MERGES_K = 12


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge LOOP end-to-end (operators/bpe.py bpe_train): learn
    the first K merges over the corpus — distributed word counting,
    driver-side merge loop over the bounded collected vocabulary (the
    standard trainer split; the collect is the vocab, never the
    corpus). Output (merge_rank, left_sym, right_sym) is the learned
    merge table, deterministic via (count desc, left, right) ties."""
    from flyscrape_spark.operators.bpe import bpe_train

    merges = bpe_train(
        load(spark, sf_dir, "documents"), num_merges=BPE_MERGES_K
    )
    return spark.createDataFrame(
        [(i + 1, l, r) for i, (l, r) in enumerate(merges)],
        "merge_rank long, left_sym string, right_sym string",
    )


def sql_bpe_merges(k: int = BPE_MERGES_K) -> str:
    """The same merge loop UNROLLED in SQL: step i recomputes pair
    counts over the step-(i-1) vocabulary, argmaxes (count desc, left,
    right), and applies the merge via non-overlapping left-to-right
    string replace over '|'-delimited symbol strings ('|a||b||c|'),
    exactly Sennrich's re.sub semantics. '|' and '<'/'>' cannot occur
    in the normalized corpus (lowercase letters only), so the
    delimiting is unambiguous."""
    steps = []
    for i in range(1, k + 1):
        steps.append(f"""
c{i} AS (
  SELECT unnest(list_transform(range(1, len(ss)), j -> ss[j])) AS l,
         unnest(list_transform(range(1, len(ss)), j -> ss[j + 1])) AS r,
         freq
  FROM (SELECT string_split(trim(w, '|'), '||') AS ss, freq FROM w{i - 1})
),
b{i} AS (
  SELECT l, r FROM c{i} GROUP BY l, r
  ORDER BY sum(freq) DESC, l, r LIMIT 1
),
w{i} AS (
  SELECT replace(w, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS w, freq
  FROM w{i - 1}, b{i} b
)""")
        # why replace() is exact here: DuckDB replace scans left to
        # right and resumes AFTER each replacement — the same
        # non-overlapping greedy pass _merge_word implements
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_rank, l AS left_sym, "
        f"r AS right_sym FROM b{i}"
        for i in range(1, k + 1)
    )
    return f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split({_NORM_SQL}, ' '),
                            t -> t <> '')) AS word
  FROM documents
),
words AS (SELECT word, count(*) AS freq FROM toks GROUP BY 1),
w0 AS (
  SELECT '|' || array_to_string(
           list_transform(range(1, length(word) + 1),
                          i -> substr(word, i, 1)) || ['</w>'],
           '||') || '|' AS w,
         freq
  FROM words
),{",".join(steps)}
{union}
"""


# ------------------------------------------- round-4 batch-2 operators

def _soft404_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages with deliberate soft-404s: i%7==1 -> hard 404 serving the
    host's error template; i%7==3 -> status 200 serving the SAME
    template (template-signal soft-404); i%7==5 -> status 200 with a
    not-found phrase prepended (phrase-signal soft-404); else a
    healthy 200 with the doc's own text."""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    hostnum = (i % GRAPH_HOSTS).cast("string")
    tpl = F.concat(F.lit("Oops! h"), hostnum, F.lit(" error template"))
    text = (
        F.when((i % 7 == 1) | (i % 7 == 3), tpl)
        .when(i % 7 == 5,
              F.concat(F.lit("Sorry, this page does not exist. "),
                       F.col("text")))
        .otherwise(F.col("text"))
    )
    status = F.when(i % 7 == 1, F.lit(404)).otherwise(F.lit(200))
    return docs.select(
        _doc_url(i).alias("url"),
        F.concat(F.lit("h"), hostnum, F.lit(".example")).alias("host"),
        status.alias("status"),
        text.alias("text"),
    )


def q_soft_404(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection (operators/soft404.py): per-host error
    templates learned from hard 404s broadcast against 200-responses,
    plus the not-found phrase regex."""
    from flyscrape_spark.operators.soft404 import soft_404

    return soft_404(_soft404_pages(spark, sf_dir))


def sql_soft_404() -> str:
    h = portable_hash64_sql("text")
    return f"""
WITH p AS (
  SELECT {_doc_url_sql('doc_id')} AS url,
         'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS host,
         CASE WHEN doc_id % 7 = 1 THEN 404 ELSE 200 END AS status,
         CASE WHEN doc_id % 7 IN (1, 3)
              THEN 'Oops! h' || (doc_id % {GRAPH_HOSTS}) || ' error template'
              WHEN doc_id % 7 = 5
              THEN 'Sorry, this page does not exist. ' || text
              ELSE text END AS text
  FROM documents
),
tpl AS (SELECT DISTINCT host, {h} AS body_hash FROM p WHERE status >= 400),
ok AS (
  SELECT url, host, {h} AS body_hash,
         regexp_matches(lower(text),
           'page not found|404 not found|does not exist|no longer available')
           AS phrase_hit
  FROM p WHERE status = 200
)
SELECT ok.url, ok.host, ok.phrase_hit,
       (tpl.body_hash IS NOT NULL) AS template_hit,
       (ok.phrase_hit OR tpl.body_hash IS NOT NULL) AS soft404
FROM ok LEFT JOIN tpl ON tpl.host = ok.host AND tpl.body_hash = ok.body_hash
"""


def _linkcheck_inputs(spark: SparkSession, sf_dir: str):
    """(links, pages): the synthetic web's two outlinks per doc plus
    an external never-fetched target for every 5th doc; fetch log
    serves 404 for i%11==7, 410 for i%13==9 (404 case wins when both),
    200 otherwise."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    i = F.col("doc_id")
    src = _doc_url(i)
    e1 = docs.select(src.alias("src"), _doc_url((2 * i + 1) % n).alias("dst"))
    e2 = docs.select(src.alias("src"), _doc_url((3 * i + 2) % n).alias("dst"))
    ext = docs.filter(i % 5 == 0).select(
        src.alias("src"),
        F.concat(F.lit("http://ext.example/x"),
                 (i % 17).cast("string")).alias("dst"),
    )
    links = e1.unionByName(e2).unionByName(ext)
    status = (
        F.when(i % 11 == 7, F.lit(404))
        .when(i % 13 == 9, F.lit(410))
        .otherwise(F.lit(200))
    )
    pages = docs.select(src.alias("url"), status.alias("status"))
    return links, pages


def q_broken_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broken-link audit (operators/linkcheck.py): per-target inlink
    rollup joined to the fetch log; report = dead + unfetched targets."""
    from flyscrape_spark.operators.linkcheck import broken_links

    links, pages = _linkcheck_inputs(spark, sf_dir)
    out = broken_links(links, pages)
    return out.select("dst", F.col("n_refs").cast("long").alias("n_refs"),
                      "example_src", F.col("status").cast("int").alias("status"),
                      "reason")


def sql_broken_links() -> str:
    u = _doc_url_sql("doc_id")
    return f"""
WITH n AS (SELECT count(*) AS n FROM documents),
links AS (
  SELECT {u} AS src, {_doc_url_sql('((2*doc_id+1) % n.n)')} AS dst
  FROM documents, n
  UNION ALL
  SELECT {u}, {_doc_url_sql('((3*doc_id+2) % n.n)')} FROM documents, n
  UNION ALL
  SELECT {u}, 'http://ext.example/x' || (doc_id % 17)
  FROM documents WHERE doc_id % 5 = 0
),
pages AS (
  SELECT {u} AS url,
         CASE WHEN doc_id % 11 = 7 THEN 404
              WHEN doc_id % 13 = 9 THEN 410
              ELSE 200 END AS status
  FROM documents
),
refs AS (
  SELECT dst, CAST(count(*) AS BIGINT) AS n_refs, min(src) AS example_src
  FROM links GROUP BY 1
)
SELECT refs.dst, refs.n_refs, refs.example_src,
       CAST(p.status AS INT) AS status,
       CASE WHEN p.status IS NULL THEN 'unfetched'
            ELSE 'http_error' END AS reason
FROM refs LEFT JOIN pages p ON p.url = refs.dst
WHERE p.status IS NULL OR p.status >= 400
"""


_HREFLANG_LANGS = ("en", "fr", "de", "es")


def _hreflang_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groups of 4 consecutive docs; group g declares L = 2 + (g%3)
    language variants (members k=0..L-1 tagged en/fr/de/es by
    position); members with k >= L carry no hreflang markup."""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    base = i - (i % 4)
    L = (F.lit(2) + F.floor(base / 4) % 3).cast("int")

    def tag(k: int) -> F.Column:
        return F.concat(
            F.lit('<link rel="alternate" hreflang="'),
            F.lit(_HREFLANG_LANGS[k]),
            F.lit('" href="'), _doc_url(base + k), F.lit('"/>'),
        )

    tags = F.concat_ws(
        "",
        *[F.when(F.lit(k) < L, tag(k)).otherwise(F.lit("")) for k in range(4)],
    )
    html = F.when(
        (i % 4) < L,
        F.concat(F.lit("<html><head>"), tags,
                 F.lit("</head><body><p>d</p></body></html>")),
    ).otherwise(F.lit("<html><head></head><body><p>d</p></body></html>"))
    return docs.select(_doc_url(i).alias("url"), html.alias("html"))


def q_hreflang_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hreflang alternate-language clusters (operators/hreflang.py):
    tag-pair extraction zipped positionally, cluster key = min href of
    the declared set, per-cluster language rollup."""
    from flyscrape_spark.operators.hreflang import hreflang_clusters

    return hreflang_clusters(_hreflang_pages(spark, sf_dir))


def sql_hreflang_clusters() -> str:
    u0 = _doc_url_sql("base")
    u1 = _doc_url_sql("(base + 1)")
    u2 = _doc_url_sql("(base + 2)")
    u3 = _doc_url_sql("(base + 3)")
    return f"""
WITH m AS (
  SELECT doc_id, doc_id - (doc_id % 4) AS base,
         2 + ((doc_id - (doc_id % 4)) // 4) % 3 AS L
  FROM documents
),
members AS (SELECT * FROM m WHERE doc_id % 4 < L),
keyed AS (
  SELECT base, L,
         CASE L WHEN 2 THEN least({u0}, {u1})
                WHEN 3 THEN least({u0}, {u1}, {u2})
                ELSE least({u0}, {u1}, {u2}, {u3}) END AS cluster_id,
         CASE L WHEN 2 THEN 'en,fr'
                WHEN 3 THEN 'de,en,fr'
                ELSE 'de,en,es,fr' END AS langs
  FROM members
)
SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_pages, langs
FROM keyed GROUP BY cluster_id, langs
"""


def q_revalidate_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-GET planning (operators/recrawl.py revalidate_plan):
    Cho & Garcia-Molina change probability -> skip / revalidate /
    refetch with expected bytes per visit."""
    from flyscrape_spark.operators.recrawl import revalidate_plan

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    log = docs.select(
        _doc_url(i).alias("url"),
        ((i % 10) + 1).cast("double").alias("age_days"),
        (((i % 7) + 1).cast("double") / F.lit(14.0)).alias("lambda_hat"),
        (i % 3 == 0).alias("has_validator"),
        (F.lit(1000) + (i % 50) * 100).cast("double").alias("page_bytes"),
    )
    return revalidate_plan(log)


def sql_revalidate_plan(p_low: float = 0.2, header_bytes: int = 600) -> str:
    return f"""
WITH log AS (
  SELECT {_doc_url_sql('doc_id')} AS url,
         CAST((doc_id % 10) + 1 AS DOUBLE) AS age_days,
         CAST((doc_id % 7) + 1 AS DOUBLE) / 14.0 AS lambda_hat,
         doc_id % 3 = 0 AS has_validator,
         CAST(1000 + (doc_id % 50) * 100 AS DOUBLE) AS page_bytes
  FROM documents
),
p AS (
  SELECT url, 1.0 - exp(-lambda_hat * age_days) AS pc,
         has_validator, page_bytes
  FROM log
)
SELECT url, round(pc, 4) AS p_change,
       CASE WHEN pc < {p_low} THEN 'skip'
            WHEN has_validator THEN 'revalidate'
            ELSE 'refetch' END AS action,
       round(CASE WHEN pc < {p_low} THEN 0.0
                  WHEN has_validator THEN {header_bytes} + pc * page_bytes
                  ELSE {header_bytes} + page_bytes END, 4) AS est_bytes
FROM p
"""


_RECIP_HOSTS = 120


def q_reciprocal_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-farm reciprocity (operators/graph.py reciprocal_links):
    host-level edge i%120 -> (3i+7)%120, with the reverse edge added
    for every 4th doc — a deterministic mix of one-way and reciprocal
    host pairs."""
    from flyscrape_spark.operators.graph import reciprocal_links

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = F.concat(F.lit("s"), (i % _RECIP_HOSTS).cast("string"))
    d = F.concat(F.lit("s"), ((3 * i + 7) % _RECIP_HOSTS).cast("string"))
    fwd = docs.select(s.alias("src"), d.alias("dst"))
    rev = docs.filter(i % 4 == 0).select(d.alias("src"), s.alias("dst"))
    return reciprocal_links(fwd.unionByName(rev)).select(
        "host", F.col("n_out").cast("long").alias("n_out"),
        F.col("n_reciprocal").cast("long").alias("n_reciprocal"),
        "reciprocity", "link_farm",
    )


def sql_reciprocal_links(min_out: int = 3, threshold: float = 0.5) -> str:
    return f"""
WITH e AS (
  SELECT 's' || (doc_id % {_RECIP_HOSTS}) AS a,
         's' || ((3 * doc_id + 7) % {_RECIP_HOSTS}) AS b
  FROM documents
  UNION ALL
  SELECT 's' || ((3 * doc_id + 7) % {_RECIP_HOSTS}),
         's' || (doc_id % {_RECIP_HOSTS})
  FROM documents WHERE doc_id % 4 = 0
),
pairs AS (SELECT DISTINCT a, b FROM e WHERE a <> b),
marked AS (
  SELECT p.a, p.b, r.a IS NOT NULL AS rec
  FROM pairs p
  LEFT JOIN pairs r ON r.a = p.b AND r.b = p.a
)
SELECT a AS host, CAST(count(*) AS BIGINT) AS n_out,
       CAST(sum(CASE WHEN rec THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal,
       round(sum(CASE WHEN rec THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS reciprocity,
       (count(*) >= {min_out} AND
        sum(CASE WHEN rec THEN 1 ELSE 0 END) * 1.0 / count(*) >= {threshold})
         AS link_farm
FROM marked GROUP BY 1
"""


# ------------------------------------------- round-4 batch-3 operators

def q_host_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host boilerplate lines (operators/segments.py
    host_template_lines): every doc on host hN carries that host's
    footer + nav lines; the detector must recover exactly those
    (natural text lines stay under the per-host df threshold)."""
    from flyscrape_spark.operators.segments import host_template_lines

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    hostnum = (i % GRAPH_HOSTS).cast("string")
    pages = docs.select(
        F.concat(F.lit("h"), hostnum, F.lit(".example")).alias("host"),
        F.col("doc_id"),
        F.concat(
            F.col("text"),
            F.lit("\nFooter of h"), hostnum,
            F.lit("\nNav h"), hostnum, F.lit(" menu"),
        ).alias("text"),
    )
    return host_template_lines(pages, min_docs=5).select(
        "host", "line", F.col("n_docs").cast("long").alias("n_docs"))


def sql_host_templates(min_docs: int = 5) -> str:
    return f"""
WITH p AS (
  SELECT 'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS host, doc_id,
         text || chr(10) || 'Footer of h' || (doc_id % {GRAPH_HOSTS})
              || chr(10) || 'Nav h' || (doc_id % {GRAPH_HOSTS}) || ' menu'
           AS text
  FROM documents
),
lines AS (
  SELECT host, doc_id,
         trim(unnest(string_split(text, chr(10)))) AS line
  FROM p
),
per_doc AS (
  SELECT host, line, doc_id FROM lines WHERE line <> ''
  GROUP BY host, line, doc_id
)
SELECT host, line, CAST(count(*) AS BIGINT) AS n_docs
FROM per_doc GROUP BY host, line HAVING count(*) >= {min_docs}
"""


def q_warc_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC revisit records (sources/warc.py revisit_records): groups
    of 3 consecutive docs share a payload digest; the first capture
    (lowest ts) stays 'response', later ones become 'revisit' with a
    refers_to pointer."""
    from flyscrape_spark.sources.warc import revisit_records

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    base = i - (i % 3)
    pages = docs.select(
        _doc_url(i).alias("url"),
        (F.lit(1000) + i).cast("long").alias("ts"),
        portable_hash64(
            F.concat(F.lit("payload-"), base.cast("string"))
        ).alias("digest"),
    )
    return revisit_records(pages)


def sql_warc_revisit() -> str:
    dig = portable_hash64_sql("'payload-' || (doc_id - (doc_id % 3))")
    return f"""
WITH caps AS (
  SELECT {_doc_url_sql('doc_id')} AS url,
         CAST(1000 + doc_id AS BIGINT) AS ts, {dig} AS digest
  FROM documents
),
first AS (
  -- ts = 1000 + doc_id is unique, so arg_min is tie-free and matches
  -- the Spark side's min-over-(ts, url) struct exactly
  SELECT digest, min(ts) AS fts, arg_min(url, ts) AS furl
  FROM caps GROUP BY digest
)
SELECT c.url, c.ts, c.digest,
       CASE WHEN c.ts = f.fts AND c.url = f.furl
            THEN 'response' ELSE 'revisit' END AS record_type,
       CASE WHEN c.ts = f.fts AND c.url = f.furl
            THEN NULL ELSE f.furl END AS refers_to
FROM caps c JOIN first f USING (digest)
"""


def q_adaptive_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency-adaptive politeness (operators/politeness.py
    adaptive_delay): per-host exact p95 fetch latency -> adjusted
    crawl delay, slow hosts throttled up."""
    from flyscrape_spark.operators.politeness import adaptive_delay

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    log = docs.select(
        F.concat(F.lit("h"), (i % GRAPH_HOSTS).cast("string"),
                 F.lit(".example")).alias("host"),
        (F.lit(50) + (i % 200) * 7 + (i % GRAPH_HOSTS) * 11)
            .cast("double").alias("latency_ms"),
    )
    return adaptive_delay(log).select(
        "host", F.col("n_fetches").cast("long").alias("n_fetches"),
        "p95_ms", "adjusted_delay_s", "throttled")


def sql_adaptive_delay(base: float = 1.0, factor: float = 3.0) -> str:
    return f"""
WITH log AS (
  SELECT 'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS host,
         CAST(50 + (doc_id % 200) * 7 + (doc_id % {GRAPH_HOSTS}) * 11
              AS DOUBLE) AS latency_ms
  FROM documents
),
agg AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_fetches,
         quantile_cont(latency_ms, 0.95) AS p95
  FROM log GROUP BY host
)
SELECT host, n_fetches, round(p95, 4) AS p95_ms,
       round(greatest({base}, {factor} * p95 / 1000.0), 4)
         AS adjusted_delay_s,
       greatest({base}, {factor} * p95 / 1000.0) > {base} AS throttled
FROM agg
"""


def q_title_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-headline clusters (operators/dedup.py
    title_clusters): raw titles vary in case/whitespace by i%3 but
    normalize to one key per (i%40) family spanning many hosts."""
    from flyscrape_spark.operators.dedup import title_clusters

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    t = (i % 40).cast("string")
    title = (
        F.when(i % 3 == 0, F.concat(F.lit("Title "), t, F.lit(" News")))
        .when(i % 3 == 1, F.concat(F.lit("TITLE   "), t, F.lit("   NEWS")))
        .otherwise(F.concat(F.lit(" title "), t, F.lit(" news ")))
    )
    pages = docs.select(_doc_url(i).alias("url"), title.alias("title"))
    return title_clusters(pages).select(
        "title_key", F.col("n_pages").cast("long").alias("n_pages"),
        F.col("n_hosts").cast("long").alias("n_hosts"), "example_url")


def sql_title_dedup(min_pages: int = 2) -> str:
    norm = (
        "trim(regexp_replace(lower(CASE"
        " WHEN doc_id % 3 = 0 THEN 'Title ' || (doc_id % 40) || ' News'"
        " WHEN doc_id % 3 = 1 THEN 'TITLE   ' || (doc_id % 40) || '   NEWS'"
        " ELSE ' title ' || (doc_id % 40) || ' news ' END), '\\s+', ' ', 'g'))"
    )
    key = portable_hash64_sql(norm)
    return f"""
WITH p AS (
  SELECT {key} AS title_key, {_doc_url_sql('doc_id')} AS url,
         'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS host
  FROM documents
),
per_host AS (
  SELECT title_key, host, count(*) AS n, min(url) AS u
  FROM p GROUP BY 1, 2
)
SELECT title_key, CAST(sum(n) AS BIGINT) AS n_pages,
       CAST(count(*) AS BIGINT) AS n_hosts, min(u) AS example_url
FROM per_host GROUP BY title_key HAVING sum(n) >= {min_pages}
"""


def q_frontier_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier drain report (operators/politeness.py
    frontier_backlog): pending URLs per host vs the politeness-capped
    rate; hosts h11/h12 have no rate row (unbudgeted -> starved)."""
    from flyscrape_spark.operators.politeness import frontier_backlog

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    frontier = docs.select(
        F.concat(F.lit("h"), (i % GRAPH_HOSTS).cast("string"),
                 F.lit(".example")).alias("host"))
    n = F.col("id")
    rates = spark.range(GRAPH_HOSTS - 2).select(
        F.concat(F.lit("h"), n.cast("string"), F.lit(".example")).alias("host"),
        (F.lit(1.0) + (n % 5).cast("double")).alias("rate_per_s"),
    )
    return frontier_backlog(frontier, rates, horizon_s=20.0).select(
        "host", F.col("n_pending").cast("long").alias("n_pending"),
        "rate_per_s", "drain_s", "starved")


def sql_frontier_backlog(horizon: float = 20.0) -> str:
    return f"""
WITH pending AS (
  SELECT 'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS host,
         CAST(count(*) AS BIGINT) AS n_pending
  FROM documents GROUP BY 1
),
rates AS (
  SELECT 'h' || n || '.example' AS host,
         CAST(1.0 + (n % 5) AS DOUBLE) AS rate_per_s
  FROM (SELECT unnest(range({GRAPH_HOSTS} - 2)) AS n)
)
SELECT p.host, p.n_pending, r.rate_per_s,
       round(p.n_pending / r.rate_per_s, 4) AS drain_s,
       coalesce(p.n_pending / r.rate_per_s > {horizon}, TRUE) AS starved
FROM pending p LEFT JOIN rates r ON r.host = p.host
"""


# ------------------------------------------- round-4 batch-4 operators

def q_hostgraph_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level webgraph (operators/graph.py hostgraph_export): the
    synthetic web's page edges collapsed to (src_host, dst_host) with
    link and distinct-page counts."""
    from flyscrape_spark.operators.graph import hostgraph_export

    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    i = F.col("doc_id")
    src = _doc_url(i)
    e1 = docs.select(src.alias("src"), _doc_url((2 * i + 1) % n).alias("dst"))
    e2 = docs.select(src.alias("src"), _doc_url((3 * i + 2) % n).alias("dst"))
    return hostgraph_export(e1.unionByName(e2)).select(
        "src_host", "dst_host",
        F.col("n_links").cast("long").alias("n_links"),
        F.col("n_src_pages").cast("long").alias("n_src_pages"))


def sql_hostgraph_export() -> str:
    return f"""
WITH n AS (SELECT count(*) AS n FROM documents),
e AS (
  SELECT 'h' || (doc_id % {GRAPH_HOSTS}) || '.example' AS src_host,
         'h' || (((2 * doc_id + 1) % n.n) % {GRAPH_HOSTS}) || '.example'
           AS dst_host,
         {_doc_url_sql('doc_id')} AS src
  FROM documents, n
  UNION ALL
  SELECT 'h' || (doc_id % {GRAPH_HOSTS}) || '.example',
         'h' || (((3 * doc_id + 2) % n.n) % {GRAPH_HOSTS}) || '.example',
         {_doc_url_sql('doc_id')}
  FROM documents, n
),
per_page AS (
  SELECT src_host, dst_host, src, count(*) AS cnt
  FROM e GROUP BY 1, 2, 3
)
SELECT src_host, dst_host, CAST(sum(cnt) AS BIGINT) AS n_links,
       CAST(count(*) AS BIGINT) AS n_src_pages
FROM per_page GROUP BY 1, 2
"""


_TRI_HOSTS = 60


def q_host_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + clustering coefficient (operators/graph.py
    host_triangles) over a 60-host ring with chords: edges k-(k+1)
    and k-(k+2) mod 60, so every consecutive triple closes a
    triangle."""
    from flyscrape_spark.operators.graph import host_triangles

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    k = i % _TRI_HOSTS

    def hname(c) -> F.Column:
        return F.concat(F.lit("t"), F.lpad(c.cast("string"), 2, "0"))

    e1 = docs.select(hname(k).alias("src"),
                     hname((k + 1) % _TRI_HOSTS).alias("dst"))
    e2 = docs.select(hname(k).alias("src"),
                     hname((k + 2) % _TRI_HOSTS).alias("dst"))
    return host_triangles(e1.unionByName(e2)).select(
        "host", F.col("degree").cast("long").alias("degree"),
        F.col("triangles").cast("long").alias("triangles"),
        "clustering_coeff")


def sql_host_triangles() -> str:
    h = f"'t' || lpad(CAST(doc_id % {_TRI_HOSTS} AS VARCHAR), 2, '0')"
    h1 = (f"'t' || lpad(CAST((doc_id % {_TRI_HOSTS} + 1) % {_TRI_HOSTS}"
          f" AS VARCHAR), 2, '0')")
    h2 = (f"'t' || lpad(CAST((doc_id % {_TRI_HOSTS} + 2) % {_TRI_HOSTS}"
          f" AS VARCHAR), 2, '0')")
    return f"""
WITH raw AS (
  SELECT {h} AS src, {h1} AS dst FROM documents
  UNION ALL
  SELECT {h}, {h2} FROM documents
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE src <> dst
),
tris AS (
  SELECT w1.a, w1.b, w2.b AS c
  FROM und w1 JOIN und w2 ON w2.a = w1.a AND w2.b > w1.b
  JOIN und cl ON cl.a = w1.b AND cl.b = w2.b
),
tri_nodes AS (
  SELECT a AS host FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
),
tcount AS (SELECT host, count(*) AS triangles FROM tri_nodes GROUP BY 1),
deg AS (
  SELECT host, count(*) AS degree FROM (
    SELECT a AS host FROM und UNION ALL SELECT b FROM und
  ) GROUP BY 1
)
SELECT deg.host, CAST(deg.degree AS BIGINT) AS degree,
       CAST(coalesce(tcount.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN deg.degree >= 2
            THEN round(2.0 * coalesce(tcount.triangles, 0)
                       / (deg.degree * (deg.degree - 1.0)), 6)
            ELSE 0.0 END AS clustering_coeff
FROM deg LEFT JOIN tcount ON tcount.host = deg.host
"""


def q_fetch_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-fairness Gini (operators/politeness.py fetch_gini) over
    a quadratically skewed host assignment: host k gets 2k+1 of every
    169 fetches."""
    from flyscrape_spark.operators.politeness import fetch_gini

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    k = F.floor(F.sqrt((i % 169).cast("double")))
    log = docs.select(
        F.concat(F.lit("h"), k.cast("string"), F.lit(".example")).alias("host"))
    return fetch_gini(log)


def sql_fetch_gini() -> str:
    return """
WITH log AS (
  SELECT 'h' || CAST(floor(sqrt(CAST(doc_id % 169 AS DOUBLE))) AS BIGINT)
           || '.example' AS host
  FROM documents
),
counts AS (SELECT host, count(*) AS x FROM log GROUP BY 1),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x ASC, host ASC) AS i FROM counts
),
agg AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(x) AS DOUBLE) AS sx,
         sum(CAST(i AS DOUBLE) * CAST(x AS DOUBLE)) AS six
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_hosts, CAST(sx AS BIGINT) AS total_fetches,
       round((2.0 * six - (n + 1.0) * sx) / (n * sx), 6) AS gini
FROM agg
"""


# --------------------------------------- round-4 composition queries

LANGMIX_ALPHA = 0.3
LANGMIX_BUDGET = 50_000


def q_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-temperature mixing: lang_id prediction feeding the
    exponent-smoothed sampling rule (Conneau & Lample 2019) —
    share^alpha weights + per-language token budgets. Pure
    composition of two verified operators (operators/text.py lang_id
    x operators/mixing.py temperature_mix) joined on doc_id; the
    multilingual rebalancing table a corpus mixer reads."""
    from flyscrape_spark.operators.mixing import temperature_mix
    from flyscrape_spark.operators.text import lang_id

    docs = load(spark, sf_dir, "documents")
    langs = lang_id(docs).select("doc_id", "lang_pred")
    tagged = docs.join(langs, "doc_id").select(
        F.col("lang_pred").alias("source"), "text")
    out = temperature_mix(tagged, alpha=LANGMIX_ALPHA,
                          token_budget=LANGMIX_BUDGET)
    return out.select(
        F.col("source").alias("lang"), "total_tokens", "raw_share",
        "weight", "budget_tokens", "epochs")


def sql_lang_mix(alpha: float = LANGMIX_ALPHA,
                 budget: int = LANGMIX_BUDGET) -> str:
    return f"""
WITH base AS (
  SELECT doc_id, text, string_split({_NORM_SQL}, ' ') AS toks,
         {_N_TOKENS_SQL} AS ntok
  FROM documents
),
per AS (
  SELECT {_sql_lang_pred()} AS lang, CAST(sum(ntok) AS BIGINT) AS total_tokens
  FROM base GROUP BY 1
),
tot AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS corpus_tokens FROM per),
sh AS (
  SELECT lang, total_tokens,
         CAST(total_tokens AS DOUBLE) / corpus_tokens AS share
  FROM per CROSS JOIN tot
),
p AS (SELECT *, pow(share, {alpha}) AS sp FROM sh),
z AS (SELECT sum(sp) AS z FROM p)
SELECT lang, total_tokens,
  round(share, 6) AS raw_share,
  round(sp / z, 6) AS weight,
  CAST(floor(sp / z * {budget}.0) AS BIGINT) AS budget_tokens,
  round(floor(sp / z * {budget}.0) / total_tokens, 6) AS epochs
FROM p CROSS JOIN z
"""


def q_lang_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality pass rates: lang_id x the Gopher gate —
    the cross-language quality-drift table every multilingual corpus
    review reads (a gate tuned on English silently decimating another
    language shows up as a low pass_rate row here). Composition of
    two verified operators; one combinable rollup on the tiny lang
    key."""
    from flyscrape_spark.operators.rules import gopher_quality_gate
    from flyscrape_spark.operators.text import lang_id

    docs = load(spark, sf_dir, "documents")
    gate = gopher_quality_gate(
        docs, min_words=GOPHER_MIN_WORDS,
        stopwords=GOPHER_QUERY_STOPWORDS, min_stop_hits=2,
    ).select("doc_id", "keep")
    langs = lang_id(docs).select("doc_id", "lang_pred")
    return (
        langs.join(gate, "doc_id")
        .groupBy(F.col("lang_pred").alias("lang"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_pass"),
        )
        .withColumn(
            "pass_rate",
            F.round(F.col("n_pass").cast("double") / F.col("n_docs"), 6),
        )
    )


def sql_lang_quality_gate() -> str:
    gate = sql_gopher_gate()
    return f"""
WITH gate AS ({gate}),
base AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
langs AS (SELECT doc_id, {_sql_lang_pred()} AS lang FROM base)
SELECT l.lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       round(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS pass_rate
FROM langs l JOIN gate g USING (doc_id)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Web feeds (RSS 2.0 / Atom): discovery, seed planning, cadence
# ---------------------------------------------------------------------------

FD_HOSTS = 6
FD_PATHS = 80
FD_CAP = 20

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def _synthetic_rss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic RSS 2.0 XML per host from doc_id: link repeats
    every lcm(6,80)=240 ids (exercising per-(host,link) dedup
    downstream), whitespace inside <link> (exercising trim), guid on
    ids % 4 == 0 only, pubDate in RFC-822 with an advisory weekday on
    even ids and a GMT zone name (vs numeric +0000) on ids % 3 == 0
    (exercising both normalization rewrites)."""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    host = F.concat(F.lit("f"), (i % FD_HOSTS).cast("string"),
                    F.lit(".example"))
    link = F.concat(F.lit("https://"), host, F.lit("/post/"),
                    (i % FD_PATHS).cast("string"))
    guid = F.when(
        i % 4 == 0,
        F.concat(F.lit("<guid>tag:f"), (i % FD_HOSTS).cast("string"),
                 F.lit(":"), i.cast("string"), F.lit("</guid>")),
    ).otherwise(F.lit(""))
    pub = F.concat(
        F.when(i % 2 == 0, F.lit("Mon, ")).otherwise(F.lit("")),
        F.lpad((i % 28 + 1).cast("string"), 2, "0"), F.lit(" "),
        F.element_at(F.array(*[F.lit(m) for m in _MONTHS]),
                     (i % 12 + 1).cast("int")),
        F.lit(" 2025 "),
        F.lpad((i % 24).cast("string"), 2, "0"), F.lit(":"),
        F.lpad((i % 60).cast("string"), 2, "0"), F.lit(":"),
        F.lpad((i % 30).cast("string"), 2, "0"),
        F.when(i % 3 == 0, F.lit(" GMT")).otherwise(F.lit(" +0000")),
    )
    entry = F.concat(
        F.lit("<item><title>Post "), i.cast("string"),
        F.lit("</title><link> "), link, F.lit(" </link>"), guid,
        F.lit("<pubDate>"), pub, F.lit("</pubDate></item>\n"),
    )
    return (
        docs.select(host.alias("host"),
                    F.struct(i.alias("doc_id"), entry.alias("entry")).alias("e"))
        .groupBy("host")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list("e")), lambda s: s["entry"]),
            "").alias("body"))
        .select(
            F.concat(F.lit("https://"), F.col("host"),
                     F.lit("/feed.xml")).alias("feed_url"),
            F.concat(F.lit('<?xml version="1.0"?><rss version="2.0"><channel>'
                           "<title>Feed</title>\n"),
                     F.col("body"), F.lit("</channel></rss>")).alias("xml"),
        )
    )


_RSS_TS_SQL = ("make_timestamp(2025, doc_id % 12 + 1, doc_id % 28 + 1, "
               "doc_id % 24, doc_id % 60, doc_id % 30)")


def q_rss_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS ingestion (sources/feeds.py parse_rss): build each host's
    RSS 2.0 XML, parse it back JVM-side with from_xml into
    (feed_url, position, link, guid, title, pub_ts) rows, RFC-822
    pubDates (weekday/zone-name variants included) normalized by pure
    regexp rewrites. The oracle computes the expected rows
    arithmetically — the parse must invert the build exactly."""
    from flyscrape_spark.sources.feeds import parse_rss

    return parse_rss(_synthetic_rss(spark, sf_dir))


def sql_rss_extract() -> str:
    return f"""
SELECT 'https://f' || (doc_id % {FD_HOSTS}) || '.example/feed.xml' AS feed_url,
       CAST(doc_id // {FD_HOSTS} AS INT) AS position,
       'https://f' || (doc_id % {FD_HOSTS}) || '.example/post/'
         || (doc_id % {FD_PATHS}) AS link,
       CASE WHEN doc_id % 4 = 0
            THEN 'tag:f' || (doc_id % {FD_HOSTS}) || ':' || doc_id END AS guid,
       'Post ' || doc_id AS title,
       {_RSS_TS_SQL} AS pub_ts
FROM documents
"""


def _synthetic_atom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Atom XML per host: three <link> layouts cycle by
    id (self+alternate / bare href with no rel / enclosure-then-
    alternate) so the RFC 4287 link-selection coalesce is what's
    under test; <published> exists on even ids only, <updated> always
    (one hour later), so the published-over-updated preference is
    exercised on odd ids."""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    k = (i % FD_HOSTS).cast("string")
    host = F.concat(F.lit("a"), k, F.lit(".example"))
    alt = F.concat(F.lit("https://"), host, F.lit("/e/"),
                   (i % FD_PATHS).cast("string"))
    iso = lambda hour: F.concat(
        F.lit("2025-"), F.lpad((i % 12 + 1).cast("string"), 2, "0"),
        F.lit("-"), F.lpad((i % 28 + 1).cast("string"), 2, "0"),
        F.lit("T"), F.lpad(hour.cast("string"), 2, "0"), F.lit(":"),
        F.lpad((i % 60).cast("string"), 2, "0"), F.lit(":"),
        F.lpad((i % 30).cast("string"), 2, "0"), F.lit("Z"),
    )
    published = F.when(
        i % 2 == 0,
        F.concat(F.lit("<published>"), iso(i % 24), F.lit("</published>")),
    ).otherwise(F.lit(""))
    links = F.when(i % 3 == 0, F.concat(
        F.lit('<link rel="self" href="https://'), host,
        F.lit('/atom.xml"/><link rel="alternate" href="'), alt, F.lit('"/>'),
    )).when(i % 3 == 1, F.concat(
        F.lit('<link href="'), alt, F.lit('"/>'),
    )).otherwise(F.concat(
        F.lit('<link rel="enclosure" href="https://cdn.example/x'),
        i.cast("string"), F.lit('"/><link rel="alternate" href="'),
        alt, F.lit('"/>'),
    ))
    entry = F.concat(
        F.lit("<entry><title>Entry "), i.cast("string"),
        F.lit("</title><id>urn:a"), k, F.lit(":"), i.cast("string"),
        F.lit("</id>"), published,
        F.lit("<updated>"), iso((i + 1) % 24), F.lit("</updated>"),
        links, F.lit("</entry>\n"),
    )
    return (
        docs.select(host.alias("host"),
                    F.struct(i.alias("doc_id"), entry.alias("entry")).alias("e"))
        .groupBy("host")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list("e")), lambda s: s["entry"]),
            "").alias("body"))
        .select(
            F.concat(F.lit("https://"), F.col("host"),
                     F.lit("/atom.xml")).alias("feed_url"),
            F.concat(F.lit('<?xml version="1.0"?>'
                           '<feed xmlns="http://www.w3.org/2005/Atom">'
                           "<title>Feed</title>\n"),
                     F.col("body"), F.lit("</feed>")).alias("xml"),
        )
    )


_ATOM_TS_SQL = ("CASE WHEN doc_id % 2 = 0 THEN make_timestamp(2025, "
                "doc_id % 12 + 1, doc_id % 28 + 1, doc_id % 24, doc_id % 60, "
                "doc_id % 30) ELSE make_timestamp(2025, doc_id % 12 + 1, "
                "doc_id % 28 + 1, (doc_id + 1) % 24, doc_id % 60, "
                "doc_id % 30) END")


def q_atom_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atom ingestion (sources/feeds.py parse_atom): attribute-based
    <link> elements (rel=alternate preferred, bare href default,
    enclosures skipped) and published-over-updated timestamp
    preference, all via one JVM from_xml. Oracle closed-form."""
    from flyscrape_spark.sources.feeds import parse_atom

    return parse_atom(_synthetic_atom(spark, sf_dir))


def sql_atom_extract() -> str:
    return f"""
SELECT 'https://a' || (doc_id % {FD_HOSTS}) || '.example/atom.xml' AS feed_url,
       CAST(doc_id // {FD_HOSTS} AS INT) AS position,
       'https://a' || (doc_id % {FD_HOSTS}) || '.example/e/'
         || (doc_id % {FD_PATHS}) AS link,
       'urn:a' || (doc_id % {FD_HOSTS}) || ':' || doc_id AS guid,
       'Entry ' || doc_id AS title,
       {_ATOM_TS_SQL} AS pub_ts
FROM documents
"""


def q_feed_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed autodiscovery (operators/feeds.py): find
    <link type="application/rss+xml|atom+xml"> tags in page HTML,
    both attribute orders, stylesheet-link noise ignored. Pure JVM
    regexp + explode; oracle closed-form."""
    from flyscrape_spark.operators.feeds import feed_discovery

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.concat(F.lit("https://p"), (i % 9).cast("string"),
                   F.lit(".example/page/"), i.cast("string"))
    rss = F.when(i % 2 == 0, F.concat(
        F.lit('<link rel="alternate" type="application/rss+xml" '
              'href="/feed'), (i % 3).cast("string"), F.lit('.xml">'),
    )).otherwise(F.lit(""))
    atom = F.when(i % 3 == 0, F.concat(
        F.lit('<link href="https://p'), (i % 9).cast("string"),
        F.lit('.example/atom.xml" rel="alternate" '
              'type="application/atom+xml">'),
    )).otherwise(F.lit(""))
    html = F.concat(
        F.lit('<html><head><link rel="stylesheet" href="/main.css">'),
        rss, atom, F.lit("</head><body>x</body></html>"),
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    return feed_discovery(pages)


def sql_feed_discovery() -> str:
    url = "'https://p' || (doc_id % 9) || '.example/page/' || doc_id"
    return f"""
SELECT {url} AS url, '/feed' || (doc_id % 3) || '.xml' AS feed_url,
       'rss' AS feed_type
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT {url} AS url,
       'https://p' || (doc_id % 9) || '.example/atom.xml' AS feed_url,
       'atom' AS feed_type
FROM documents WHERE doc_id % 3 = 0
"""


def q_feed_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed seed planning (operators/feeds.py feed_seeds): RSS and
    Atom entries union into one schema, links canonicalized,
    per-(host,link) dedup (newest pub_ts wins — links repeat every
    240 ids), per-host recency ranking capped at the politeness
    budget. The whole XML round-trip + union + rank is under test."""
    from flyscrape_spark.operators.feeds import feed_seeds
    from flyscrape_spark.sources.feeds import parse_atom, parse_rss

    entries = parse_rss(_synthetic_rss(spark, sf_dir)).unionByName(
        parse_atom(_synthetic_atom(spark, sf_dir))
    )
    return feed_seeds(entries, per_host_cap=FD_CAP)


def sql_feed_seeds() -> str:
    return f"""
WITH ent AS (
  SELECT 'f' || (doc_id % {FD_HOSTS}) || '.example' AS host,
         'https://f' || (doc_id % {FD_HOSTS}) || '.example/post/'
           || (doc_id % {FD_PATHS}) AS link,
         {_RSS_TS_SQL} AS pub_ts
  FROM documents
  UNION ALL
  SELECT 'a' || (doc_id % {FD_HOSTS}) || '.example' AS host,
         'https://a' || (doc_id % {FD_HOSTS}) || '.example/e/'
           || (doc_id % {FD_PATHS}) AS link,
         {_ATOM_TS_SQL} AS pub_ts
  FROM documents
),
per_url AS (
  SELECT host, link, max(pub_ts) AS pub_ts FROM ent GROUP BY 1, 2
),
ranked AS (
  SELECT host, link, pub_ts,
         CAST(row_number() OVER (
           PARTITION BY host ORDER BY pub_ts DESC NULLS LAST, link ASC
         ) AS BIGINT) AS seed_rank
  FROM per_url
)
SELECT host, link, pub_ts, seed_rank FROM ranked
WHERE seed_rank <= {FD_CAP}
"""


FD_MIN_INTERVAL = 900
FD_MAX_INTERVAL = 86400


def q_feed_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed publishing cadence (operators/feeds.py feed_cadence):
    per-feed entry count, first/last publish, interpolated median
    inter-entry gap, and the politeness-clamped recrawl interval
    (half the median gap). One lag window + one groupBy on the same
    key — the corpus shuffles once."""
    from flyscrape_spark.operators.feeds import feed_cadence
    from flyscrape_spark.sources.feeds import parse_rss

    return feed_cadence(
        parse_rss(_synthetic_rss(spark, sf_dir)),
        min_interval_s=FD_MIN_INTERVAL,
        max_interval_s=FD_MAX_INTERVAL,
    )


def sql_feed_cadence() -> str:
    return f"""
WITH ent AS (
  SELECT 'https://f' || (doc_id % {FD_HOSTS})
           || '.example/feed.xml' AS feed_url,
         {_RSS_TS_SQL} AS pub_ts
  FROM documents
),
g AS (
  SELECT feed_url, pub_ts,
         epoch(pub_ts) - epoch(lag(pub_ts) OVER w) AS gap_s
  FROM ent WINDOW w AS (PARTITION BY feed_url ORDER BY pub_ts)
),
s AS (
  SELECT feed_url, count(*) AS n_entries, min(pub_ts) AS first_ts,
         max(pub_ts) AS last_ts, round(median(gap_s), 3) AS median_gap_s
  FROM g GROUP BY 1
)
SELECT feed_url, n_entries, first_ts, last_ts, median_gap_s,
       CASE WHEN median_gap_s IS NULL THEN CAST({FD_MAX_INTERVAL} AS BIGINT)
            ELSE greatest({FD_MIN_INTERVAL},
                          least({FD_MAX_INTERVAL},
                                CAST(round(median_gap_s / 2) AS BIGINT)))
       END AS fetch_interval_s
FROM s
"""


# ---------------------------------------------------------------------------
# Crawl-ops batch: ETag stability, robots churn, budget water-filling
# ---------------------------------------------------------------------------

ET_URLS = 120
ET_HOSTS = 8


def q_etag_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ETag usability audit (operators/recrawl.py etag_stability):
    each doc_id is one fetch event of url doc_id%120 — urls cycle
    rotating (every fetch a new ETag) / stable / missing by url%5 —
    rolled up to the per-host conditional-GET switch. Two combinable
    groupBys; oracle closed-form."""
    from flyscrape_spark.operators.recrawl import etag_stability

    docs = load(spark, sf_dir, "documents")
    m = F.col("doc_id") % ET_URLS
    etag = (
        F.when(m % 5 == 0, F.concat(F.lit('W/"'),
                                    F.col("doc_id").cast("string"),
                                    F.lit('"')))
        .when(m % 5 <= 2, F.concat(F.lit('"e'), m.cast("string"),
                                   F.lit('"')))
    )
    log = docs.select(
        F.concat(F.lit("https://h"), (m % ET_HOSTS).cast("string"),
                 F.lit(".example/u/"), m.cast("string")).alias("url"),
        F.concat(F.lit("h"), (m % ET_HOSTS).cast("string"),
                 F.lit(".example")).alias("host"),
        etag.alias("etag"),
    )
    return etag_stability(log)


def sql_etag_stability() -> str:
    return f"""
WITH ev AS (
  SELECT doc_id % {ET_URLS} AS m,
         CASE WHEN (doc_id % {ET_URLS}) % 5 = 0
              THEN 'W/"' || doc_id || '"'
              WHEN (doc_id % {ET_URLS}) % 5 <= 2
              THEN '"e' || (doc_id % {ET_URLS}) || '"' END AS etag
  FROM documents
),
per_url AS (
  SELECT 'h' || (m % {ET_HOSTS}) || '.example' AS host, m,
         count(DISTINCT etag) AS n_etags
  FROM ev GROUP BY 1, 2
),
cls AS (
  SELECT host,
         CASE WHEN n_etags = 0 THEN 'missing'
              WHEN n_etags = 1 THEN 'stable' ELSE 'rotating' END AS c
  FROM per_url
)
SELECT host, count(*) AS n_urls,
       CAST(sum(CASE WHEN c = 'stable' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stable,
       CAST(sum(CASE WHEN c = 'rotating' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rotating,
       CAST(sum(CASE WHEN c = 'missing' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing,
       round(sum(CASE WHEN c = 'rotating' THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS rotate_rate,
       sum(CASE WHEN c = 'stable' THEN 1 ELSE 0 END)
         > sum(CASE WHEN c = 'rotating' THEN 1 ELSE 0 END)
         AS use_conditional_get
FROM cls GROUP BY host
"""


RC_HOSTS = 30


def q_robots_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-policy churn (operators/robots.py robots_churn):
    deterministic old/new robots.txt per host — new drops /p0 on
    k%5==0 and adds /q0 on k%3==0, with Allow/Crawl-delay noise lines
    the Disallow diff must ignore. The oracle computes the expected
    diff closed-form from k, so the multiline regexp extraction +
    array diff is what's under test."""
    from flyscrape_spark.operators.robots import robots_churn

    docs = load(spark, sf_dir, "documents")
    hosts = docs.select(
        (F.col("doc_id") % RC_HOSTS).alias("k")
    ).distinct()
    k = F.col("k")
    host = F.concat(F.lit("r"), k.cast("string"), F.lit(".example"))
    # NB: F.sequence(a, b) is DESCENDING when a > b, never empty —
    # generate 0..k%4 and filter, so lo > hi yields no lines
    dis = lambda lo: F.concat_ws(
        "\n",
        F.transform(
            F.filter(F.sequence(F.lit(0), k % 4), lambda j: j >= lo),
            lambda j: F.concat(F.lit("Disallow: /p"), j.cast("string")),
        ),
    )
    old_body = F.concat(
        F.lit("User-agent: *\nAllow: /pub\n"), dis(F.lit(0)),
        F.lit("\nCrawl-delay: 2\n"),
    )
    new_extra = F.when(
        k % 3 == 0, F.lit("\nDisallow: /q0")
    ).otherwise(F.lit(""))
    new_body = F.concat(
        F.lit("User-agent: *\nAllow: /pub\n"),
        dis(F.when(k % 5 == 0, F.lit(1)).otherwise(F.lit(0))),
        new_extra, F.lit("\n"),
    )
    old = hosts.select(host.alias("host"), old_body.alias("body"))
    new = hosts.select(host.alias("host"), new_body.alias("body"))
    return robots_churn(old, new)


def sql_robots_churn() -> str:
    return f"""
WITH ks AS (SELECT DISTINCT doc_id % {RC_HOSTS} AS k FROM documents),
d AS (
  SELECT k, 'r' || k || '.example' AS host,
         CAST(k % 4 + 1 AS INT) AS n_old,
         CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS rem_p0,
         CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END AS add_q
  FROM ks
)
SELECT host, n_old,
       CAST(n_old - rem_p0 + add_q AS INT) AS n_new,
       CAST(add_q AS INT) AS added, CAST(rem_p0 AS INT) AS removed,
       CASE WHEN add_q = 0 AND rem_p0 = 0 THEN 'same'
            WHEN add_q > rem_p0 THEN 'tightened'
            WHEN rem_p0 > add_q THEN 'loosened'
            ELSE 'mixed' END AS direction
FROM d
"""


WF_HOSTS = 40
WF_BUDGET = 600


def q_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact max-min water-filling of a global fetch budget
    (operators/budget.py waterfill): the distributed two-phase
    prefix-sum pivot search against an independent window-function
    oracle that re-derives the water level with a global sort."""
    from flyscrape_spark.operators.budget import waterfill

    docs = load(spark, sf_dir, "documents")
    hosts = docs.select((F.col("doc_id") % WF_HOSTS).alias("k")).distinct()
    k = F.col("k")
    return waterfill(
        hosts.select(
            F.concat(F.lit("b"), k.cast("string"), F.lit(".example")).alias(
                "host"
            ),
            ((k * 37) % 101 + 5).alias("demand"),
            ((k % 7 + 1) * 10).alias("cap"),
        ),
        budget=WF_BUDGET,
    )


def sql_budget_waterfill() -> str:
    return f"""
WITH ks AS (SELECT DISTINCT doc_id % {WF_HOSTS} AS k FROM documents),
hosts AS (
  SELECT 'b' || k || '.example' AS host,
         CAST((k * 37) % 101 + 5 AS BIGINT) AS demand,
         CAST((k % 7 + 1) * 10 AS BIGINT) AS cap
  FROM ks
),
c AS (SELECT host, demand, cap, least(demand, cap) AS c FROM hosts),
o AS (
  SELECT *, row_number() OVER (ORDER BY c, host) AS k,
         coalesce(sum(c) OVER (ORDER BY c, host
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_excl
  FROM c
),
tot AS (SELECT count(*) AS n, sum(c) AS s FROM c),
cand AS (
  SELECT ({WF_BUDGET} - s_excl) * 1.0 / (n - k + 1) AS t, k
  FROM o CROSS JOIN tot
  WHERE ({WF_BUDGET} - s_excl) * 1.0 / (n - k + 1) <= c
),
lvl AS (
  SELECT CASE WHEN (SELECT s FROM tot) <= {WF_BUDGET} THEN NULL
              ELSE (SELECT t FROM cand ORDER BY k LIMIT 1) END AS t
)
SELECT host, demand, cap,
       round(CASE WHEN t IS NULL THEN c * 1.0
                  ELSE least(c * 1.0, t) END, 6) AS alloc,
       (t IS NULL OR c * 1.0 <= t) AS capped
FROM c CROSS JOIN lvl
"""


def q_sitemap_index_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-index ingestion (sources/sitemaps.py
    parse_sitemap_index): build each host's <sitemapindex> XML listing
    its child sitemaps, parse it back JVM-side into
    (host, sitemap_url, lastmod) rows ready for the transport ->
    parse_sitemaps recursion. Oracle closed-form."""
    from flyscrape_spark.sources.sitemaps import parse_sitemap_index

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    host = F.concat(F.lit("i"), (i % SM_HOSTS).cast("string"),
                    F.lit(".example"))
    entry = F.concat(
        F.lit("<sitemap><loc>https://"), host, F.lit("/sm/"),
        i.cast("string"), F.lit(".xml</loc><lastmod>2026-02-"),
        F.lpad((i % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod></sitemap>\n"),
    )
    indexes = (
        docs.select(host.alias("host"), entry.alias("entry"))
        .groupBy("host")
        .agg(F.array_join(F.collect_list("entry"), "").alias("body"))
        .select(
            "host",
            F.concat(F.lit('<?xml version="1.0"?>\n<sitemapindex>\n'),
                     F.col("body"), F.lit("</sitemapindex>")).alias("xml"),
        )
    )
    return parse_sitemap_index(indexes)


def sql_sitemap_index_extract() -> str:
    return f"""
SELECT 'i' || (doc_id % {SM_HOSTS}) || '.example' AS host,
       'https://i' || (doc_id % {SM_HOSTS}) || '.example/sm/' || doc_id
         || '.xml' AS sitemap_url,
       '2026-02-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
         AS lastmod
FROM documents
"""


CD_HOSTS = 12


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot churn report (operators/recrawl.py crawl_diff):
    old snapshot omits doc_id%10==9 (new URLs), new snapshot omits
    doc_id%10==4 (gone URLs), content hash rotates on doc_id%7==0
    (changed). Full-outer url join + one combinable host rollup;
    oracle computes the per-URL status closed-form."""
    from flyscrape_spark.operators.recrawl import crawl_diff

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    host = F.concat(F.lit("c"), (i % CD_HOSTS).cast("string"),
                    F.lit(".example"))
    url = F.concat(F.lit("https://"), host, F.lit("/d/"), i.cast("string"))
    old = docs.filter(i % 10 != 9).select(
        host.alias("host"), url.alias("url"),
        F.concat(F.lit("h"), (i % 97).cast("string")).alias("content_hash"),
    )
    new = docs.filter(i % 10 != 4).select(
        host.alias("host"), url.alias("url"),
        F.concat(
            F.lit("h"),
            F.when(i % 7 == 0, (i % 97) + 1).otherwise(i % 97).cast("string"),
        ).alias("content_hash"),
    )
    return crawl_diff(old, new)


def sql_crawl_diff() -> str:
    return f"""
WITH st AS (
  SELECT 'c' || (doc_id % {CD_HOSTS}) || '.example' AS host,
         CASE WHEN doc_id % 10 = 9 THEN 'new'
              WHEN doc_id % 10 = 4 THEN 'gone'
              WHEN doc_id % 7 = 0 THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM documents
)
SELECT host, count(*) AS n_urls,
       CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(sum(CASE WHEN status = 'gone' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gone,
       CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unchanged,
       round(1.0 - sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS churn_rate
FROM st GROUP BY host
"""


EA_HOSTS = 10


def q_charset_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset declaration audit (operators/encoding.py): header
    charset (incl. quoted/case variants) vs document meta charset
    (HTML5 form + legacy http-equiv), per-host mismatch and
    undeclared rates. Three JVM regexes + one combinable groupBy;
    oracle closed-form."""
    from flyscrape_spark.operators.encoding import charset_audit

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    host = F.concat(F.lit("e"), (i % EA_HOSTS).cast("string"),
                    F.lit(".example"))
    ctype = (
        F.when(i % 4 == 0, F.lit("text/html; charset=UTF-8"))
        .when(i % 4 == 1, F.lit('text/html; CHARSET="iso-8859-1"'))
        .when(i % 4 == 2, F.lit("text/html"))
        .otherwise(F.lit("text/html; charset=utf-8"))
    )
    meta = (
        F.when(i % 5 == 0, F.lit('<meta charset="utf-8">'))
        .when(i % 5 == 1, F.lit('<meta http-equiv="Content-Type" '
                                'content="text/html; '
                                'charset=windows-1252">'))
        .when(i % 5 == 2, F.lit("<meta charset=ISO-8859-1>"))
        .otherwise(F.lit(""))
    )
    pages = docs.select(
        host.alias("host"), ctype.alias("content_type"),
        F.concat(F.lit("<html><head>"), meta,
                 F.lit("</head><body>x</body></html>")).alias("html"),
    )
    return charset_audit(pages)


def sql_charset_audit() -> str:
    return f"""
WITH sig AS (
  SELECT 'e' || (doc_id % {EA_HOSTS}) || '.example' AS host,
         CASE WHEN doc_id % 4 = 0 THEN 'utf-8'
              WHEN doc_id % 4 = 1 THEN 'iso-8859-1'
              WHEN doc_id % 4 = 3 THEN 'utf-8' END AS hdr,
         CASE WHEN doc_id % 5 = 0 THEN 'utf-8'
              WHEN doc_id % 5 = 1 THEN 'windows-1252'
              WHEN doc_id % 5 = 2 THEN 'iso-8859-1' END AS meta
  FROM documents
)
SELECT host, count(*) AS n_pages,
       CAST(sum(CASE WHEN hdr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_header,
       CAST(sum(CASE WHEN meta IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_meta,
       CAST(sum(CASE WHEN hdr IS NOT NULL AND meta IS NOT NULL
                      AND hdr <> meta THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatch,
       CAST(sum(CASE WHEN hdr IS NULL AND meta IS NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_undeclared,
       round(sum(CASE WHEN hdr IS NOT NULL AND meta IS NOT NULL
                       AND hdr <> meta THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS mismatch_rate
FROM sig GROUP BY host
"""


# ---------------------------------------------------------------------------
# Cycle planning batch: composed fetch plan, shard balance, discovery mix
# ---------------------------------------------------------------------------

CP_HOSTS = 25
CP_BUDGET = 300
CP_CYCLE_S = 60.0


def _sql_waterfill_plan(hosts_sql: str, budget: int,
                        coverage: bool = False) -> str:
    """DuckDB water-filling oracle over a ``hosts(host, demand, cap)``
    CTE body — re-derives the level independently with a global-sort
    window (the Spark side uses the two-phase prefix-sum search)."""
    cov = (
        ",\n       round(round(CASE WHEN t IS NULL THEN c * 1.0"
        " ELSE least(c * 1.0, t) END, 6) / demand, 6) AS coverage"
        if coverage else ""
    )
    return f"""
WITH hosts AS ({hosts_sql}),
c AS (SELECT host, demand, cap, least(demand, cap) AS c FROM hosts),
o AS (
  SELECT *, row_number() OVER (ORDER BY c, host) AS k,
         coalesce(sum(c) OVER (ORDER BY c, host
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_excl
  FROM c
),
tot AS (SELECT count(*) AS n, sum(c) AS s FROM c),
cand AS (
  SELECT ({budget} - s_excl) * 1.0 / (n - k + 1) AS t, k
  FROM o CROSS JOIN tot
  WHERE ({budget} - s_excl) * 1.0 / (n - k + 1) <= c
),
lvl AS (
  SELECT CASE WHEN (SELECT s FROM tot) <= {budget} THEN NULL
              ELSE (SELECT t FROM cand ORDER BY k LIMIT 1) END AS t
)
SELECT host, demand, cap,
       round(CASE WHEN t IS NULL THEN c * 1.0
                  ELSE least(c * 1.0, t) END, 6) AS alloc,
       (t IS NULL OR c * 1.0 <= t) AS capped{cov}
FROM c CROSS JOIN lvl
"""


def q_cycle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed next-cycle fetch plan (operators/budget.py
    cycle_plan): frontier backlog -> per-host demand, adaptive
    politeness delays -> per-host ceiling (floor(cycle/delay)),
    global budget split by exact water-filling, coverage = served
    backlog fraction. The full scheduling loop in one query."""
    from flyscrape_spark.operators.budget import cycle_plan

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    host = F.concat(F.lit("w"), (i % CP_HOSTS).cast("string"),
                    F.lit(".example"))
    frontier = docs.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, F.lit("/q/"),
                 i.cast("string")).alias("url"),
    )
    ks = docs.select((i % CP_HOSTS).alias("k")).distinct()
    delays = ks.select(
        F.concat(F.lit("w"), F.col("k").cast("string"),
                 F.lit(".example")).alias("host"),
        ((F.col("k") % 5 + 1) * 1.5).alias("adjusted_delay_s"),
    )
    return cycle_plan(
        frontier, delays, budget=CP_BUDGET, cycle_s=CP_CYCLE_S
    )


def sql_cycle_plan() -> str:
    hosts = f"""
  SELECT 'w' || (doc_id % {CP_HOSTS}) || '.example' AS host,
         count(*) AS demand,
         CAST(floor({CP_CYCLE_S} /
              (((doc_id % {CP_HOSTS}) % 5 + 1) * 1.5)) AS BIGINT) AS cap
  FROM documents GROUP BY 1, 3
"""
    return _sql_waterfill_plan(hosts, CP_BUDGET, coverage=True)


SH_HOSTS = 60
SH_SHARDS = 8


def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier sharding report (operators/budget.py
    shard_assignment): hosts hash-partitioned across crawler shards
    (portable hash so the oracle reproduces the mapping; production
    uses xxhash64), per-shard host/URL load and balance factor."""
    from flyscrape_spark.functions.hashing import portable_hash64
    from flyscrape_spark.operators.budget import shard_assignment

    docs = load(spark, sf_dir, "documents")
    ks = docs.select((F.col("doc_id") % SH_HOSTS).alias("k")).distinct()
    hosts = ks.select(
        F.concat(F.lit("s"), F.col("k").cast("string"),
                 F.lit(".example")).alias("host"),
        ((F.col("k") * 31) % 83 + 1).alias("n_urls"),
    )
    return shard_assignment(hosts, n_shards=SH_SHARDS,
                            hash_fn=portable_hash64)


def sql_shard_assignment() -> str:
    from flyscrape_spark.functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("host")
    return f"""
WITH ks AS (SELECT DISTINCT doc_id % {SH_HOSTS} AS k FROM documents),
hosts AS (
  SELECT 's' || k || '.example' AS host,
         CAST((k * 31) % 83 + 1 AS BIGINT) AS n_urls
  FROM ks
),
per AS (
  SELECT CAST({h} % {SH_SHARDS} AS INT) AS shard,
         count(*) AS n_hosts, CAST(sum(n_urls) AS BIGINT) AS n_urls
  FROM hosts GROUP BY 1
),
tot AS (SELECT sum(n_urls) AS total FROM per)
SELECT shard, n_hosts, n_urls,
       round(n_urls * {SH_SHARDS} / total, 6) AS load_factor
FROM per CROSS JOIN tot
"""


DM_HOSTS = 14


def q_discovery_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery-channel attribution (operators/discovery.py):
    each URL credited to its FIRST discovery (earliest generation,
    channel priority seed < sitemap < feed < link on ties) — the
    fixture emits later-generation duplicate events (must not steal
    credit) and same-generation ties (priority must win). Oracle
    computes the winning channel closed-form."""
    from flyscrape_spark.operators.discovery import discovery_mix

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    m = i % 10
    host = F.concat(F.lit("d"), (i % DM_HOSTS).cast("string"),
                    F.lit(".example"))
    url = F.concat(F.lit("https://"), host, F.lit("/x/"), i.cast("string"))
    ch1 = (
        F.when(m == 0, F.lit("seed"))
        .when(m <= 2, F.lit("sitemap"))
        .when(m <= 4, F.lit("feed"))
        .otherwise(F.lit("link"))
    )
    g1 = (
        F.when(m == 0, F.lit(0))
        .when(m <= 2, F.lit(0))
        .when(m <= 4, F.lit(1))
        .otherwise(1 + i % 3)
    ).cast("long")
    e1 = docs.select(url.alias("url"), host.alias("host"),
                     ch1.alias("channel"), g1.alias("gen"))
    # later-generation duplicate: never wins
    e2 = docs.filter(i % 6 == 0).select(
        url.alias("url"), host.alias("host"),
        F.lit("link").alias("channel"), F.lit(10).cast("long").alias("gen"),
    )
    # same-generation tie for doc_id % 30 == 15 (link@1 vs sitemap@1)
    e3 = docs.filter(i % 15 == 0).select(
        url.alias("url"), host.alias("host"),
        F.lit("sitemap").alias("channel"),
        F.lit(1).cast("long").alias("gen"),
    )
    return discovery_mix(e1.unionByName(e2).unionByName(e3))


def sql_discovery_mix() -> str:
    return f"""
WITH first AS (
  SELECT 'd' || (doc_id % {DM_HOSTS}) || '.example' AS host,
         CASE WHEN doc_id % 10 = 0 THEN 'seed'
              WHEN doc_id % 10 <= 2 THEN 'sitemap'
              WHEN doc_id % 10 <= 4 THEN 'feed'
              WHEN doc_id % 30 = 15 THEN 'sitemap'
              ELSE 'link' END AS channel
  FROM documents
)
SELECT host, count(*) AS n_urls,
       CAST(sum(CASE WHEN channel = 'seed' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_seed,
       CAST(sum(CASE WHEN channel = 'sitemap' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sitemap,
       CAST(sum(CASE WHEN channel = 'feed' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_feed,
       CAST(sum(CASE WHEN channel = 'link' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_link,
       round(sum(CASE WHEN channel = 'link' THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS link_share
FROM first GROUP BY host
"""


BP_HOSTS = 6


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped boilerplate removal (operators/segments.py
    strip_host_boilerplate): every host's nav/footer template lines
    (and, for even hosts, a third banner line present on every page)
    are stripped, the unique body line survives. Oracle closed-form
    from the parity structure (doc parity == host parity since
    6 | (doc_id - host))."""
    from flyscrape_spark.operators.segments import strip_host_boilerplate

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    k = i % BP_HOSTS
    host = F.concat(F.lit("g"), k.cast("string"), F.lit(".example"))
    sale = F.when(i % 2 == 0, F.lit("seasonal sale\n")).otherwise(F.lit(""))
    text = F.concat(
        F.lit("menu home about\nbody "), i.cast("string"), F.lit("\n"),
        sale,
        F.lit("footer g"), k.cast("string"),
    )
    pages = docs.select(i.alias("doc_id"), host.alias("host"),
                        text.alias("text"))
    return strip_host_boilerplate(pages, min_docs=5)


def sql_boilerplate_strip() -> str:
    return f"""
SELECT doc_id, 'g' || (doc_id % {BP_HOSTS}) || '.example' AS host,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS BIGINT)
         AS n_lines,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS BIGINT)
         AS n_removed,
       'body ' || doc_id AS clean_text
FROM documents
"""


LD_HOSTS = 9


def q_lang_declared_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language audit (operators/encoding.py
    declared_lang_audit): <html lang> (with BCP 47 region subtags and
    a deliberately-wrong 'zz' on ids % 7 == 0, absent on ids % 11 ==
    0) against the marker-heuristic detector, per host. The oracle
    re-derives the detector's prediction with the shared SQL twin."""
    from flyscrape_spark.operators.encoding import declared_lang_audit

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    host = F.concat(F.lit("l"), (i % LD_HOSTS).cast("string"),
                    F.lit(".example"))
    attr = (
        F.when(i % 7 == 0, F.lit("zz"))
        .otherwise(F.col("lang"))
    )
    attr = F.when(i % 3 == 0, F.concat(attr, F.lit("-US"))).otherwise(attr)
    html = F.when(i % 11 == 0, F.lit("<html><head></head>")).otherwise(
        F.concat(F.lit('<html lang="'), attr, F.lit('"><head></head>'))
    )
    pages = docs.select(host.alias("host"), html.alias("html"), "text")
    return declared_lang_audit(pages)


def sql_lang_declared_audit() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, lang, string_split({_NORM_SQL}, ' ') AS toks,
         'l' || (doc_id % {LD_HOSTS}) || '.example' AS host
  FROM documents
),
sig AS (
  SELECT host,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              WHEN doc_id % 7 = 0 THEN 'zz'
              ELSE lower(lang) END AS declared,
         {_sql_lang_pred()} AS detected
  FROM base
)
SELECT host, count(*) AS n_pages,
       CAST(sum(CASE WHEN declared IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_declared,
       CAST(sum(CASE WHEN declared IS NOT NULL AND declared <> detected
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       round(sum(CASE WHEN declared IS NOT NULL AND declared <> detected
                 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS mismatch_rate
FROM sig GROUP BY host
"""


# ---------------------------------------------------------------------------
# Export/packing batch: byte shards, canonical pick, interleaved packing
# ---------------------------------------------------------------------------

SHARD_BYTES = 20000


def q_byte_packed_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced contiguous export shards (operators/mixing.py
    byte_packed_shards): docs concatenated in doc_id order, cut every
    SHARD_BYTES, whole-doc placement at the start shard. Two-phase
    prefix sums vs the oracle's global-window cumsum."""
    from flyscrape_spark.operators.mixing import byte_packed_shards

    return byte_packed_shards(
        load(spark, sf_dir, "documents"), shard_bytes=SHARD_BYTES
    )


def sql_byte_packed_shards() -> str:
    return f"""
WITH c AS (
  SELECT doc_id, n_chars,
         CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum
  FROM documents
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_bytes,
       cum // {SHARD_BYTES} AS shard_id,
       cum % {SHARD_BYTES} AS offset
FROM c
"""


def q_dup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document election per near-dup cluster
    (operators/cluster.py canonical_pick): longest-copy-wins with
    doc-id tie-break over the SimHash component labels — the "which
    duplicate do we keep" step of the dedup pass, one combinable
    min-struct groupBy."""
    from flyscrape_spark.operators.cluster import canonical_pick

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_dup(docs, bits=16, bands=4, max_distance=3)
    labeled = cluster.dedup_clusters(docs, pairs).select(
        "doc_id", "cluster_id"
    )
    return canonical_pick(
        labeled.join(docs.select("doc_id", "n_chars"), "doc_id")
    )


def sql_dup_canonical_pick() -> str:
    return f"""
WITH labeled AS ({sql_dedup_clusters()}),
q AS (
  SELECT l.cluster_id, l.doc_id, d.n_chars
  FROM labeled l JOIN documents d USING (doc_id)
),
r AS (
  SELECT cluster_id, doc_id, n_chars,
         row_number() OVER (PARTITION BY cluster_id
           ORDER BY n_chars DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM q
)
SELECT cluster_id, doc_id AS keeper_doc_id,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(cluster_size - 1 AS BIGINT) AS n_discarded,
       CAST(n_chars AS BIGINT) AS keeper_quality
FROM r WHERE rn = 1
"""


IP_SEQ_LEN = 8192
IP_MEDIA_TOKENS = 576


def q_interleave_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved multimodal sequence packing
    (operators/multimodal.py interleave_pack): span rows (one text
    span per doc + doc_id%3 media spans) costed at text tokens +
    576/image (LLaVA ViT-L/14-336 patch budget) and packed into
    8192-token windows — the MMC4-style dataloader layout for the
    graft's interleaved payload."""
    from flyscrape_spark.operators.multimodal import interleave_pack

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    text_spans = docs.select(
        "doc_id", F.lit("text").alias("kind"), F.col("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )
    media_spans = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                # fixed 1..2 then filter: sequence(1, i%3) would be
                # DESCENDING (never empty) when i%3 == 0
                F.filter(F.sequence(F.lit(1), F.lit(2)),
                         lambda j: j <= i % 3),
                lambda j: F.concat(F.lit("img://"), i.cast("string"),
                                   F.lit("/"), j.cast("string")),
            )
        ).alias("media_ref"),
    ).select(
        "doc_id", F.lit("media").alias("kind"),
        F.lit("").alias("text"), "media_ref",
    )
    spans = text_spans.unionByName(media_spans)
    return interleave_pack(
        spans, seq_len=IP_SEQ_LEN, tokens_per_media=IP_MEDIA_TOKENS
    )


def sql_interleave_pack() -> str:
    return f"""
WITH t AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
           AS n_text_tokens,
         CAST(doc_id % 3 AS BIGINT) AS n_media
  FROM documents
),
w AS (
  SELECT *, n_text_tokens + n_media * {IP_MEDIA_TOKENS} AS n_tokens FROM t
),
c AS (
  SELECT *,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM w
)
SELECT doc_id, n_text_tokens, n_media, n_tokens, cum_before,
       cum_before // {IP_SEQ_LEN} AS seq_start,
       (cum_before + n_tokens - 1) // {IP_SEQ_LEN} AS seq_end,
       cum_before % {IP_SEQ_LEN} AS offset
FROM c
"""


# ---------------------------------------------------------------------------
# Final round-4 pair: priority dequeue, politeness resolution
# ---------------------------------------------------------------------------

FT_N = 120


def q_frontier_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-queue dequeue (plans/frontier.py take_front): the
    next N pending URLs in the canonical (depth, discovery_order)
    crawl order — compiles to TakeOrderedAndProject (per-partition
    n-row heaps, NO global sort; plan-audited). Oracle is the literal
    ORDER BY ... LIMIT."""
    from flyscrape_spark.plans.frontier import take_front

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    frontier = docs.select(
        _doc_url(i).alias("url"),
        (i % 5).cast("int").alias("depth"),
        i.alias("discovery_order"),
    )
    return take_front(frontier, FT_N)


def sql_frontier_take() -> str:
    return f"""
SELECT {_doc_url_sql('doc_id')} AS url,
       CAST(doc_id % 5 AS INT) AS depth,
       doc_id AS discovery_order
FROM documents
ORDER BY depth, discovery_order
LIMIT {FT_N}
"""


ED_HOSTS = 20
ED_DEFAULT = 1.0


def q_effective_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness resolution (operators/politeness.py
    effective_delay): strictest-of robots Crawl-delay / adaptive
    delay / default per host, with the winning signal named (ties
    prefer the explicit robots ask). Hosts k%4==0 publish no
    Crawl-delay; k%6==0 appear only in the robots table (full-outer
    edge). Oracle closed-form."""
    from flyscrape_spark.operators.politeness import effective_delay

    docs = load(spark, sf_dir, "documents")
    ks = docs.select((F.col("doc_id") % ED_HOSTS).alias("k")).distinct()
    k = F.col("k")
    host = F.concat(F.lit("p"), k.cast("string"), F.lit(".example"))
    robots = ks.select(
        host.alias("host"),
        F.when(k % 4 == 0, F.lit(None).cast("double"))
        .otherwise((k % 5).cast("double")).alias("crawl_delay"),
    )
    adaptive = ks.filter(k % 6 != 0).select(
        host.alias("host"),
        (0.5 + (k % 3).cast("double") * 1.25).alias("adjusted_delay_s"),
    )
    return effective_delay(robots, adaptive, default_delay_s=ED_DEFAULT)


def sql_effective_delay() -> str:
    return f"""
WITH ks AS (SELECT DISTINCT doc_id % {ED_HOSTS} AS k FROM documents),
sig AS (
  SELECT 'p' || k || '.example' AS host,
         CASE WHEN k % 4 = 0 THEN NULL
              ELSE CAST(k % 5 AS DOUBLE) END AS robots_delay_s,
         CASE WHEN k % 6 = 0 THEN NULL
              ELSE 0.5 + (k % 3) * 1.25 END AS adaptive_delay_s
  FROM ks
),
r AS (
  SELECT *, greatest(coalesce(robots_delay_s, 0),
                     coalesce(adaptive_delay_s, 0),
                     {ED_DEFAULT}) AS eff
  FROM sig
)
SELECT host, robots_delay_s, adaptive_delay_s,
       round(eff, 4) AS effective_delay_s,
       CASE WHEN coalesce(robots_delay_s, 0) >= eff THEN 'robots'
            WHEN coalesce(adaptive_delay_s, 0) >= eff THEN 'adaptive'
            ELSE 'default' END AS source
FROM r
"""
