"""Recrawl scheduling: diff two crawl snapshots by content hash and
label every URL new / changed / unchanged / gone — the table an
incremental crawler turns into its next fetch list (changed+new →
refetch, gone → tombstone, unchanged → extend the revisit interval).

The reference crawls once and exits (its cache module can *resume*
an identical crawl, /root/reference/modules/cache/cache.go, but has
no notion of diffing two completed crawls); this is engine-added for
the continuous-crawl design point, composing with
sources/snapshots.py (each SnapshotStore generation IS such a
snapshot).

Scale shape: ONE full-outer equi-join on the page key, linear in
both snapshots. At 10^10 URLs both snapshot tables can be bucketed
on the same key so the join is shuffle-free on both sides; here the
plan is the plain two-shuffle sort-merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def snapshot_delta(
    current: DataFrame,
    previous: DataFrame,
    key: str = "doc_id",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Label each key across two (key, content_hash) snapshots.

    Returns (key, status, refetch) where status ∈
    {new, changed, unchanged, gone} and refetch is the scheduling
    decision (true for new/changed).
    """
    cur = current.select(F.col(key), F.col(hash_col).alias("_cur"))
    prev = previous.select(F.col(key), F.col(hash_col).alias("_prev"))
    status = (
        F.when(F.col("_prev").isNull(), F.lit("new"))
        .when(F.col("_cur").isNull(), F.lit("gone"))
        .when(F.col("_cur") == F.col("_prev"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return cur.join(prev, key, "full_outer").select(
        key,
        status.alias("status"),
        status.isin("new", "changed").alias("refetch"),
    )


def change_rate(
    history: DataFrame,
    horizon: float = 86400.0,
    key_col: str = "url",
    ts_col: str = "fetch_ts",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Per-URL Poisson change-rate estimate from a fetch history —
    the signal an incremental crawler schedules refresh by (Cho &
    Garcia-Molina, "Estimating Frequency of Change", TOIT 2003).

    Input: (url, fetch_ts: double seconds, content_hash) with one row
    per observation of each URL. Output per URL:
      n_intervals   consecutive-fetch pairs observed
      n_changes     pairs whose content hash differed
      lambda_hat    the bias-reduced estimator
                    -ln((n - X + 0.5) / (n + 0.5)) / mean_interval
                    (changes per second; 0 when never changed)
      next_due      last fetch + min(1/lambda_hat, horizon) — never
                    wait longer than ``horizon`` even for static pages
                    (rounded to 4dp; lambda_hat to 10dp)

    Scale shape: ONE shuffle on url shared by the lag window and the
    per-url aggregate (same partitioning, Catalyst reuses the
    exchange — the events_sessionize pattern). History tables are
    append-only fetch logs; at 10^10 URLs × K observations this is a
    linear scan + linear shuffle.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("ts")
    obs = history.select(
        F.col(key_col).alias("url"),
        F.col(ts_col).cast("double").alias("ts"),
        F.col(hash_col).alias("h"),
    ).select(
        "url", "ts",
        (F.col("h") != F.lag("h").over(w)).alias("changed"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    agg = obs.groupBy("url").agg(
        F.count("prev_ts").alias("n_intervals"),
        F.sum(F.when(F.col("changed"), 1).otherwise(0)).alias("n_changes"),
        F.max("ts").alias("last_ts"),
        F.min("ts").alias("first_ts"),
    )
    n = F.col("n_intervals").cast("double")
    x = F.col("n_changes").cast("double")
    mean_iv = (F.col("last_ts") - F.col("first_ts")) / n
    lam = F.when(
        (F.col("n_intervals") > 0) & (F.col("n_changes") > 0),
        -F.log((n - x + F.lit(0.5)) / (n + F.lit(0.5))) / mean_iv,
    ).otherwise(F.lit(0.0))
    return agg.select(
        "url", "n_intervals", "n_changes",
        F.round(lam, 10).alias("lambda_hat"),
        F.round(
            F.col("last_ts")
            + F.when(F.round(lam, 10) > 0,
                     F.least(F.lit(1.0) / F.round(lam, 10), F.lit(horizon)))
            .otherwise(F.lit(horizon)),
            4,
        ).alias("next_due"),
    )


def merge_crawls(
    seens: list[tuple[str, DataFrame]],
    key_col: str = "url",
) -> DataFrame:
    """Merge the seen/frontier state of multiple crawls into one
    authoritative table: per URL, the best (minimum) depth wins, ties
    broken by crawl label order — the operation behind combining an
    old crawl with a fresh discovery pass, or federating per-region
    crawls into one global seen set before the next generation's
    anti-join.

    Input: ``[(label, seen_df), ...]`` where each seen_df has
    (url, depth[, discovery_order]). Output: (url, depth, crawl,
    n_crawls) — winning depth, which crawl supplied it, and how many
    crawls had seen the URL at all.

    Scale shape: union (no shuffle) → ONE map-side-combinable
    groupBy(url) with a min-over-struct (depth, label-rank) — the
    same partial-agg argmin idiom as kmeans assignment; never a
    window, never a join.
    """
    parts = []
    for rank, (label, df) in enumerate(seens):
        parts.append(
            df.select(
                F.col(key_col).alias("url"),
                F.col("depth").cast("int").alias("depth"),
                F.lit(rank).alias("crawl_rank"),
                F.lit(label).alias("crawl"),
            )
        )
    allseen = parts[0]
    for p in parts[1:]:
        allseen = allseen.unionByName(p)
    best = allseen.groupBy("url").agg(
        F.min(F.struct("depth", "crawl_rank", "crawl")).alias("best"),
        F.count("*").alias("n_crawls"),
    )
    return best.select(
        "url",
        F.col("best.depth").alias("depth"),
        F.col("best.crawl").alias("crawl"),
        "n_crawls",
    )


def schedule_crawl(rates: DataFrame, budget_per_host: int,
                   url_col: str = "url") -> DataFrame:
    """Allocate a per-host refetch budget over change-rate estimates:
    keep the ``budget_per_host`` URLs per host with the highest
    ``lambda_hat`` (tie-break on URL for determinism) — the
    incremental-crawl scheduling step that turns per-URL change rates
    (:func:`change_rate`) into the next generation's fetch list under
    a politeness-bounded budget.

    Scale shape: one shuffle by host; the ``rank <= k`` filter
    compiles to WindowGroupLimit (plan-audited), so each reduce task
    keeps a k-row heap per host instead of sorting whole host
    partitions — a 10^7-URL host costs O(k) memory, not O(host).
    Engine-added (the reference refetches everything each run,
    /root/reference/modules/cache/cache.go:46-81 cache-or-refetch)."""
    from flyscrape_spark.functions.urls import host_of

    w = Window.partitionBy("host").orderBy(
        F.col("lambda_hat").desc(), F.col(url_col))
    return (
        rates.withColumn("host", host_of(url_col))
        .withColumn("sched_rank", F.row_number().over(w))
        .filter(F.col("sched_rank") <= budget_per_host)
        .select(url_col, "host", "lambda_hat", "next_due",
                F.col("sched_rank").cast("int").alias("sched_rank"))
    )


def revalidate_plan(
    crawl_log: DataFrame,
    p_low: float = 0.2,
    header_bytes: int = 600,
    url_col: str = "url",
) -> DataFrame:
    """Conditional-GET planning: decide per URL whether the next
    visit should SKIP (change unlikely), REVALIDATE (conditional GET
    against the stored ETag/Last-Modified — costs ~header bytes when
    unchanged), or REFETCH (no validator stored — full body either
    way).

    Input columns: ``url``, ``age_days`` (since last fetch),
    ``lambda_hat`` (Poisson change rate, :func:`change_rate`),
    ``has_validator`` (ETag or Last-Modified was stored — the
    RevalidatingTransport in sources/transport.py records both),
    ``page_bytes`` (last body size).

    p_change = 1 - exp(-lambda_hat * age_days) (the Cho &
    Garcia-Molina freshness model); action = 'skip' if p < p_low,
    else 'revalidate' when a validator exists else 'refetch'.
    est_bytes = expected bytes of the visit: skip = 0, revalidate =
    headers + p * body (body ships only when changed, RFC 9111 304
    semantics), refetch = headers + body.

    Engine-added: the reference's cache revalidates on resume
    (/root/reference/modules/cache/cache.go) but refetches
    unconditionally across runs; at 10^10 URLs the 304 path IS the
    bandwidth budget. Scale shape: pure per-row projection — zero
    shuffles, fuses into the crawl-log scan.
    """
    age = F.col("age_days").cast("double")
    lam = F.col("lambda_hat").cast("double")
    p = 1.0 - F.exp(-lam * age)
    body = F.col("page_bytes").cast("double")
    action = (
        F.when(p < float(p_low), F.lit("skip"))
        .when(F.col("has_validator"), F.lit("revalidate"))
        .otherwise(F.lit("refetch"))
    )
    est = (
        F.when(action == "skip", F.lit(0.0))
        .when(action == "revalidate",
              F.lit(float(header_bytes)) + p * body)
        .otherwise(F.lit(float(header_bytes)) + body)
    )
    return crawl_log.select(
        F.col(url_col).alias("url"),
        F.round(p, 4).alias("p_change"),
        action.alias("action"),
        F.round(est, 4).alias("est_bytes"),
    )


def etag_stability(
    fetch_log: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    etag_col: str = "etag",
) -> DataFrame:
    """Per-host ETag usability audit: conditional GETs
    (:func:`revalidate_plan`) only save bandwidth when a URL's
    validator is *stable* across fetches — a measurable share of real
    servers rotate the ETag on every response (mtime-embedding,
    load-balanced replicas with divergent inode hashes), which turns
    every If-None-Match into a full 200. This rollup classifies each
    URL from its fetch history (stable: one distinct non-null ETag;
    rotating: several; missing: none) and tells the scheduler, per
    host, whether the revalidate path is worth the header bytes.

    Input: one row per fetch event (url, host, etag nullable).
    Output: (host, n_urls, n_stable, n_rotating, n_missing,
    rotate_rate, use_conditional_get) — use_conditional_get is the
    host-level switch (more stable than rotating URLs).

    Engine-added (the reference caches by URL and never revisits,
    /root/reference/modules/cache/cache.go:46-81). Scale shape: two
    combinable groupBys (url then host), both map-side partial —
    no windows, no Python.
    """
    per_url = fetch_log.groupBy(
        F.col(host_col).alias("host"), F.col(url_col).alias("url")
    ).agg(
        F.count("*").alias("n_fetches"),
        F.count_distinct(F.col(etag_col)).alias("n_etags"),
    )
    cls = (
        F.when(F.col("n_etags") == 0, F.lit("missing"))
        .when(F.col("n_etags") == 1, F.lit("stable"))
        .otherwise(F.lit("rotating"))
    )
    per_host = per_url.withColumn("cls", cls).groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.sum((F.col("cls") == "stable").cast("long")).alias("n_stable"),
        F.sum((F.col("cls") == "rotating").cast("long")).alias("n_rotating"),
        F.sum((F.col("cls") == "missing").cast("long")).alias("n_missing"),
    )
    return per_host.select(
        "host", "n_urls", "n_stable", "n_rotating", "n_missing",
        F.round(F.col("n_rotating") / F.col("n_urls"), 6).alias(
            "rotate_rate"
        ),
        (F.col("n_stable") > F.col("n_rotating")).alias(
            "use_conditional_get"
        ),
    )


def crawl_diff(
    old: DataFrame,
    new: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Per-host churn between two crawl snapshots: how many URLs are
    new / gone / changed (same URL, different content hash) /
    unchanged — the cycle-over-cycle report that calibrates the
    host-level change-rate priors :func:`change_rate` needs a history
    for, and the first thing an operator reads after a crawl cycle.

    Inputs: one row per URL per snapshot (host, url, content_hash).
    Output: (host, n_urls, n_new, n_gone, n_changed, n_unchanged,
    churn_rate) where n_urls counts the union of both snapshots'
    URLs and churn_rate = 1 - unchanged/n_urls.

    Engine-added (the reference keeps no cross-run state beyond its
    URL cache, /root/reference/modules/cache/cache.go). Scale shape:
    one url equi-join (both sides shuffle on url — at 10^10 rows
    bucket both snapshot tables by url and the exchanges vanish) + one
    combinable host rollup.
    """
    # presence flags, not hash nullability: a URL present in BOTH
    # snapshots with a NULL content_hash on one side (fetch error,
    # skipped body) is still present — classifying by h_old IS NULL
    # would miscount it as new/gone. Hash comparison is null-safe:
    # NULL vs non-NULL counts as changed, NULL vs NULL as unchanged.
    o = old.select(
        F.col(host_col).alias("host"),
        F.col(url_col).alias("url"),
        F.col(hash_col).alias("h_old"),
        F.lit(True).alias("in_old"),
    )
    n = new.select(
        F.col(host_col).alias("host"),
        F.col(url_col).alias("url"),
        F.col(hash_col).alias("h_new"),
        F.lit(True).alias("in_new"),
    )
    j = o.join(n, ["host", "url"], "full_outer")
    status = (
        F.when(F.col("in_old").isNull(), F.lit("new"))
        .when(F.col("in_new").isNull(), F.lit("gone"))
        .when(~F.col("h_old").eqNullSafe(F.col("h_new")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    per_host = j.withColumn("status", status).groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.sum((F.col("status") == "new").cast("long")).alias("n_new"),
        F.sum((F.col("status") == "gone").cast("long")).alias("n_gone"),
        F.sum((F.col("status") == "changed").cast("long")).alias(
            "n_changed"
        ),
        F.sum((F.col("status") == "unchanged").cast("long")).alias(
            "n_unchanged"
        ),
    )
    return per_host.withColumn(
        "churn_rate",
        F.round(1.0 - F.col("n_unchanged") / F.col("n_urls"), 6),
    )
