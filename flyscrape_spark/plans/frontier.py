"""The batched BFS URL-frontier — the engine core.

Reference model: a FIFO channel + 500 goroutines + an in-memory
visited hashmap, dedup at enqueue time (/root/reference/scrape.go:
62-131, 270-288). Spark model (SURVEY §3): one DataFrame job per BFS
generation; the frontier *is* a DataFrame; the visited set is an
accumulated hash-keyed table consulted via left-anti join; link
extraction is a vectorized Arrow UDF + posexplode; canonical crawl
order is the sequential-BFS serialization ``(depth, discovery_order)``.

Order of operations per generation — pinned by the reference and easy
to get wrong (SURVEY §7 "What's hard"):

    trim -> in-generation first-seen dedup -> anti-join seen
         -> MARK SEEN (all enqueued URLs, even ones validators will
            drop: scrape.go:276-285 marks visited at enqueue, while
            validators run at fetch time, scrape.go:162-168)
         -> DEPTH HORIZON: past config.depth every candidate of a
            generation after the resume one sits at depth == gen (links
            are stamped gen + 1), so nothing is fetchable; the crawl
            records that generation's seen rows and ends there
         -> validators (depth <= max, domain, url-regex)
         -> fetch -> extract spans -> extract links -> next generation

Scale design notes (100 TB / 10^10-URL frontier):
- the anti-join shuffles on a 64-bit xxhash64 key, not URL strings;
  the exact URL string rides along as a collision tiebreak.
- lineage is truncated every generation (localCheckpoint here;
  snapshot-table commits in checkpointed mode) so plans stay O(1) in
  the number of generations.
- canonical total order costs one global sort per generation over
  *newly discovered* URLs only.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field as dc_field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.functions.urls import canonicalize, host_of, scheme_of, trim_space
from flyscrape_spark.operators.robots import ROBOTS_SCHEMA, allowed_filter, robots_table
from flyscrape_spark.parse.udfs import make_page_udf
from flyscrape_spark.plans import filters as filter_mod
from flyscrape_spark.plans.priority import prioritize_frontier
from flyscrape_spark.sources.transport import Transport

CAND_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("depth", IntegerType()),
        StructField("parent_order", LongType()),
        StructField("pos", IntegerType()),
    ]
)

SEEN_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("url_key", LongType()),
        StructField("depth", IntegerType()),
        StructField("discovery_order", LongType()),
    ]
)

# fingerprint mode (CrawlConfig.seen_fingerprint): the seen set also
# carries the second 64-bit key so the anti-join never touches strings
SEEN_SCHEMA_FP = StructType(
    list(SEEN_SCHEMA.fields) + [StructField("url_key2", LongType())]
)

# per-generation host-circuit-breaker increment (config.host_cooldown_ratio)
HEALTH_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("n_fetches", LongType()),
        StructField("n_errors", LongType()),
    ]
)


def _empty(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty frame Catalyst knows is empty: ``limit(0)`` folds to an
    empty LocalRelation, so a join against it is pruned at plan time.
    Typed NULLs need no Python-side RDD, which ``createDataFrame([])``
    builds (about 28 ms per frame against 10 ms, 4-vCPU host)."""
    cols = (f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in schema.fields)
    return spark.range(0).selectExpr(*cols).limit(0)


class _Increments:
    """A table grown by one never-rewritten increment per generation
    (seen set, robots cache, host health, results); readers scan the
    union. Past 16 increments ``append`` folds the union into one
    lazily pinned frame (computed by the next job that reads it), so
    plan size and scan fan-in stay O(1) in crawl depth. Results are
    read once, after the loop, so they are not folded."""

    def __init__(self, spark: SparkSession, schema: StructType, frames=(),
                 compact: bool = True):
        self.spark = spark
        self.schema = schema
        self.frames = list(frames)
        self.compact = compact

    def append(self, frame: DataFrame) -> DataFrame:
        self.frames.append(frame)
        if self.compact and len(self.frames) > 16:
            self.frames = [self.union().localCheckpoint(eager=False)]
        return frame

    def union(self) -> DataFrame:
        if not self.frames:
            return _empty(self.spark, self.schema)
        return reduce(DataFrame.unionByName, self.frames)


def assign_global_order_counted(
    df: DataFrame, sort_cols: list[str], out_col: str, start: int = 0,
    parts: int | None = None,
    *, bounds: tuple[int, int],
) -> tuple[DataFrame, int]:
    """Scalable total ordering: global row numbers by ``sort_cols``
    without a single-partition window sort. Returns (numbered_df,
    total_rows) — the total falls out of the per-bucket counts, so
    callers need NO separate count() job over the result.

    DETERMINISTIC bucketing: the caller knows the first sort column's
    value range ``bounds=(lo, hi)`` (a generation's parent_order
    values are exactly the previous generation's discovery_order
    slice), so bucket ids come from a monotonic clamped affine map —
    NO range-bound sampling job and no input pin; the whole ordering
    is ONE shuffle job (which also materializes the upstream exactly
    once) + one O(buckets) counts collect. Rows hash-shuffle on the
    bucket id (a bucket lives in exactly one partition; one partition
    may hold several buckets, sorted contiguously), per-BUCKET counts
    give offsets, and the numbering pass keeps a per-bucket running
    counter. Correct for ANY monotonic bucketing — bad bounds only
    cost balance, never order. 64x more buckets than partitions keep
    hash-placement imbalance small (~1/sqrt(64) = ±12%; with only a
    few buckets per partition, murmur placement of consecutive ints
    is lumpy — measured 2.3x skew + empty partitions at 8x).

    Requires unique sort keys (the generation's (parent_order, pos)
    are unique), which makes the result independent of bucket
    boundaries. The shuffled output is localCheckpoint-pinned so the
    counts job and the numbering job see the same partitioning."""
    if parts is None:
        parts = df.sparkSession.sparkContext.defaultParallelism
    lo, hi = bounds
    n_buckets = parts * 64
    span = max(int(hi) - int(lo), 1)
    head = F.col(sort_cols[0]).cast("double")
    gid = F.least(
        F.lit(n_buckets - 1),
        F.greatest(
            F.lit(0),
            F.floor((head - F.lit(float(lo))) * n_buckets / span),
        ),
    ).cast("int")
    ranged = (
        df.withColumn("__gid", gid)
        .repartition(parts, "__gid")
        .sortWithinPartitions("__gid", *sort_cols)
        .localCheckpoint(eager=True)
    )
    counts = {
        r["__gid"]: r["n"]
        for r in ranged.groupBy("__gid")
        .agg(F.count("*").alias("n")).collect()
    }
    offsets = {}
    acc = start
    for g in sorted(counts):
        offsets[g] = acc
        acc += counts[g]
    schema = StructType(
        [f for f in ranged.schema.fields if f.name != "__gid"]
        + [StructField(out_col, LongType())]
    )

    def number(iterator):
        # rows arrive bucket-contiguous and sorted (partition-level
        # sort survives Arrow batching); a bucket lives in exactly one
        # partition, so per-bucket running counters are exact
        emitted: dict[int, int] = {}
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            base = {
                g: offsets[g] + emitted.get(g, 0)
                for g in pdf["__gid"].unique()
            }
            cum = pdf.groupby("__gid", sort=False).cumcount()
            pdf[out_col] = pdf["__gid"].map(base).astype("int64") + cum
            for g, c in pdf["__gid"].value_counts().items():
                emitted[int(g)] = emitted.get(int(g), 0) + int(c)
            yield pdf.drop(columns=["__gid"])

    return ranged.mapInPandas(number, schema=schema), acc - start


@dataclass
class CrawlResult:
    seen: DataFrame          # every enqueued URL: (url, url_key, depth, discovery_order)
    results: DataFrame       # every fetched URL + spans/data/error
    generations: int
    metrics: list[dict] = dc_field(default_factory=list)
    robots: DataFrame | None = None  # (host, rules, crawl_delay) cache, respect_robots mode


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: CrawlConfig,
        transport: Transport,
        extract_udf=None,
        script_udf=None,  # parse.script.make_script_udf: struct<data, follow_urls>
        keep_body: bool = False,
        checkpoint=None,  # optional SnapshotStore for resumable crawls
        max_generations: int = 1000,
        small_generation_rows: int = 50_000,
        collect_metrics: bool = True,
        priority_scores=None,  # optional (url_key, score) DataFrame for
        # best-first admission under config.generation_budget
    ):
        self.spark = spark
        self.config = config
        self.transport = transport
        self.extract_udf = extract_udf
        self.script_udf = script_udf
        self.keep_body = keep_body
        self.checkpoint = checkpoint
        self.max_generations = max_generations
        self.small_generation_rows = small_generation_rows
        self.priority_scores = priority_scores
        # checkpointed crawls always record full lineage metrics
        # (manifests carry them, north_rule); plain crawls may skip
        # the extra per-generation count job
        self.collect_metrics = collect_metrics or checkpoint is not None
        self.page_udf = make_page_udf(config.follow_selectors())

    def _set_generation_mode(self, est_rows: int) -> None:
        """Per-generation execution mode. BFS frontiers span 6+ orders
        of magnitude across one crawl (1 seed -> millions of URLs); a
        fixed physical config is wrong at one end or the other. Small
        generations run latency-mode: AQE off (its stage-materialization
        barriers buy nothing at these sizes), a handful of shuffle
        partitions, and the one-partition window ordering. Large
        generations run throughput-mode: AQE on (runtime coalescing,
        skew-join splitting) with the session's full partition count.
        Both confs are runtime-settable per Spark docs, so the engine
        flips them between generations as the measured frontier size
        crosses the threshold.

        Measured on a 4-vCPU host (perfbench ``deep_narrow_bfs``, 4 runs
        each): removing this flip and the latency ordering path raised
        the median crawl from 13.2 s to 16.7 s (+27%) and ran about 45%
        more Spark jobs per crawl; AQE left on alone cost +24%, counted
        ordering on small generations alone +23%."""
        conf = self.spark.conf
        self._latency_mode = est_rows < self.small_generation_rows
        if self._latency_mode:
            conf.set("spark.sql.adaptive.enabled", "false")
            conf.set("spark.sql.shuffle.partitions", "4")
        else:
            conf.set("spark.sql.adaptive.enabled", self._base_aqe)
            conf.set("spark.sql.shuffle.partitions", self._base_parts)

    # -- helpers ----------------------------------------------------------

    def _key(self) -> F.Column:
        """Seen-set key: exact trimmed string (reference semantics,
        scrape.go:271) or full canonical form (scale mode)."""
        base = canonicalize("url") if self.config.canonicalize else F.col("url")
        return F.xxhash64(base)

    def _key2(self) -> F.Column:
        """Second independent 64-bit key for fingerprint mode: xxhash64
        over (url, 1) — the extra literal column changes the hashed
        byte stream, giving an independent 64-bit family member at one
        extra JVM-side hash (no string reversal / md5)."""
        base = canonicalize("url") if self.config.canonicalize else F.col("url")
        return F.xxhash64(base, F.lit(1))

    def _materialize(self, df: DataFrame, name: str, gen: int) -> DataFrame:
        """Truncate lineage + persist a generation's output. With a
        SnapshotStore this is a durable, atomically-committed snapshot
        (resume point); otherwise a LAZY localCheckpoint: the frame is
        computed and pinned by the FIRST action that touches it (the
        frontier's own count, or the next generation's frontier job
        for the fetched frame), so each generation pays one Spark job
        per frame instead of two (materialize + count). Parse-once
        still holds — the checkpoint computes once, later readers hit
        the pinned blocks."""
        if self.checkpoint is not None:
            return self.checkpoint.commit(df, name, gen)
        return df.localCheckpoint(eager=False)

    def _rows(self, frame: DataFrame, table: str, gen: int) -> int:
        """Rows of a generation table ``_materialize`` returned. A
        SnapshotStore read them from the footers of the part files it
        just wrote (no Spark job); a lazy localCheckpoint is counted,
        which also computes and pins it."""
        if self.checkpoint is not None:
            return self.checkpoint.rows(table, gen)
        return frame.count()

    def _publish(self, metrics: list[dict], gen_metrics: dict,
                 next_order: int) -> None:
        """Record a generation's metrics and, with a SnapshotStore,
        atomically publish every table it committed."""
        metrics.append(gen_metrics)
        if self.checkpoint is not None:
            self.checkpoint.commit_meta(
                gen_metrics["generation"], gen_metrics, next_order)

    @staticmethod
    def dedupe_candidates(cand: DataFrame, fingerprint: bool = False) -> DataFrame:
        """In-generation first-seen dedup: keep the min
        (parent_order, pos) occurrence of each URL. Groups on
        ``(url_key, url, depth)`` — the URL string rides in the group
        key so two distinct URLs colliding on the 64-bit hash are
        never merged (the seen anti-join downstream is already
        collision-exact; this keeps the in-generation step exact too).
        At the 10^10-URL design point expected 64-bit collisions are
        ~n^2/2^65 ≈ a few per crawl — same shuffle key width class,
        no extra shuffle.

        ``fingerprint=True`` (CrawlConfig.seen_fingerprint): group on
        the two 64-bit keys instead of the string — the shuffle's
        GROUPING key is 16 fixed bytes; the URL string rides the
        map-side-combined agg buffer only for surviving groups."""
        if fingerprint:
            first = F.min(
                F.struct("parent_order", "pos", "url")).alias("first")
            return (
                cand.groupBy("url_key", "url_key2", "depth")
                .agg(first)
                .select(
                    F.col("first.url").alias("url"),
                    "url_key",
                    "url_key2",
                    "depth",
                    F.col("first.parent_order").alias("parent_order"),
                    F.col("first.pos").alias("pos"),
                )
            )
        first = F.min(F.struct("parent_order", "pos")).alias("first")
        return (
            cand.groupBy("url_key", "url", "depth")
            .agg(first)
            .select(
                "url",
                "url_key",
                "depth",
                F.col("first.parent_order").alias("parent_order"),
                F.col("first.pos").alias("pos"),
            )
        )

    # -- the loop ----------------------------------------------------------

    def run(self, seeds, n_seeds: int | None = None) -> CrawlResult:
        """``seeds``: list[str], or a DataFrame with a ``url`` column
        and a ``parent_order`` column (the seed index — it defines
        canonical seed order). At the 10^10 design point the seed list
        IS a table (a prior crawl's frontier, a sitemap scan); feeding
        it through the driver as a Python list would serialize
        O(seeds) rows through Py4J before the first job. ``n_seeds``
        (DataFrame mode) is the seed-count hint used for the ordering
        bounds; bad hints only cost shuffle balance, never order."""
        self._base_aqe = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self._base_parts = self.spark.conf.get("spark.sql.shuffle.partitions", "32")
        try:
            return self._run(seeds, n_seeds)
        finally:
            self.spark.conf.set("spark.sql.adaptive.enabled", self._base_aqe)
            self.spark.conf.set("spark.sql.shuffle.partitions", self._base_parts)

    def _seed_frame(self, seeds, n_seeds: int | None):
        """Normalize seeds to (candidates, n_seeds, seed_hosts) — see
        run(). Both modes yield the same (url, depth=0,
        parent_order=seed index, pos=0) frame: trim, empty drop and the
        urlfilter seed exemption happen in the loop, for seeds and
        links alike. Only the seed hosts are read per mode."""
        want_hosts = self.config.domain_filter
        if not isinstance(seeds, DataFrame):
            seeds = list(seeds)
            cand = self.spark.createDataFrame(
                [(url, 0, i, 0) for i, url in enumerate(seeds)], CAND_SCHEMA)
            return cand, len(seeds), self._hosts_of(seeds) if want_hosts else []
        if "parent_order" not in seeds.columns:
            raise ValueError(
                "DataFrame seeds must carry parent_order (seed index)")
        cand = seeds
        if "depth" not in cand.columns:
            cand = cand.withColumn("depth", F.lit(0).cast("int"))
        if "pos" not in cand.columns:
            cand = cand.withColumn("pos", F.lit(0).cast("int"))
        cand = cand.select("url", "depth", "parent_order", "pos")
        if n_seeds is None:
            n_seeds = cand.count()
        seed_hosts: list[str] = []
        if want_hosts:
            seed_hosts = [
                r["h"]
                for r in cand.select(host_of(trim_space("url")).alias("h"))
                .distinct().collect()
                if r["h"]
            ]
        return cand, n_seeds, seed_hosts

    def _hosts_of(self, urls: list[str]) -> list[str]:
        """Distinct non-empty hosts of list seeds, through the very
        trim and ``host_of`` the loop and the domain filter apply, so
        port, userinfo and bracketed-IPv6 handling match table mode
        exactly. The JSON-encoded list is one inline VALUES row (a
        LocalRelation): Catalyst folds the projection on the driver,
        no Spark job."""
        if not urls:
            return []
        row = self.spark.sql("SELECT * FROM VALUES (:urls) AS t(j)",
                             args={"urls": json.dumps(urls)})
        hosts = row.select(F.transform(
            F.from_json("j", "array<string>"),
            lambda u: host_of(trim_space(u)))).first()[0]
        return list(dict.fromkeys(h for h in hosts if h))

    @staticmethod
    def _host_health(fetched: DataFrame) -> DataFrame:
        """A fetched frame's (host, n_fetches, n_errors) increment for
        the host circuit breaker, lazily pinned: it folds into the next
        generation's first job."""
        from flyscrape_spark.operators.politeness import error_status_expr

        errors = F.sum(F.when(error_status_expr(), 1).otherwise(0))
        return fetched.groupBy("host").agg(
            F.count("*").alias("n_fetches"), errors.alias("n_errors"),
        ).localCheckpoint(eager=False)

    def _result_view(self, fetched: DataFrame) -> DataFrame:
        """A materialized fetched frame as the caller sees it in
        ``CrawlResult.results``."""
        frame = fetched.withColumn("spans", F.col("parsed.spans")).drop("parsed")
        # follow_urls/has_body are frontier plumbing, not results
        frame = frame.drop("follow_urls", "has_body")
        if self.config.respect_meta_robots:
            # noindex pages are crawled (seen/order intact, links
            # already fanned out) but kept out of the corpus
            from flyscrape_spark.operators.metarobots import meta_robots_cols

            noindex, _ = meta_robots_cols("body")
            frame = frame.filter(F.col("body").isNull() | ~noindex)
        return frame if self.keep_body else frame.drop("body")

    def _run(self, seeds, n_seeds: int | None = None) -> CrawlResult:
        spark = self.spark
        config = self.config

        candidates, n_seed_rows, seed_hosts = self._seed_frame(seeds, n_seeds)
        # urlfilter's seeds-always-pass exemption (urlfilter.go:57-
        # 100): seeds are exactly the depth-0 candidates, so the
        # exemption is a depth predicate — no O(seeds) url list
        valid = filter_mod.domain_filter(config, seed_hosts) & (
            filter_mod.url_filter(config, []) | (F.col("depth") == 0)
        )

        resumed = None
        if self.checkpoint is not None:
            resumed = self.checkpoint.resume(spark)
        (seen_frames, candidates, result_frames, metrics, start_gen,
         next_order, robots_frames, committed_rows) = resumed or (
            [], candidates, [], [], 0, 0, [], {})
        if candidates is None:
            candidates = _empty(spark, CAND_SCHEMA)
        seen = _Increments(
            spark, SEEN_SCHEMA_FP if config.seen_fingerprint else SEEN_SCHEMA,
            seen_frames)
        robots = _Increments(spark, ROBOTS_SCHEMA, robots_frames)
        n_robots_hosts = committed_rows.get("robots", 0)
        health = _Increments(spark, HEALTH_SCHEMA)
        if config.host_cooldown_ratio is not None:
            # host health is a pure function of the fetched frames, so
            # a resumed crawl rebuilds it instead of committing it
            for frame in result_frames:
                health.append(self._host_health(frame))
        results = _Increments(
            spark, self._empty_results_schema(),
            [self._result_view(f) for f in result_frames], compact=False)

        gen = start_gen
        prev_enqueued = n_seed_rows
        while gen < self.max_generations:
            gen_t0 = time.time()
            # candidate estimate = last generation's frontier x a
            # conservative link fan-out bound; gen 0 = the seed list
            self._set_generation_mode(max(prev_enqueued, 1) * 32)
            # 1. TrimSpace + drop empties (enqueueJob, scrape.go:270-274)
            cand = (
                candidates.withColumn("url", trim_space("url"))
                .filter(F.col("url") != "")
                .withColumn("url_key", self._key())
            )
            if config.seen_fingerprint:
                cand = cand.withColumn("url_key2", self._key2())

            # 2. in-generation first-seen dedup: keep min (parent_order, pos)
            cand = self.dedupe_candidates(
                cand, fingerprint=config.seen_fingerprint)

            # 3. global dedup: anti-join the accumulated seen set.
            #    Exact mode: (url_key, url) equality — collision-exact.
            #    Fingerprint mode: (url_key, url_key2) — two longs, no
            #    strings in the join at all (16 B/row each side).
            seen_all = seen.union()
            if config.seen_fingerprint:
                seen_keys = seen_all.select(
                    F.col("url_key").alias("seen_key"),
                    F.col("url_key2").alias("seen_key2"),
                )
                anti_cond = (
                    (cand["url_key"] == seen_keys["seen_key"])
                    & (cand["url_key2"] == seen_keys["seen_key2"])
                )
            else:
                seen_keys = seen_all.select(
                    F.col("url_key").alias("seen_key"),
                    F.col("url").alias("seen_url"),
                )
                anti_cond = (
                    (cand["url_key"] == seen_keys["seen_key"])
                    & (cand["url"] == seen_keys["seen_url"])
                )
            enqueued = cand.join(seen_keys, anti_cond, "left_anti")

            # 4. canonical discovery order within the generation.
            # Latency mode: one-partition window sort (fine for small
            # generations). Throughput mode: two-phase range-partition
            # enumeration — no single-task global sort at scale.
            n_enqueued = None
            if self._latency_mode:
                w = Window.orderBy("parent_order", "pos")
                enqueued = enqueued.withColumn(
                    "discovery_order", F.row_number().over(w) - 1 + F.lit(next_order)
                )
            else:
                # counted variant: the generation's row count falls
                # out of the two-phase enumeration's per-bucket
                # counts, saving the separate count() job (and its
                # 32-task schedule/barrier) every generation. The
                # parent_order bounds are KNOWN (a generation's
                # parents are exactly the previous generation's
                # discovery_order slice; gen 0 = seed indices), so
                # the deterministic-bucket mode applies: no range
                # sampling job, upstream computed once
                if gen == start_gen:
                    order_bounds = (0, max(next_order, n_seed_rows, 1))
                else:
                    order_bounds = (
                        max(next_order - prev_enqueued, 0),
                        max(next_order, 1),
                    )
                enqueued, n_enqueued = assign_global_order_counted(
                    enqueued, ["parent_order", "pos"], "discovery_order",
                    start=next_order, bounds=order_bounds,
                )

            seen_cols = ["url", "url_key", "depth", "discovery_order"]
            if config.seen_fingerprint:
                seen_cols.append("url_key2")
            enqueued = self._materialize(
                enqueued.select(*seen_cols), "frontier", gen,
            )
            if n_enqueued is None:
                n_enqueued = self._rows(enqueued, "frontier", gen)
            if n_enqueued == 0:
                break
            next_order += n_enqueued
            prev_enqueued = n_enqueued

            # 5. mark seen AT ENQUEUE (scrape.go:276-285) — before
            # validators: the frontier is the seen set's increment.
            seen.append(enqueued)

            # 5a. depth horizon: links are stamped depth = gen + 1, so
            # in every generation after the resume one all candidates
            # sit at depth == gen, and past config.depth none passes
            # the depth validator. Only start_gen can carry re-admitted
            # or table-supplied depths, so it always runs the fetch
            # half. The horizon generation's seen rows and discovery
            # order are part of the contract; its robots, fetch, parse
            # and fan-out would run on nothing, and the generation
            # after it would have no candidates: the crawl ends here.
            if (config.depth is not None and gen > config.depth
                    and gen > start_gen):
                gen_metrics = {"generation": gen, "enqueued": n_enqueued,
                               "sec": round(time.time() - gen_t0, 3)}
                if self.collect_metrics:
                    gen_metrics["fetched"] = 0
                self._publish(metrics, gen_metrics, next_order)
                gen += 1
                break

            # 6. validators run at fetch time (scrape.go:162-168);
            #    depth filter is row-wise (inclusive <=, modules/depth/
            #    depth.go:26-28) — normally generation-constant, but
            #    resume-after-invalidate re-admits URLs at their
            #    ORIGINAL depth into a later generation
            if config.depth is not None:
                fetchable = enqueued.filter(F.col("depth") <= config.depth)
            else:
                fetchable = enqueued
            fetchable = fetchable.filter(valid)

            # 6a. best-first admission (engine-only, north_rule): when
            # the frontier outgrows the fetch budget, spend it on the
            # highest-priority URLs (scores from a prior crawl's link
            # graph, operators/graph.py). BEFORE robots/host work so
            # skipped URLs cost nothing; they are already in the seen
            # set (step 5), matching validator-dropped semantics.
            if config.generation_budget is not None:
                scores = self.priority_scores
                if scores is None:
                    scores = spark.createDataFrame(
                        [], "url_key long, score double"
                    )
                fetchable = prioritize_frontier(
                    fetchable, scores, config.generation_budget
                ).drop("admit_rank")

            fetchable = fetchable.withColumn("host", host_of("url"))

            # 6a'. host circuit breaker (engine-only): hosts whose
            # cumulative error ratio tripped the threshold in EARLIER
            # generations are dropped at fetch time — they are already
            # seen (step 5), so this is validator-dropped semantics,
            # same as budget truncation above. The health increments
            # are host-cardinality partial aggregates, so the
            # anti-join's build side stays tiny at any crawl size.
            if config.host_cooldown_ratio is not None:
                tot = health.union().groupBy("host").agg(
                    F.sum("n_fetches").alias("n"),
                    F.sum("n_errors").alias("e"),
                )
                cooled = tot.filter(
                    (F.col("n") >= config.host_cooldown_min_fetches)
                    & (F.col("e").cast("double") / F.col("n")
                       >= config.host_cooldown_ratio)
                ).select("host")
                fetchable = fetchable.join(cooled, "host", "left_anti")

            # 6b. robots.txt (RFC 9309, engine-only — north_rule): one
            # robots fetch per NEWLY seen host, accumulated like the
            # seen set; disallowed URLs are dropped here, at fetch
            # time, exactly like any other validator.
            if config.respect_robots:
                # carry the URL scheme so robots.txt is probed on the
                # right origin (https hosts must not be probed over
                # http); max() prefers https when a host shows both
                hosts = (
                    fetchable
                    .select("host", scheme_of("url").alias("scheme"))
                    .groupBy("host")
                    .agg(F.max("scheme").alias("scheme"))
                    .join(robots.union().select("host"), "host", "left_anti")
                )
                # the increment's row count gates the robots-join
                # broadcast (millions of hosts at design scale must NOT
                # be force-broadcast)
                increment = robots.append(self._materialize(
                    robots_table(hosts, self.transport), "robots", gen))
                n_robots_hosts += self._rows(increment, "robots", gen)
                robots_all = robots.union()
                fetchable = (
                    allowed_filter(fetchable, robots_all, n_hosts=n_robots_hosts)
                    .filter(F.col("robots_allowed"))
                    .drop("robots_allowed")
                )
                # feed discovered crawl-delays to a politeness-aware
                # transport (duck-typed; PoliteJoinTransport consumes)
                if hasattr(self.transport, "host_delays"):
                    self.transport.host_delays = robots_all.filter(
                        F.col("crawl_delay").isNotNull()
                    ).select("host", "crawl_delay")

            # 7-9. fetch + parse-once extract: ONE HTML parse per page
            # yields spans + links together (struct column), pinned by
            # the generation checkpoint so the link fan-out below reads
            # the materialized struct instead of re-parsing.
            fetched = self.transport.fetch(fetchable)
            fetched = fetched.withColumn(
                "parsed",
                F.when(
                    F.col("body").isNotNull(),
                    self.page_udf(F.col("body"), F.col("url")),
                ),
            )
            if self.script_udf is not None:
                # Python scrape script (parse/script.py): one UDF call
                # yields the JSON payload AND the manual-follow URLs
                # (js.go:217-219 -> scrape.go:210-212)
                fetched = (
                    fetched.withColumn(
                        "script",
                        F.when(
                            F.col("body").isNotNull(),
                            self.script_udf(F.col("body"), F.col("url")),
                        ),
                    )
                    .withColumn("data", F.col("script.data"))
                    .withColumn("follow_urls", F.col("script.follow_urls"))
                    .drop("script")
                )
            elif self.extract_udf is not None:
                fetched = fetched.withColumn(
                    "data",
                    F.when(
                        F.col("body").isNotNull(),
                        self.extract_udf(F.col("body"), F.col("url")),
                    ),
                )
            # body slimming: once the parse-once struct (spans+links)
            # and the script payload are computed, the raw HTML body is
            # dead weight in the generation checkpoint — roughly half
            # the pinned bytes per generation (block-manager memory,
            # GC pressure, and on Iceberg the snapshot size). Drop it
            # before materializing unless a downstream consumer needs
            # it: keep_body callers, and the meta-robots noindex filter
            # which re-reads the body at results assembly.
            slim_body = not self.keep_body and not config.respect_meta_robots
            if slim_body:
                fetched = fetched.withColumn(
                    "has_body", F.col("body").isNotNull()
                ).drop("body")
                body_flag = F.col("has_body")
            else:
                body_flag = F.col("body").isNotNull()
            fetched = self._materialize(fetched, "fetched", gen)
            results.append(self._result_view(fetched))
            if config.host_cooldown_ratio is not None:
                health.append(self._host_health(fetched))

            # 10. link fan-out -> next generation's candidates.
            #     Non-2xx pages still follow links (deferred
            #     ReceiveResponse, scrape.go:170-176); transport errors
            #     have no body and yield nothing.
            #     Manual-follow URLs enqueue BEFORE the page's auto
            #     links: the reference's follow() fires during script
            #     execution (scrape.go:210-212) while followlinks runs
            #     in the deferred ReceiveResponse (scrape.go:170-176).
            link_arr = F.col("parsed.links")
            if self.script_udf is not None:
                empty = F.array().cast("array<string>")
                link_arr = F.concat(
                    F.coalesce(F.col("follow_urls"), empty),
                    F.coalesce(link_arr, empty),
                )
            link_src = fetched.filter(body_flag)
            if config.respect_meta_robots:
                # nofollow pages contribute no outlinks (page-level
                # REP; operators/metarobots.py — pure JVM exprs, so
                # the gate fuses into the fan-out projection)
                from flyscrape_spark.operators.metarobots import (
                    meta_robots_cols,
                )

                _, nofollow = meta_robots_cols("body")
                link_src = link_src.filter(~nofollow)
            links = (
                link_src
                .select(
                    F.col("discovery_order").alias("parent_order"),
                    F.posexplode(link_arr).alias("pos", "url"),
                )
                .select("url", F.lit(gen + 1).cast("int").alias("depth"),
                        "parent_order", F.col("pos").cast("int"))
            )

            gen_metrics = {
                "generation": gen,
                "enqueued": n_enqueued,
                "sec": round(time.time() - gen_t0, 3),
            }
            if self.collect_metrics:
                gen_metrics["fetched"] = self._rows(fetched, "fetched", gen)
            if self.checkpoint is not None:
                # publish the generation atomically: frontier + fetched
                # + next-gen links all committed, then the manifest
                links = self.checkpoint.commit(links, "links", gen)
            self._publish(metrics, gen_metrics, next_order)

            candidates = links
            gen += 1

        return CrawlResult(
            seen=seen.union(), results=results.union(), generations=gen,
            metrics=metrics,
            robots=robots.union() if robots.frames else None,
        )

    def _empty_results_schema(self) -> StructType:
        fields = [
            StructField("url", StringType()),
            StructField("url_key", LongType()),
            StructField("depth", IntegerType()),
            StructField("discovery_order", LongType()),
            StructField("host", StringType()),
            StructField("status", IntegerType()),
            StructField("error", StringType()),
            StructField("attempts", IntegerType()),
        ]
        from flyscrape_spark.parse.udfs import SPAN_TYPE

        if self.extract_udf is not None or self.script_udf is not None:
            fields.append(StructField("data", StringType()))
        fields.append(StructField("spans", SPAN_TYPE))
        return StructType(fields)


def take_front(frontier, n: int):
    """The next ``n`` URLs of the frontier in canonical crawl
    priority — ascending ``(depth, discovery_order)``, the
    sequential-BFS serialization this module defines as the engine's
    ordering contract (the partitioned priority queue's dequeue).

    Scale shape: ``orderBy().limit(n)`` compiles to
    TakeOrderedAndProject — every partition keeps an n-row heap and
    the driver merges n rows per partition; there is NO global sort
    and no range-partitioning exchange (plan-audited). At 10^10
    pending URLs the dequeue cost is O(rows scanned + n log n), not
    a shuffle of the backlog.
    """
    from pyspark.sql import functions as F

    return frontier.orderBy(
        F.asc("depth"), F.asc("discovery_order")
    ).limit(n)
