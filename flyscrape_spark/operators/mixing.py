"""Corpus mixing operators: per-source mixture statistics and
deterministic token-budget sampling — the "data mixing" stage of a
training pipeline (decide how much of each source enters the run,
then take a reproducible prefix of each source up to its budget).

Scale shapes:
- ``source_mix_stats`` is one map-side-combinable groupBy plus a
  one-row total joined back broadcast — the same 2-shuffle scalar
  pattern as tfidf's corpus count.
- ``token_budget_sample`` needs a per-source running token total in a
  fixed document order. A ``Window.partitionBy(source)`` would put
  each source's ENTIRE corpus slice in one task — with tens of
  sources over 100 TB that is the canonical skew death. Instead it
  reuses the count-then-offset idea of the engine's two-phase
  enumeration (plans/frontier.py assign_global_order_counted):
  range-repartition on (source, doc_id) so one source spans many
  ordered partitions, aggregate per-(partition, source) token sums (a
  tiny partitions x sources collect), compute each partition's
  per-source prefix offset driver-side, and add offset +
  within-partition cumulative sum in a single Arrow pass. Parallelism stays at the
  partition count regardless of source skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from flyscrape_spark.functions.hashing import portable_hash64
from flyscrape_spark.operators.text import token_count


def source_mix_stats(documents: DataFrame) -> DataFrame:
    """Per-source corpus composition: doc count, token total, mean
    doc length, and share of all corpus tokens — the table a mixture
    policy (uniform / proportional / capped) is computed from."""
    per = documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count()).alias("total_tokens"),
        F.round(F.avg(token_count().cast("double")), 4).alias("mean_tokens"),
    )
    total = per.agg(F.sum("total_tokens").alias("corpus_tokens"))
    return per.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "total_tokens",
        "mean_tokens",
        F.round(
            F.col("total_tokens").cast("double")
            / F.col("corpus_tokens").cast("double"),
            6,
        ).alias("token_share"),
    )


def source_length_quantiles(documents: DataFrame) -> DataFrame:
    """Per-source document-length distribution: exact interpolated
    p25/p50/p75/p90 of the whitespace token count, plus min/max.

    Length-distribution drift per source is the standard corpus-QA
    dashboard stat (a source whose p90 collapses between crawls is
    broken upstream). Uses Spark's exact ``percentile`` (continuous
    interpolation, matching DuckDB ``quantile_cont``) so the oracle
    comparison is bit-stable after rounding.

    Scale shape: one groupBy shuffle; exact percentile buffers one
    source's lengths per task — fine while sources number in the
    tens/hundreds (each group's state is the length multiset, not the
    documents). For thousands of skewed sources swap in
    ``percentile_approx`` (t-digest, partial-combinable) and accept
    approximation; the column contract stays identical.
    """
    n_tok = token_count().cast("double")
    pcts = F.percentile(n_tok, F.array(*[F.lit(p) for p in (0.25, 0.5, 0.75, 0.9)]))
    return documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.min(n_tok).cast("bigint").alias("min_tokens"),
        F.round(pcts[0], 4).alias("p25_tokens"),
        F.round(pcts[1], 4).alias("p50_tokens"),
        F.round(pcts[2], 4).alias("p75_tokens"),
        F.round(pcts[3], 4).alias("p90_tokens"),
        F.max(n_tok).cast("bigint").alias("max_tokens"),
    )


def token_budget_sample(
    documents: DataFrame,
    budget: int,
    by: str = "source",
    order: str = "doc_id",
    parts: int | None = None,
) -> DataFrame:
    """The doc-ordered prefix of each source whose cumulative token
    count stays within ``budget`` (a doc is kept iff the running total
    INCLUDING it is <= budget). Deterministic: same input -> same
    sample, independent of partitioning.

    Returns (doc_id, source, n_tokens, cum_tokens) for kept docs.
    """
    spark = documents.sparkSession
    if parts is None:
        parts = spark.sparkContext.defaultParallelism
    base = documents.select(
        F.col(order), F.col(by), token_count().alias("n_tokens")
    )
    ranged = (
        base.repartitionByRange(parts, F.col(by), F.col(order))
        .sortWithinPartitions(by, order)
        .localCheckpoint(eager=True)  # pin: sums + cumsum see one layout
    )
    part_sums = (
        ranged.withColumn("pid", F.spark_partition_id())
        .groupBy("pid", by)
        .agg(F.sum("n_tokens").alias("toks"))
        .collect()
    )
    # prefix offset per (pid, source): tokens of the SAME source in
    # all earlier partitions. Range partitioning keeps a source's rows
    # in pid order, so partition-id order is document order.
    offsets: dict[tuple[int, str], int] = {}
    acc: dict[str, int] = {}
    for row in sorted(part_sums, key=lambda r: (r[by], r["pid"])):
        offsets[(row["pid"], row[by])] = acc.get(row[by], 0)
        acc[row[by]] = acc.get(row[by], 0) + row["toks"]
    schema = StructType(
        list(ranged.schema.fields) + [StructField("cum_tokens", LongType())]
    )

    def cumsum(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        emitted: dict[str, int] = {}
        for pdf in iterator:
            within = pdf.groupby(by, sort=False)["n_tokens"].cumsum()
            start = pdf[by].map(
                lambda s: offsets.get((pid, s), 0) + emitted.get(s, 0)
            )
            pdf["cum_tokens"] = within + start
            for s, t in pdf.groupby(by, sort=False)["n_tokens"].sum().items():
                emitted[s] = emitted.get(s, 0) + int(t)
            yield pdf

    return (
        ranged.mapInPandas(cumsum, schema=schema)
        .filter(F.col("cum_tokens") <= budget)
        .select(order, by, "n_tokens", "cum_tokens")
    )


def stratified_sample(
    documents: DataFrame,
    stratum_cols: list[str] | None = None,
    target_per_stratum: int | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic hash-based stratified downsampling: sample each
    stratum (default: ``lang``) at the rate that equalizes expected
    stratum sizes — the balanced-mixture draw a training pipeline
    runs after curation (e.g. capping dominant languages/sources).

    A doc is kept iff pmod(portable_hash64(doc_id), scale) <
    floor(rate * scale), rate = target / stratum_count (target
    defaults to the smallest stratum). Hash-gating instead of
    ``sample()`` makes the draw reproducible across runs, engines,
    partitionings, and retries — the property that matters for
    training-data lineage; Spark's sample() is seed-stable only per
    partitioning.

    Scale shape: stratum counts are one tiny map-side-combinable
    groupBy (cardinality = #strata), broadcast back; the filter
    itself is pure per-row codegen — no shuffle of the data.
    """
    stratum_cols = stratum_cols or ["lang"]
    counts = documents.groupBy(*stratum_cols).agg(F.count("*").alias("n_stratum"))
    if target_per_stratum is None:
        target = counts.agg(F.min("n_stratum").alias("t"))
        counts = counts.crossJoin(F.broadcast(target))
    else:
        counts = counts.withColumn("t", F.lit(target_per_stratum))
    counts = counts.select(
        *stratum_cols,
        F.floor(F.least(F.col("t") / F.col("n_stratum"), F.lit(1.0)) * scale)
        .alias("gate"),
    )
    return (
        documents.join(F.broadcast(counts), stratum_cols)
        .filter(
            F.pmod(portable_hash64(F.col("doc_id").cast("string")), F.lit(scale))
            < F.col("gate")
        )
        .drop("gate")
    )


def pack_sequences(
    documents: DataFrame,
    seq_len: int,
    order: str = "doc_id",
    parts: int | None = None,
) -> DataFrame:
    """Sequence packing: when the corpus is concatenated in ``order``
    and split into fixed ``seq_len``-token training windows, compute
    each document's placement — (doc_id, n_tokens, cum_before,
    seq_start, seq_end, offset): the first/last window the doc's
    tokens land in and its token offset inside seq_start. The standard
    pretraining dataloader layout, computed corpus-side so shards can
    be written pre-packed.

    The token-count special case of :func:`pack_weighted` (one
    implementation of the two-phase prefix-sum machinery to maintain):
    deterministic and partitioning-independent, no window over a
    single global partition anywhere — at 10^10 docs a naive
    ``Window.orderBy(order)`` cumsum is one task; this is ``parts``
    parallel tasks plus a ``parts``-sized driver reduction.

    Empty docs (0 tokens) occupy no window: seq_end = seq_start - 1;
    filter on ``n_tokens > 0`` downstream if needed.
    """
    packed = pack_weighted(
        documents.select(F.col(order), token_count().alias("n_tokens")),
        budget=seq_len,
        weight_col="n_tokens",
        order=order,
        parts=parts,
    )
    return packed.select(
        order,
        "n_tokens",
        "cum_before",
        F.col("bin_start").alias("seq_start"),
        F.col("bin_end").alias("seq_end"),
        "offset",
    )

def shard_export(
    documents: DataFrame, n_shards: int, key: str = "doc_id"
) -> DataFrame:
    """Deterministic training-shard assignment: every row gets
    (shard_id, shard_pos) where shard_id = hash(key) mod n_shards and
    shard_pos is the row's rank inside its shard ordered by
    (hash, key). The standard reproducible export layout for a
    pretraining corpus — hash sharding decorrelates shards from crawl
    order (each shard is an unbiased corpus sample, so any prefix of
    shards is too), and the (hash, key) order makes byte-identical
    shard files regardless of input partitioning or cluster size.

    Scale shape: one hash projection (no shuffle) + one rank window
    per shard. A shard is the unit a single writer task produces
    anyway (repartition(n_shards) -> sortWithinPartitions -> write),
    so the per-shard window IS the writer's local sort, not an extra
    cost; n_shards is chosen to make one shard ~ one output file
    (10^4..10^5 shards at 100 TB), which also bounds the window
    partition to file size.
    """
    from pyspark.sql import Window

    from flyscrape_spark.functions.hashing import portable_hash64

    h = portable_hash64(F.col(key).cast("string"))
    w = Window.partitionBy("shard_id").orderBy(F.asc("h"), F.asc(key))
    return (
        documents.select(F.col(key), h.alias("h"))
        .withColumn("shard_id", F.pmod(F.col("h"), F.lit(n_shards)).cast("int"))
        .withColumn("shard_pos", (F.row_number().over(w) - 1).cast("bigint"))
        .select(key, "shard_id", "shard_pos")
    )


def temperature_mix(
    documents: DataFrame, alpha: float = 0.5, token_budget: int = 100_000
) -> DataFrame:
    """(source, total_tokens, raw_share, weight, budget_tokens,
    epochs): temperature-scaled source mixture — sampling weight
    w_i proportional to share_i^alpha, the multilingual/multi-source
    rebalancing rule popularized by multilingual pretraining
    (Conneau & Lample 2019's exponent-smoothed sampling; alpha=1 is
    proportional, alpha=0 uniform). ``epochs`` = how many passes over
    source i the budget implies — the over-sampling diagnostic a
    mixture review reads first.

    Scale shape: ONE map-side-combinable groupBy on the tiny source
    key is the only corpus shuffle (plan-audited); the two global
    sums the formula needs (corpus total, normalizer Z) are unbounded
    windows over the ALREADY-AGGREGATED S-row frame — a
    single-partition pass over S rows, never a re-derivation of the
    corpus aggregate (the naive agg-then-join-back shape re-runs the
    corpus shuffle once per global scalar). Fine to ~10^5 sources;
    beyond that the S-row frame itself would warrant a two-level agg.
    """
    from pyspark.sql import Window

    from flyscrape_spark.operators.text import token_count

    per = documents.groupBy("source").agg(
        F.sum(token_count()).alias("total_tokens")
    )
    everything = Window.partitionBy()
    share = (
        F.col("total_tokens").cast("double")
        / F.sum("total_tokens").over(everything).cast("double")
    )
    powed = per.select(
        "source", "total_tokens", share.alias("share")
    ).select("*", F.pow(F.col("share"), F.lit(float(alpha))).alias("sp"))
    out = powed.select(
        "*", F.sum("sp").over(everything).alias("z")
    )
    weight = F.col("sp") / F.col("z")
    budget = F.floor(weight * F.lit(float(token_budget)))
    return out.select(
        "source",
        "total_tokens",
        F.round("share", 6).alias("raw_share"),
        F.round(weight, 6).alias("weight"),
        budget.cast("bigint").alias("budget_tokens"),
        F.round(
            budget.cast("double") / F.col("total_tokens").cast("double"), 6
        ).alias("epochs"),
    )


def pack_weighted(
    rows: DataFrame,
    budget: int,
    weight_col: str,
    order: str = "doc_id",
    parts: int | None = None,
) -> DataFrame:
    """Generalized packing: concatenate ``rows`` in ``order`` and
    split into fixed ``budget``-unit bins of ``weight_col`` —
    :func:`pack_sequences` is the token-count special case; the byte
    special case packs size-balanced export shards (WARC/megaWARC
    layout), the interleaved-token case packs multimodal training
    sequences (operators/multimodal.py interleave_pack).

    Returns the input columns plus (cum_before, bin_start, bin_end,
    offset). Same skew-free two-phase prefix-sum shape as
    pack_sequences: range-repartition by ``order``, O(parts) driver
    offsets, one Arrow cumsum pass — no single-partition window.
    """
    spark = rows.sparkSession
    if parts is None:
        parts = spark.sparkContext.defaultParallelism
    base = rows.select(
        F.col(order), F.col(weight_col).cast("long").alias("_w")
    )
    ranged = (
        base.repartitionByRange(parts, F.col(order))
        .sortWithinPartitions(order)
        .localCheckpoint(eager=True)
    )
    part_sums = (
        ranged.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum("_w").alias("w"))
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(part_sums, key=lambda r: r["pid"]):
        offsets[row["pid"]] = acc
        acc += row["w"]
    schema = StructType(
        list(ranged.schema.fields) + [StructField("cum_before", LongType())]
    )

    def cumsum(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        emitted = 0
        for pdf in iterator:
            within = pdf["_w"].cumsum() - pdf["_w"]
            pdf["cum_before"] = within + offsets.get(pid, 0) + emitted
            emitted += int(pdf["_w"].sum())
            yield pdf

    packed = ranged.mapInPandas(cumsum, schema=schema)
    # zero-weight rows occupy no bin: bin_end = bin_start - 1. The
    # explicit branch matters at cum_before = 0, where the closed-
    # interval numerator is -1 and Spark's DIV truncates toward zero
    # (-1 DIV b = 0) while the DuckDB oracles' // floors (-1 // b =
    # -1) — everywhere else the numerator is non-negative and the
    # two agree.
    bin_start = F.expr(f"cum_before DIV {budget}")
    bin_end = F.when(F.col("_w") == 0, bin_start - 1).otherwise(
        F.expr(f"(cum_before + _w - 1) DIV {budget}")
    )
    return packed.select(
        order,
        F.col("_w").alias(weight_col),
        "cum_before",
        bin_start.alias("bin_start"),
        bin_end.alias("bin_end"),
        (F.col("cum_before") % budget).alias("offset"),
    )


def byte_packed_shards(
    documents: DataFrame,
    shard_bytes: int,
    order: str = "doc_id",
    size_col: str = "n_chars",
    parts: int | None = None,
) -> DataFrame:
    """Size-balanced contiguous export shards: documents concatenated
    in ``order`` and cut every ``shard_bytes`` — each doc assigned to
    the shard where it STARTS (whole-doc placement; a doc straddling
    a boundary closes its shard slightly over budget, the WARC
    convention, rather than splitting records). The contiguous
    complement of :func:`shard_export`'s hash layout: hash shards are
    unbiased samples, byte shards preserve crawl locality and equal
    file sizes.

    Output: (doc_id, n_bytes, shard_id, offset) — offset is the byte
    position inside the shard.
    """
    packed = pack_weighted(
        documents, budget=shard_bytes, weight_col=size_col,
        order=order, parts=parts,
    )
    return packed.select(
        order,
        F.col(size_col).alias("n_bytes"),
        F.col("bin_start").alias("shard_id"),
        "offset",
    )
