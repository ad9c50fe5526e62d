"""Multimodal media columns: opaque binary payloads + typed metadata,
processed by Arrow-batched mapInPandas.

The reference's analog is the file-download path
(/root/reference/js_lib.go:105-190): media URLs fetched (5-parallel)
and written to disk, deduped by destination. Here media rides AS DATA:
a crawl's media spans become (media_ref, bytes, meta) rows in a media
table, deduplicated by content hash, with decode/feature-extraction as
mapInPandas stages.

Codec policy (round-4): Pillow is detected at runtime inside the
mapInPandas worker (:func:`_load_pil`). When present,
``extract_features`` / ``resize_images`` decode real images through
``PIL.Image``; bytes PIL cannot decode (and everything, when PIL is
absent — this container ships no codecs) fall back to the same
deterministic stub as before, so the oracle-twinned contract is
unchanged. ``use_pil=False`` pins the stub path explicitly (the
driver-gate queries do, keeping the DuckDB twin exact regardless of
the environment); ``use_pil=True`` raises if Pillow is missing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("content", BinaryType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("byte_len", LongType()),
        StructField("content_hash", LongType()),
        StructField("kind_guess", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def media_from_results(results: DataFrame, pages: DataFrame | None = None) -> DataFrame:
    """Collect deduplicated media references from crawl results' spans
    (dedup-by-ref mirrors the download skip-if-exists,
    js_lib.go:174-176) and synthesize binary payloads (deterministic
    fake bytes; a real transport would fetch them)."""
    refs = (
        results.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .dropDuplicates(["media_ref"])
    )
    # deterministic fake payload: repeat of the ref's md5 hex string,
    # repeat count from the PORTABLE hash (md5-derived) so the DuckDB
    # oracle reproduces payload bytes — and hence every downstream
    # feature — bit-for-bit
    from flyscrape_spark.functions.hashing import portable_hash64

    count = (F.pmod(portable_hash64(F.col("media_ref")), F.lit(8)) + 1).cast("int")
    payload = F.repeat(
        F.unbase64(F.base64(F.encode(F.md5("media_ref"), "utf-8"))), count
    )
    return refs.select("media_ref", payload.cast("binary").alias("content"))


def _load_pil():
    """Pillow's Image module if importable, else None. Called INSIDE
    the mapInPandas worker so detection happens where decoding runs
    (executors), not just on the driver."""
    try:
        from PIL import Image  # noqa: PLC0415 — optional dependency

        return Image
    except Exception:
        return None


def _fake_decode(content: bytes) -> tuple[str, int, int]:
    """Deterministic stub decode (the oracle-twinned contract): dims
    from leading bytes, kind from byte-length parity."""
    if not content:
        return ("empty", 0, 0)
    width = 16 + content[0] % 64
    height = 16 + (content[1] if len(content) > 1 else 0) % 64
    kind = "image" if len(content) % 2 == 0 else "audio"
    return (kind, width, height)


def _resolve_pil(use_pil: bool | None):
    """None -> auto-detect; True -> require; False -> stub path."""
    if use_pil is False:
        return None
    img = _load_pil()
    if use_pil is True and img is None:
        raise NotImplementedError(
            "use_pil=True but Pillow is not installed on this worker")
    return img


def extract_features(media: DataFrame, batch_size: int = 1024,
                     use_pil: bool | None = None) -> DataFrame:
    """Feature extraction over binary media — the mapInPandas decode
    stage. With Pillow present (``use_pil=None`` auto-detect or
    ``True``), real images decode through ``PIL.Image.open`` (kind
    'image', true width/height); undecodable bytes — and everything
    when Pillow is absent or ``use_pil=False`` — go through the
    deterministic stub, keeping the DuckDB oracle contract exact."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import io

        image_mod = _resolve_pil(use_pil)
        for pdf in batches:
            feats = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                raw = bytes(content) if content is not None else b""
                kind = width = None
                if image_mod is not None and raw:
                    try:
                        with image_mod.open(io.BytesIO(raw)) as im:
                            kind, width, height = "image", im.width, im.height
                    except Exception:
                        kind = None  # not an image PIL knows -> stub
                if kind is None:
                    kind, width, height = _fake_decode(raw)
                h = int.from_bytes(hashlib.md5(raw).digest()[:7], "big")
                feats.append((ref, len(raw), h, kind, width, height))
            yield pd.DataFrame(
                feats,
                columns=[
                    "media_ref", "byte_len", "content_hash",
                    "kind_guess", "width", "height",
                ],
            )

    return media.mapInPandas(process, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("content", BinaryType()),
    ]
)


def resize_images(media: DataFrame, max_dim: int = 24,
                  use_pil: bool | None = None) -> DataFrame:
    """Aspect-preserving resize. With Pillow present (auto-detected in
    the worker, or ``use_pil=True``), real images decode, resize via
    ``Image.thumbnail((max_dim, max_dim))`` and re-encode as PNG —
    the production path. Undecodable bytes — and everything when
    Pillow is absent or ``use_pil=False`` — use the stub: dims from
    the fake decode, the same floor scale math (out = dim * max_dim
    // longest, min 1px), payload a deterministic truncation of the
    source bytes. The stub keeps the DuckDB oracle contract exact."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        image_mod = _resolve_pil(use_pil)
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                raw = bytes(content) if content is not None else b""
                if not raw:
                    rows.append((ref, 0, 0, 0, 0, b""))
                    continue
                if image_mod is not None:
                    try:
                        with image_mod.open(io.BytesIO(raw)) as im:
                            width, height = im.width, im.height
                            im.thumbnail((max_dim, max_dim))
                            ow, oh = im.width, im.height
                            buf = io.BytesIO()
                            im.save(buf, format="PNG")
                        rows.append((ref, width, height, ow, oh,
                                     buf.getvalue()))
                        continue
                    except Exception:
                        pass  # not an image PIL knows -> stub below
                _, width, height = _fake_decode(raw)
                longest = max(width, height)
                if longest <= max_dim:
                    ow, oh = width, height
                else:
                    ow = max(width * max_dim // longest, 1)
                    oh = max(height * max_dim // longest, 1)
                rows.append((ref, width, height, ow, oh, raw[: ow + oh]))
            yield pd.DataFrame(
                rows,
                columns=["media_ref", "width", "height",
                         "out_width", "out_height", "content"],
            )

    return media.mapInPandas(process, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_ms", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame
    (the fan-out shape a real pipeline points at pyav/ffmpeg keyframe
    extraction). Stubbed container: duration is derived from byte
    length (125 ms/byte), frame payloads are deterministic md5-hex
    bytes of ``ref:idx`` — so the whole fan-out is reproducible by a
    SQL oracle. The Spark contract is real: mapInPandas yielding
    multiple rows per input row, batch-bounded memory, no shuffle."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                raw = bytes(content) if content is not None else b""
                # REAL DEMUX GOES HERE on a cluster (pyav container):
                #   raise NotImplementedError("video codecs unavailable")
                duration_ms = len(raw) * 125
                n = (duration_ms + every_ms - 1) // every_ms
                for idx in range(n):
                    sig = hashlib.md5(
                        f"{ref}:{idx}".encode()).hexdigest().encode()
                    rows.append((ref, idx, idx * every_ms, sig))
            yield pd.DataFrame(
                rows, columns=["media_ref", "frame_idx", "ts_ms", "frame"])

    return media.mapInPandas(process, schema=FRAME_SCHEMA)


def media_frontier(
    results: DataFrame,
    fetched: DataFrame | None = None,
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """The media fetch list: every media ref demanded by the crawl's
    interleaved spans, minus refs already fetched — the media analog
    of the URL-seen anti-join (the reference's analog is the download
    skip-if-exists, js_lib.go:174-176, done per-file at fetch time;
    here it is one set operation planning the whole media generation).

    Output: (media_ref, n_refs, first_doc) — demand count (fetch-
    priority signal) and the deterministic first referencing doc.

    Scale shape: explode -> ONE map-side-combinable groupBy on the
    ref key; the fetched side anti-joins on that same key (a media
    store bucketed on it makes the anti-join exchange-free).
    """
    demand = (
        results.select(F.col(id_col).alias("doc"),
                       F.explode(spans_col).alias("s"))
        .filter(F.col("s.kind") == "media")
        .groupBy(F.col("s.media_ref").alias("media_ref"))
        .agg(F.count("*").alias("n_refs"), F.min("doc").alias("first_doc"))
    )
    if fetched is not None:
        demand = demand.join(
            fetched.select("media_ref"), "media_ref", "left_anti"
        )
    return demand


#: sentinel wrapping a media ref inside a rendered training sample
MEDIA_TOKEN_PREFIX = "<|media:"
MEDIA_TOKEN_SUFFIX = "|>"


def interleave_render(
    docs: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    sep: str = " ",
) -> DataFrame:
    """Serialize each document's interleaved spans into ONE training
    sample string in span order: text and link spans contribute their
    text, media spans contribute the ``<|media:REF|>`` sentinel the
    multimodal tokenizer later swaps for encoder embeddings.

    Output: (doc_id, n_spans, n_media, sample).

    Scale shape: pure higher-order array expressions per row —
    transform to (offset, rendered) structs, array_sort (offsets are
    unique per doc, so the struct sort is deterministic), project +
    join. ZERO shuffles; fuses into whatever scan feeds it.
    """
    spans = F.col(spans_col)
    rendered = F.transform(
        spans,
        lambda s: F.struct(
            s["offset"].alias("o"),
            F.when(
                s["kind"] == "media",
                F.concat(F.lit(MEDIA_TOKEN_PREFIX), s["media_ref"],
                         F.lit(MEDIA_TOKEN_SUFFIX)),
            ).otherwise(s["text"]).alias("r"),
        ),
    )
    sample = F.array_join(
        F.transform(F.array_sort(rendered), lambda x: x["r"]), sep
    )
    n_media = F.size(F.filter(spans, lambda s: s["kind"] == "media"))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(spans).alias("n_spans"),
        n_media.alias("n_media"),
        sample.alias("sample"),
    )


def interleave_pack(
    spans: DataFrame,
    seq_len: int,
    tokens_per_media: int = 576,
    order: str = "doc_id",
    parts: int | None = None,
) -> DataFrame:
    """Multimodal sequence packing over INTERLEAVED text/media span
    rows (the engine's payload shape — parse/udfs.py emits one row
    per span with kind ∈ {text, media}): each document costs its
    whitespace text tokens plus ``tokens_per_media`` per media span
    (the fixed patch-token budget an image occupies in an
    interleaved training sequence — 576 = (336/14)² for a ViT-L/14
    at 336px, the public LLaVA configuration), then documents are
    concatenated in ``order`` and split into ``seq_len``-token
    windows (operators/mixing.py pack_weighted — MMC4/Flamingo-style
    dataloader layout, computed corpus-side).

    Output: (doc_id, n_text_tokens, n_media, n_tokens, cum_before,
    seq_start, seq_end, offset).

    Scale shape: one combinable per-doc rollup of the span table,
    then the two-phase prefix-sum pack — no single-partition window.
    """
    from flyscrape_spark.operators.mixing import pack_weighted
    from flyscrape_spark.operators.text import token_count

    per_doc = spans.groupBy(F.col(order)).agg(
        F.sum(
            F.when(F.col("kind") == "text", token_count())
            .otherwise(F.lit(0))
        ).alias("n_text_tokens"),
        F.sum((F.col("kind") == "media").cast("long")).alias("n_media"),
    )
    costed = per_doc.withColumn(
        "n_tokens",
        F.col("n_text_tokens")
        + F.col("n_media") * F.lit(int(tokens_per_media)),
    )
    packed = pack_weighted(
        costed, budget=seq_len, weight_col="n_tokens",
        order=order, parts=parts,
    )
    return packed.join(
        costed.select(order, "n_text_tokens", "n_media"), order
    ).select(
        order, "n_text_tokens", "n_media", "n_tokens", "cum_before",
        F.col("bin_start").alias("seq_start"),
        F.col("bin_end").alias("seq_end"),
        "offset",
    )
