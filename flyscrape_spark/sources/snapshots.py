"""Snapshot-committed table store: parquet data files + atomic JSON
manifests, one snapshot per crawl generation.

This reproduces the Iceberg usage the design calls for (SURVEY §3:
"snapshot-tag per generation", resume = last complete snapshot) without
Iceberg jars, which this environment lacks. The layout is deliberately
Iceberg-shaped so a real catalog can be swapped in on a cluster:

    root/
      data/<table>/gen=NNNNNN/part-*.parquet   -- immutable data files
      _manifests/gen-NNNNNN.json               -- atomic commit marker:
          {gen, tables, rows, schemas, lineage, metrics, next_order}
      _invalidated/inv-*.json                  -- force-refetch queue

``rows`` maps each table to its row count and ``schemas`` to its Spark
schema (``StructType.jsonValue()``). Like Iceberg's per-file record
counts (``added-records``), the counts come from the parquet footers
of the part files a commit just wrote (the store lives on the driver's
file system, as the ``os.replace`` commits already require), and
readers use the recorded schema, so neither counting nor reading a
table back runs a Spark job.

A generation is visible iff its manifest exists; manifests are written
tmp + fsync + rename + directory fsync, so a killed job leaves at most
an invisible partial data dir and resume starts from the last
*complete* generation with zero re-fetches of committed work.

Per-partition lineage (north_rule): each commit records, per part
file of the generation's frontier, its row count and host range.

The reference's analog is the bbolt HTTP cache
(/root/reference/modules/cache/cache.go:46-81) — a KV of fetched
responses giving idempotent re-runs; here the fetched snapshots ARE
the cache, consulted by generation anti-joins instead of per-URL gets.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from collections import Counter
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _atomic_json(path: Path, obj) -> None:
    """Publish ``obj`` as ``path`` crash-safely: write a temp file in
    the same directory, fsync it, rename it over ``path``, then fsync
    the directory so the rename itself survives a crash."""
    fd, tmp = tempfile.mkstemp(dir=path.parent, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dir_fd = os.open(path.parent, os.O_RDONLY)
    try:
        os.fsync(dir_fd)
    finally:
        os.close(dir_fd)


def _part_files(path: str) -> list[Path]:
    return sorted(Path(path).glob("part-*.parquet"))


def _footer_rows(path: str) -> int:
    """Rows of a written table, summed from its part-file footers."""
    return sum(pq.read_metadata(p).num_rows for p in _part_files(path))


def _lineage(path: str) -> list[dict]:
    """Per-partition lineage of a frontier table: each non-empty part
    file's partition id, row count and host range (``regexp_extract``
    semantics: a URL without an http(s) host counts as host "")."""
    out = []
    for p in _part_files(path):
        urls = pq.read_table(p, columns=["url"]).column("url")
        if len(urls) == 0:
            continue
        host = pc.extract_regex(urls, r"^https?://(?P<h>[^/]+)")
        hosts = pc.min_max(pc.fill_null(pc.struct_field(host, "h"), ""))
        out.append({"pid": int(p.name.split("-")[1]), "rows": len(urls),
                    "host_min": hosts["min"].as_py(),
                    "host_max": hosts["max"].as_py()})
    return out


def _read(spark: SparkSession, path: str, schema: dict) -> DataFrame:
    """Read a committed table with its recorded schema: no inference
    job."""
    return spark.read.schema(StructType.fromJson(schema)).parquet(path)


class SnapshotStore:
    def __init__(self, root: str):
        self.root = Path(root)
        (self.root / "_manifests").mkdir(parents=True, exist_ok=True)
        self._pending: dict[int, dict] = {}
        # queue files resume() re-admitted; deleted once the next
        # manifest that commits them is published
        self._admitted_queue: list[Path] = []

    # -- paths ------------------------------------------------------------

    def _data_dir(self, table: str, gen: int) -> Path:
        return self.root / "data" / table / f"gen={gen:06d}"

    def _manifest_path(self, gen: int) -> Path:
        return self.root / "_manifests" / f"gen-{gen:06d}.json"

    # -- commit protocol ---------------------------------------------------

    def commit(self, df: DataFrame, table: str, gen: int) -> DataFrame:
        """Write a generation's table and return the read-back handle
        (lineage-truncated: downstream plans scan parquet, not the
        upstream DAG). Rows and lineage come from the part files just
        written; the write is the only Spark job."""
        path = str(self._data_dir(table, gen))
        df.write.mode("overwrite").parquet(path)
        pending = self._pending.setdefault(
            gen, {"tables": {}, "rows": {}, "schemas": {}})
        pending["tables"][table] = path
        pending["rows"][table] = _footer_rows(path)
        pending["schemas"][table] = df.schema.jsonValue()
        if table == "frontier":
            pending["lineage"] = _lineage(path)
        return df.sparkSession.read.schema(df.schema).parquet(path)

    def rows(self, table: str, gen: int) -> int:
        """Row count of ``table`` as committed for ``gen`` (not yet
        published)."""
        return self._pending[gen]["rows"][table]

    def commit_meta(self, gen: int, metrics: dict, next_order: int) -> None:
        """Atomically publish the generation. Its frontier holds every
        URL a resume re-admitted from the force-refetch queue, so the
        queue files are spent once the manifest is in place."""
        pending = self._pending.pop(gen, {})
        _atomic_json(self._manifest_path(gen), {
            "gen": gen,
            "tables": pending.get("tables", {}),
            "rows": pending.get("rows", {}),
            "schemas": pending.get("schemas", {}),
            "lineage": pending.get("lineage", []),
            "metrics": metrics,
            "next_order": next_order,
        })
        for p in self._admitted_queue:
            p.unlink(missing_ok=True)
        self._admitted_queue = []

    # -- cache bypass / force-refetch ----------------------------------------

    def invalidate(self, spark: SparkSession, urls: list[str]) -> int:
        """Force-refetch: drop ``urls`` from every committed frontier
        and fetched snapshot, and queue them for re-enqueue on the
        next resume. The reference analog is the cache-bypass header
        (/root/reference/utils.go:14, modules/cache/cache.go:89-95):
        a bypassed URL's cached response is ignored and refetched.

        Mechanics: each affected snapshot is rewritten WITHOUT the
        URLs into a fresh data dir, the manifest is atomically updated
        to point at it (same protocol as commit_meta, with the table's
        rows and lineage recomputed), and the dropped frontier rows
        (url, depth) are recorded under ``_invalidated/``. ``resume``
        re-admits them as candidates — the seen anti-join passes (they
        are gone from seen), so they refetch exactly once; everything
        else stays zero-refetch. Returns the number of frontier rows
        invalidated."""
        urls = [u.strip() for u in urls if u and u.strip()]
        if not urls:
            return 0
        entries: list[dict] = []
        for m in self.manifests():
            gen = m["gen"]
            changed = False
            for table in ("frontier", "fetched", "links"):
                path = m["tables"].get(table)
                if not path:
                    continue
                df = _read(spark, path, m["schemas"][table])
                hits = df.filter(F.col("url").isin(urls))
                hit_rows = hits.select(
                    "url", *(["depth"] if "depth" in df.columns else [])
                ).collect()
                if not hit_rows:
                    continue
                if table == "frontier":
                    entries.extend(
                        {"url": r["url"], "depth": r["depth"]} for r in hit_rows
                    )
                new_path = str(
                    self._data_dir(table, gen).parent
                    / f"gen={gen:06d}-inv-{uuid.uuid4().hex[:8]}"
                )
                df.filter(~F.col("url").isin(urls)).write.mode(
                    "overwrite"
                ).parquet(new_path)
                m["tables"][table] = new_path
                m["rows"][table] = _footer_rows(new_path)
                if table == "frontier":
                    m["lineage"] = _lineage(new_path)
                changed = True
            if changed:
                _atomic_json(self._manifest_path(gen), m)
        if entries:
            inv_dir = self.root / "_invalidated"
            inv_dir.mkdir(exist_ok=True)
            _atomic_json(inv_dir / f"inv-{uuid.uuid4().hex[:8]}.json", entries)
        return len(entries)

    def _queued_invalidations(self) -> tuple[list[dict], list[Path]]:
        inv_dir = self.root / "_invalidated"
        paths = sorted(inv_dir.glob("inv-*.json")) if inv_dir.exists() else []
        entries: list[dict] = []
        for p in paths:
            with open(p) as f:
                entries.extend(json.load(f))
        return entries, paths

    # -- resume -------------------------------------------------------------

    def manifests(self) -> list[dict]:
        out = []
        for p in sorted((self.root / "_manifests").glob("gen-*.json")):
            with open(p) as f:
                out.append(json.load(f))
        return out

    def resume(self, spark: SparkSession):
        """Return engine state after the last complete generation, or
        None for a fresh crawl:
        (seen_frames, candidates, result_frames, metrics, start_gen,
        next_order, robots_frames, rows), where ``rows`` maps each
        table to its committed row total.

        Queued force-refetch URLs are re-admitted but stay queued
        until the next commit_meta publishes them, so a crash between
        here and that commit loses none."""
        manifests = self.manifests()
        if not manifests:
            return None
        last = manifests[-1]
        gens = [m["gen"] for m in manifests]

        def frames(table: str) -> list[DataFrame]:
            return [_read(spark, m["tables"][table], m["schemas"][table])
                    for m in manifests if table in m["tables"]]

        if "links" in last["tables"]:
            candidates = _read(spark, last["tables"]["links"],
                               last["schemas"]["links"])
        else:
            candidates = None
        # force-refetch queue: invalidated URLs re-enter as candidates
        # at their original depth, ordered before link-derived ones
        invalidated, self._admitted_queue = self._queued_invalidations()
        if invalidated:
            from flyscrape_spark.plans.frontier import CAND_SCHEMA

            inv_df = spark.createDataFrame(
                [
                    (e["url"], int(e["depth"]), -1, i)
                    for i, e in enumerate(invalidated)
                ],
                CAND_SCHEMA,
            )
            candidates = (
                inv_df if candidates is None
                else inv_df.unionByName(candidates)
            )
        metrics = [m["metrics"] for m in manifests]
        rows: Counter[str] = Counter()
        for m in manifests:
            rows.update(m["rows"])
        return (
            frames("frontier"), candidates, frames("fetched"), metrics,
            max(gens) + 1, last["next_order"], frames("robots"), rows,
        )
