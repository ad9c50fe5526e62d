"""The depth horizon: the generation past ``config.depth`` only marks
its URLs seen, and the crawl ends there — no robots, fetch, parse or
fan-out on nothing, and no empty generation after it. Seen set,
discovery order, results and ``generations`` still equal the
sequential oracle. Checkpointed crawls take their row counts from the
snapshot store, so a generation costs a bounded number of Spark jobs.
"""

from __future__ import annotations

import uuid

import pytest

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.oracle import crawl_oracle
from flyscrape_spark.plans.frontier import CrawlEngine
from flyscrape_spark.sources.snapshots import SnapshotStore
from flyscrape_spark.sources.transport import JoinTransport

SEEDS = ["http://t.test/0", "http://t.test/5"]
MISSING = "http://t.test/9"   # transport error: no body, no links


def _web() -> dict[str, tuple[int, str]]:
    """A binary tree of pages: /n links to its two children and back
    to its parent; /4 answers 404 (its links still count)."""
    pages = {}
    for n in range(63):
        html = "".join(f'<a href="/{m}">{m}</a>'
                       for m in (2 * n + 1, 2 * n + 2, n // 2))
        pages[f"http://t.test/{n}"] = (404 if n == 4 else 200, html)
    del pages[MISSING]
    return pages


class CountingTransport(JoinTransport):
    """A JoinTransport that counts its ``fetch`` calls (one per
    generation that fetches)."""

    def __init__(self, pages, config):
        super().__init__(pages, config)
        self.calls = 0

    def fetch(self, frontier):
        self.calls += 1
        return super().fetch(frontier)


def _transport(spark, config) -> CountingTransport:
    rows = [(u, s, h) for u, (s, h) in _web().items()]
    pages = spark.createDataFrame(rows, "url string, status int, html string")
    return CountingTransport(pages, config)


def _seen(result):
    return [(r["url"], r["depth"], r["discovery_order"])
            for r in result.seen.orderBy("discovery_order").collect()]


def _fetched(result):
    return [(r["url"], r["depth"], r["discovery_order"], r["status"])
            for r in result.results.orderBy("discovery_order").collect()]


@pytest.mark.parametrize("depth", [0, 1, 2])
@pytest.mark.parametrize("mode", ["list", "table-throughput"])
def test_horizon_matches_oracle(spark, depth, mode):
    config = CrawlConfig(depth=depth, domain_filter=False)
    transport = _transport(spark, config)
    if mode == "list":
        engine = CrawlEngine(spark, config, transport)
        result = engine.run(SEEDS)
    else:
        # table seeds, and every generation in throughput mode (the
        # counted ordering)
        seeds = spark.createDataFrame(
            [(u, i) for i, u in enumerate(SEEDS)],
            "url string, parent_order long")
        engine = CrawlEngine(spark, config, transport, small_generation_rows=1)
        result = engine.run(seeds, n_seeds=len(SEEDS))

    web = _web()
    oracle = crawl_oracle(SEEDS, config, web.get)
    # generations 0..depth fetch; the horizon generation does not
    assert transport.calls == depth + 1
    assert _seen(result) == [(r.url, r.depth, r.discovery_order)
                             for r in oracle.rows]
    assert _fetched(result) == [
        (r.url, r.depth, r.discovery_order, r.status)
        for r in oracle.rows if r.fetched]
    assert result.generations == max(r.depth for r in oracle.rows) + 1
    assert result.generations == depth + 2  # the horizon has URLs
    assert [m["generation"] for m in result.metrics] == list(
        range(result.generations))
    assert result.metrics[-1]["fetched"] == 0


def _checkpointed(spark, config, store_dir):
    transport = _transport(spark, config)
    engine = CrawlEngine(spark, config, transport,
                         checkpoint=SnapshotStore(store_dir))
    return engine.run(SEEDS), transport


def test_horizon_manifest_rows_and_resume(spark, tmp_path):
    """The horizon generation commits a frontier-only manifest whose
    recorded rows are right; resuming the finished crawl fetches
    nothing."""
    config = CrawlConfig(depth=1, domain_filter=False)
    store_dir = str(tmp_path / "snap")
    full, transport = _checkpointed(spark, config, store_dir)
    assert transport.calls == 2

    manifests = SnapshotStore(store_dir).manifests()
    assert [m["gen"] for m in manifests] == [0, 1, 2]
    last = manifests[-1]
    assert set(last["tables"]) == {"frontier"}
    assert last["rows"]["frontier"] == sum(p["rows"] for p in last["lineage"])
    assert last["rows"]["frontier"] == last["metrics"]["enqueued"] > 0
    assert last["metrics"]["fetched"] == 0
    # every recorded count is the table's true row count
    for m in manifests:
        for table, path in m["tables"].items():
            assert m["rows"][table] == spark.read.parquet(path).count()

    again, transport = _checkpointed(spark, config, store_dir)
    assert transport.calls == 0
    assert _seen(again) == _seen(full)
    assert _fetched(again) == _fetched(full)
    assert again.generations == full.generations


def test_invalidate_then_resume_past_horizon_refetches(spark, tmp_path):
    """A resume that starts past the horizon still runs its first
    generation's fetch half: a re-admitted URL keeps its original
    depth and is refetched exactly once."""
    config = CrawlConfig(depth=1, domain_filter=False)
    store_dir = str(tmp_path / "snap")
    full, transport = _checkpointed(spark, config, store_dir)
    assert transport.calls == 2
    target = "http://t.test/1"
    assert target in {u for u, *_ in _fetched(full)}

    assert SnapshotStore(store_dir).invalidate(spark, [target]) == 1
    resumed, transport = _checkpointed(spark, config, store_dir)
    assert transport.calls == 1
    new = resumed.metrics[len(full.metrics):]
    assert new[0]["generation"] > config.depth
    assert sum(m["fetched"] for m in new) == 1
    refetched = [r for r in _fetched(resumed) if r[0] == target]
    assert len(refetched) == 1 and refetched[0][1] == 1
    assert {r[0] for r in _fetched(resumed)} == {r[0] for r in _fetched(full)}


# Spark jobs per generation of the crawl below: it runs 14 in its 3
# generations (local[4]). Each write of a committed table is one job;
# a count() or schema-inference job per table, or a full generation run
# past the horizon, would break the bound.
JOBS_PER_GENERATION = 5


def test_checkpointed_crawl_job_budget(spark, tmp_path):
    config = CrawlConfig(depth=1, domain_filter=True, respect_robots=True)
    group = f"job-budget-{uuid.uuid4().hex[:8]}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result, _ = _checkpointed(spark, config, str(tmp_path / "snap"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert result.generations == 3
    assert jobs <= JOBS_PER_GENERATION * result.generations, jobs
