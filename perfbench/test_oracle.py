"""The reference BFS agrees with the engine on a tiny web of each
workload's shape, and the output check catches a wrong crawl.

    python3 -m pytest perfbench/test_oracle.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.oracle import check, reference_bfs  # noqa: E402
from perfbench.webgraph import ROBOTS_DISALLOW, WebModel, synth_url  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

COLS = ["url", "depth", "discovery_order"]

# instance overrides that shrink each workload to a few hundred URLs
TINY = {
    "bulk_bfs": {"pages": 5_000, "n_seeds": 6},
    "deep_narrow_bfs": {"pages": 300, "depth": 5},
    "durable_polite_crawl": {"d_pages": 5_000, "seed_sites": 2,
                             "rich_per_site": 2, "d_seeds": 2},
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from flyscrape_spark.session import get_spark

    wh = tmp_path_factory.mktemp("warehouse")
    spark = get_spark(app_name="perfbench-test", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.sql.warehouse.dir": str(wh),
                                  "spark.ui.showConsoleProgress": "false"})
    yield spark
    spark.stop()


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_reference_bfs_matches_engine(spark, tmp_path, name):
    workload = WORKLOADS[name](2)
    for key, value in TINY[name].items():
        setattr(workload, key, value)
    inputs = workload.inputs(spark, 7, tmp_path)
    expected = workload.expected(inputs)
    result = workload.crawl(spark, inputs, tmp_path / "store").result

    seen = result.seen.select(*COLS).toPandas()
    fetched = result.results.select(*COLS).toPandas()
    assert check(expected, seen, fetched) == []
    assert result.generations == expected.generations
    assert expected.n_fetched > len(inputs.seed_urls)
    if name == "durable_polite_crawl":
        # robots.txt and the domain filter both drop seen URLs
        private = seen["url"].str.contains(ROBOTS_DISALLOW, regex=False)
        assert private.any()
        assert not fetched["url"].str.contains(ROBOTS_DISALLOW, regex=False).any()


def test_site_transport_serves_synthetic_pages(spark):
    from flyscrape_spark.sources.synth import SyntheticWebTransport
    from perfbench.sitetransport import SiteTransport
    from perfbench.webgraph import SYNTH_HOSTS

    urls = [synth_url(i) for i in (0, 7, 4_999)] + ["http://w3.example/d/5000"]
    frontier = spark.createDataFrame([(u,) for u in urls], "url string")

    def pages(transport):
        return {r["url"]: r.asDict() for r in transport.fetch(frontier).collect()}

    assert pages(SiteTransport(5_000)) == pages(
        SyntheticWebTransport(5_000, SYNTH_HOSTS, 8))


def test_check_reports_a_wrong_crawl():
    import pandas as pd

    model = WebModel(1_000, branching=2)
    seeds = [synth_url(5), synth_url(17)]
    expected = reference_bfs(model, seeds, depth=2, domain_filter=False)
    ok = reference_rows(model, seeds, depth=2)
    seen = pd.DataFrame(ok, columns=COLS)
    assert check(expected, seen, seen[seen["depth"] <= 2]) == []

    swapped = seen.copy()
    swapped.loc[[1, 2], "discovery_order"] = [2, 1]
    assert "seen digest differs" in check(
        expected, swapped, seen[seen["depth"] <= 2])
    repeated = pd.concat([seen[seen["depth"] <= 2], seen.head(1)])
    assert check(expected, seen, repeated) != []


def reference_rows(model, seeds, depth):
    """(url, depth, order) rows of a plain BFS, written independently of
    the oracle's queue bookkeeping."""
    rows, seen, frontier = [], set(), []
    for s in seeds:
        if s not in seen:
            seen.add(s)
            frontier.append(s)
            rows.append((s, 0, len(rows)))
    for d in range(depth + 1):
        nxt = []
        for url in frontier:
            for link in model.links(url) or ():
                if link not in seen:
                    seen.add(link)
                    nxt.append(link)
                    rows.append((link, d + 1, len(rows)))
        frontier = nxt
    return rows
