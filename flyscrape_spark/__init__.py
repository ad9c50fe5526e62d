"""flyscrape_spark — a PySpark-native URL-frontier crawl engine.

A from-scratch rebuild of the capabilities of philippta/flyscrape
(reference at /root/reference, ~3.5k LoC Go) as a batched BFS frontier
over snapshot-committed parquet tables (Iceberg-compatible layout):

- frontier generations as DataFrames, one batch job per BFS depth
  (reference: 500-goroutine FIFO channel, /root/reference/scrape.go:82-131)
- URL-seen set as an exact hash-keyed anti-join over per-generation
  increments (reference: in-memory hashmap, scrape.go:62-79)
- link extraction / span parsing as vectorized Arrow pandas UDFs
  (reference: mutex-serialized goja JS VM, js.go:225-226)
- per-host politeness via salted host-hash repartitioning
  (reference: one global token ticker, modules/ratelimit/ratelimit.go)
- resume via per-generation snapshot manifests with partition lineage
  (reference: bbolt HTTP cache, modules/cache/cache.go)

Everything is DataFrame + built-in pyspark.sql.functions; Python only
inside Arrow-batched UDFs (no per-row Python UDFs anywhere).
"""

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.plans.frontier import CrawlEngine, CrawlResult

__all__ = ["CrawlConfig", "CrawlEngine", "CrawlResult"]
__version__ = "0.1.0"
