"""Crawl benchmark for flyscrape_spark: three crawl workloads run through
the public ``CrawlEngine`` API, each timed crawl checked against a
plain-Python reference BFS, plus a traced run that splits a crawl into
the engine's layers. Entry point: ``python3 perfbench/run.py``; see
``perfbench/README.md``."""
