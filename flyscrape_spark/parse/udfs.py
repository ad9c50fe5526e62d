"""Arrow-vectorized extraction UDFs.

The reference's extraction runs single-threaded under a global JS VM
mutex (/root/reference/js.go:225-226) — its stated serial bottleneck.
Here parsing is a scalar pandas UDF: Arrow ships a whole column batch
to Python, we parse thousands of documents per invocation, N batches
run in parallel across executor cores. No per-row Python UDFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from flyscrape_spark.parse.html import extract_spans

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("offset", IntegerType()),
        ]
    )
)


@F.pandas_udf(SPAN_TYPE)
def parse_spans_udf(body: pd.Series) -> pd.Series:
    """HTML body -> interleaved (kind, text, media_ref, offset) spans,
    the input_hint payload. One Python call per Arrow batch."""
    return body.map(lambda html: extract_spans(html) if html else [])


def make_page_udf(selectors: list[str]):
    """Parse-once page UDF: one HTML parse yields BOTH the interleaved
    span payload and the followed links (struct<spans, links>). The
    generation loop materializes this struct at the per-generation
    checkpoint, so each page body is parsed exactly once per crawl —
    the reference parses once per page too (a single goquery document
    feeds both the scrape function and followlinks,
    /root/reference/scrape.go:170-221)."""
    from flyscrape_spark.parse.html import links_from_root, parse_html, spans_from_root

    sels = list(selectors)
    page_type = StructType(
        [
            StructField("spans", SPAN_TYPE),
            StructField("links", ArrayType(StringType())),
        ]
    )

    @F.pandas_udf(page_type)
    def page_udf(body: pd.Series, url: pd.Series) -> pd.DataFrame:
        spans_out, links_out = [], []
        for html, origin in zip(body, url):
            if not html:
                spans_out.append([])
                links_out.append([])
                continue
            root = parse_html(html)
            spans_out.append(spans_from_root(root))
            links_out.append(links_from_root(root, origin, sels) if sels else [])
        return pd.DataFrame({"spans": spans_out, "links": links_out})

    return page_udf


def make_extract_udf(spec: dict[str, tuple[str, str]]):
    """User-extraction analog of the reference's scrape script
    (js.go:155-246): ``spec`` maps field -> (selector, accessor) where
    accessor is 'text' | 'html' | '@<attr>'. Returns a JSON-ready
    struct column (schemaless payloads ride as JSON strings, SURVEY
    §1.2)."""
    import json

    from flyscrape_spark.parse.html import parse_html, select

    items = sorted(spec.items())

    @F.pandas_udf(StringType())
    def extract_udf(body: pd.Series, url: pd.Series) -> pd.Series:
        def one(html: str, origin: str) -> str | None:
            if not html:
                return None
            root = parse_html(html)
            data: dict = {"url": origin}
            for field_name, (selector, accessor) in items:
                nodes = select(root, selector)
                if not nodes:
                    data[field_name] = None
                elif accessor == "text":
                    data[field_name] = nodes[0].text().strip()
                elif accessor.startswith("@"):
                    data[field_name] = nodes[0].attrs.get(accessor[1:])
                else:
                    data[field_name] = nodes[0].text().strip()
            return json.dumps(data, sort_keys=True)

        return pd.Series([one(h, u) for h, u in zip(body, url)])

    return extract_udf
