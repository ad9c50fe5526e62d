"""Property-based checks (hypothesis) for the URL column library:
Spark canonicalize == DuckDB canonicalize_sql on arbitrary inputs,
canonicalization idempotency, and resolve() validity invariants.

These pin the cross-engine contract the driver's oracle gate relies
on, over a much wider input space than the fixture tests.
"""

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

from flyscrape_spark.functions.urls import (
    canonicalize,
    canonicalize_sql,
    host_of,
    path_of,
    resolve,
    scheme_of,
    surt_key,
)

# URL-ish strings: schemes, hosts with case/ports, paths, queries,
# fragments, whitespace padding — plus outright junk
_scheme = st.sampled_from(["http", "HTTP", "https", "HtTpS", "ftp", "mailto", ""])
_host = st.from_regex(r"[A-Za-z0-9.-]{1,20}", fullmatch=True)
_port = st.sampled_from(["", ":80", ":443", ":8080"])
_path = st.from_regex(r"(/[A-Za-z0-9._~%-]{0,10}){0,3}", fullmatch=True)
_query = st.sampled_from(["", "?a=1", "?q=x&y=%20"])
_frag = st.sampled_from(["", "#f", "#a/b?c"])
_pad = st.sampled_from(["", " ", "  \t"])


@st.composite
def urlish(draw):
    scheme = draw(_scheme)
    body = draw(_host) + draw(_port) + draw(_path) + draw(_query) + draw(_frag)
    sep = "://" if scheme else ""
    return draw(_pad) + scheme + sep + body + draw(_pad)


_junk = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="'\\\x00"),
    max_size=30,
)


@pytest.fixture(scope="module")
def engines(spark):
    con = duckdb.connect()
    canon = canonicalize("u")

    def both(value: str) -> tuple[str, str]:
        sdf = spark.createDataFrame([(value,)], "u string").select(
            canon.alias("c")
        )
        spark_val = sdf.head()["c"]
        duck_val = con.execute(
            f"SELECT {canonicalize_sql('u')} AS c FROM (SELECT ? AS u)", [value]
        ).fetchone()[0]
        return spark_val, duck_val

    return both


@settings(max_examples=30, deadline=None)
@given(url=urlish())
def test_spark_duckdb_canonicalize_agree(engines, url):
    spark_val, duck_val = engines(url)
    assert spark_val == duck_val


@settings(max_examples=20, deadline=None)
@given(url=_junk)
def test_spark_duckdb_canonicalize_agree_on_junk(engines, url):
    spark_val, duck_val = engines(url)
    assert spark_val == duck_val


@settings(max_examples=30, deadline=None)
@given(url=urlish())
def test_canonicalize_idempotent(engines, url):
    once, _ = engines(url)
    twice, _ = engines(once)
    assert twice == once


@settings(max_examples=50, deadline=None)
@given(origin=urlish(), link=st.one_of(urlish(), _junk))
def test_resolve_scheme_invariant(origin, link):
    out = resolve(origin.strip(), link.strip())
    if out is not None:
        from urllib.parse import urlparse

        assert urlparse(out).scheme in ("", "http", "https")


def _general_resolve(origin, link):
    # the pre-fast-path reference implementation: plain RFC 3986
    # urljoin + post-resolution scheme validity
    from urllib.parse import urljoin, urlparse

    try:
        absolute = urljoin(origin, link)
        scheme = urlparse(absolute).scheme
    except ValueError:
        return None
    if scheme not in ("", "http", "https"):
        return None
    return absolute


_linkish = st.one_of(
    urlish(),
    _junk,
    st.from_regex(r"(/|\.\./|\./)?[A-Za-z0-9._~%-]{0,8}(/[A-Za-z0-9._~%-]{0,8}){0,3}([?#][A-Za-z0-9=&]{0,6})?", fullmatch=True),
)


@settings(max_examples=300, deadline=None)
@given(origin=st.one_of(urlish(), _junk), link=_linkish)
def test_resolve_fast_path_matches_general_path(origin, link):
    # the extraction-UDF hot path short-circuits absolute and
    # root-relative links to string ops; byte-for-byte equality with
    # the general urljoin path is the contract
    assert resolve(origin, link) == _general_resolve(origin, link)


# characters java.net.URI rejects (or that change how it splits a URL),
# spliced anywhere into a URL-ish string
_uri_char = st.sampled_from(list(" |{}^`<>\"\\[]%@:/?#_"))


@st.composite
def rough_url(draw):
    base = draw(urlish()).strip()
    at = draw(st.integers(0, len(base)))
    return base[:at] + draw(st.text(alphabet=_uri_char, max_size=4)) + base[at:]


@settings(max_examples=40, deadline=None)
@given(urls=st.lists(st.one_of(urlish(), rough_url()), min_size=1, max_size=12))
def test_url_parts_match_parse_url_and_never_raise(spark, urls):
    """host_of / scheme_of / path_of equal parse_url on every URL
    java.net.URI accepts (parse_url is ``new URI(url)``), and evaluate
    without raising on the ones it rejects, where ANSI parse_url fails
    the whole job."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import functions as F

    def accepted(url):
        try:
            spark.sparkContext._jvm.java.net.URI(url)
        except Py4JJavaError:
            return False
        return True

    def parse_url(part):
        return F.try_parse_url("u", F.lit(part))

    rows = spark.createDataFrame([(u,) for u in urls], "u string").select(
        "u",
        host_of("u").alias("host"), F.lower(parse_url("HOST")).alias("p_host"),
        scheme_of("u").alias("scheme"),
        F.lower(parse_url("PROTOCOL")).alias("p_scheme"),
        path_of("u").alias("path"), parse_url("PATH").alias("p_path"),
        surt_key("u").alias("surt"),
    ).collect()
    for r in rows:
        if accepted(r["u"]):
            assert (r["host"], r["scheme"], r["path"]) == (
                r["p_host"], r["p_scheme"], r["p_path"]), r["u"]
