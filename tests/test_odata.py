"""Concrete OData/WHO client: URL construction, paging, 404/error policy
(reference parity: etl/extract.py:24-153), and the Spark fan-out path —
all network-free via the injected transport."""

from __future__ import annotations

from urllib.error import URLError

import pytest

from data_pipeline_who_gho_spark.sources.odata import (
    ODataPageFetcher,
    build_odata_url,
    spatial_filter,
)
from data_pipeline_who_gho_spark.sources.paged import fetch_all_pages, fetch_paged
from data_pipeline_who_gho_spark.sources.testing import FakeODataTransport


def _obs(ind, country, n):
    return [
        {"Id": f"{ind}-{country}-{i}", "IndicatorCode": ind,
         "SpatialDim": country, "TimeDim": str(2000 + i),
         "NumericValue": float(i)}
        for i in range(n)
    ]


def test_url_builder_encodes_odata_params():
    url = build_odata_url(
        "https://ghoapi.azureedge.net/api", "WHOSIS_000001",
        top=100, skip=200,
        filter_expr=spatial_filter("USA"), orderby="TimeDim asc",
    )
    assert url.startswith("https://ghoapi.azureedge.net/api/WHOSIS_000001?")
    assert "%24filter=SpatialDim%20eq%20%27USA%27" in url
    assert "%24orderby=TimeDim%20asc" in url
    assert "%24top=100" in url and "%24skip=200" in url


def test_spatial_filter_escapes_quotes():
    assert spatial_filter("O'B") == "SpatialDim eq 'O''B'"


def test_pagination_top_skip_progression():
    data = {"IND_A": _obs("IND_A", "USA", 25)}
    tr = FakeODataTransport(data)
    f = ODataPageFetcher(base_url="http://x/api", transport=tr)
    rows = list(fetch_all_pages(f, "IND_A|USA", page_size=10))
    assert len(rows) == 25
    assert [r["Id"] for r in rows] == [f"IND_A-USA-{i}" for i in range(25)]
    # 3 pages: skip 0, 10, 20; the short page (5 < 10) stops the stream
    skips = [u.split("%24skip=")[1] for u in tr.urls]
    assert skips == ["0", "10", "20"]


def test_404_yields_empty_stream():
    tr = FakeODataTransport({})
    f = ODataPageFetcher(base_url="http://x/api", transport=tr)
    assert list(fetch_all_pages(f, "ABSENT|USA", page_size=10)) == []


def test_http_error_raises_then_retry_succeeds():
    data = {"IND_A": _obs("IND_A", "USA", 3)}
    tr = FakeODataTransport(data, flaky_first=True)
    f = ODataPageFetcher(base_url="http://x/api", transport=tr,
                         skip_request_errors=False)
    # first attempt raises ConnectionError; fetch_all_pages retries
    rows = list(fetch_all_pages(f, "IND_A|USA", page_size=10))
    assert len(rows) == 3


def test_server_error_raises():
    tr = FakeODataTransport({}, fail_statuses={"IND_A": 500})
    f = ODataPageFetcher(base_url="http://x/api", transport=tr)
    with pytest.raises(RuntimeError, match="HTTP 500"):
        f("IND_A|USA", 0, 10)


def test_request_error_skipped_when_opted_in():
    tr = FakeODataTransport({"IND_A": _obs("IND_A", "USA", 3)}, flaky_first=True)
    f = ODataPageFetcher(base_url="http://x/api", transport=tr,
                         skip_request_errors=True)
    # reference parity, opt-in: skip_request_errors swallows the error
    assert f("IND_A|USA", 0, 10) == []


def test_key_without_country_omits_filter():
    data = {"IND_A": _obs("IND_A", "USA", 2) + _obs("IND_A", "FRA", 2)}
    tr = FakeODataTransport(data)
    f = ODataPageFetcher(base_url="http://x/api", transport=tr)
    rows = list(fetch_all_pages(f, "IND_A", page_size=10))
    assert len(rows) == 4
    assert "%24filter" not in tr.urls[0]


def test_spark_fan_out_with_odata_fetcher(spark):
    """fetch_paged drives the OData client from the driver's threads: the
    indicator × country crossJoin plan becomes parallel HTTP streams (S6)."""
    data = {
        "IND_A": _obs("IND_A", "USA", 12) + _obs("IND_A", "FRA", 3),
        "IND_B": _obs("IND_B", "USA", 5),
    }
    f = ODataPageFetcher(base_url="http://x/api", transport=FakeODataTransport(data))
    inds = spark.createDataFrame([("IND_A",), ("IND_B",)], "ind STRING")
    ctys = spark.createDataFrame([("USA",), ("FRA",)], "cty STRING")
    from pyspark.sql import functions as F

    plan = inds.crossJoin(ctys).select(
        F.concat_ws("|", "ind", "cty").alias("key")
    )
    out = fetch_paged(
        spark, plan, f,
        "Id STRING, IndicatorCode STRING, SpatialDim STRING, "
        "TimeDim STRING, NumericValue DOUBLE",
        page_size=10,
    )
    rows = out.collect()
    assert len(rows) == 20  # 12 + 3 + 5 + 0 (IND_B|FRA absent -> empty)
    assert {r["IndicatorCode"] for r in rows} == {"IND_A", "IND_B"}


def test_fetch_where_every_key_is_absent_keeps_declared_schema(spark):
    """Every key answered 404: an empty frame of exactly the declared
    schema, not an error or an inferred one."""
    from pyspark.sql.types import StructType

    ddl = "Id STRING, IndicatorCode STRING, TimeDim INT, NumericValue DOUBLE"
    f = ODataPageFetcher(base_url="http://x/api", transport=FakeODataTransport({}))
    keys = spark.createDataFrame([("GONE|USA",), ("GONE|FRA",)], "key STRING")
    out = fetch_paged(spark, keys, f, ddl, page_size=10)
    assert out.schema == StructType.fromDDL(ddl)
    assert out.count() == 0


class _ResetOnce:
    """Wraps a transport; the first request for ``$skip=<skip>`` fails
    with a connection error, every later request is served."""

    def __init__(self, inner, skip: int):
        self.inner, self.marker, self.tripped = inner, f"%24skip={skip}", False

    def __call__(self, url: str):
        if not self.tripped and self.marker in url:
            self.tripped = True
            raise URLError("connection reset")
        return self.inner(url)


def test_connection_error_mid_key_is_retried_by_default():
    """One connection reset on page 2 must not end the key's pagination:
    the default fetcher raises, ``fetch_all_pages`` retries the page, and
    every record arrives."""
    tr = _ResetOnce(FakeODataTransport({"IND_A": _obs("IND_A", "USA", 5)}), skip=2)
    f = ODataPageFetcher(base_url="http://x/api", transport=tr)
    rows = list(fetch_all_pages(f, "IND_A|USA", page_size=2, backoff_s=0.0))
    assert [r["Id"] for r in rows] == [f"IND_A-USA-{i}" for i in range(5)]
