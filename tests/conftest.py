"""Shared fixtures.

``raw_*`` fixtures mirror the reference's test corpus
(``/root/reference/tests/conftest.py:8-34``): 6 observations (one exact
duplicate Id, one null NumericValue with text Value, one "2020-2020"
range year), 3 indicators (1 dup), 4 countries (1 dup).
"""

from __future__ import annotations

import contextlib
import os

import pytest

from data_pipeline_who_gho_spark.operators import load
from data_pipeline_who_gho_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=4)
    yield s


@pytest.fixture()
def crash_mid_swap(monkeypatch):
    """``with crash_mid_swap(): <write>`` cuts the write's commit between
    its temp write and its install: ``load._install``, the one step that
    swaps a table in, raises, and the block asserts the write failed that
    way."""

    def install(tmp, path):
        raise OSError("simulated crash mid-swap")

    @contextlib.contextmanager
    def cut():
        with monkeypatch.context() as m, pytest.raises(OSError, match="simulated crash"):
            m.setattr(load, "_install", install)
            yield

    return cut


@pytest.fixture()
def tree_bytes():
    """``tree_bytes(dir)``: every file under ``dir`` (relative path) → bytes."""

    def read(top: str) -> dict[str, bytes]:
        out = {}
        for root, _dirs, files in os.walk(top):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, top)] = fh.read()
        return out

    return read


@pytest.fixture()
def raw_observations():
    return [
        {"Id": "1", "IndicatorCode": "WHOSIS_000001", "SpatialDim": "USA",
         "SpatialDimType": "COUNTRY", "TimeDim": "2019", "TimeDimType": "YEAR",
         "NumericValue": "78.5", "Value": "78.5"},
        {"Id": "1", "IndicatorCode": "WHOSIS_000001", "SpatialDim": "USA",
         "SpatialDimType": "COUNTRY", "TimeDim": "2019", "TimeDimType": "YEAR",
         "NumericValue": "78.5", "Value": "78.5"},  # exact duplicate Id
        {"Id": "2", "IndicatorCode": "WHOSIS_000001", "SpatialDim": "FRA",
         "SpatialDimType": "COUNTRY", "TimeDim": "2019", "TimeDimType": "YEAR",
         "NumericValue": None, "Value": "No data"},  # null numeric, text value
        {"Id": "3", "IndicatorCode": "WHOSIS_000001", "SpatialDim": "GBR",
         "SpatialDimType": "COUNTRY", "TimeDim": "2020-2020", "TimeDimType": "YEAR",
         "NumericValue": "81.2", "Value": "81.2"},  # range year
        {"Id": "4", "IndicatorCode": "WHOSIS_000002", "SpatialDim": "JPN",
         "SpatialDimType": "COUNTRY", "TimeDim": "2019", "TimeDimType": "YEAR",
         "NumericValue": "abc", "Value": "abc"},  # unparseable numeric
        {"Id": "5", "IndicatorCode": None, "SpatialDim": "DEU",
         "SpatialDimType": "COUNTRY", "TimeDim": "2019", "TimeDimType": "YEAR",
         "NumericValue": "80.1", "Value": "80.1"},  # null key column
    ]


@pytest.fixture()
def raw_indicators():
    return [
        {"IndicatorCode": "WHOSIS_000001", "IndicatorName": "Life expectancy at birth (years)", "Language": "EN"},
        {"IndicatorCode": "WHOSIS_000001", "IndicatorName": "Life expectancy at birth (years)", "Language": "EN"},
        {"IndicatorCode": "WHOSIS_000002", "IndicatorName": "Healthy life expectancy (HALE)", "Language": "EN"},
    ]


@pytest.fixture()
def raw_countries():
    return [
        {"Code": "USA", "Title": "United States of America"},
        {"Code": "USA", "Title": "United States of America"},
        {"Code": "FRA", "Title": "France"},
        {"Code": "JPN", "Title": "Japan"},
    ]
