"""Tests of the benchmark itself (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

import threading
from datetime import timedelta

import pyarrow as pa
import pyarrow.dataset as ds
import pytest

import gen
from expected import ExpectedWarehouse, same_rows, warehouse_state
from odata_server import serve
from spans import Span, delta, inclusive, self_times, unattributed

from data_pipeline_who_gho_spark.sources.odata import ODataPageFetcher
from data_pipeline_who_gho_spark.sources.paged import fetch_all_pages


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------

def test_feed_is_deterministic_per_seed():
    a, b, c = gen.who_feed(7, 3, 5), gen.who_feed(7, 3, 5), gen.who_feed(8, 3, 5)
    assert a == b
    assert a.rows() != c.rows()


def test_incremental_batches_are_deterministic_per_seed():
    f1, f2 = gen.IncrementalFeed(3, 3, 5, 50, 30), gen.IncrementalFeed(3, 3, 5, 50, 30)
    assert f1.base == f2.base
    for _ in range(3):
        assert f1.next_batch() == f2.next_batch()
    assert f1.watermark == f2.watermark


def test_corpus_is_deterministic_per_seed():
    assert gen.corpus(5, 50) == gen.corpus(5, 50)
    assert gen.corpus(5, 50)[0] != gen.corpus(6, 50)[0]


def test_feed_carries_every_edge_case_class():
    rows = gen.who_feed(1).rows()
    ids = [r["Id"] for r in rows]
    assert len(ids) > len(set(ids))  # duplicate Ids
    assert any(r["IndicatorCode"] is None for r in rows)
    assert any(r["TimeDim"] in (None, "n/a") for r in rows)
    assert any(r["NumericValue"] in gen.UNPARSEABLE_NUMBERS for r in rows)
    assert any(r["TimeDim"] and "-" in r["TimeDim"] and r["TimeDim"] != "n/a" for r in rows)
    assert any(r["SpatialDimType"] is None for r in rows)
    assert any(r["TimeDimType"] is None for r in rows)


def test_replays_sit_at_or_below_the_previous_watermark():
    feed = gen.IncrementalFeed(2, 3, 5, 40, 20, n_replays=5)
    for _ in range(3):
        before = feed.watermark
        batch = feed.next_batch()
        old = [r for r in batch if r["ingested_at"] <= before]
        assert len(old) == 5
        assert feed.watermark == max(r["ingested_at"] for r in batch)


# ---------------------------------------------------------------------------
# OData server, driven by the program's own fetcher
# ---------------------------------------------------------------------------

@pytest.fixture
def server():
    rows_a = [{"Id": str(i), "SpatialDim": "AAA", "TimeDim": str(2000 + i)} for i in range(250)]
    rows_b = [{"Id": str(1000 + i), "SpatialDim": "O'K", "TimeDim": "2001"} for i in range(3)]
    doc = {
        "page_size": 100,
        "sets": {"IND1": {"AAA": rows_a, "O'K": rows_b}, "Indicator": {"": [{"IndicatorCode": "IND1"}]}},
        "fail_once": [["IND1", "AAA", 100]],
    }
    srv = serve(doc)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", rows_a, rows_b
    srv.shutdown()
    srv.server_close()


def _stats(base):
    import json
    import urllib.request

    with urllib.request.urlopen(base + "/_epoch") as r:
        return json.loads(r.read())


def test_server_pages_filter_and_retry(server):
    base, rows_a, rows_b = server
    f = ODataPageFetcher(base_url=base + "/api")
    _stats(base)
    got = list(fetch_all_pages(f, "IND1|AAA", 100, backoff_s=0.0))
    assert got == rows_a  # 100 + 100 + 50, in order, across one 503
    stats = _stats(base)
    assert stats["errors_injected"] == 1
    assert stats["requests"] - stats["distinct_pages"] == 1  # the retry
    assert stats["records_served"] == 250
    # quotes in the filter literal round-trip
    assert list(fetch_all_pages(f, "IND1|O'K", 100)) == rows_b
    # a country with no rows is an empty page, not an error
    assert f("IND1|ZZZ", 0, 100) == []
    # unfiltered entity sets (the dimensions)
    assert f("Indicator", 0, 100) == [{"IndicatorCode": "IND1"}]


def test_server_unknown_entity_set_is_404(server):
    base, _, _ = server
    f = ODataPageFetcher(base_url=base + "/api")
    status, _ = f.transport(f.url_for("NOPE|AAA", 0, 100))
    assert status == 404
    assert f("NOPE|AAA", 0, 100) == []


# ---------------------------------------------------------------------------
# expected-value calculator, on a hand-checked feed
# ---------------------------------------------------------------------------

def _row(i, ind="IND_A", sp="AAA", sp_t="COUNTRY", t="2019", t_t="YEAR", num="1.0", at=None):
    r = {"Id": i, "IndicatorCode": ind, "SpatialDim": sp, "SpatialDimType": sp_t,
         "TimeDim": t, "TimeDimType": t_t, "NumericValue": num, "Value": f"v{i}"}
    if at is not None:
        r["ingested_at"] = at
    return r


T0 = gen.BASE_INGESTED_AT

HAND_FEED = [
    _row("1", num="10.5", at=T0),                        # kept
    _row("1", num="10.5", at=T0),                        # exact duplicate Id: dropped
    _row("2", t="2019-2019", num="11.0", at=T0),         # range year -> 2019
    _row("3", t="2020", num="n/a", at=T0),               # unparseable number -> NULL, kept
    _row("4", t=None, at=T0),                            # null key: dropped
    _row("5", t="n/a", at=T0),                           # unusable year: dropped
    _row("6", ind=None, at=T0),                          # null key: dropped
    _row("7", sp_t=None, t="2020", at=T0),               # rejected
    _row("7", sp_t=None, t="2020", at=T0),               # duplicate of a reject
    _row("8", ind="IND_B", sp="BBB", t="2021", t_t=None, at=T0),  # rejected
    _row("9", ind="IND_B", sp="BBB", t="2021", num="", at=T0),    # empty number -> NULL
    _row("10", t="2018", num="3.0", at=T0),              # same Id twice: smaller
    _row("10", t="2017", num="4.0", at=T0),              #   TimeDim (2017) wins
    _row("11", ind="IND_B", sp="BBB", t="1990", num="<0.1", at=T0),
]

DAY = timedelta(hours=1)
HAND_BATCH = [
    _row("1", num="99.0", at=T0 + DAY),                  # update wins
    _row("12", t="2024", num="5.0", at=T0 + 2 * DAY),    # new key
    _row("2", num="77.0", at=T0),                        # replay at the watermark: skipped
    _row("3", num="66.0", at=T0 - DAY),                  # replay below it: skipped
    _row("13", t="2024", t_t=None, at=T0 + 3 * DAY),     # rejected, still moves the watermark
    _row("10", t="2016", num="8.0", at=T0 + DAY),        # key moves to another year
]


def _facts(exp):
    return exp.con.execute(
        "SELECT observation_id, time_dim, numeric_value FROM fact ORDER BY observation_id"
    ).fetchall()


def test_expected_full_load_by_hand():
    exp = ExpectedWarehouse()
    countries = [{"Code": "AAA", "Title": "A"}, {"Code": "BBB", "Title": None}]
    exp.load(HAND_FEED, full_reingest=True, countries=countries,
             indicators=[{"IndicatorCode": "IND_A"}])
    assert _facts(exp) == [
        ("1", 2019, 10.5), ("10", 2017, 4.0), ("11", 1990, None),
        ("2", 2019, 11.0), ("3", 2020, None), ("9", 2021, None),
    ]
    state = exp.state()
    assert state["fact_rows"] == 6
    assert state["rejects"] == 2 + 1  # Ids 7 and 8, plus the untitled country
    assert exp.watermark == T0


def test_expected_incremental_by_hand():
    exp = ExpectedWarehouse()
    exp.load(HAND_FEED, full_reingest=True)
    exp.load(HAND_BATCH)
    assert _facts(exp) == [
        ("1", 2019, 99.0), ("10", 2016, 8.0), ("11", 1990, None), ("12", 2024, 5.0),
        ("2", 2019, 11.0), ("3", 2020, None), ("9", 2021, None),
    ]
    assert exp.state()["rejects"] == 3
    assert exp.watermark == T0 + 3 * DAY
    # a batch of nothing but replays loads nothing and keeps the watermark
    exp.load([_row("1", num="1.0", at=T0)])
    assert _facts(exp)[0] == ("1", 2019, 99.0)
    assert exp.watermark == T0 + 3 * DAY


def test_warehouse_state_reads_what_expected_computes(tmp_path):
    exp = ExpectedWarehouse()
    exp.load(HAND_FEED, full_reingest=True)
    table = exp.con.execute("SELECT * FROM fact").arrow()
    ds.write_dataset(
        table, str(tmp_path / "fact_observation"), format="parquet",
        partitioning=ds.partitioning(pa.schema([("time_dim", pa.int32())]), flavor="hive"),
    )
    rej = tmp_path / "rejected_record"
    rej.mkdir()
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"record_data": ["a", "b"], "error_details": ["x", "y"]}),
                   str(rej / "part-0.parquet"))
    assert warehouse_state(str(tmp_path)) == exp.state()


def test_same_rows_tolerates_order_and_float_rounding():
    assert same_rows([(1, 0.1 + 0.2), (2, None)], [(2, None), (1, 0.3)])
    assert not same_rows([(1, 0.31)], [(1, 0.3)])
    assert not same_rows([(1, 1.0)], [(1, 1.0), (2, 1.0)])


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------

def _span(i, parent, start, end, jobs=0):
    return Span(i, f"s{i}", parent, 0, start, end, jobs=jobs)


def test_self_times_subtract_covered_child_time():
    spans = [
        _span(1, None, 0.0, 10.0, jobs=1),
        _span(2, 1, 1.0, 3.0, jobs=2),
        _span(3, 1, 4.0, 8.0),
        _span(4, 3, 5.0, 6.0, jobs=4),
    ]
    st = self_times(spans)
    assert st == {1: 4.0, 2: 2.0, 3: 3.0, 4: 1.0}
    assert sum(st.values()) == 10.0  # properly nested spans partition the root
    assert inclusive(spans, "jobs") == {1: 7, 2: 2, 3: 4, 4: 4}


def test_self_times_merge_overlapping_children_and_clip():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),   # overlaps span 2: [1, 6] covered once
        _span(4, 1, 9.0, 12.0),  # clipped to the parent's end
    ]
    assert self_times(spans)[1] == pytest.approx(10.0 - 5.0 - 1.0)


def test_unattributed_is_wall_time_outside_the_layer_spans():
    spans = [
        _span(1, None, 0.0, 10.0),  # the op's root span
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 4.0, 8.0),
        _span(4, 3, 5.0, 6.0),
    ]
    # layer spans cover [1, 3] and [4, 8]; the root starts 0.5 s into the op
    assert unattributed(spans, 10.5) == pytest.approx(10.5 - 2.0 - 4.0)
    # a layer span lost from the trace shows up as unattributed time
    assert unattributed(spans[:2], 10.5) == pytest.approx(10.5 - 2.0)


def test_directory_delta():
    before = {"time_dim=2019/a.parquet": (10, 1, 1), "time_dim=2020/b.parquet": (20, 2, 2)}
    after = {"time_dim=2019/a.parquet": (10, 1, 1), "time_dim=2020/c.parquet": (25, 3, 3),
             "time_dim=2021/d.parquet": (5, 4, 4), "_SUCCESS": (0, 5, 5)}
    assert delta(before, after) == {
        "bytes_written": 30, "files_written": 2, "partitions_rewritten": 2,
    }


# ---------------------------------------------------------------------------
# the runner prints what BENCHMARK.json declares
# ---------------------------------------------------------------------------

def test_p50_geomean_weighs_each_shape_once():
    import run

    # shape 0 takes 1, 3, 2 s (median 2); shape 1 takes 4, 16, 8 s (median 8)
    ops = [{"i": i, "s": s} for i, s in enumerate([1.0, 4.0, 3.0, 16.0, 2.0, 8.0])]
    assert run.p50_by_shape(ops, 2) == {0: 2.0, 1: 8.0}
    assert run.p50_geomean(ops, 2) == pytest.approx(4.0)
    assert run.p50_geomean(ops, 1) == pytest.approx(3.5)


def test_runner_metrics_match_benchmark_json():
    import json
    import os

    import run
    from workloads import WORKLOADS

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
