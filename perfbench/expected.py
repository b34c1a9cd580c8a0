"""Expected warehouse state, computed with DuckDB from the generated feed.

Nothing here calls the program under test.  ``ExpectedWarehouse`` replays
each load with the pipeline's documented semantics:

1. watermark: unless a full re-ingest, keep rows with ``ingested_at`` above
   the last watermark; the new watermark is the largest ``ingested_at`` seen;
2. clean: ``NumericValue`` and the year prefix of ``TimeDim`` are cast with
   null-on-failure, then rows with a null ``IndicatorCode``, ``SpatialDim``
   or ``TimeDim`` are dropped;
3. dedup on ``Id`` (the composite key if no ``Id`` is set), keeping the
   smallest ``(IndicatorCode, SpatialDim, TimeDim)``;
4. rows with a null ``SpatialDimType`` or ``TimeDimType`` are rejected;
5. upsert on ``observation_id``: a loaded row replaces any row with the
   same id, wherever it lived (update wins).

``warehouse_state`` reads the same figures from a warehouse directory on
disk, so the two can be compared.
"""

from __future__ import annotations

import math
import os
from datetime import datetime

import duckdb
import pyarrow as pa

from gen import OBS_COLUMNS

FACT_COLUMNS = (
    "observation_id, indicator_code, spatial_dim, spatial_dim_type,"
    " CAST(time_dim AS INTEGER), time_dim_type, numeric_value, value"
)
_CHECKSUM = f"SELECT count(*), coalesce(sum(hash({FACT_COLUMNS})), 0) FROM {{src}}"


def raw_table(rows: list[dict]) -> pa.Table:
    """Feed rows as an Arrow table of strings (+ ``ingested_at`` if set)."""
    cols = {c: pa.array([r.get(c) for r in rows], pa.string()) for c in OBS_COLUMNS}
    if rows and "ingested_at" in rows[0]:
        cols["ingested_at"] = pa.array(
            [r["ingested_at"] for r in rows], pa.timestamp("us", tz="UTC")
        )
    return pa.table(cols)


class ExpectedWarehouse:
    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(
            "CREATE TABLE fact (observation_id VARCHAR, indicator_code VARCHAR,"
            " spatial_dim VARCHAR, spatial_dim_type VARCHAR, time_dim INTEGER,"
            " time_dim_type VARCHAR, numeric_value DOUBLE, value VARCHAR)"
        )
        self.rejects = 0
        self.watermark: datetime | None = None

    def load(
        self,
        rows: list[dict],
        full_reingest: bool = False,
        countries: list[dict] | None = None,
        indicators: list[dict] | None = None,
    ) -> None:
        con = self.con
        raw = raw_table(rows)
        con.register("raw", raw)
        stamped = "ingested_at" in raw.column_names
        wm = None if full_reingest else self.watermark
        where = "ingested_at > $wm" if (stamped and wm is not None) else "TRUE"
        params = {"wm": wm} if "$wm" in where else {}
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE cleaned AS
            SELECT Id, IndicatorCode, SpatialDim, SpatialDimType,
                   TRY_CAST(split_part(TimeDim, '-', 1) AS INTEGER) AS TimeDim,
                   TimeDimType, TRY_CAST(NumericValue AS DOUBLE) AS NumericValue,
                   Value
            FROM raw WHERE {where}""",
            params,
        )
        if stamped:
            seen = con.execute(
                f"SELECT max(ingested_at) FROM raw WHERE {where}", params
            ).fetchone()[0]
            if seen is not None:
                self.watermark = seen
        con.execute(
            "DELETE FROM cleaned WHERE IndicatorCode IS NULL OR SpatialDim IS NULL"
            " OR TimeDim IS NULL"
        )
        id_usable = con.execute(
            "SELECT count(*) FROM cleaned WHERE Id IS NOT NULL"
        ).fetchone()[0] > 0
        part = "Id" if id_usable else "IndicatorCode, SpatialDim, TimeDim"
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE batch AS
            SELECT * FROM cleaned
            QUALIFY row_number() OVER (
                PARTITION BY {part} ORDER BY IndicatorCode, SpatialDim, TimeDim) = 1"""
        )
        ok = "SpatialDimType IS NOT NULL AND TimeDimType IS NOT NULL"
        self.rejects += con.execute(f"SELECT count(*) FROM batch WHERE NOT ({ok})").fetchone()[0]
        key = (
            "Id" if id_usable
            else "'ck:' || IndicatorCode || ':' || SpatialDim || ':' || CAST(TimeDim AS VARCHAR)"
        )
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE valid AS
            SELECT {key} AS observation_id, IndicatorCode, SpatialDim, SpatialDimType,
                   TimeDim, TimeDimType, NumericValue, Value
            FROM batch WHERE {ok}"""
        )
        con.execute("DELETE FROM fact WHERE observation_id IN (SELECT observation_id FROM valid)")
        con.execute("INSERT INTO fact SELECT * FROM valid")
        for dim, required in ((countries, ("Code", "Title")), (indicators, ("IndicatorCode",))):
            if dim:
                self.rejects += sum(1 for d in dim if any(d.get(c) is None for c in required))
        con.unregister("raw")

    def state(self) -> dict:
        n, checksum = self.con.execute(_CHECKSUM.format(src="fact")).fetchone()
        return {"fact_rows": n, "checksum": int(checksum), "rejects": self.rejects}


def warehouse_state(warehouse_dir: str) -> dict:
    """The same figures as ``ExpectedWarehouse.state``, read from disk."""
    con = duckdb.connect()
    fact = os.path.join(warehouse_dir, "fact_observation", "*", "*.parquet")
    src = f"read_parquet('{fact}', hive_partitioning = true)"
    n, checksum = con.execute(_CHECKSUM.format(src=src)).fetchone()
    rej_dir = os.path.join(warehouse_dir, "rejected_record")
    rejects = 0
    if os.path.isdir(rej_dir):
        rejects = con.execute(
            f"SELECT count(*) FROM read_parquet('{rej_dir}/*.parquet')"
        ).fetchone()[0]
    con.close()
    return {"fact_rows": n, "checksum": int(checksum), "rejects": rejects}


# ---------------------------------------------------------------------------
# Result-set comparison
# ---------------------------------------------------------------------------

def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, "" if v is None else (v if not isinstance(v, float) else round(v, 6)))
                 for v in row)


def same_rows(actual: list[tuple], expected: list[tuple], rel: float = 1e-9) -> bool:
    """Order-insensitive equality; floats compared with a relative tolerance
    (sums of doubles differ in the last bits with summation order)."""
    if len(actual) != len(expected):
        return False
    for a, e in zip(sorted(actual, key=_sort_key), sorted(expected, key=_sort_key)):
        if len(a) != len(e):
            return False
        for x, y in zip(a, e):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not math.isclose(float(x), float(y), rel_tol=rel, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True
