"""ST1/ST2: etl_state repository — checkpoints + watermarks.

Reference: a single-row-per-process Postgres table with a JSON checkpoint
blob and a ``last_successful_run_at`` timestamp (``etl/state.py:13-55``;
note the reference *declares* the watermark but never uses it — we
implement the declared semantics for real, per SURVEY §7).

Spark-first shape: a tiny parquet-backed key→state table, read/written
driver-side (state is O(processes), never data-sized). Single-writer per
process is assumed (the reference's IntegrityError retry handles exactly
one concurrent bootstrap insert; our atomic directory swap gives the same
observable guarantee).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from ..operators.load import atomic_overwrite


class EtlStateRepository:
    """get/set checkpoint + watermark state per process name."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.path = os.path.join(state_dir, "etl_state")

    # -- internals ---------------------------------------------------------
    #
    # r14 (guide §5 — the driver should do no data work, and state is
    # O(processes), never data-sized): reads/writes go through pyarrow
    # on the DRIVER instead of Spark jobs.  The old path paid a full
    # createDataFrame + coalesce(1) write job per set_* call and a scan
    # job + collect per get — ~2 cluster jobs per state touch, ~10+ per
    # checkpointed fetch (measured: most of etl_checkpoint_resume's
    # wall time).  Same parquet layout on disk (one directory, one
    # part file, identical column names/types incl. the µs UTC
    # timestamp), so Spark-side readers of the state table
    # (etl_state_bootstrap's oracle surface) see the same schema, and
    # the atomic directory swap keeps the single-writer guarantee.

    _ARROW_SCHEMA = None  # built lazily (pyarrow import cost)

    @classmethod
    def _schema(cls):
        import pyarrow as pa

        if cls._ARROW_SCHEMA is None:
            cls._ARROW_SCHEMA = pa.schema(
                [
                    pa.field("process_name", pa.string()),
                    pa.field("last_successful_run_at", pa.timestamp("us", tz="UTC")),
                    pa.field("checkpoint_state", pa.string()),
                ]
            )
        return cls._ARROW_SCHEMA

    # Timestamp round-trip contract (kept identical to the old Spark
    # path): a NAIVE datetime handed to set_* is interpreted as
    # OS-LOCAL wall time (what PySpark's TimestampType.toInternal did),
    # and _read_all returns NAIVE OS-local datetimes (what
    # collect() returned) — so naive writers and readers keep
    # round-tripping on hosts whose local zone is not UTC, and
    # consumers never see a naive/aware comparison TypeError. A naive
    # value ON DISK (files written before the column was tz-aware) is
    # a UTC instant.

    def _read_all(self) -> dict[str, dict]:
        import pyarrow.parquet as pq

        if not os.path.exists(self.path):
            return {}
        table = pq.read_table(self.path)
        out: dict[str, dict] = {}
        for r in table.to_pylist():
            ts = r["last_successful_run_at"]
            if ts is not None:
                if ts.tzinfo is None:  # older file: naive UTC instant
                    ts = ts.replace(tzinfo=timezone.utc)
                ts = ts.astimezone().replace(tzinfo=None)
            out[r["process_name"]] = {
                "last_successful_run_at": ts,
                "checkpoint_state": json.loads(r["checkpoint_state"]) if r["checkpoint_state"] else None,
            }
        return out

    def _write_all(self, states: dict[str, dict]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        def _utc(ts):
            if ts is None:
                return None
            # a naive ts is OS-local wall time (what PySpark collect
            # hands back), NOT UTC — relabeling it UTC would shift the
            # stored instant by the host's offset, and a later
            # `ingested_at > watermark` filter would silently skip (or
            # re-process) that window. astimezone() attaches the local
            # zone to naive input, so one call converts both cases.
            return ts.astimezone(timezone.utc)

        table = pa.Table.from_pylist(
            [
                {
                    "process_name": k,
                    "last_successful_run_at": _utc(v.get("last_successful_run_at")),
                    "checkpoint_state": json.dumps(v["checkpoint_state"]) if v.get("checkpoint_state") else None,
                }
                for k, v in states.items()
            ],
            schema=self._schema(),
        )

        def write(tmp: str) -> None:
            os.makedirs(tmp)
            pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))

        atomic_overwrite(self.path, write)

    # -- API (parity with etl/state.py) ------------------------------------

    def get_state(self, process_name: str) -> dict | None:
        return self._read_all().get(process_name)

    def set_checkpoint_state(self, process_name: str, checkpoint: dict | None) -> None:
        states = self._read_all()
        entry = states.setdefault(process_name, {"last_successful_run_at": None, "checkpoint_state": None})
        entry["checkpoint_state"] = checkpoint
        self._write_all(states)

    def clear_checkpoint(self, process_name: str) -> None:
        self.set_checkpoint_state(process_name, None)

    def set_last_successful_run_at(self, process_name: str, ts: datetime | None = None) -> None:
        states = self._read_all()
        entry = states.setdefault(process_name, {"last_successful_run_at": None, "checkpoint_state": None})
        entry["last_successful_run_at"] = ts or datetime.now(timezone.utc)
        self._write_all(states)

    def get_watermark(self, process_name: str) -> datetime | None:
        s = self.get_state(process_name)
        return s["last_successful_run_at"] if s else None
