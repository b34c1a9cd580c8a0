"""The four benchmark workloads.

Each workload has ``setup`` (inputs, base state, warm-up), ``prepare(i)``
(untimed work before op ``i``), ``op(i)`` (the timed operation, which calls
the program only through its public functions), ``check(i, result)`` (the
output check against values computed without the program) and
``layer(i, spans)`` (per-layer figures of a traced op).

One closed-loop client per workload: the next op starts after the previous
one and its check have finished.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import threading
import urllib.request
from statistics import median

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import spans as tr
from expected import ExpectedWarehouse, raw_table, same_rows, warehouse_state

from data_pipeline_who_gho_spark import caching
from data_pipeline_who_gho_spark import pipeline as P
from data_pipeline_who_gho_spark.engine import Engine
from data_pipeline_who_gho_spark.pipeline import PipelineConfig, run_pipeline
from data_pipeline_who_gho_spark.sources.odata import ODataPageFetcher
from data_pipeline_who_gho_spark.sources.paged import fetch_paged

HERE = os.path.dirname(os.path.abspath(__file__))

IND_DDL = "IndicatorCode STRING, IndicatorName STRING, Language STRING"
CTRY_DDL = "Code STRING, Title STRING"


def dir_bytes(path: str) -> int:
    return tr.tree_size(path)[1]


def write_parquet(rows: list[dict], path: str, schema: pa.Schema | None = None) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


DIM_SCHEMAS = {
    "indicators": pa.schema([(c, pa.string()) for c in ("IndicatorCode", "IndicatorName", "Language")]),
    "countries": pa.schema([(c, pa.string()) for c in ("Code", "Title")]),
}


def stage_dims(feed, stage: str) -> tuple[str, str]:
    ind, ctry = os.path.join(stage, "indicators"), os.path.join(stage, "countries")
    write_parquet(feed.indicators, ind, DIM_SCHEMAS["indicators"])
    write_parquet(feed.countries, ctry, DIM_SCHEMAS["countries"])
    return ind, ctry


# ---------------------------------------------------------------------------
# Spans at the pipeline's import sites
# ---------------------------------------------------------------------------

def _dir_delta(path_of):
    def around(args, kwargs):
        path = path_of(args, kwargs)
        before = tr.snapshot(path)

        def after(rec):
            rec.attrs.update(tr.delta(before, tr.snapshot(path)))

        return after

    return around


def install_pipeline_spans(tracer: tr.Tracer):
    """Wrap the layer functions the pipeline module imported, in that
    module's namespace only; returns a function that restores them."""
    originals = {}

    def patch(name, new):
        originals[name] = getattr(P, name)
        setattr(P, name, new)

    for name in ("clean_observations", "clean_indicators", "clean_countries"):
        patch(name, tracer.wrap("transform", getattr(P, name)))
    patch("validate_split", tracer.wrap("validate", P.validate_split))
    patch(
        "upsert",
        tracer.wrap("load.upsert", P.upsert, _dir_delta(lambda a, k: os.path.join(a[2], a[3]))),
    )
    patch(
        "append_rejects",
        tracer.wrap(
            "load.rejects",
            P.append_rejects,
            _dir_delta(lambda a, k: os.path.join(a[1], k.get("table", "rejected_record"))),
        ),
    )
    patch("run_dq_checks", tracer.wrap("quality", P.run_dq_checks))

    base = P.EtlStateRepository
    traced_state = type("EtlStateRepository", (base,), {})
    for m in ("get_state", "set_checkpoint_state", "clear_checkpoint",
              "set_last_successful_run_at", "get_watermark"):
        setattr(traced_state, m, tracer.wrap("state", getattr(base, m)))
    patch("EtlStateRepository", traced_state)

    def restore():
        for name, fn in originals.items():
            setattr(P, name, fn)

    return restore


def etl_layers(spans: list[tr.Span], staged_bytes: int) -> dict[str, float]:
    """Per-layer figures of one traced ETL op."""
    inc_jobs = tr.inclusive(spans, "jobs")
    inc_tasks = tr.inclusive(spans, "tasks")
    inc_failed = tr.inclusive(spans, "failed_tasks")
    selfs = tr.self_times(spans)
    by_id = {s.id: s for s in spans}

    def named(n):
        return [s for s in spans if s.name == n]

    def outermost(n):
        return [s for s in named(n) if s.parent is None or by_id[s.parent].name != n]

    loads = named("load.upsert") + named("load.rejects")
    written = sum(s.attrs.get("bytes_written", 0) for s in loads)
    out = {
        "paged.fetch_s": sum(s.duration for s in named("paged")),
        "paged.spark_tasks": sum(inc_tasks[s.id] for s in named("paged")),
        "state.calls": len(outermost("state")),
        "state.busy_s": sum(s.duration for s in outermost("state")),
        "transform.busy_s": sum(s.duration for s in named("transform")),
        "transform.spark_jobs": sum(inc_jobs[s.id] for s in named("transform")),
        "validate.busy_s": sum(s.duration for s in named("validate")),
        "load.upsert_s": sum(s.duration for s in named("load.upsert")),
        "load.upsert_jobs": sum(inc_jobs[s.id] for s in named("load.upsert")),
        "load.rejects_s": sum(s.duration for s in named("load.rejects")),
        "load.bytes_written": written,
        "load.files_written": sum(s.attrs.get("files_written", 0) for s in loads),
        "load.partitions_rewritten": sum(
            s.attrs.get("partitions_rewritten", 0) for s in named("load.upsert")
        ),
        "load.write_amplification": written / staged_bytes if staged_bytes else 0.0,
        "quality.dq_s": sum(s.duration for s in named("quality")),
        "quality.spark_jobs": sum(inc_jobs[s.id] for s in named("quality")),
        "pipeline.self_s": sum(selfs[s.id] for s in named("pipeline")),
        "pipeline.spark_jobs": sum(inc_jobs[s.id] for s in named("pipeline")),
        "pipeline.spark_tasks": sum(inc_tasks[s.id] for s in named("pipeline")),
        "pipeline.failed_tasks": sum(inc_failed[s.id] for s in named("pipeline")),
    }
    return out


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

class Workload:
    name = ""
    round_ops = 1  # the op count is a multiple of this (one op per query shape)
    min_ops = 1  # fewest timed ops in a run

    def __init__(self, spark, tracer: tr.Tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.rows_per_op = 0

    def setup(self) -> None: ...
    def warmup(self) -> None: ...
    def prepare(self, i: int) -> None: ...
    def op(self, i: int): ...
    def check(self, i: int, result) -> bool: ...
    def layer(self, i: int, spans: list[tr.Span]) -> dict[str, float]:
        return {}
    def install_spans(self):
        return lambda: None
    def bytes_stored_per_input_byte(self) -> float: ...
    def teardown(self) -> None: ...


class EtlFullLoad(Workload):
    """Backfill: OData extraction -> JSON staging -> full re-ingest."""

    name = "etl_full_load"
    N_INDICATORS, N_COUNTRIES = 5, 20
    min_ops = 2

    def setup(self):
        self.feed = gen.who_feed(self.seed, self.N_INDICATORS, self.N_COUNTRIES)
        doc_path = os.path.join(self.work, "feed.json")
        with open(doc_path, "w") as fh:
            json.dump(gen.server_document(self.feed, self.seed), fh)
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "odata_server.py"), doc_path],
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.server.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            raise RuntimeError("OData server did not start")
        self.base = f"http://127.0.0.1:{line[1]}"
        self.fetcher = ODataPageFetcher(base_url=self.base + "/api")
        exp = ExpectedWarehouse()
        rows = self.feed.rows()
        exp.load(rows, True, self.feed.countries, self.feed.indicators)
        self.expected = exp.state()
        self.rows_per_op = len(rows)
        self.server_stats: dict[int, dict] = {}
        self.stored_ratio: list[float] = []

    def _epoch(self) -> dict:
        with urllib.request.urlopen(self.base + "/_epoch", timeout=30) as resp:
            return json.loads(resp.read())

    def warmup(self):
        self.prepare(-1)
        self.check(-1, self.op(-1))

    def prepare(self, i):
        self._epoch()
        self.stage = os.path.join(self.work, f"stage{i}")
        self.wh = os.path.join(self.work, f"wh{i}")

    def op(self, i):
        spark, span, stage = self.spark, self.tracer.span, self.stage
        ind_dir, ctry_dir = os.path.join(stage, "indicators"), os.path.join(stage, "countries")
        obs_dir = os.path.join(stage, "observations")
        with span("paged"):
            for key, ddl, out in ((gen.INDICATOR_SET, IND_DDL, ind_dir),
                                  (gen.COUNTRY_SET, CTRY_DDL, ctry_dir)):
                plan = spark.createDataFrame([(key,)], "key STRING")
                fetch_paged(spark, plan, self.fetcher, ddl, num_partitions=1).write.parquet(out)
        with span("paged"):
            ind = spark.read.parquet(ind_dir).where("IndicatorCode IS NOT NULL")
            ctry = spark.read.parquet(ctry_dir).where("Code IS NOT NULL")
            keys = ind.crossJoin(ctry).selectExpr("concat_ws('|', IndicatorCode, Code) AS key")
            fetch_paged(spark, keys, self.fetcher, gen.OBS_DDL).write.json(obs_dir)
        with span("pipeline"):
            return run_pipeline(
                spark,
                PipelineConfig(
                    warehouse_dir=self.wh,
                    source_observations=obs_dir,
                    source_indicators=ind_dir,
                    source_countries=ctry_dir,
                    full_reingest=True,
                    source_format="json",
                ),
            )

    def check(self, i, result):
        self.server_stats[i] = self._epoch()
        actual = warehouse_state(self.wh)
        self.staged = dir_bytes(self.stage)
        self.stored_ratio.append(dir_bytes(self.wh) / self.staged)
        self.wh_files, self.wh_bytes = tr.tree_size(self.wh)
        ok = (
            actual == self.expected
            and result == {"row_count": self.expected["fact_rows"], "null_key_rows": 0}
            and self.server_stats[i]["records_served"] == self.rows_per_op
                + len(self.feed.indicators) + len(self.feed.countries)
        )
        if not ok:
            print(f"check failed: op {i}: {actual} {result} vs {self.expected}", file=sys.stderr)
        shutil.rmtree(self.stage, ignore_errors=True)
        shutil.rmtree(self.wh, ignore_errors=True)
        return ok

    def install_spans(self):
        return install_pipeline_spans(self.tracer)

    def layer(self, i, spans):
        s = self.server_stats.get(i, {})
        out = etl_layers(spans, self.staged)
        out.update({
            "odata.requests": s.get("requests", 0),
            "odata.connections": s.get("connections", 0),
            "odata.bytes_served": s.get("bytes_served", 0),
            "odata.errors_injected": s.get("errors_injected", 0),
            "paged.records": s.get("records_served", 0),
            "paged.retries": s.get("requests", 0) - s.get("distinct_pages", 0),
            "warehouse.files": self.wh_files,
            "warehouse.bytes": self.wh_bytes,
        })
        return out

    def bytes_stored_per_input_byte(self):
        return median(self.stored_ratio)

    def teardown(self):
        if getattr(self, "server", None) is not None:
            self.server.terminate()
            self.server.wait(timeout=30)
            self.server.stdout.close()


class _WarehouseBase(Workload):
    """Base warehouse: a full load of a seeded feed, then daily batches."""

    N_INDICATORS, N_COUNTRIES = 12, 40
    N_NEW, N_UPDATES = 3000, 1500

    def build_base(self, track_expected: bool) -> None:
        self.feed = gen.IncrementalFeed(
            self.seed, self.N_INDICATORS, self.N_COUNTRIES, self.N_NEW, self.N_UPDATES
        )
        self.wh = os.path.join(self.work, "warehouse")
        stage = os.path.join(self.work, "stage")
        self.ind_dir, self.ctry_dir = stage_dims(self.feed, stage)
        base_dir = os.path.join(stage, "base")
        os.makedirs(base_dir)
        pq.write_table(raw_table(self.feed.base), os.path.join(base_dir, "part-00000.parquet"))
        self.staged_bytes = dir_bytes(stage)
        self.expected = ExpectedWarehouse() if track_expected else None
        self.load(base_dir, self.feed.base, full_reingest=True)

    def stage_batch(self) -> tuple[str, list[dict]]:
        rows = self.feed.next_batch()
        path = os.path.join(self.work, "stage", f"batch{self.feed.batches}")
        os.makedirs(path)
        pq.write_table(raw_table(rows), os.path.join(path, "part-00000.parquet"))
        self.staged_bytes += dir_bytes(path)
        return path, rows

    def config(self, source: str, full_reingest: bool) -> PipelineConfig:
        return PipelineConfig(
            warehouse_dir=self.wh,
            source_observations=source,
            source_indicators=self.ind_dir,
            source_countries=self.ctry_dir,
            full_reingest=full_reingest,
            source_format="parquet",
        )

    def load(self, source: str, rows: list[dict], full_reingest: bool = False) -> dict:
        out = run_pipeline(self.spark, self.config(source, full_reingest))
        if self.expected is not None:
            self.expected.load(rows, full_reingest, self.feed.countries, self.feed.indicators)
        return out

    def stored_ratio_now(self) -> float:
        return dir_bytes(self.wh) / self.staged_bytes

    def bytes_stored_per_input_byte(self):
        return self.stored_ratio_now()


class EtlIncremental(_WarehouseBase):
    """The daily job: one watermarked batch per op on a base warehouse."""

    name = "etl_incremental"

    def setup(self):
        self.build_base(track_expected=True)
        self.stored_ratio: list[float] = []

    def warmup(self):
        self.prepare(-1)
        self.check(-1, self.op(-1))

    def prepare(self, i):
        self.batch_dir, self.batch_rows = self.stage_batch()
        self.rows_per_op = len(self.batch_rows)
        self.staged_now = dir_bytes(self.batch_dir)

    def op(self, i):
        with self.tracer.span("pipeline"):
            return run_pipeline(self.spark, self.config(self.batch_dir, False))

    def check(self, i, result):
        self.expected.load(self.batch_rows, False, self.feed.countries, self.feed.indicators)
        want = self.expected.state()
        actual = warehouse_state(self.wh)
        self.stored_ratio.append(self.stored_ratio_now())
        self.wh_files, self.wh_bytes = tr.tree_size(os.path.join(self.wh, "fact_observation"))
        ok = actual == want and result == {"row_count": want["fact_rows"], "null_key_rows": 0}
        if not ok:
            print(f"check failed: op {i}: {actual} {result} vs {want}", file=sys.stderr)
        return ok

    def install_spans(self):
        return install_pipeline_spans(self.tracer)

    def layer(self, i, spans):
        out = etl_layers(spans, self.staged_now)
        out.update({"warehouse.files": self.wh_files, "warehouse.bytes": self.wh_bytes})
        return out

    def bytes_stored_per_input_byte(self):
        return median(self.stored_ratio)


def _scan_files(df) -> int:
    """Files read by the executed plan's parquet scans (AQE stages and
    subqueries included, reused exchanges counted once)."""
    stack, seen, total = [df._jdf.queryExecution().executedPlan()], set(), 0
    while stack:
        node = stack.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        if cls == "FileSourceScanExec":
            m = node.metrics().get("numFiles")
            if m.isDefined():
                total += m.get().value()
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(j) for j in range(seq.size()))
    return total


CURATION_QUERIES = (
    "dedup_minhash_lsh", "dedup_simhash", "ann_cosine_topk", "text_stats", "bpe_token_counts",
)


class _Collected:
    """Rows already collected from a DataFrame, in the shape
    ``check_correctness.spark_to_pdf`` reads (``columns``, ``collect()``)."""

    def __init__(self, columns: list[str], rows: list):
        self.columns, self.rows = columns, rows

    def collect(self):
        return self.rows


class CurationSet:
    """Curation queries over a seeded documents/embeddings corpus, with
    the results of their ``oracle_sql()`` twins over the same files."""

    def __init__(self, spark, work: str, seed: int, n_docs: int, names: tuple[str, ...]):
        tools = os.path.join(os.path.dirname(HERE), "tools")
        if tools not in sys.path:
            sys.path.insert(0, tools)
        import __spark_entry__ as entry
        import check_correctness as cc

        self.spark, self.cc = spark, cc
        docs, emb = gen.corpus(seed, n_docs)
        self.corpus = os.path.join(work, "corpus")
        os.makedirs(self.corpus)
        pq.write_table(
            pa.Table.from_pylist(
                docs,
                schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                                  ("lang", pa.string()), ("source", pa.string()),
                                  ("n_chars", pa.int64())]),
            ),
            os.path.join(self.corpus, "documents.parquet"),
        )
        pq.write_table(
            pa.Table.from_pylist(
                emb,
                schema=pa.schema([("vec_id", pa.int64()),
                                  ("embedding", pa.list_(pa.float32())),
                                  ("label", pa.int32())]),
            ),
            os.path.join(self.corpus, "embeddings.parquet"),
        )
        self.input_bytes = dir_bytes(self.corpus)
        registry, oracles = entry.queries(), entry.oracle_sql()
        self.fns = {q: registry[q] for q in names}
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus}/{t}.parquet'")
        self.want = {}
        for q in names:
            pdf = con.sql(oracles[q]).df()
            pdf.columns = [c.lower() for c in pdf.columns]
            self.want[q] = cc.table_sig(pdf)
        con.close()
        self.persisted: dict[int, int] = {}

    def clear(self) -> None:
        """Drop memoized plans and cached frames, so an op pays for the
        work a new corpus would."""
        caching.clear_plan_caches()
        self.spark.catalog.clearCache()

    def run(self, tracer: tr.Tracer, q: str) -> _Collected:
        with tracer.span(f"curation.{q}"):
            df = self.fns[q](self.spark, self.corpus)
            return _Collected(df.columns, df.collect())

    def check(self, i: int, q: str, result: _Collected) -> bool:
        self.persisted[i] = sum(len(c) for c in caching.PLAN_CACHES)
        got = self.cc.table_sig(self.cc.spark_to_pdf(result))
        if got != self.want[q]:
            print(f"check failed: op {i}: {q}", file=sys.stderr)
            return False
        return True

    def layer(self, i: int, spans: list[tr.Span]) -> dict[str, float]:
        inc_jobs, inc_tasks = tr.inclusive(spans, "jobs"), tr.inclusive(spans, "tasks")
        cur = [s for s in spans if s.name.startswith("curation.")]
        out = {f"{s.name}_s": s.duration for s in cur}
        out.update({
            "curation.spark_jobs": sum(inc_jobs[s.id] for s in cur),
            "curation.spark_tasks": sum(inc_tasks[s.id] for s in cur),
            "caching.persisted_frames": self.persisted.get(i, 0),
        })
        return out


class AnalyticsMix(_WarehouseBase):
    """Reads only: seeded star-schema BI queries over the warehouse, and
    curation queries over a seeded corpus, one query per op."""

    name = "analytics_mix"
    N_INDICATORS, N_COUNTRIES = 8, 25
    N_BI = 5
    N_DOCS = 100
    # one query per curation layer, so a run fits its time budget:
    # text_stats (plans.extensions, functions.text) and bpe_token_counts
    # (plans.tokenizer, and a memo registered with caching)
    CURATION = ("text_stats", "bpe_token_counts")
    round_ops = N_BI + len(CURATION)

    def setup(self):
        # The curation corpus and the curation queries' cold first runs
        # overlap the base load on a second thread: both are mostly
        # driver-side overhead of many small Spark jobs.  Plan caches are
        # not cleared here, as the base load uses them at the same time.
        failure: list[BaseException] = []

        def curation_setup():
            try:
                self.curation = CurationSet(
                    self.spark, self.work, self.seed, self.N_DOCS, self.CURATION
                )
                for q in self.CURATION:
                    self.curation.run(self.tracer, q)
            except BaseException as e:  # re-raised on the main thread
                failure.append(e)

        side = threading.Thread(target=curation_setup)
        side.start()
        try:
            self.build_base(track_expected=False)
        finally:
            side.join()
        if failure:
            raise failure[0]
        self.con = duckdb.connect()
        for t in Engine.WAREHOUSE_TABLES:
            p = os.path.join(self.wh, t)
            if t == "fact_observation":
                src = f"read_parquet('{p}/*/*.parquet', hive_partitioning = true)"
            else:
                src = f"read_parquet('{p}/*.parquet')"
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
        self.countries = [c["Title"] for c in self.feed.countries if c["Title"]]
        self.codes = [c["Code"] for c in self.feed.countries]
        self.indicators = [i["IndicatorCode"] for i in self.feed.indicators]
        self.names = [i["IndicatorName"] for i in self.feed.indicators]
        self.wh_files, self.wh_bytes = tr.tree_size(os.path.join(self.wh, "fact_observation"))

    def curation_query(self, i: int) -> str | None:
        shape = i % self.round_ops
        return self.CURATION[shape - self.N_BI] if shape >= self.N_BI else None

    def query(self, i: int) -> str:
        rng = random.Random(self.seed * 100_003 + i)
        shape = i % self.round_ops
        if shape == 0:  # A1/A2: star join, LIKE on the indicator name
            return (
                "SELECT c.country_name, i.indicator_name, f.time_dim AS year,"
                " f.numeric_value AS value"
                " FROM fact_observation f"
                " JOIN dim_country c ON f.spatial_dim = c.country_code"
                " JOIN dim_indicator i ON f.indicator_code = i.indicator_code"
                f" WHERE c.country_name = '{rng.choice(self.countries)}'"
                f" AND i.indicator_name LIKE '{rng.choice(self.names)[:12]}%'"
            )
        if shape == 1:  # A4: latest value per country via a MAX(year) subquery
            ind = rng.choice(self.indicators)
            return (
                "SELECT f.spatial_dim, f.time_dim, f.numeric_value"
                " FROM fact_observation f"
                f" WHERE f.indicator_code = '{ind}' AND f.time_dim = ("
                "   SELECT MAX(g.time_dim) FROM fact_observation g"
                "   WHERE g.indicator_code = f.indicator_code"
                "   AND g.spatial_dim = f.spatial_dim)"
            )
        if shape == 2:  # A5: one indicator over time for 5 countries
            codes = ", ".join(f"'{c}'" for c in rng.sample(self.codes, 5))
            return (
                "SELECT spatial_dim, time_dim, avg(numeric_value) AS value, count(*) AS n"
                " FROM fact_observation"
                f" WHERE indicator_code = '{rng.choice(self.indicators)}'"
                f" AND spatial_dim IN ({codes})"
                " GROUP BY spatial_dim, time_dim"
            )
        if shape == 3:  # year-range aggregate (partition pruning)
            lo = rng.randrange(gen.FIRST_YEAR, gen.LAST_YEAR - 3)
            return (
                "SELECT indicator_code, count(*) AS n, sum(numeric_value) AS total"
                " FROM fact_observation"
                f" WHERE time_dim BETWEEN {lo} AND {lo + 3}"
                " GROUP BY indicator_code"
            )
        return (  # rejects grouped by error_details
            "SELECT error_details, count(*) AS n FROM rejected_record GROUP BY error_details"
        )

    def warmup(self):
        # the curation queries had their cold runs in setup
        for i in range(-self.round_ops, -len(self.CURATION)):
            self.prepare(i)
            self.check(i, self.op(i))

    def prepare(self, i):
        if self.curation_query(i):
            self.curation.clear()

    def op(self, i):
        cq = self.curation_query(i)
        if cq:
            return self.curation.run(self.tracer, cq)
        span = self.tracer.span
        q = self.query(i)
        with span("engine.attach"):
            eng = Engine(self.spark).attach_warehouse(self.wh)
        with span("engine.plan"):
            df = eng.sql(q)
        with span("engine.exec") as rec:
            rows = [tuple(r) for r in df.collect()]
            if rec is not None:
                rec.attrs["files_read"] = _scan_files(df)
        return q, rows

    def check(self, i, result):
        cq = self.curation_query(i)
        if cq:
            return self.curation.check(i, cq, result)
        q, rows = result
        want = self.con.execute(q).fetchall()
        ok = same_rows(rows, want)
        if not ok:
            print(f"check failed: op {i}: {q}", file=sys.stderr)
        return ok

    def layer(self, i, spans):
        if self.curation_query(i):
            return self.curation.layer(i, spans)
        inc_tasks = tr.inclusive(spans, "tasks")

        def total(n):
            return sum(s.duration for s in spans if s.name == n)

        return {
            "engine.attach_s": total("engine.attach"),
            "engine.plan_s": total("engine.plan"),
            "engine.exec_s": total("engine.exec"),
            "engine.files_read": sum(s.attrs.get("files_read", 0) for s in spans),
            "engine.spark_tasks": sum(
                inc_tasks[s.id] for s in spans if s.name.startswith("engine.")
            ),
            "warehouse.files": self.wh_files,
            "warehouse.bytes": self.wh_bytes,
        }

    def teardown(self):
        if getattr(self, "con", None) is not None:
            self.con.close()


class CurationBatch(Workload):
    """Dedup, similarity and text queries over a seeded corpus, one query
    per op."""

    name = "curation_batch"
    N_DOCS = 400
    round_ops = len(CURATION_QUERIES)

    def setup(self):
        self.curation = CurationSet(self.spark, self.work, self.seed, self.N_DOCS, CURATION_QUERIES)
        self.rows_per_op = self.N_DOCS
        self.stored: list[float] = []

    def warmup(self):
        for i in range(-self.round_ops, 0):
            self.prepare(i)
            self.check(i, self.op(i))

    def prepare(self, i):
        self.curation.clear()

    def op(self, i):
        return self.curation.run(self.tracer, CURATION_QUERIES[i % self.round_ops])

    def _stored_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos)

    def check(self, i, result):
        self.stored.append(self._stored_bytes() / self.curation.input_bytes)
        return self.curation.check(i, CURATION_QUERIES[i % self.round_ops], result)

    def layer(self, i, spans):
        return self.curation.layer(i, spans)

    def bytes_stored_per_input_byte(self):
        return median(self.stored)


WORKLOADS = {w.name: w for w in (EtlFullLoad, EtlIncremental, AnalyticsMix, CurationBatch)}
