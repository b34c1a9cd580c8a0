"""Benchmark of the WHO-GHO pipeline: ETL full load, incremental upsert, BI
reads and curation queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_full_load --seed 1 --seconds 10 --trace 0

Builds the session with the program's own factory, generates the
workload's inputs from ``--seed``, sets up and warms up, then runs ops in a
closed loop for ``--seconds``, checking each op's output against values
computed without the program.  The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics of a traced run: two rounds of
ops, each op traced in one round and untraced in the other, so the tracing
overhead is measured in the same run on the same mix of ops.
Scratch files live under ``.perfbench_work/`` and spans are written to
``.perfbench_out/``, both in the repository root.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    """Seconds since this process started (from /proc), so set-up time
    includes interpreter start."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


T_START = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from statistics import median, quantiles  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_p50_geomean_s": "s",
    "success_rate": "ratio",
    "bytes_stored_per_input_byte": "ratio",
}

PER_LAYER = {
    "odata.requests": "count",
    "odata.connections": "count",
    "odata.bytes_served": "bytes",
    "odata.errors_injected": "count",
    "paged.fetch_s": "s",
    "paged.records": "count",
    "paged.retries": "count",
    "paged.spark_tasks": "count",
    "state.calls": "count",
    "state.busy_s": "s",
    "transform.busy_s": "s",
    "transform.spark_jobs": "count",
    "validate.busy_s": "s",
    "load.upsert_s": "s",
    "load.upsert_jobs": "count",
    "load.rejects_s": "s",
    "load.bytes_written": "bytes",
    "load.files_written": "count",
    "load.partitions_rewritten": "count",
    "load.write_amplification": "ratio",
    "quality.dq_s": "s",
    "quality.spark_jobs": "count",
    "pipeline.self_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.spark_tasks": "count",
    "pipeline.failed_tasks": "count",
    "engine.attach_s": "s",
    "engine.plan_s": "s",
    "engine.exec_s": "s",
    "engine.files_read": "count",
    "engine.spark_tasks": "count",
    "warehouse.files": "count",
    "warehouse.bytes": "bytes",
    "curation.text_stats_s": "s",
    "curation.bpe_token_counts_s": "s",
    "curation.spark_jobs": "count",
    "curation.spark_tasks": "count",
    "caching.persisted_frames": "count",
    "jvm.old_gen_peak_mb": "MB",
    "trace.op_p50_traced_s": "s",
    "trace.op_p50_untraced_s": "s",
    "trace.overhead_pct": "%",
    "trace.unattributed_s": "s",
}


def p95_or_none(times: list[float], tail: int = 10) -> float | None:
    """95th percentile, or None when fewer than ``tail`` samples lie beyond
    it (a percentile resting on fewer samples is noise)."""
    if len(times) * 0.05 >= tail:
        return quantiles(times, n=100, method="inclusive")[94]
    return None


def p50_by_shape(ops: list[dict], round_ops: int) -> dict[int, float]:
    """Median op time of each op shape (op ``i`` has shape ``i % round_ops``)."""
    by_shape: dict[int, list[float]] = {}
    for o in ops:
        by_shape.setdefault(o["i"] % round_ops, []).append(o["s"])
    return {k: median(v) for k, v in sorted(by_shape.items())}


def p50_geomean(ops: list[dict], round_ops: int) -> float:
    """Geometric mean over op shapes of each shape's median op time.  Every
    shape weighs the same, and unlike the median of a mix of shapes it
    cannot jump from one shape's times to another's."""
    p50s = p50_by_shape(ops, round_ops).values()
    return math.exp(sum(math.log(v) for v in p50s) / len(p50s))


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory (``VmHWM``) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise OSError(f"no VmHWM for pid {pid}")


def old_gen_pools(sc) -> list:
    """The JVM's tenured heap pools: their peak usage follows the data the
    program keeps alive, not how large the collector let the young
    generation grow."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"
            and ("Old" in p.getName() or "Tenured" in p.getName())]


def loadavg() -> list[float]:
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return []


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks by state, from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return []


def tick_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Share of the CPU ticks between two ``cpu_ticks`` readings that were
    idle, and that the hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(before, after)]
    if len(d) < 8 or sum(d) <= 0:
        return {}
    return {"idle": d[3] / sum(d), "steal": d[7] / sum(d)}


def prepare_env(work: str) -> None:
    """Keep every scratch file inside the checkout and size the session."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # two task slots leave the other cores of a small host to the driver
    # JVM's compiler and GC threads, the Python workers and the OData server
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(2, os.cpu_count() or 1)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for k in ("http_proxy", "https_proxy", "all_proxy", "HTTP_PROXY", "HTTPS_PROXY", "ALL_PROXY"):
        os.environ.pop(k, None)
    os.environ["no_proxy"] = os.environ["NO_PROXY"] = "127.0.0.1,localhost"
    import tempfile

    tempfile.tempdir = None


def start_spark(work: str):
    from data_pipeline_who_gho_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    try:
        sc._gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "data_pipeline_who_gho_spark", "pipeline.py")):
        print(f"perfbench: program sources not found under {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(1, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    load_start = loadavg()

    from workloads import WORKLOADS
    import spans as tr

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    spark = start_spark(work)
    sc = spark.sparkContext
    master, spark_version = sc.master, spark.version
    tracer = tr.Tracer(sc)
    wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
    ops: list[dict] = []
    phases = {"session_s": time.perf_counter() - T_START}
    try:
        t = time.perf_counter()
        wl.setup()
        phases["inputs_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        phases["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START
        # ops come in whole rounds (pairs of rounds when traced), and a run
        # times at least ``min_ops`` ops: set above what fits in --seconds,
        # it keeps the op count of a run from depending on whether the host
        # ran a little faster or slower than the window
        step = wl.round_ops * (1 + args.trace)

        old_gen = old_gen_pools(sc)
        for pool in old_gen:
            pool.resetPeakUsage()
        measure_start, ticks_start = time.perf_counter(), cpu_ticks()
        i = 0
        while i < wl.min_ops or i % step or time.perf_counter() - measure_start < args.seconds:
            # alternate op by op, and flip the pattern each round: every
            # query shape runs once traced and once untraced in two rounds,
            # and the ops still warming up early on are not all untraced
            traced = bool(args.trace) and (i % wl.round_ops + i // wl.round_ops) % 2 == 1
            wl.prepare(i)
            restore = None
            if traced:
                tracer.enabled, tracer.op = True, i
                restore = wl.install_spans()
            ok, result = True, None
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    result = wl.op(i)
            except Exception:
                traceback.print_exc()
                ok = False
            dt = time.perf_counter() - t0
            tracer.enabled = False
            if restore is not None:
                restore()
            op = {"i": i, "s": dt, "ok": ok and _checked(wl, i, result), "traced": traced}
            ops.append(op)
            if traced:
                op_spans = tracer.op_spans(i)
                op["layer"] = wl.layer(i, op_spans)
                op["unattributed_s"] = tr.unattributed(op_spans, dt)
            i += 1

        ticks = tick_shares(ticks_start, cpu_ticks())
        old_gen_peak_mb = sum(p.getPeakUsage().getUsed() for p in old_gen) / 2**20
        rss = {"python": peak_rss_mb(os.getpid()), "jvm": peak_rss_mb(sc._gateway.proc.pid)}
        stored = wl.bytes_stored_per_input_byte()
    finally:
        try:
            wl.teardown()
        finally:
            stop_spark(spark)

    attempted = len(ops)
    failed = sum(not o["ok"] for o in ops)
    timed = [o for o in ops if not o["traced"]] or ops
    times = [o["s"] for o in timed]
    p95 = p95_or_none(times)
    op_time = sum(times)
    n_timed = len(timed)

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": master,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "cpu_shares_while_timed": ticks,
        "spark": spark_version,
        "python": platform.python_version(),
        "ops": attempted,
        "timed_ops": n_timed,
        "rows_per_op": wl.rows_per_op,
        "rows_per_s": wl.rows_per_op * n_timed / op_time,
        "setup_phases": phases,
        "peak_rss_mb_by_process": rss,
        "jvm_old_gen_peak_mb": old_gen_peak_mb,
        "op_s": [round(o["s"], 3) for o in ops],
        "op_p50_by_shape_s": p50_by_shape(timed, wl.round_ops),
        "op_p95_s": p95,
        "op_p95_note": (
            f"p95 over {n_timed} timed ops" if p95 is not None else
            f"{n_timed} timed ops leave fewer than 10 beyond p95, so no tail percentile"
        ),
    }

    if args.trace:
        metrics = _layer_metrics(ops, wl.round_ops, old_gen_peak_mb)
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_geomean_s": p50_geomean(timed, wl.round_ops),
            "success_rate": (attempted - failed) / attempted,
            "bytes_stored_per_input_byte": stored,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    out_dir = os.path.join(ROOT, ".perfbench_out")
    if args.trace:
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(stamp))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _checked(wl, i, result) -> bool:
    try:
        return bool(wl.check(i, result))
    except Exception:
        traceback.print_exc()
        return False


def _layer_metrics(ops: list[dict], round_ops: int, old_gen_peak_mb: float) -> dict:
    """Median per traced op of every PER_LAYER metric (0 for a layer the
    workload does not touch), plus any extra figures the workload reports
    (the workloads outside BENCHMARK.json have layers of their own)."""
    traced = [o for o in ops if o["traced"]]
    units = dict(PER_LAYER)
    for o in traced:
        for name in o["layer"]:
            units.setdefault(name, "s" if name.endswith("_s") else "count")
    values: dict[str, float] = {}
    for name in units:
        got = [o["layer"][name] for o in traced if name in o["layer"]]
        values[name] = float(median(got)) if got else 0.0
    t = p50_geomean(traced, round_ops)
    untraced = [o for o in ops if not o["traced"]]
    u = p50_geomean(untraced, round_ops) if untraced else t
    values["trace.op_p50_traced_s"] = t
    values["trace.op_p50_untraced_s"] = u
    values["trace.overhead_pct"] = 100.0 * (t - u) / u
    values["trace.unattributed_s"] = median(o["unattributed_s"] for o in traced)
    values["jvm.old_gen_peak_mb"] = old_gen_peak_mb
    return {k: {"value": values[k], "unit": u_} for k, u_ in units.items()}


if __name__ == "__main__":
    sys.exit(main())
