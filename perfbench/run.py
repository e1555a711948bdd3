"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload {search,tpch_sql,dedup_ingest}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  Steps, all in this one process:

1. Isolate: a fresh work directory under ``.perfbench_work/`` holds this
   run's ``TMPDIR``, ``SPARK_LOCAL_DIRS``, warehouse and state dirs, so no
   cache survives from an earlier run (the query layer's staging cache
   lives in ``TMPDIR``).  It is removed at exit.
2. Prepare the workload's inputs from ``--seed`` and its oracle results.
3. Set up (timed as ``setup_s``): start the session at ``local[nproc]``,
   stage the inputs, run the workload's warm-up and its warm-up passes.
4. Measure: whole passes of the workload's fixed operation list, at
   least the workload's ``min_passes`` and then a new one started while
   less than ``--seconds`` have gone by, so the last may end after it.
   Every operation is timed in wall and in CPU seconds (``cpu.CpuClock``)
   and its output is checked; the CPU steal of every pass is recorded.
5. With ``--trace 1``, run one more pass with spans, evaluator timing and
   Spark job/stage/task accounting, and report the per-layer metrics.

The last stdout line is the result object; a full record (environment,
every operation, spans) is written under ``.perfbench_records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# What every run prints with --trace 0 (METRICS.md):
#   setup_s           wall seconds from session start to the first timed pass
#   cpu_s             median over passes of the pass's summed operation CPU
#                     seconds (cpu.CpuClock: all processes, JIT compiler left out)
#   op_cpu_geomean_s  median over passes of the geometric mean of the pass's
#                     operation CPU seconds, so every operation weighs the
#                     same whatever its size (TPC-H's power metric does the same)
END_TO_END = ("setup_s", "cpu_s", "op_cpu_geomean_s")
UNITS = {"setup_s": "s", "cpu_s": "s", "op_cpu_geomean_s": "s"}


def per_layer_names() -> list[str]:
    from workloads import TPCH_QUERIES

    return [
        "session.start_s",
        "search.rounds", "search.jobs", "search.driver_s", "search.accept_ratio",
        "stencil.steps_per_s",
        "evaluator.calls", "evaluator.points", "evaluator.busy_s", "evaluator.s_per_call",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
        "spark.s_per_job", "spark.executor_run_s", "spark.executor_cpu_s",
        "spark.cpu_util", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
        "spark.spill_mb",
        "queries.build_s", "queries.action_s", "plans.exchanges",
        *[f"q.{q}.{k}" for q in TPCH_QUERIES for k in ("s", "jobs")],
        "state.init_s", "state.ingest_s", "state.ingest_jobs", "state.read_s",
        "state.compact_s", "state.files", "state.bytes",
        "trace.overhead",
    ]


LAYER_UNITS = {
    "s": "s", "start_s": "s", "driver_s": "s", "busy_s": "s", "s_per_call": "s",
    "s_per_job": "s", "executor_run_s": "s", "executor_cpu_s": "s", "build_s": "s",
    "action_s": "s", "init_s": "s", "ingest_s": "s", "read_s": "s", "compact_s": "s",
    "steps_per_s": "1/s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "bytes": "bytes", "cpu_util": "ratio", "accept_ratio": "ratio",
    "overhead": "ratio",
}


def layer_unit(name: str) -> str:
    return LAYER_UNITS.get(name.rsplit(".", 1)[1], "count")


# --------------------------------------------------------------------------
# environment


def isolate(work: str) -> None:
    """Point every temp, spill and warehouse location of this process, its
    JVM and its Python workers into ``work``."""
    tmp, local, wh = (os.path.join(work, d) for d in ("tmp", "spark-local", "warehouse"))
    for d in (tmp, local, wh):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, ROOT, os.environ.get("PYTHONPATH")) if p)
    # the JVM keeps its JIT compiler threads, so cpu.CpuClock can read and
    # leave out their time
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={wh}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    "-XX:-UseDynamicNumberOfCompilerThreads"),
        "pyspark-shell",
    ])


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_pct(before, after) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total else 0.0


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# --------------------------------------------------------------------------
# tracing


def layer_metrics(ops, traced_wall, untraced_wall, session_s, cores, extra) -> dict:
    from stats import median
    from tracing import add_totals, spark_metrics

    m = dict.fromkeys(per_layer_names(), 0.0)
    m["session.start_s"] = session_s
    totals: dict = {}
    for o in ops:
        add_totals(totals, o.spark or {})
    m.update(spark_metrics(totals, traced_wall, cores))

    by_kind: dict[str, list] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o)
    searches = by_kind.get("search", [])
    if searches:
        evals = sum(o.info.get("evals", 0) for o in searches)
        calls = sum(o.info.get("eval_calls", 0) for o in searches)
        busy = sum(o.info.get("eval_busy_s", 0.0) for o in searches)
        m.update({
            "search.rounds": sum(o.info.get("rounds", 0) for o in searches),
            "search.jobs": sum(o.info.get("jobs", 0) for o in searches),
            "search.driver_s": sum(o.info.get("driver_s", 0.0) for o in searches),
            "search.accept_ratio":
                sum(o.info.get("accepted", 0) for o in searches) / evals if evals else 0.0,
            "evaluator.calls": calls,
            "evaluator.points": sum(o.info.get("eval_points", 0) for o in searches),
            "evaluator.busy_s": busy,
            "evaluator.s_per_call": busy / calls if calls else 0.0,
            "stencil.steps_per_s": extra.get("stencil_steps_per_s", 0.0),
        })
    queries = by_kind.get("query", [])
    if queries:
        m["queries.build_s"] = sum(o.info.get("build_s", 0.0) for o in queries)
        m["queries.action_s"] = sum(o.info.get("action_s", 0.0) for o in queries)
        m["plans.exchanges"] = extra.get("exchanges", 0)
        for o in queries:
            m[f"q.{o.name}.s"] = o.seconds
            m[f"q.{o.name}.jobs"] = (o.spark or {}).get("jobs", 0)
    if "ingest" in by_kind:
        reads = by_kind.get("read", [])
        m.update({
            "state.init_s": extra.get("state_init_s", 0.0),
            "state.ingest_s": sum(o.seconds for o in by_kind["ingest"]),
            "state.ingest_jobs": sum((o.spark or {}).get("jobs", 0) for o in by_kind["ingest"]),
            "state.read_s": median(o.seconds for o in reads),
            "state.compact_s": sum(o.seconds for o in by_kind.get("compact", [])),
            "state.files": reads[-1].info.get("files", 0) if reads else 0,
            "state.bytes": reads[-1].info.get("bytes", 0) if reads else 0,
        })
    m["trace.overhead"] = traced_wall / untraced_wall if untraced_wall else 0.0
    return m


# --------------------------------------------------------------------------


def op_record(o) -> dict:
    info = {k: v for k, v in o.info.items() if k not in ("df", "span")}
    return {"kind": o.kind, "name": o.name, "seconds": o.seconds, "cpu_s": o.cpu_s,
            "ok": o.ok, "error": o.error, "info": info, "spark": o.spark}


def shutdown(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # spark-submit exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    import pyspark

    from dask_patternsearch_spark.plans.inspect import summarize
    from dask_patternsearch_spark.session import get_spark
    from cpu import CpuClock
    from stats import geomean, median
    from tracing import TraceContext
    from workloads import WORKLOADS, Context, drain_stencil

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cpus=str(cores))
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        ctx = Context(spark, cores, args.seed, work, CpuClock(jvm_pid=jvm_pid))

        t0 = time.perf_counter()
        wl.prepare(ctx)
        prep_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.stage(ctx)
        stage_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm(ctx)
        warm_ops = [o for i in range(wl.warm_passes) for o in wl.run_pass(ctx, i)]
        warm_s = time.perf_counter() - t0
        setup_s = session_s + stage_s + warm_s

        passes = []
        pass_steal = []
        cpu_start = cpu_times()
        t_start = time.perf_counter()
        while (len(passes) < wl.min_passes
               or time.perf_counter() - t_start < args.seconds):
            cpu0 = cpu_times()
            t0 = time.perf_counter()
            ops = wl.run_pass(ctx, wl.warm_passes + len(passes))
            passes.append((time.perf_counter() - t0, ops))
            pass_steal.append(steal_pct(cpu0, cpu_times()))
        steal = steal_pct(cpu_start, cpu_times())
        walls = [sum(o.seconds for o in ops) for _, ops in passes]
        cpus = [sum(o.cpu_s for o in ops) for _, ops in passes]
        all_ops = [o for _, ops in passes for o in ops]
        peak_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        summary = wl.summary(all_ops)
        metrics = {"setup_s": setup_s, "cpu_s": median(cpus),
                   "op_cpu_geomean_s": median(geomean(o.cpu_s for o in ops)
                                              for _, ops in passes)}
        wall = {"wall_s": median(walls),
                "op_geomean_s": median(geomean(o.seconds for o in ops)
                                       for _, ops in passes)}

        layers = None
        traced = []
        spans = []
        if args.trace:
            ctx.trace = TraceContext(spark)
            t0 = time.perf_counter()
            traced = wl.run_pass(ctx, wl.warm_passes + len(passes))
            traced_wall = time.perf_counter() - t0
            extra = {}
            if args.workload == "search":
                extra["stencil_steps_per_s"] = drain_stencil()
            if args.workload == "dedup_ingest":
                # the bootstrap runs once, in set-up
                extra["state_init_s"] = wl.setup_ops["init_dedup_state"]
            if args.workload == "tpch_sql":
                extra["exchanges"] = sum(
                    summarize(o.info["df"])["exchanges"] for o in traced if "df" in o.info)
            layers = layer_metrics(traced, traced_wall,
                                   median(w for w, _ in passes), session_s, cores, extra)
            spans = ctx.trace.tracer.spans
            metrics_out = {k: {"value": layers[k], "unit": layer_unit(k)} for k in layers}
        else:
            metrics_out = {k: {"value": metrics[k], "unit": UNITS[k]} for k in END_TO_END}

        checked = warm_ops + all_ops + traced
        failed = sum(1 for o in checked if not o.ok)
        jvm = spark.sparkContext._jvm.System
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace,
            "env": {
                "nproc": cores, "master": f"local[{cores}]",
                "spark": spark.version, "pyspark": pyspark.__version__,
                "java": jvm.getProperty("java.version"),
                "python": sys.version.split()[0], "cpu_steal_pct": steal,
                "inputs": ("tables generated with the fixed data seed "
                           f"{__import__('workloads').DATA_SEED}; the workload "
                           "seed orders the queries, splits the dedup corpus into "
                           "batches and picks search start points, so it does not "
                           "change the query workload's tables"),
            },
            "prepare_s": prep_s, "session_start_s": session_s, "stage_s": stage_s,
            "warm_s": warm_s, "warm_passes": [op_record(o) for o in warm_ops],
            "pass_walls": walls, "pass_cpu_s": cpus,
            "pass_elapsed_s": [w for w, _ in passes], "pass_steal_pct": pass_steal,
            "peak_rss_mb": peak_mb,
            "summary": summary, "end_to_end": metrics, "wall": wall,
            "per_layer": layers,
            "error_rate": failed / len(checked) if checked else 0.0,
            "passes": [[op_record(o) for o in ops] for _, ops in passes],
            "traced_pass": [op_record(o) for o in traced],
            "spans": spans,
        }
        return {
            "correct": failed == 0, "attempted": len(checked), "failed": failed,
            "metrics": metrics_out, "record": record,
        }
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("search", "tpch_sql", "dedup_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        return 1
    record = result.pop("record")
    out_dir = os.path.join(ROOT, ".perfbench_records")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(f"record: {path}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
