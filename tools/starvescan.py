"""Stage-starvation scanner: find queries whose wall-clock hides a
few-task / CPU-heavy stage (offline profiling tool).

For each named query (default: the slowest sweep entries from
BENCH_sweep.json) run once warm, then once measured, and flag stages
that completed with fewer than ``--tasks`` tasks while burning more than
``--cpu`` seconds of executor CPU.  These are the two round-7 trap
classes: an inferred-filter/projection collapsed into a narrow scan
stage, or AQE's minPartitionSize coalescing a bytes-small but
compute-dense relation (SCALE.md round 7).

Interpretation caveat (the round-7 negative result): a flagged stage is
only worth "fixing" if its work does NOT collapse under a map-side
partial aggregate -- a partial collect_set/count is its own combiner and
repartitioning ahead of it just trades serialization for shuffle.
Confirm with a fresh-process A/B before and after (bench protocol).

Usage: python tools/starvescan.py [query ...]
       python tools/starvescan.py --top 12          (slowest sweep entries)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MIN_TASKS = int(os.environ.get("STARVE_TASKS", "8"))
MIN_CPU_S = float(os.environ.get("STARVE_CPU_S", "1.5"))


def _targets(argv: list[str]) -> list[str]:
    if argv and argv[0] == "--top":
        n = int(argv[1]) if len(argv) > 1 else 12
        sweep = json.load(open(os.path.join(REPO, "BENCH_sweep.json")))["sweep"]
        return [k for k, _ in sorted(sweep.items(), key=lambda kv: -kv[1])[:n]]
    return argv


def main() -> None:
    from pyspark.sql import SparkSession

    from dask_patternsearch_spark.queries import all_queries
    from dask_patternsearch_spark.session import WORKER_DAEMON_MODULE

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("starvescan")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4095")
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    qs = all_queries()

    def stages() -> dict:
        apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
        sid = apps[0]["id"]
        return {s["stageId"]: s for s in json.load(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{sid}/stages?status=complete"))}

    for name in _targets(sys.argv[1:]):
        if name not in qs:
            print(f"{name}: NOT IN REGISTRY")
            continue
        try:
            qs[name](spark, SF_DIR).count()  # warm (JIT + worker pool)
            before = stages()
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).count()
            wall = time.perf_counter() - t0
            new = [s for i, s in stages().items() if i not in before]
        except Exception as exc:  # pragma: no cover - diagnostics
            print(f"{name}: ERROR {str(exc)[:100]}")
            continue
        starved = [
            s for s in new
            if s["numCompleteTasks"] < MIN_TASKS
            and s.get("executorCpuTime", 0) > MIN_CPU_S * 1e9
        ]
        if starved:
            detail = "; ".join(
                f"stage{s['stageId']}: cpu={s['executorCpuTime']/1e9:.1f}s "
                f"over {s['numCompleteTasks']} tasks "
                f"(shufR={s.get('shuffleReadBytes',0)/1e6:.1f}MB "
                f"in={s.get('inputBytes',0)/1e6:.0f}MB)"
                for s in starved
            )
            print(f"{name}: wall={wall:.2f}s STARVED -> {detail}")
        else:
            print(f"{name}: wall={wall:.2f}s ok")
    spark.stop()


if __name__ == "__main__":
    main()
