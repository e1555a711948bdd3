"""Tests of the benchmark itself, on sf0.001-sized generated inputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)

import cpu  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


# -- pure arithmetic --------------------------------------------------------


@pytest.mark.parametrize("n,pct", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
    (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_needs_ten_samples_beyond(n, pct):
    xs = np.random.default_rng(n).exponential(size=n)
    got_pct, value, got_n = stats.tail(xs)
    assert got_n == n
    assert got_pct == pct
    if pct is None:
        assert value is None
    else:
        assert value == pytest.approx(np.percentile(xs, pct))
        assert (xs > value).sum() >= 10


def test_geomean_weighs_every_operation_the_same():
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    # doubling a small op moves it as much as doubling a big one
    assert stats.geomean([0.2, 10.0]) * 2 ** 0.5 == pytest.approx(stats.geomean([0.4, 10.0]))
    assert stats.geomean([0.2, 20.0]) == pytest.approx(stats.geomean([0.4, 10.0]))


def test_self_time_subtracts_union_of_children():
    # children overlap each other and one sticks out past the parent's end
    children = [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0), (20.0, 21.0)]
    assert stats.self_time((0.0, 10.0), children) == pytest.approx(10 - 4 - 2)
    assert stats.self_time((0.0, 10.0), []) == pytest.approx(10.0)


def test_driver_self_time_with_pipelined_evaluator_intervals():
    ev = tracing.EvaluatorStats()
    ev.intervals += [(1.0, 2.0), (1.5, 2.5), (4.0, 5.0)]
    assert tracing.driver_self_time({"start": 0.0, "end": 6.0}, ev) == pytest.approx(6 - 1.5 - 1)
    assert ev.busy_s == pytest.approx(3.0)


def test_wrong_result_fails_the_op():
    import pandas as pd

    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    ctx = workloads.Context(None, 1, 0, "")
    ok = workloads.run_op(ctx, "query", "q", lambda: want.iloc[::-1].copy(),
                          lambda out, res: workloads.compare_frames(out, want))
    assert ok.ok and ok.error is None
    wrong = want.assign(v=[0.5, 1.25])
    bad = workloads.run_op(ctx, "query", "q", lambda: wrong,
                           lambda out, res: workloads.compare_frames(out, want))
    assert not bad.ok and "values differ" in bad.error
    short = workloads.run_op(ctx, "query", "q", lambda: want.head(1),
                             lambda out, res: workloads.compare_frames(out, want))
    assert not short.ok and "rowcount" in short.error

    def boom():
        raise RuntimeError("lost executor")

    raised = workloads.run_op(ctx, "query", "q", boom)
    assert not raised.ok and "lost executor" in raised.error


def test_layer_metrics_fill_every_name_and_zero_unused_layers():
    Op = workloads.OpResult
    spark = {"jobs": 4, "stages": 6, "tasks": 12, "job_s": 2.0, "executor_cpu_s": 3.0,
             "shuffle_read_bytes": 1 << 20}
    ops = [
        Op("search", "a", 2.0, True, info={"evals": 30, "rounds": 3, "jobs": 3, "accepted": 3,
                                         "eval_calls": 3, "eval_points": 30,
                                         "eval_busy_s": 1.5, "driver_s": 0.5}, spark=spark),
        Op("ingest", "b", 5.0, True, spark=spark),
        Op("read", "c", 0.5, True, info={"files": 7, "bytes": 900}),
    ]
    m = run.layer_metrics(ops, traced_wall=10.0, untraced_wall=8.0, session_s=6.0,
                          cores=4, extra={"state_init_s": 4.0})
    assert list(m) == run.per_layer_names()
    assert m["spark.jobs"] == 8 and m["spark.s_per_job"] == pytest.approx(0.5)
    assert m["spark.cpu_util"] == pytest.approx(6.0 / 40)
    assert m["spark.shuffle_read_mb"] == pytest.approx(2.0)
    assert m["evaluator.s_per_call"] == pytest.approx(0.5)
    assert m["search.accept_ratio"] == pytest.approx(0.1)
    assert (m["state.init_s"], m["state.ingest_jobs"], m["state.bytes"]) == (4.0, 4, 900)
    assert m["trace.overhead"] == pytest.approx(1.25)
    assert m["queries.build_s"] == 0 and m["q.q1_pricing_summary.jobs"] == 0


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.UNITS
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in spec["per_layer"])


def test_inputs_are_a_function_of_the_seed():
    a = workloads.datagen.star_schema(0.001, 7)
    b = workloads.datagen.star_schema(0.001, 7)
    assert all(a[k].equals(b[k]) for k in a)
    d1 = workloads.datagen.documents(200, 7)
    assert d1.equals(workloads.datagen.documents(200, 7))
    assert not d1.equals(workloads.datagen.documents(200, 8))


def test_sphere_searches_take_the_same_rounds_for_every_seed():
    from dask_patternsearch_spark import search

    for seed in (1, 2, 5):  # 1 and 5 first draw a 7-round start
        a, b = workloads.SearchWorkload(), workloads.SearchWorkload()
        a.prepare(workloads.Context(None, 1, seed, ""))
        b.prepare(workloads.Context(None, 1, seed, ""))
        for s, t in zip(a.specs, b.specs):
            assert np.array_equal(s.x0, t.x0) and s.search_seed == t.search_seed
        for s in a.specs:
            if s.name.startswith("sphere") and s.dims == 10:
                _, results = search(lambda x: float(x.dot(x)), s.x0, np.ones(10),
                                    seed=s.search_seed, stopratio=s.stopratio)
                assert results.rounds == 8


def test_dedup_split_covers_corpus_once(tmp_path):
    import pyarrow.parquet as pq

    wl = workloads.DedupWorkload(n_docs=200)
    wl.prepare(workloads.Context(None, 1, 3, str(tmp_path)))
    ids = [set(pq.read_table(f"{wl.data}/{p}.parquet")["doc_id"].to_pylist())
           for p in wl.parts]
    assert sum(len(s) for s in ids) == 200 and len(ids) == len(workloads.DEDUP_SPLIT)
    assert set().union(*ids) == set(range(200))
    assert len(wl.expected) > 0


def test_cpu_clock_counts_descendants_but_not_sleep():
    import subprocess
    import time

    clock = cpu.CpuClock()
    c0, t0 = clock(), time.perf_counter()
    # a grandchild that burns CPU, then sleeps while it is still alive
    burn = ("import subprocess, sys; subprocess.run([sys.executable, '-c', "
            "'import time\\nt = time.process_time()\\n"
            "while time.process_time() - t < 0.3: pass\\ntime.sleep(1.5)'])")
    child = subprocess.Popen([sys.executable, "-c", burn])
    time.sleep(1.0)
    mid = clock() - c0
    child.wait()
    used, wall = clock() - c0, time.perf_counter() - t0
    assert 0.3 <= mid  # counted while the grandchild is still alive
    assert 0.3 <= used < wall - 1.0  # its sleep costs no CPU


# -- against a live session ---------------------------------------------------


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    saved = dict(os.environ)
    work = str(tmp_path_factory.mktemp("perfbench") / "work")
    run.isolate(work)
    from dask_patternsearch_spark.session import get_spark

    spark = get_spark("perfbench-tests", cpus="2")
    spark.sparkContext.setLogLevel("ERROR")
    yield workloads.Context(spark, 2, 5, work)
    run.shutdown(spark)
    os.environ.clear()
    os.environ.update(saved)


def test_cpu_clock_finds_the_jit_compiler_threads(ctx):
    jvm = ctx.spark.sparkContext._jvm.ProcessHandle.current().pid()
    paths = cpu.jit_threads(jvm)
    assert paths and all(p.startswith(f"/proc/{jvm}/task/") for p in paths)
    clock = cpu.CpuClock(jvm_pid=jvm)
    op = workloads.run_op(workloads.Context(ctx.spark, 2, 0, "", clock), "query", "q",
                          lambda: ctx.spark.range(200_000).selectExpr("sum(id)").collect())
    assert op.ok and 0 < op.cpu_s


def test_per_search_spark_jobs_equal_results_jobs(ctx):
    wl = workloads.SearchWorkload()
    wl.prepare(ctx)
    ctx.trace = tracing.TraceContext(ctx.spark)
    try:
        specs = [s for s in wl.specs if s.distributed and not s.name.endswith("costly")]
        assert {s.depth for s in specs} == {1, 2}
        for s in specs:
            op = wl._one(ctx, s)
            assert op.ok, op.error
            assert op.spark["jobs"] == op.info["jobs"] > 0, s.name
            assert op.info["eval_calls"] == op.info["jobs"]
            assert op.info["eval_points"] == op.info["evals"]
            assert 0 <= op.info["driver_s"] < op.seconds
    finally:
        ctx.trace = None


def test_query_oracle_check_catches_a_wrong_result(ctx):
    wl = workloads.TpchWorkload(sf=0.001)
    wl.prepare(ctx)
    good = wl._one(ctx, "q6_forecast_revenue")
    assert good.ok, good.error
    wl.expected["q6_forecast_revenue"] = wl.expected["q6_forecast_revenue"].assign(n_lines=-1)
    bad = wl._one(ctx, "q6_forecast_revenue")
    assert not bad.ok and "values differ" in bad.error
    assert wl.summary([good, bad])["query_samples"] == 2
