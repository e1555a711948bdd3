"""Convergence tests ported from the reference test suite
(/root/reference/dask_patternsearch/tests/test_search.py:12-124): same
objectives, same invariants, same parameter matrix with the async queue
knobs mapped to round sizing.  Invariants asserted (reference :35-36):

1. |best.point - argmin| < 2*stopratio elementwise;
2. best.result == min over the ledger (incumbent consistency);
3. cardinality semantics of max_tasks / batchsize.
"""

import numpy as np
import pytest

from dask_patternsearch_spark import search


def sphere(x):
    return float((x * x).sum())


def sphere_p1(x):
    x = x - 0.1
    return float((x * x).sum())


def sphere_vectorized(x):
    # x is 2-D: one row per point
    return (x * x).sum(axis=1)


X0 = np.array([10.0, 15.0])
STEP = np.array([1.0, 1.0])
TOL = 2 * 0.01


def check(best, results, target=(0.0, 0.0)):
    assert best.result == min(p.result for p in results)
    assert abs(best.point - np.array(target)).max() < TOL


@pytest.mark.parametrize(
    "kwargs",
    [
        {},
        {"round_size": 20},
        {"round_size": 1},
        {"min_new_submit": 4},
        {"max_stencil_size": 4},
        {"max_stencil_size": 4, "min_new_submit": 4},
        {"batchsize": 5},
        {"batchsize": 5, "vectorize": True},
        {"randomize": False},
    ],
)
def test_convergence_2d_serial(kwargs):
    best, results = search(
        sphere_vectorized if kwargs.get("vectorize") else sphere,
        X0, STEP, seed=7, **kwargs,
    )
    check(best, results)


def test_max_tasks():
    best, results = search(sphere, X0, STEP, max_tasks=10, seed=7)
    assert len(results) == 10
    assert best.result == min(p.result for p in results)


def test_batch_cardinality():
    best, results = search(sphere, X0, STEP, batchsize=5, seed=7)
    assert len(results) % 5 == 0
    check(best, results)


def test_batch_max_tasks():
    best, results = search(sphere, X0, STEP, batchsize=5, max_tasks=2, seed=7)
    assert len(results) == 10
    assert best.result == min(p.result for p in results)


def test_offset_minimum():
    best, results = search(sphere_p1, X0, STEP, seed=7)
    check(best, results, target=(0.1, 0.1))


def test_integer_dimensions():
    def obj(x):
        return float((x[0] - 0.0) ** 2 + (x[1] - 0.1) ** 2)

    best, results = search(obj, X0, STEP, integer_dimensions=[0], seed=7)
    assert best.point[0] == 0.0
    assert abs(best.point[1] - 0.1) < TOL
    assert best.result == min(p.result for p in results)


def test_max_time_returns_quickly():
    best, results = search(sphere, X0, STEP, max_time=0.5, seed=7)
    assert best.result == min(p.result for p in results)


def test_rosenbrock_10d():
    def rosen(x):
        return float(((1 - x[:-1]) ** 2).sum() + 100 * ((x[1:] - x[:-1] ** 2) ** 2).sum())

    x0 = np.full(10, 2.0)
    best, results = search(rosen, x0, np.full(10, 0.5), max_tasks=4000, seed=7)
    # rosenbrock is hard; just require meaningful descent + consistency
    assert best.result == min(p.result for p in results)
    assert best.result < rosen(x0) / 100


def test_convergence_100d():
    """The reference's aspirational scale axis (reference search.py:55-61:
    'intended to scale to ~100 dimensions').  Vectorized serial evaluation
    bounds the driver-side stencil cost at dims=100: convergence to
    stopratio=1e-2 lands on the exact lattice optimum in well under a
    minute and ~55k evaluations."""
    d = 100

    def sphere_vec(X):
        X = np.atleast_2d(X)
        return (X * X).sum(axis=1)

    best, results = search(
        sphere_vec,
        np.full(d, 1.0),
        np.full(d, 0.5),
        stopratio=1e-2,
        seed=7,
        vectorize=True,
        batchsize=256,
        max_tasks=60_000,
    )
    assert best.result == min(p.result for p in results)
    assert np.abs(best.point).max() < 2 * 1e-2 * 0.5  # within stop tolerance
    assert len(results) < 60_000  # terminated by stopratio, not the cap


@pytest.mark.spark
def test_convergence_2d_spark(spark):
    # closure (not module-level) so cloudpickle ships it by value to executors
    def obj(x):
        return float((x * x).sum())

    best, results = search(obj, X0, STEP, spark=spark, seed=7)
    check(best, results)


@pytest.mark.spark
def test_convergence_2d_spark_vectorized(spark):
    def obj_vec(x):
        return (x * x).sum(axis=1)

    best, results = search(
        obj_vec, X0, STEP, spark=spark, vectorize=True, batchsize=8, seed=7
    )
    check(best, results)


@pytest.mark.spark
def test_ledger_to_spark(spark):
    best, results = search(sphere, X0, STEP, max_tasks=50, seed=7)
    df = results.to_spark(spark)
    assert df.count() == len(results)
    row = df.orderBy("cost").first()
    assert row["cost"] == pytest.approx(best.result)


@pytest.mark.spark
def test_spark_search_jobs_equal_rounds(spark):
    """Round-13 (round-12 verdict #5) updated for round-14 round fusing:
    a distributed search's ONLY Spark jobs are its evaluation dispatches
    (``results.jobs``) -- no hidden ledger/decision/export job can creep
    into the loop.  Depth 1 stays one single-stage job per poll round;
    pipelined mode fuses ``pipeline_depth`` speculative rounds into one
    job, so jobs <= ceil(rounds / depth) + 1 (the +1 covers a trailing
    partial chunk) at an UNCHANGED round count (trace identity of the
    fused submission is locked value-for-value by the
    pattern_search_replay_pipelined oracle).  Every job runs on the
    caller's thread, so all of them carry the caller's job group."""
    import math

    def obj_vec(x):
        return (x * x).sum(axis=1)

    sc = spark.sparkContext
    for kw in ({}, {"pipeline_depth": 2}, {"pipeline_depth": 3}):
        depth = kw.get("pipeline_depth", 1)
        group = f"jobs-equal-rounds-depth-{depth}"
        sc.setJobGroup(group, group)
        try:
            _best, results = search(
                obj_vec, [10.0, 15.0], [1.0, 1.0], spark=spark, vectorize=True,
                batchsize=16, stopratio=0.05, seed=42, **kw,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tagged = sc.statusTracker().getJobIdsForGroup(group)
        assert len(tagged) == results.jobs, kw
        if depth == 1:
            assert results.jobs == results.rounds, kw
        else:
            assert results.jobs <= math.ceil(results.rounds / depth) + 1, kw
            assert results.jobs < results.rounds, kw


@pytest.mark.spark
def test_convergence_2d_spark_pipelined(spark):
    """pipeline_depth=2 (concurrent speculative rounds) must converge to
    the same optimum; the contraction gate stays exact."""
    def obj_vec(x):
        return (x * x).sum(axis=1)

    best, results = search(
        obj_vec, X0, STEP, spark=spark, vectorize=True, batchsize=8, seed=7,
        pipeline_depth=2,
    )
    check(best, results)


@pytest.mark.spark
def test_pipelined_respects_max_tasks(spark):
    """In-flight rounds count against the task budget, so the ledger can
    never exceed max_tasks * batchsize even with speculative submission."""
    def obj_vec(x):
        return (x * x).sum(axis=1)

    best, results = search(
        obj_vec, X0, STEP, spark=spark, vectorize=True, batchsize=8,
        max_tasks=12, seed=7, pipeline_depth=3,
    )
    assert len(results) <= 12 * 8
    assert best.result == min(results.values())


def test_pipelined_serial_fuses_rounds_per_evaluate_call():
    """pipeline_depth needs no special evaluator: in serial mode k
    speculative rounds go to ONE ``evaluate`` call, as they go to one
    Spark job with a session."""
    import math

    from dask_patternsearch_spark.search import LocalEvaluator

    class CountingEvaluator(LocalEvaluator):
        calls = 0

        def evaluate(self, func, points, args):
            self.calls += 1
            return super().evaluate(func, points, args)

    for depth in (2, 3):
        ev = CountingEvaluator()
        best, results = search(sphere, X0, STEP, seed=7, pipeline_depth=depth,
                               evaluator=ev)
        check(best, results)
        assert ev.calls == results.jobs <= math.ceil(results.rounds / depth) + 1
        assert results.jobs < results.rounds, depth


@pytest.mark.spark
def test_spark_evaluator_sizes_tasks_by_measured_cost(spark):
    """The first two jobs of a search have ``min(n, defaultParallelism)``
    tasks; later jobs size themselves from the measured objective and
    fixed cost: a cheap objective drops to one task per job (with the
    same ledger), a costly one keeps every core, and an explicit
    ``batchsize`` keeps ``ceil(n / batchsize)``."""
    import math
    import time

    from dask_patternsearch_spark.search import SparkEvaluator

    sc = spark.sparkContext
    st = sc.statusTracker()
    par = sc.defaultParallelism

    class Recording(SparkEvaluator):
        def evaluate(self, func, points, args):
            self.sizes.append(len(points))
            return super().evaluate(func, points, args)

    def run(group, func, batchsize=None, vectorize=False, **kw):
        ev = Recording(spark, vectorize=vectorize, batchsize=batchsize)
        ev.sizes = []
        sc.setJobGroup(group, group)
        try:
            _b, results = search(func, X0, STEP, evaluator=ev, batchsize=batchsize,
                                 vectorize=vectorize, seed=7, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tasks = [sum(st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds)
                 for j in sorted(st.getJobIdsForGroup(group))]
        assert len(tasks) == len(ev.sizes) == results.jobs > 1
        return results, ev.sizes, tasks

    def canon(res):
        return sorted(
            (tp.point.tobytes(), tp.halvings, float(c)) for tp, c in res.items()
        )

    # closures, so cloudpickle ships them by value to the executors
    def obj_vec(x):
        return (x * x).sum(axis=1)

    cheap, sizes, tasks = run("sizing-cheap", obj_vec, vectorize=True,
                              round_size=6, stopratio=0.05)
    assert tasks == [min(n, par) for n in sizes[:2]] + [1] * (len(tasks) - 2)
    _sb, serial = search(sphere, X0, STEP, seed=7, round_size=6, stopratio=0.05)
    assert canon(cheap) == canon(serial)

    def slow(x):
        time.sleep(0.2)
        return float((x * x).sum())

    # 16 points over 4 cores: 0.8 s of objective work per task, well above
    # a job's fixed cost (about 0.3 s on a 4-core box)
    _r, sizes, tasks = run("sizing-costly", slow, round_size=16, max_tasks=32)
    assert tasks == [min(n, par) for n in sizes]

    _r, sizes, tasks = run("sizing-batch", obj_vec, batchsize=16,
                           vectorize=True, round_size=48, max_tasks=9)
    assert tasks == [math.ceil(n / 16) for n in sizes]
    assert all(t == 3 for t in tasks)


def test_spark_evaluator_cold_first_job_does_not_size_the_next():
    """The first job on a fresh session also starts the Python workers, so
    its fixed cost reads far above a warm job's.  That reading alone must
    not shrink the next call of a costly objective to one task; from the
    third call on, sizing takes the smaller of the last two fixed costs."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    from dask_patternsearch_spark.search import SparkEvaluator

    class Job:
        def __init__(self, sc, n, k):
            self.sc, self.n, self.k = sc, n, k

        def mapPartitions(self, run):
            self.run = run
            return self

        def collect(self):
            self.sc.parts.append(self.k)
            if len(self.sc.parts) == 1:
                time.sleep(1.0)  # worker start-up, paid by the first job only
            splits = [range(i * self.n // self.k, (i + 1) * self.n // self.k)
                      for i in range(self.k)]
            with ThreadPoolExecutor(self.k) as pool:
                outs = pool.map(lambda r: list(self.run(iter(r))), splits)
                return [row for out in outs for row in out]

    class Context:
        defaultParallelism = 4

        def __init__(self):
            self.parts = []

        def parallelize(self, rng, k):
            return Job(self, len(rng), k)

    class Session:
        sparkContext = Context()

    def slow(x):
        time.sleep(0.05)
        return float((x * x).sum())

    ev = SparkEvaluator(Session())
    points = [np.full(2, float(i)) for i in range(8)]
    for _ in range(3):
        assert ev.evaluate(slow, points, ()) == [float((p * p).sum()) for p in points]
    # 8 points x 0.05 s against the cold job's 1 s of fixed cost would
    # have sized the second call at floor(0.4 / 1.0) -> 1 task
    assert Session.sparkContext.parts == [4, 4, 4]


@pytest.mark.spark
def test_async_spark_evaluator_is_a_compatible_spark_evaluator(spark):
    """The kept ``AsyncSparkEvaluator`` name still constructs with
    ``max_inflight`` and searches exactly like the default evaluator."""
    from dask_patternsearch_spark import AsyncSparkEvaluator, SparkEvaluator

    ev = AsyncSparkEvaluator(spark, vectorize=True, batchsize=16, max_inflight=3)
    assert isinstance(ev, SparkEvaluator)

    def ledger(results):
        return [(tp.point.tolist(), tp.halvings, tp.parent.point.tolist(),
                 tp.is_accepted, cost) for tp, cost in results.items()]

    def obj_vec(x):
        return (x * x).sum(axis=1)

    kw = dict(spark=spark, vectorize=True, batchsize=16, stopratio=0.05,
              seed=42, pipeline_depth=3)
    _b, default = search(obj_vec, [10.0, 15.0], [1.0, 1.0], **kw)
    _b, compat = search(obj_vec, [10.0, 15.0], [1.0, 1.0], evaluator=ev, **kw)
    assert ledger(compat) == ledger(default)
    assert compat.jobs == default.jobs


@pytest.mark.spark
def test_reference_signature_aliases(spark):
    """Calling with the reference's kwargs (client=, max_queue_size=,
    min_queue_size=) must behave as the spark=/round_size= spelling."""
    def obj(x):
        return float((x * x).sum())

    best, results = search(
        obj, X0, STEP, client=spark, max_queue_size=16, min_queue_size=8, seed=7
    )
    check(best, results)

    with pytest.raises(ValueError, match="not both"):
        search(obj, X0, STEP, spark=spark, client=spark)
    with pytest.raises(ValueError, match="SparkSession"):
        search(obj, X0, STEP, client=object())


def test_warm_start_resumes_without_reevaluation():
    """A resumed search seeded with a prior run's ledger must never
    re-call the objective for a known point, must count the seeded
    entries against the cumulative budget, and must keep improving from
    where the prior run stopped."""
    from dask_patternsearch_spark import search

    def make_counter():
        calls = {"n": 0}

        def sphere(x):
            calls["n"] += 1
            return float((x * x).sum())

        return sphere, calls

    f1, c1 = make_counter()
    best_partial, partial = search(f1, [5.0, 5.0], [1.0, 1.0], max_tasks=40, seed=11)
    assert c1["n"] == 40

    f3, c3 = make_counter()
    best_resumed, resumed = search(
        f3, [5.0, 5.0], [1.0, 1.0], max_tasks=160, seed=11, warm_start=partial
    )
    # every warm point is in the final ledger with its original cost
    for p, v in partial.items():
        assert resumed[p] == v
    # only NEW points were evaluated (x0 is re-seeded, hence the +1);
    # the budget is cumulative: ledger size respects max_tasks
    assert c3["n"] == len(resumed) - len(partial) + 1
    assert len(resumed) <= 160
    # the resumed search improves on (never regresses from) the prior best
    assert best_resumed.result <= best_partial.result
    assert best_resumed.result == min(resumed.values())


def test_warm_start_roundtrips_through_parquet(spark, tmp_path):
    """The parquet ledger written by to_spark is a valid warm_start."""
    import numpy as np

    from dask_patternsearch_spark import search

    def sphere(x):
        return float((x * x).sum())

    _, partial = search(sphere, [4.0, 4.0], [1.0, 1.0], max_tasks=30, seed=5)
    path = str(tmp_path / "ledger")
    partial.to_spark(spark).write.parquet(path)

    calls = {"n": 0}

    def counting(x):
        calls["n"] += 1
        return float((x * x).sum())

    best, resumed = search(
        counting, [4.0, 4.0], [1.0, 1.0], max_tasks=60, seed=5, warm_start=path
    )
    assert len(resumed) <= 60
    assert calls["n"] == len(resumed) - 30 + 1  # only new points + re-seeded x0
    # every ledger row round-tripped through parquet into the memo
    for p, v in partial.items():
        assert resumed[p] == v
    assert best.result == min(resumed.values())


def test_ledger_checkpoint_and_resume(tmp_path):
    """ledger_path writes periodic parquet parts a crashed run can resume
    from; the checkpointed rows equal the in-memory ledger."""
    import pyarrow.parquet as pq

    from dask_patternsearch_spark import search

    def sphere(x):
        return float((x * x).sum())

    path = str(tmp_path / "ledger")
    _, results = search(
        sphere, [5.0, 5.0], [1.0, 1.0], max_tasks=48, seed=3,
        ledger_path=path, ledger_every=2,
    )
    t = pq.read_table(path).to_pylist()
    assert len(t) == len(results) == 48
    mem = {tuple(p.point): v for p, v in results.items()}
    for row in t:
        assert mem[tuple(row["point"])] == row["cost"]

    calls = {"n": 0}

    def counting(x):
        calls["n"] += 1
        return float((x * x).sum())

    best, resumed = search(
        counting, [5.0, 5.0], [1.0, 1.0], max_tasks=96, seed=3,
        warm_start=path,
    )
    assert calls["n"] == len(resumed) - 48 + 1
    assert best.result == min(resumed.values())


def test_bounds_constrain_search_to_box():
    """Box constraints (beyond the reference): the sphere's free optimum
    (0,0) lies outside [1,3]^2, so the search must converge to the best
    feasible lattice point (the (1,1) corner) without ever evaluating
    outside the box."""
    best, results = search(
        sphere, [2.0, 2.0], [0.5, 0.5], seed=7,
        bounds=([1.0, 1.0], [3.0, 3.0]),
    )
    for p in results:
        assert (p.point >= 1.0 - 1e-9).all() and (p.point <= 3.0 + 1e-9).all()
    assert best.result == min(results.values())
    assert np.abs(best.point - 1.0).max() < 2 * 0.01 * 0.5 + 1e-9

    with pytest.raises(ValueError, match="inside bounds"):
        search(sphere, [0.0, 0.0], [0.5, 0.5], bounds=([1.0, 1.0], [3.0, 3.0]))
    with pytest.raises(ValueError, match="lower > upper"):
        search(sphere, [2.0, 2.0], [0.5, 0.5], bounds=([4.0, 4.0], [3.0, 3.0]))


def test_ledger_checkpoint_and_resume_100d(tmp_path):
    """Warm-start resume at the dimensionality the 100,000-core posture
    implies (dims=100; reference search.py:55-61): a checkpointed first
    stage dies mid-search, the resumed stage must re-evaluate ZERO known
    lattice points (only the re-seeded x0), keep improving, and respect
    the cumulative budget."""
    import numpy as np
    import pyarrow.parquet as pq

    from dask_patternsearch_spark import search

    dims = 100
    x0 = np.full(dims, 3.0)
    steps = np.ones(dims)
    path = str(tmp_path / "ledger100")

    seen1 = set()

    def sphere1(x):
        seen1.add(tuple(x))
        return float((x * x).sum())

    best1, results1 = search(
        sphere1, x0, steps, max_tasks=2048, seed=17,
        ledger_path=path, ledger_every=3,
    )
    rows = pq.read_table(path).to_pylist()
    assert len(rows) == len(results1) == 2048  # every eval checkpointed
    mem = {tuple(p.point): v for p, v in results1.items()}
    for row in rows:
        assert mem[tuple(row["point"])] == row["cost"]

    seen2 = set()

    def sphere2(x):
        seen2.add(tuple(x))
        return float((x * x).sum())

    best2, results2 = search(
        sphere2, x0, steps, max_tasks=4096, seed=17, warm_start=path,
    )
    # zero repeated work: the only prior point the resumed run may touch
    # is the re-seeded x0
    assert seen2 & seen1 <= {tuple(x0)}
    assert len(results2) <= 4096
    assert len(seen2 - {tuple(x0)}) == len(results2) - len(results1)
    # resume must not regress, and in 100d with half the budget left it
    # must strictly improve on the interrupted stage
    assert best2.result < best1.result
    assert best2.result == min(results2.values())


def test_pickled_ledger_lookups_work_in_another_process(tmp_path):
    """``TrialPoint`` caches its hash, and ``bytes`` hashes differ between
    processes: a ledger unpickled in a process with another hash seed must
    still find its points."""
    import os
    import pickle
    import subprocess
    import sys

    _b, results = search(sphere, X0, STEP, max_tasks=20, seed=7)
    path = tmp_path / "ledger.pkl"
    path.write_bytes(pickle.dumps(results))
    code = (
        "import pickle, sys\n"
        "from dask_patternsearch_spark.search import TrialPoint\n"
        "res = pickle.load(open(sys.argv[1], 'rb'))\n"
        "assert all(TrialPoint(tp.point.copy(), 0) in res for tp in res)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for hash_seed in ("1", "2"):
        subprocess.run([sys.executable, "-c", code, str(path)], check=True, cwd=root,
                       env={**os.environ, "PYTHONHASHSEED": hash_seed})


def test_deterministic_serial_trace_is_replayable():
    """Contract behind the pattern_search_replay_* oracles: with
    randomize=False the serial trace is a pure function of its config --
    two runs produce identical ledgers (points, halvings, lineage,
    acceptance flags, costs), every coordinate is a dyadic lattice point
    (exact in float64 AND in its decimal string spelling), and no
    coordinate is IEEE -0.0 (the DuckDB replay keys points by their
    canonical decimal strings, search.py keys them by raw bytes)."""
    import numpy as np

    from dask_patternsearch_spark.search import search

    def sphere(x):
        return float((x * x).sum())

    def canon(results):
        return sorted(
            (tuple(tp.point.tolist()), tp.halvings,
             tuple(tp.parent.point.tolist()), tp.is_accepted, cost)
            for tp, cost in results.items()
        )

    _, r1 = search(sphere, [10.0, 15.0], [1.0, 1.0], randomize=False)
    _, r2 = search(sphere, [10.0, 15.0], [1.0, 1.0], randomize=False)
    assert canon(r1) == canon(r2)
    for tp in r1:
        for v in tp.point.tolist():
            assert v == round(v * 128) / 128  # on the stepsize/2**7 lattice
            assert not (v == 0.0 and np.signbit(v))


def test_replay_oracle_matches_engine_ledger():
    """The DuckDB recursive-CTE interpreter (_replay_sql) reproduces the
    engine's serial randomize=False ledger move-for-move -- same rows,
    same acceptance flags, bit-equal costs.  This is the oracle the
    driver gate runs; keeping a local copy makes a divergence fail fast
    in CI rather than only in the per-round correctness report."""
    import duckdb

    from dask_patternsearch_spark.queries import patterns as P
    from dask_patternsearch_spark.search import search

    best, results = search(P._sphere, [10.0, 15.0], [1.0, 1.0], randomize=False)
    eng = sorted(
        (",".join(str(v) for v in tp.point.tolist()), tp.halvings,
         ",".join(str(v) for v in tp.parent.point.tolist()),
         tp.is_accepted, float(cost))
        for tp, cost in results.items()
    )
    out = duckdb.connect().execute(
        P.ORACLE["pattern_search_replay_sphere"]
    ).fetchall()
    assert sorted(map(tuple, out)) == eng


def test_multi_start_matches_independent_runs():
    """search_multi_start must return per-start (best, results) equal to
    independent single-start runs (thread orchestration cannot perturb
    the deterministic traces), plus the global ledger minimum."""
    import numpy as np

    from dask_patternsearch_spark.search import search, search_multi_start

    def shifted(x):
        return float(((x - np.array([3.0, -2.0])) ** 2).sum())

    x0s = [[10.0, 15.0], [-8.0, 11.0], [6.0, -9.0]]
    best, runs = search_multi_start(shifted, x0s, [1.0, 1.0], randomize=False)
    assert len(runs) == 3

    def canon(res):
        return sorted(
            (tp.point.tobytes(), tp.halvings, float(c)) for tp, c in res.items()
        )

    all_min = None
    for x0, (b, res) in zip(x0s, runs):
        sb, sres = search(shifted, x0, [1.0, 1.0], randomize=False)
        assert canon(res) == canon(sres)
        assert b.result == sb.result
        m = min(res.values())
        all_min = m if all_min is None else min(all_min, m)
    assert best.result == all_min
    assert abs(best.point - np.array([3.0, -2.0])).max() < 0.02


def test_multi_start_concurrent_spark_evaluator(spark):
    """Concurrent starts sharing one SparkSession (each submitting its own
    single-stage jobs from a driver thread) must reproduce the serial
    local traces exactly."""
    import numpy as np

    from dask_patternsearch_spark.search import search, search_multi_start

    def sphere_vec(xs):
        return (np.atleast_2d(xs) ** 2).sum(axis=1)

    x0s = [[10.0, 15.0], [-8.0, 11.0]]
    best, runs = search_multi_start(
        sphere_vec, x0s, [1.0, 1.0], spark=spark, vectorize=True,
        round_size=6, randomize=False,
    )

    def canon(res):
        return sorted(
            (tp.point.tobytes(), tp.halvings, float(c)) for tp, c in res.items()
        )

    for x0, (_b, res) in zip(x0s, runs):
        _sb, sres = search(
            lambda x: float((x * x).sum()), x0, [1.0, 1.0], randomize=False
        )
        assert canon(res) == canon(sres)
    assert abs(best.point).max() < 0.02


def test_multi_start_ledger_paths_fan_out(tmp_path):
    """A shared ledger_path must fan out into per-start subdirectories
    (concurrent starts writing one directory would collide on part-file
    names and corrupt the crash-recovery ledger); each per-start ledger
    must warm-start its own trace without re-evaluation."""
    import os

    import numpy as np

    from dask_patternsearch_spark.search import search, search_multi_start

    calls = []

    def sphere(x):
        calls.append(tuple(x))
        return float((x * x).sum())

    base = str(tmp_path / "ledgers")
    x0s = [[10.0, 15.0], [-8.0, 11.0]]
    _best, runs = search_multi_start(
        sphere, x0s, [1.0, 1.0], randomize=False,
        ledger_path=base, ledger_every=1,
    )
    subdirs = sorted(os.listdir(base))
    assert subdirs == ["start-0", "start-1"]
    # every evaluated point of start 0 is in its own ledger (not polluted
    # by start 1's rows): a warm start from it may keep exploring, but it
    # must never re-evaluate a point start 0 already paid for
    warm_points = {tuple(tp.point.tolist()) for tp in runs[0][1]}
    assert len(warm_points) == len(runs[0][1])
    calls.clear()
    search(
        sphere, x0s[0], [1.0, 1.0], randomize=False,
        warm_start=os.path.join(base, "start-0"),
    )
    assert calls, "warm-started search should continue exploring"
    # only the re-seeded x0 may be re-called (engine contract, see
    # test_warm_start_resumes_without_reevaluation)
    assert set(calls) & warm_points == {tuple(x0s[0])}


def test_multi_start_warm_start_fans_out(tmp_path):
    """ONE search_multi_start(warm_start=<root>) call must resume a
    crashed portfolio from its own fanned checkpoint layout: each start
    warms from its OWN start-<i> subdirectory (never a sibling's), and a
    non-fanned warm_start is a shared memo passed to every start."""
    import os

    from dask_patternsearch_spark.search import search_multi_start

    calls = []

    def sphere(x):
        calls.append(tuple(x))
        return float((x * x).sum())

    base = str(tmp_path / "ledgers")
    x0s = [[10.0, 15.0], [-8.0, 11.0]]
    _b, runs_a = search_multi_start(
        sphere, x0s, [1.0, 1.0], randomize=False,
        max_tasks=30, ledger_path=base, ledger_every=1,
    )
    warm = [{tuple(tp.point.tolist()) for tp in r[1]} for r in runs_a]
    calls.clear()
    best, runs_b = search_multi_start(
        sphere, x0s, [1.0, 1.0], randomize=False, warm_start=base,
    )
    # per start: every phase-A point survives with its cost, and only the
    # re-seeded x0 was re-called from the warm set
    for i, (bi, res) in enumerate(runs_b):
        for tp, cost in runs_a[i][1].items():
            assert res[tp] == cost
        assert bi.result == min(res.values())
    recalled = set(calls) & (warm[0] | warm[1])
    assert recalled == {tuple(x0s[0]), tuple(x0s[1])}
    assert abs(best.point).max() < 0.02
    # shared-memo path: a FLAT parquet ledger (no start-<i> layout) seeds
    # every start; none of its points is re-evaluated by any start
    flat = os.path.join(base, "start-0")
    calls.clear()
    search_multi_start(
        sphere, x0s, [1.0, 1.0], randomize=False, warm_start=flat,
        max_tasks=40,
    )
    assert set(calls) & (warm[0] - {tuple(x0s[0]), tuple(x0s[1])}) == set()


def test_pipelined_replay_oracle_matches_engine_ledger():
    """_replay_pipelined_sql reproduces the pipeline_depth=2
    randomize=False ledger move-for-move -- the one-round drain lag, the
    stale-parent orientation flips and the doubled-step accepts with
    negative halvings included.  Runs on a local evaluator: the trace is
    the same as with a Spark session, so it is checked without one."""
    import duckdb
    import numpy as np

    from dask_patternsearch_spark.queries import patterns as P
    from dask_patternsearch_spark.search import LocalEvaluator, search

    def sphere_vec(xs):
        return (np.atleast_2d(xs) ** 2).sum(axis=1)

    best, results = search(
        sphere_vec, [10.0, 15.0], [1.0, 1.0], randomize=False,
        vectorize=True, round_size=6, pipeline_depth=2,
        evaluator=LocalEvaluator(vectorize=True),
    )
    eng = [
        (",".join(str(v) for v in tp.point.tolist()), tp.halvings,
         ",".join(str(v) for v in tp.parent.point.tolist()),
         tp.is_accepted, float(cost))
        for tp, cost in results.items()
    ]
    out = duckdb.connect().execute(
        P.ORACLE["pattern_search_replay_pipelined"]
    ).fetchall()
    assert [tuple(o) for o in out] == eng
    # the lag makes doubled steps acceptable: the trace must actually
    # contain a negative-halvings accepted point (the serial trace never
    # does), otherwise this test stopped exercising the lag
    assert any(tp.halvings < 0 and tp.is_accepted for tp in results)


def test_pipelined_replay_oracle_rosenbrock_config():
    """Second objective through the pipelined CTE: the curved valley
    drives different orientation flips and an early contraction cascade
    under the one-round lag (66 rows, far short of the optimum -- the
    same early stop the serial deterministic rosenbrock takes).  Locks
    _replay_pipelined_sql against a non-sphere cost expression."""
    import duckdb
    import numpy as np

    from dask_patternsearch_spark.queries.patterns import _replay_pipelined_sql
    from dask_patternsearch_spark.search import LocalEvaluator, search

    def rb_vec(xs):
        xs = np.atleast_2d(xs)
        return (1 - xs[:, 0]) ** 2 + 100.0 * (xs[:, 1] - xs[:, 0] ** 2) ** 2

    best, results = search(
        rb_vec, [-1.5, 2.5], [0.5, 0.5], randomize=False,
        vectorize=True, round_size=6, pipeline_depth=2,
        evaluator=LocalEvaluator(vectorize=True),
    )
    assert best.result == min(results.values())
    eng = [
        (",".join(str(v) for v in tp.point.tolist()), tp.halvings,
         ",".join(str(v) for v in tp.parent.point.tolist()),
         tp.is_accepted, float(cost))
        for tp, cost in results.items()
    ]
    sql = _replay_pipelined_sql(
        (-1.5, 2.5), 0.5,
        "(1.0::DOUBLE - cx1) * (1.0::DOUBLE - cx1)"
        " + 100.0::DOUBLE * ((cx2 - cx1 * cx1) * (cx2 - cx1 * cx1))",
    )
    out = duckdb.connect().execute(sql).fetchall()
    assert [tuple(o) for o in out] == eng


def test_multi_start_fanned_warm_detected_without_start0(tmp_path):
    """Crash recovery when start 0 died BEFORE its first ledger flush: the
    fanned layout must be detected from ANY start-<i> subdir (glob), not
    just start-0.  Keying on start-0 alone misclassifies the root as a
    shared flat memo, so pyarrow recursively unions every sibling ledger
    into every start -- breaking per-start determinism.  Here: start-0
    restarts cold (re-evaluates its own deterministic trajectory) while
    start-1 still warms from its own subdir only."""
    import os
    import shutil

    from dask_patternsearch_spark.search import search_multi_start

    calls = []

    def sphere(x):
        calls.append(tuple(x))
        return float((x * x).sum())

    base = str(tmp_path / "ledgers")
    x0s = [[10.0, 15.0], [-8.0, 11.0]]
    _b, runs_a = search_multi_start(
        sphere, x0s, [1.0, 1.0], randomize=False,
        max_tasks=30, ledger_path=base, ledger_every=1,
    )
    warm = [{tuple(tp.point.tolist()) for tp in r[1]} for r in runs_a]
    shutil.rmtree(os.path.join(base, "start-0"))
    calls.clear()
    _best, runs_b = search_multi_start(
        sphere, x0s, [1.0, 1.0], randomize=False, warm_start=base,
    )
    seen = set(calls)
    # start-0 restarted cold: deterministic, so its whole phase-A
    # trajectory is re-evaluated (NOT seeded from start-1's ledger)
    assert warm[0] <= seen
    # start-1 resumed warm: nothing from its ledger re-called except the
    # re-seeded x0 (engine contract)
    assert seen & (warm[1] - warm[0]) == {tuple(x0s[1])}
    # and start-1's results still contain every phase-A evaluation
    for tp, cost in runs_a[1][1].items():
        assert runs_b[1][1][tp] == cost


def test_multi_start_flat_memo_with_stray_start_file(tmp_path):
    """A flat shared-memo directory containing a stray FILE named
    start-* must still be treated as a shared memo (fanned detection
    keys on start-<i> DIRECTORIES only)."""
    import os

    from dask_patternsearch_spark.search import search_multi_start

    calls = []

    def sphere(x):
        calls.append(tuple(x))
        return float((x * x).sum())

    base = str(tmp_path / "ledgers")
    x0s = [[10.0, 15.0], [-8.0, 11.0]]
    _b, runs_a = search_multi_start(
        sphere, x0s, [1.0, 1.0], randomize=False,
        max_tasks=30, ledger_path=base, ledger_every=1,
    )
    warm = [{tuple(tp.point.tolist()) for tp in r[1]} for r in runs_a]
    flat = os.path.join(base, "start-0")
    # a stray ledger part FILE whose name begins with start- : the old
    # glob-based detection would misread the flat dir as a fanned layout
    # and silently discard the memo (warm_start=None for every start)
    import shutil

    part = next(f for f in sorted(os.listdir(flat)) if f.endswith(".parquet"))
    shutil.copy(os.path.join(flat, part), os.path.join(flat, "start-stray.parquet"))
    calls.clear()
    search_multi_start(
        sphere, x0s, [1.0, 1.0], randomize=False, warm_start=flat,
        max_tasks=40,
    )
    # shared-memo semantics preserved: no start re-evaluates the memo's
    # points beyond the re-seeded x0s
    assert set(calls) & (warm[0] - {tuple(x0s[0]), tuple(x0s[1])}) == set()


def _rosen(x):
    return float(((1 - x[:-1]) ** 2).sum() + 100 * ((x[1:] - x[:-1] ** 2) ** 2).sum())


def _offset_int(x):
    return float(x[0] ** 2 + (x[1] - 0.1) ** 2)


# (objective, x0, stepsize, kwargs) -> fingerprint of the serial search.
# Every run is seeded, so the ledger is a pure function of the code: any
# change to round filling, dedup, acceptance or contraction moves a hash.
LEDGER_CONFIGS = {
    "sphere_d1": (sphere, X0, STEP, {}),
    "sphere_d2": (sphere, X0, STEP, {"pipeline_depth": 2}),
    "sphere_d3": (sphere, X0, STEP, {"pipeline_depth": 3}),
    "rosen_d1": (_rosen, [2.0, 2.0, 2.0], [0.5] * 3, {"max_tasks": 300}),
    "rosen_d3": (_rosen, [2.0, 2.0, 2.0], [0.5] * 3,
                 {"max_tasks": 300, "pipeline_depth": 3}),
    "batch_vec_d1": (sphere_vectorized, X0, STEP,
                     {"batchsize": 5, "vectorize": True}),
    "batch_vec_d2": (sphere_vectorized, X0, STEP,
                     {"batchsize": 5, "vectorize": True, "pipeline_depth": 2}),
    "integer_d1": (_offset_int, X0, STEP, {"integer_dimensions": [0]}),
    "integer_d3": (_offset_int, X0, STEP,
                   {"integer_dimensions": [0], "pipeline_depth": 3}),
    "bounds_d2": (sphere_p1, X0, STEP,
                  {"bounds": ([2.0, -20.0], [20.0, 20.0]), "pipeline_depth": 2}),
    "max_tasks_d2": (sphere, X0, STEP, {"max_tasks": 25, "pipeline_depth": 2}),
    "min_new_submit_d3": (sphere, X0, STEP,
                          {"min_new_submit": 8, "pipeline_depth": 3}),
    # the benchmark's driver-bound shape (``sphere100_serial``): 305 rounds
    # of 300 points, where a block round fill would change the most
    "sphere100_batch_vec": (sphere_vectorized,
                            np.linspace(1.0, 2.0, 100) * 0.25 * np.tile([1.0, -1.0], 50),
                            np.ones(100),
                            {"batchsize": 300, "vectorize": True, "stopratio": 1e-2}),
    # fewer stencil steps per epoch than the 2 * dims poll directions
    "max_stencil_size": (sphere, X0, STEP, {"max_stencil_size": 3}),
    "no_randomize": (sphere, X0, STEP, {"randomize": False}),
}

# recorded from the search loop before it was guarded; a change that
# moves one of these changes what search() returns
LEDGER_FINGERPRINTS = {
    "batch_vec_d1": "8eea2cab0396555517b4ebff7b40b09d61dd83df",
    "batch_vec_d2": "650442f1805839eb9e854f97ffa0de7a024c2f83",
    "bounds_d2": "2a36f3215dda6cf23f47d4238daa25f0a4558042",
    "integer_d1": "e854aa091b3138fca5585a4f3900361b88e93024",
    "integer_d3": "fdf0643a1e57f08e9c423d5a3d3169f0931851fc",
    "max_stencil_size": "3aeadbdda3ea0e30915eea3c9a0bc3dad2dba6fe",
    "max_tasks_d2": "40cd8ca36c88f80f27401e4b57f7f75532879fec",
    "min_new_submit_d3": "85020a93a32f67f011f46d27435b863cda229372",
    "no_randomize": "310b1a3e07d020af804fba550bced88f8708dae8",
    "rosen_d1": "7c51853829f7914b00d4cf16383c18ab05cef173",
    "rosen_d3": "d77c8076b617d1ee31cfd91698773c90f6bf7c32",
    "sphere_d1": "e33257be13e6397290bad52e07f4f65ab12b93cb",
    "sphere_d2": "f7af20d56a25103fef335bf1bce1d32e51c284b2",
    "sphere_d3": "9d7a0eb8e5456db2639f0d40218775a143a3c08a",
    "sphere100_batch_vec": "3176f6a53f03adce6b01c982dd88dc3b58b5f680",
}


def _ledger_fingerprint(results) -> str:
    """sha1 over the whole ledger in insertion order -- point bytes,
    halvings, parent point, accepted flag, cost -- plus rounds and jobs."""
    import hashlib
    import struct

    h = hashlib.sha1()
    for tp, cost in results.items():
        h.update(tp.point.tobytes())
        h.update(struct.pack("<i?", tp.halvings, tp.is_accepted))
        h.update(b"-" if tp.parent is None else tp.parent.point.tobytes())
        h.update(struct.pack("<d", float(cost)))
    h.update(struct.pack("<qq", results.rounds, results.jobs))
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(LEDGER_CONFIGS))
def test_serial_ledger_fingerprint(name):
    """Guard for search-loop refactors: each seeded serial configuration
    must reproduce, bit for bit, the ledger recorded before the change."""
    func, x0, step, kwargs = LEDGER_CONFIGS[name]
    _best, results = search(func, np.asarray(x0, dtype=float),
                            np.asarray(step, dtype=float), seed=7, **kwargs)
    assert _ledger_fingerprint(results) == LEDGER_FINGERPRINTS[name]
