"""Pattern-search queries: the reference's core capability exposed through
the engine's query surface.

The randomized / distributed / pipelined variants are not SQL-expressible
(iterative minimization with RNG-shuffled fill order; SURVEY.md section
2.3 last row), so those carry no ORACLE entries -- the driver records
rows-only checks and correctness comes from the convergence property
tests in ``tests/test_search.py`` (the reference's own test strategy,
``/root/reference/dask_patternsearch/tests/test_search.py:28-124``).

The ``pattern_search_replay_*`` queries close that gap for the
deterministic configurations: with ``randomize=False`` the trace is a
pure function of the config, every coordinate is an exact dyadic lattice
point and every objective value is exact in float64, so the ENTIRE
evaluation ledger -- fill order, memoized dedup, greedy acceptance,
stencil orientation flips, contraction cascade -- is replayed
move-for-move by a DuckDB recursive CTE and compared bit-for-bit by the
driver's value-hash gate.  ``_replay_sql`` covers the serial loop (and,
bit-identically, the executor-dispatched and batched variants);
``_replay_pipelined_sql`` models the ASYNC pipelined loop's one-round
drain lag, so the speculative-submission mode itself (reference op #8)
is oracle-certified too.  Only the RNG-shuffled (randomize=True) demos
above remain rows-only.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..search import search, search_multi_start


def _canon_ledger(df: DataFrame) -> DataFrame:
    """Stringify the ledger's array<double> columns (point, parent): the
    driver's rows-only canonicalizer sorts every output column and dies on
    list cells (pandas ``unhashable type: 'list'``).  Lattice coordinates
    are exact binary fractions, so ``cast(double as string)`` is a stable
    spelling; NULL parent stays NULL through ``array_join``'s null
    propagation."""
    s = lambda c: F.array_join(F.transform(c, lambda v: v.cast("string")), ",")
    return df.select(
        s("point").alias("point"),
        "halvings",
        s("parent").alias("parent"),
        "is_accepted",
        "cost",
    )


def _sphere(x: np.ndarray) -> float:
    return float((x * x).sum())


def _rosenbrock(x: np.ndarray) -> float:
    return float(((1 - x[:-1]) ** 2).sum() + 100.0 * ((x[1:] - x[:-1] ** 2) ** 2).sum())


def pattern_search_sphere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial-mode sphere minimization; returns the evaluation ledger."""
    best, results = search(_sphere, [10.0, 15.0], [1.0, 1.0], seed=42)
    assert abs(best.point).max() < 0.02
    assert best.result == min(results.values())  # reference test_search.py:36
    return _canon_ledger(results.to_spark(spark))


def pattern_search_rosenbrock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-D Rosenbrock with task budget; returns the evaluation ledger."""
    best, results = search(
        _rosenbrock, np.full(5, 2.0), np.full(5, 0.5), max_tasks=1500, seed=42
    )
    assert best.result == min(results.values())  # reference test_search.py:36
    return _canon_ledger(results.to_spark(spark))


def pattern_search_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sphere minimization with cluster-side evaluation (mapInPandas),
    vectorized objective -- the reference's Trace B (batched/vectorized,
    search.py:324-335) on Spark."""

    def sphere_vec(xs: np.ndarray) -> np.ndarray:
        return (xs * xs).sum(axis=1)

    best, results = search(
        sphere_vec, [10.0, 15.0], [1.0, 1.0],
        spark=spark, vectorize=True, batchsize=16, stopratio=0.05, seed=42,
    )
    assert best.result == min(results.values())  # reference test_search.py:36
    return _canon_ledger(results.to_spark(spark))


def pattern_search_pipelined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Async-approximation mode (the reference's speculative submission,
    search.py:240-250,299-324): two poll rounds are filled speculatively
    and evaluated as one synchronous Spark job.  Same optimum, same
    contraction gate; about half the jobs of one job per round."""

    def sphere_vec(xs: np.ndarray) -> np.ndarray:
        return (xs * xs).sum(axis=1)

    best, results = search(
        sphere_vec, [10.0, 15.0], [1.0, 1.0],
        spark=spark, vectorize=True, batchsize=16, stopratio=0.05, seed=42,
        pipeline_depth=2,
    )
    assert abs(best.point).max() < 0.8  # coarse stop: 0.05 stopratio grid
    assert best.result == min(results.values())  # reference test_search.py:36
    return _canon_ledger(results.to_spark(spark))


def pattern_search_sphere_100d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's aspirational scale axis exercised live (reference
    search.py:55-61: 'intended to scale to ~100 dimensions'): 100-d sphere
    to stopratio=1e-2, vectorized serial evaluation (the stencil/driver
    cost IS the thing measured -- cluster dispatch would only add noise).
    Returns the per-halving convergence summary, not the 30k-row ledger."""
    best, results = search(
        lambda X: (np.atleast_2d(X) ** 2).sum(axis=1),
        np.full(100, 1.0),
        np.full(100, 0.5),
        stopratio=1e-2,
        seed=7,
        vectorize=True,
        batchsize=256,
        max_tasks=60_000,
    )
    assert abs(best.point).max() < 2 * 1e-2 * 0.5
    # summarize the ~55k-point ledger driver-side (it already lives there:
    # the ledger is the search loop's own state, as in the reference) --
    # shipping 55k 100-dim points through createDataFrame just to group
    # them to 10 rows costs ~10s of pure serialization
    agg: dict[int, list] = {}
    for p in results:
        a = agg.setdefault(p.halvings, [0, float("inf")])
        a[0] += 1
        if p.result < a[1]:
            a[1] = p.result
    rows = [
        (int(h), int(n), round(float(m), 8))
        for h, (n, m) in sorted(agg.items())
    ]
    return spark.createDataFrame(
        rows, "halvings int, n_evals int, best_result double"
    )


def pattern_search_100d_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aspirational 100-dim axis ON THE EXECUTOR PATH (reference
    search.py:55-61 x clients.py's distributed client): 100-d sphere with
    cluster-side vectorized evaluation and two speculative poll rounds per
    Spark job (``pipeline_depth=2``, the async-approximation mode).  Coarse
    stopratio keeps the round count small -- the datapoint is round-count
    scaling at dims=100 on the distributed evaluator, not the full
    convergence ledger (pattern_search_sphere_100d covers that axis
    serially).  Returns a one-row summary: rounds processed, tasks
    evaluated, best cost."""

    def sphere_vec(xs: np.ndarray) -> np.ndarray:
        return (np.atleast_2d(xs) ** 2).sum(axis=1)

    best, results = search(
        sphere_vec,
        np.full(100, 1.0),
        np.full(100, 0.5),
        spark=spark,
        vectorize=True,
        batchsize=512,
        stopratio=0.25,
        seed=7,
        pipeline_depth=2,
        max_tasks=20,  # task = one batch (reference search.py:293 semantics)
    )
    assert results.rounds >= 2
    assert best.result <= 100.0  # improved on the f(start)=100 origin-offset
    return spark.createDataFrame(
        [(int(results.rounds), int(len(results)), round(float(best.result), 8))],
        "n_rounds int, n_evals int, best_result double",
    )


def _assert_no_negative_zero(results) -> None:
    """The replay oracle's VARCHAR point keys can't spell IEEE -0.0
    (DuckDB normalizes the literal to +0.0), and the engine memo keys
    points by raw float64 BYTES (search.py:82-83), which would keep -0.0
    and +0.0 distinct.  Neither registered replay trace produces a -0.0
    coordinate; pin that so a future config change fails loudly instead
    of silently diverging from its oracle."""
    for tp in results:
        assert not any(v == 0.0 and np.signbit(v) for v in tp.point), tp


def pattern_search_replay_sphere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial deterministic sphere run, ORACLE-checked: ``randomize=False``
    makes the fill order the stencil's canonical BFS order, so
    ``_replay_sql`` re-derives the exact evaluation ledger in DuckDB."""
    best, results = search(_sphere, [10.0, 15.0], [1.0, 1.0], randomize=False)
    assert abs(best.point).max() < 0.02
    _assert_no_negative_zero(results)
    return _canon_ledger(results.to_spark(spark))


def pattern_search_replay_rosenbrock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial deterministic 2-D Rosenbrock run, ORACLE-checked (see
    ``pattern_search_replay_sphere``); exercises the orientation-flip and
    doubled-step paths on a curved-valley objective."""
    best, results = search(
        _rosenbrock, [-1.5, 2.5], [0.5, 0.5], randomize=False
    )
    _assert_no_negative_zero(results)
    return _canon_ledger(results.to_spark(spark))


def pattern_search_replay_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial deterministic sphere run under a ``max_tasks=40`` budget,
    ORACLE-checked: exercises the fill-trim (search.py:647-656; the last
    round takes only 40-36=4 candidates), the budget-triggered finish and
    the finish-time ledger-min fold (reference op #21)."""
    best, results = search(
        _sphere, [10.0, 15.0], [1.0, 1.0], randomize=False, max_tasks=40
    )
    assert len(results) == 40
    _assert_no_negative_zero(results)
    return _canon_ledger(results.to_spark(spark))


def pattern_search_replay_deferred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial deterministic sphere run with ``min_new_submit=10``,
    ORACLE-checked: acceptance defers until >=10 new evaluations per
    incumbent epoch (reference op #18, search.py:95-98), so epochs span
    two poll rounds and the carried acceptance candidate crosses round
    boundaries before being applied."""
    best, results = search(
        _sphere, [10.0, 15.0], [1.0, 1.0], randomize=False, min_new_submit=10
    )
    _assert_no_negative_zero(results)
    return _canon_ledger(results.to_spark(spark))


def pattern_search_replay_intdim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial deterministic sphere run with dimension 0 constrained to
    integers, ORACLE-checked: exercises the integer-projection rules
    (reference op #19, search.py:459-463,568-576,601-610) -- clamped unit
    step, away-from-zero displacement rounding and the resolution-credit
    rule for pure-contraction steps whose float displacements vanish."""
    best, results = search(
        _sphere, [10.0, 15.0], [1.0, 1.0], randomize=False,
        integer_dimensions=[0],
    )
    assert all(tp.point[0] == int(tp.point[0]) for tp in results)
    _assert_no_negative_zero(results)
    return _canon_ledger(results.to_spark(spark))


def pattern_search_replay_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial deterministic sphere run under box constraints,
    ORACLE-checked: infeasible trial points are never generated
    (search.py:615-618), so the poll set shrinks at the boundary and the
    search converges to the best FEASIBLE lattice point."""
    best, results = search(
        _sphere, [10.0, 15.0], [1.0, 1.0], randomize=False,
        bounds=([9.5, 13.25], [20.0, 20.0]),
    )
    assert len(results) == 54  # locked against the replay oracle
    assert tuple(best.point) == (9.5, 13.25)  # the feasible corner
    for tp in results:
        assert tp.point[0] >= 9.5 and tp.point[1] >= 13.25
    _assert_no_negative_zero(results)
    return _canon_ledger(results.to_spark(spark))


def pattern_search_replay_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial-deterministic trace evaluated ON THE EXECUTOR PATH,
    ORACLE-checked: ``randomize=False`` + an explicit ``round_size=6``
    make the fill order identical to the serial trace, so the
    ``SparkEvaluator`` run (one single-stage cluster job per poll round,
    vectorized numpy inside the partitions -- reference ops #5-#7) must
    produce the exact same evaluation ledger, bit for bit.  This
    certifies the distributed dispatch/collection path itself against
    the same recursive-CTE oracle as the serial trace: only evaluation
    PLACEMENT differs, and the sphere polynomial is float64-exact on
    the dyadic lattice on both paths."""

    def sphere_vec(xs: np.ndarray) -> np.ndarray:
        return (np.atleast_2d(xs) ** 2).sum(axis=1)

    best, results = search(
        sphere_vec, [10.0, 15.0], [1.0, 1.0], randomize=False,
        spark=spark, vectorize=True, round_size=6,
    )
    assert len(results) == 126  # == the serial trace's ledger
    _assert_no_negative_zero(results)
    return _canon_ledger(results.to_spark(spark))


def pattern_search_replay_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial deterministic sphere run with ``batchsize=4``,
    ORACLE-checked: every round tops up from 6 candidates to the next
    multiple of 4 (reference ops #6/#24 -- whole-batch evaluation
    accounting, search.py:632-643), so rounds carry 8 slots and the
    accept/contract cadence shifts relative to the unbatched trace.
    The oracle replays it with ``round_fill=8``."""
    best, results = search(
        _sphere, [10.0, 15.0], [1.0, 1.0], randomize=False, batchsize=4
    )
    assert abs(best.point).max() < 0.02
    _assert_no_negative_zero(results)
    return _canon_ledger(results.to_spark(spark))


_MULTISTART_X0S = ([10.0, 15.0], [-8.0, 11.0], [6.0, -9.0])


def pattern_search_multistart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portfolio of three deterministic serial sphere starts through
    ``search_multi_start`` (concurrent driver threads, one independent
    search per start -- the production answer to pattern search being a
    LOCAL method), ORACLE-checked: each start's ledger is exactly the
    serial trace from its x0, so the oracle is the UNION ALL of three
    replay CTEs tagged by start index.  Negative-coordinate starts
    exercise the orientation flips on descent directions the
    (10, 15)-anchored replays never take."""
    best, runs = search_multi_start(
        _sphere, _MULTISTART_X0S, [1.0, 1.0], randomize=False
    )
    assert abs(best.point).max() < 0.02
    out = None
    for i, (_b, results) in enumerate(runs):
        _assert_no_negative_zero(results)
        led = _canon_ledger(results.to_spark(spark)).select(
            F.lit(i).cast("int").alias("start_id"),
            "point", "halvings", "parent", "is_accepted", "cost",
        )
        out = led if out is None else out.unionByName(led)
    return out


def pattern_search_multistart_resumed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash-recovery of a PORTFOLIO, ORACLE-checked: a three-start
    multistart run is killed by a per-start ``max_tasks=40`` budget while
    checkpointing into the fanned ``start-<i>`` layout, then ONE
    ``search_multi_start(warm_start=<root>)`` call resumes every start
    from its own subdirectory (search.py fans the warm path exactly like
    ``ledger_path``).  Each start's cumulative ledger replays via
    ``_replay_resumed_sql`` from its x0; the oracle is their tagged
    UNION ALL -- certifying that portfolio recovery composes from N
    independent single-start recoveries."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        lp = os.path.join(td, "ledger")
        search_multi_start(
            _sphere, _MULTISTART_X0S, [1.0, 1.0], randomize=False,
            max_tasks=40, ledger_path=lp, ledger_every=2,
        )
        best, runs = search_multi_start(
            _sphere, _MULTISTART_X0S, [1.0, 1.0], randomize=False,
            warm_start=lp,
        )
    assert abs(best.point).max() < 0.02
    out = None
    for i, (b, results) in enumerate(runs):
        assert b.result == min(results.values())
        _assert_no_negative_zero(results)
        led = _canon_ledger(results.to_spark(spark)).select(
            F.lit(i).cast("int").alias("start_id"),
            "point", "halvings", "parent", "is_accepted", "cost",
        )
        out = led if out is None else out.unionByName(led)
    return out


def _stencil_literal(n_steps: int = 160) -> str:
    """First ``n_steps`` dims=2 stencil steps as a SQL VALUES literal
    ``(idx, o1, o2, extra_halvings)``.

    The stencil stream itself is trusted here (its generation order is
    locked against the reference's published pattern by
    ``tests/test_stencil.py``); what the oracle independently replays is
    the SEARCH DYNAMICS on top of it -- trial-point snapping, byte-keyed
    dedup, poll/accept/contract decisions, orientation flips and the
    ledger bookkeeping.  The bounded trace digs deepest: near the box
    corner almost every step is infeasible or over-resolved, and its
    final round's 6th slot sits at stencil index 86 (the unbounded
    traces stop at 12), so 160 keeps ~2x headroom; the live ``ncand``
    guard raises via error() if a round cannot fill from the literal
    (an unreferenced guard column would be dead-code-eliminated by
    DuckDB's column pruner and never fire -- round-5 lesson)."""
    from ..stencil import SimplexStencil

    st = SimplexStencil(2, 7)
    it = st.steps()
    rows = []
    for i in range(1, n_steps + 1):
        s = next(it)
        rows.append(
            f"({i},{float(s.offset[0])!r},{float(s.offset[1])!r},"
            f"{int(s.extra_halvings)})"
        )
    return ",".join(rows)


def _replay_sql(x0: tuple, stepsize: float, cost_expr: str,
                max_halvings: int = 7, max_tasks: int | None = None,
                min_new_submit: int = 0, int_dim0: bool = False,
                bounds: tuple | None = None, round_fill: int = 6,
                sim_name: str = "sim", warm_from: str | None = None,
                clause_only: bool = False) -> str:
    """DuckDB recursive-CTE interpreter of the serial ``randomize=False``
    search loop (search.py:578-744, no pipelining).  ``round_fill`` is
    the constant number of candidate slots per round: 6 for the plain
    ``round_size=3*dims`` serial loop; for ``batchsize=B`` runs the fill
    loop always tops the round up to the smallest multiple of B at or
    above ``round_size`` (the top-up pulls never stop short because the
    stencil stream is effectively infinite here), so a batched trace
    replays with ``round_fill=ceil(round_size / B) * B``.

    One recursion step == one poll round.  The carried acceptance
    candidate (search.py:532-566), the ``min_new_submit`` deferral and
    the ``max_tasks`` fill trim (search.py:647-656) are all replayed;
    the scan always restarts at stencil index 0, which is equivalent to
    the engine's resumed enumerator because every step before the resume
    point is either over-resolved (still skipped), infeasible under the
    box bounds (still skipped -- feasibility of a fixed trial point is
    epoch-invariant) or already in the byte-keyed memo (still skipped).
    Acceptance flags are applied
    retroactively to the carried point's ledger row, and the engine's
    finish-time ledger-min fold (search.py:733-741) runs after the
    recursion.

    Exactness argument: coordinates live on the dyadic lattice
    ``stepsize / 2**max_halvings``; every product/sum stays well under 53
    significand bits, so Spark(float64), numpy and DuckDB all compute
    identical bit patterns, and half-even rounding (numpy's np.round) is
    spelled explicitly for the grid snap.  ``cost_expr`` must be a
    polynomial in cx1/cx2 with the same operation tree the engine's
    objective uses (exact here, so association order is immaterial).

    ``sim_name`` / ``warm_from`` / ``clause_only`` exist for the
    warm-start composition (``_replay_resumed_sql``): ``clause_only``
    returns just the named recursive clause (the caller supplies the
    shared ``st`` stencil literal and the final fold); ``warm_from``
    names a CTE providing ``wkeys`` (seen-key list) and ``wled``
    (ledger-struct list) that seed the base state, and additionally
    models the engine's unconditional x0 re-seed on resume
    (search.py:501,587-589): the ord=0 seed row bypasses the memo
    filter so it occupies a round-0 slot and competes for acceptance,
    but adds no ledger row and no seen key -- the warm row (parent
    NULL, original position) is what the cumulative ledger keeps,
    matching the dict-overwrite semantics of ``results[tp] = cost``."""
    inv_g = 2.0 ** max_halvings / stepsize
    g = stepsize / 2.0 ** max_halvings
    mh = max_halvings
    mns = min_new_submit
    avail = (str(round_fill) if max_tasks is None
             else f"least({round_fill}, {max_tasks} - len(seen))")
    feas = ("TRUE" if bounds is None else
            f"q.cx1 >= {bounds[0][0]!r} AND q.cx2 >= {bounds[0][1]!r}"
            f" AND q.cx1 <= {bounds[1][0]!r} AND q.cx2 <= {bounds[1][1]!r}")
    fin_b = "FALSE" if max_tasks is None else f"(nseen >= {max_tasks})"
    snap1 = f"""(CASE WHEN v1 - floor(v1) = 0.5
                               THEN floor(v1) + CASE WHEN
                                 CAST(floor(v1) AS BIGINT) % 2 = 0
                                 THEN 0.0 ELSE 1.0 END
                               ELSE floor(v1 + 0.5) END) * {g!r}::DOUBLE"""
    if int_dim0:
        # integer dimension (reference op #19, search.py:459-463,568-576,
        # 601-610): the dim-0 step is clamped to at least one integer unit,
        # the displacement rounds away from zero to a whole integer, and a
        # pure-contraction step whose non-integer displacements are all
        # zero keeps the incumbent's resolution level.
        cs1 = (f"(CASE WHEN {stepsize!r}::DOUBLE * s.o1 / power(2.0, s.h) > 0"
               f" AND {stepsize!r}::DOUBLE * s.o1 / power(2.0, s.h) < 1"
               f" THEN 1.0::DOUBLE"
               f" WHEN {stepsize!r}::DOUBLE * s.o1 / power(2.0, s.h) < 0"
               f" AND {stepsize!r}::DOUBLE * s.o1 / power(2.0, s.h) > -1"
               f" THEN -1.0::DOUBLE"
               f" ELSE {stepsize!r}::DOUBLE * s.o1 / power(2.0, s.h) END)")
        lateral_v1 = (f"CASE WHEN t.so1 * {cs1} < 0"
                      f" THEN -ceil(-(t.so1 * {cs1}))"
                      f" ELSE ceil(t.so1 * {cs1}) END AS v1,\n"
                      f"                      t.so2 * (s.o2 * {stepsize!r}::DOUBLE"
                      f" / power(2.0, s.h)) AS dx2r")
        cx1_body = "s.p1 + v1"
        chv_body = ("CASE WHEN t.eh > 0 AND dx2r = 0 THEN s.h"
                    " ELSE s.h + t.eh END")
    else:
        lateral_v1 = (f"(s.p1 + t.so1 * (s.o1 * {stepsize!r}::DOUBLE"
                      f" / power(2.0, s.h))) * {inv_g!r}::DOUBLE AS v1,\n"
                      f"                      0.0 AS dx2r")
        cx1_body = snap1
        chv_body = "s.h + t.eh"
    if warm_from is not None:
        base_seen = f"(SELECT wkeys FROM {warm_from})"
        base_led = f"(SELECT wled FROM {warm_from})"
        # the resume re-seed: x0 (ord 0) bypasses the memo filter but
        # contributes neither a ledger row nor a seen key (see docstring)
        seen_filter = "NOT list_contains(seen, key) OR ord = 0"
        dup_cond = "dup = 1 AND NOT list_contains(seen, key)"
        # if the re-seeded x0 wins round-0 acceptance, the engine flags
        # the NEW TrialPoint object while the dict keeps the warm key
        # (acc stays False in the ledger) -- suppress the retro-mark for
        # an accepted point whose key predates the round
        accept_mark = ("nbdup = 1 AND NOT list_contains(seen,"
                       " nbx1::VARCHAR || ',' || nbx2::VARCHAR)")
    else:
        base_seen = "CAST([] AS VARCHAR[])"
        base_led = ("CAST([] AS STRUCT(pt VARCHAR, hv INTEGER, par VARCHAR,\n"
                    "                           acc BOOLEAN, cost DOUBLE)[])")
        seen_filter = "NOT list_contains(seen, key)"
        dup_cond = "dup = 1"
        accept_mark = "nbdup = 1"
    clause = f"""{sim_name}(r, p1, p2, h, pp1, pp2, o1, o2, inc_cost, fin, seen, led,
    added, cbx1, cbx2, cbhv, cbcost, cbdup) AS (
  SELECT 0, {x0[0]!r}::DOUBLE, {x0[1]!r}::DOUBLE, 0,
         {x0[0]!r}::DOUBLE, {x0[1]!r}::DOUBLE,
         1.0::DOUBLE, 1.0::DOUBLE, CAST('inf' AS DOUBLE), FALSE,
         {base_seen},
         {base_led},
         0, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE),
         CAST(NULL AS BIGINT)
  UNION ALL
  SELECT r + 1,
         CASE WHEN do_accept THEN nbx1 ELSE p1 END,
         CASE WHEN do_accept THEN nbx2 ELSE p2 END,
         CASE WHEN do_accept THEN nbhv
              WHEN do_contract THEN h + 1 ELSE h END,
         CASE WHEN do_accept OR do_contract THEN p1 ELSE pp1 END,
         CASE WHEN do_accept OR do_contract THEN p2 ELSE pp2 END,
         CASE WHEN do_accept AND nbx1 - pp1 <> 0
              THEN CASE WHEN nbx1 - pp1 < 0 THEN -1.0 ELSE 1.0 END::DOUBLE
              ELSE o1 END,
         CASE WHEN do_accept AND nbx2 - pp2 <> 0
              THEN CASE WHEN nbx2 - pp2 < 0 THEN -1.0 ELSE 1.0 END::DOUBLE
              ELSE o2 END,
         CASE WHEN do_accept THEN nbcost ELSE inc_cost END,
         CASE WHEN do_accept THEN nbhv >= {mh} OR finb
              WHEN do_contract THEN h + 1 >= {mh} OR finb
              ELSE finb END,
         seen || keys,
         CASE WHEN do_accept THEN list_transform(led || rows,
                e -> struct_pack(pt := e.pt, hv := e.hv, par := e.par,
                                 acc := e.acc OR ({accept_mark} AND e.pt =
                                   (nbx1::VARCHAR || ',' || nbx2::VARCHAR)),
                                 cost := e.cost))
              ELSE led || rows END,
         CASE WHEN do_accept OR do_contract THEN 0 ELSE nadded END,
         CASE WHEN do_accept OR do_contract THEN NULL ELSE nbx1 END,
         CASE WHEN do_accept OR do_contract THEN NULL ELSE nbx2 END,
         CASE WHEN do_accept OR do_contract THEN NULL ELSE nbhv END,
         CASE WHEN do_accept OR do_contract THEN NULL ELSE nbcost END,
         CASE WHEN do_accept OR do_contract THEN NULL ELSE nbdup END
  FROM (
    SELECT *,
           (nbhv IS NOT NULL AND (nadded >= {mns} OR finb)) AS do_accept,
           (nbhv IS NULL OR NOT (nadded >= {mns} OR finb))
             AND NOT finb AND nadded >= {mns} AS do_contract
    FROM (
      SELECT *,
             CASE WHEN cndhv IS NULL THEN cbhv
                  WHEN cbhv IS NULL OR cndhv < cbhv
                       OR (cndhv = cbhv AND cndcost < cbcost)
                  THEN cndhv ELSE cbhv END AS nbhv,
             CASE WHEN cndhv IS NULL THEN cbx1
                  WHEN cbhv IS NULL OR cndhv < cbhv
                       OR (cndhv = cbhv AND cndcost < cbcost)
                  THEN cndx1 ELSE cbx1 END AS nbx1,
             CASE WHEN cndhv IS NULL THEN cbx2
                  WHEN cbhv IS NULL OR cndhv < cbhv
                       OR (cndhv = cbhv AND cndcost < cbcost)
                  THEN cndx2 ELSE cbx2 END AS nbx2,
             CASE WHEN cndhv IS NULL THEN cbcost
                  WHEN cbhv IS NULL OR cndhv < cbhv
                       OR (cndhv = cbhv AND cndcost < cbcost)
                  THEN cndcost ELSE cbcost END AS nbcost,
             CASE WHEN cndhv IS NULL THEN cbdup
                  WHEN cbhv IS NULL OR cndhv < cbhv
                       OR (cndhv = cbhv AND cndcost < cbcost)
                  THEN cnddup ELSE cbdup END AS nbdup,
             added + ncand AS nadded,
             {fin_b.replace('nseen', 'len(seen) + nuniq')} AS finb
      FROM (
        SELECT r, p1, p2, h, pp1, pp2, o1, o2, inc_cost, seen, led,
               added, cbx1, cbx2, cbhv, cbcost, cbdup,
               CASE WHEN count(*) <> {avail}
                    THEN CAST(error('replay: stencil literal exhausted')
                              AS BIGINT)
                    ELSE count(*) END AS ncand,
               count(*) FILTER (WHERE {dup_cond}) AS nuniq,
               list(key ORDER BY ord) FILTER (WHERE {dup_cond}) AS keys,
               list(struct_pack(pt := key, hv := CAST(chv AS INTEGER),
                                par := pkey, acc := FALSE,
                                cost := ccost) ORDER BY ord)
                 FILTER (WHERE {dup_cond}) AS rows,
               max(CASE WHEN rn = 1 AND imp THEN cx1 END) AS cndx1,
               max(CASE WHEN rn = 1 AND imp THEN cx2 END) AS cndx2,
               CAST(max(CASE WHEN rn = 1 AND imp THEN chv END) AS INTEGER)
                 AS cndhv,
               max(CASE WHEN rn = 1 AND imp THEN ccost END) AS cndcost,
               max(CASE WHEN rn = 1 AND imp THEN dup END) AS cnddup
        FROM (
          SELECT *, (ccost < inc_cost) AS imp,
                 row_number() OVER (
                   ORDER BY (ccost < inc_cost) DESC, chv, ccost, ord) AS rn
          FROM (
            SELECT *, {cost_expr} AS ccost
            FROM (
              SELECT *, row_number() OVER (ORDER BY ord) AS takern
              FROM (
                SELECT *, row_number() OVER (PARTITION BY key ORDER BY ord)
                          AS dup
                FROM (
                  SELECT q.*,
                         (q.cx1::VARCHAR || ',' || q.cx2::VARCHAR) AS key,
                         (q.p1::VARCHAR || ',' || q.p2::VARCHAR) AS pkey
                  FROM (
                    SELECT s.*, t.idx AS ord,
                           CASE WHEN t.idx = 0 THEN 0 ELSE {chv_body} END
                             AS chv,
                           CASE WHEN t.idx = 0 THEN s.p1 ELSE
                             {cx1_body}
                           END AS cx1,
                           CASE WHEN t.idx = 0 THEN s.p2 ELSE
                             (CASE WHEN v2 - floor(v2) = 0.5
                                   THEN floor(v2) + CASE WHEN
                                     CAST(floor(v2) AS BIGINT) % 2 = 0
                                     THEN 0.0 ELSE 1.0 END
                                   ELSE floor(v2 + 0.5) END) * {g!r}::DOUBLE
                           END AS cx2
                    FROM (SELECT * FROM {sim_name} WHERE NOT fin AND r < 200) s
                    JOIN (SELECT idx, so1, so2, eh FROM st
                          UNION ALL SELECT 0, NULL, NULL, NULL) t
                      ON t.idx > 0 OR s.r = 0,
                    LATERAL (SELECT
                      {lateral_v1},
                      (s.p2 + t.so2 * (s.o2 * {stepsize!r}::DOUBLE
                                       / power(2.0, s.h))) * {inv_g!r}::DOUBLE
                        AS v2) w
                  ) q
                  WHERE q.chv <= {mh} AND ({feas})
                )
                WHERE {seen_filter}
              )
            ) WHERE takern <= {avail}
          )
        )
        GROUP BY r, p1, p2, h, pp1, pp2, o1, o2, inc_cost, seen, led,
                 added, cbx1, cbx2, cbhv, cbcost, cbdup
      )
    )
  )
)"""
    if clause_only:
        return clause
    return f"""
WITH RECURSIVE
st(idx, so1, so2, eh) AS (VALUES {_stencil_literal()}),
{clause},
{_replay_fold_sql(sim_name)}
"""


def _replay_fold_sql(sim_name: str = "sim") -> str:
    """The shared finish-time tail: unnest the final ledger, apply the
    engine's ledger-min fold (search.py:733-741) and emit the canonical
    (point, halvings, parent, is_accepted, cost) rows."""
    return f"""fstate AS (SELECT inc_cost, led FROM {sim_name} WHERE fin),
frows AS (
  SELECT unnest(led) AS e, unnest(range(1, len(led) + 1)) AS pos, inc_cost
  FROM fstate
),
ffold AS (
  SELECT e.pt AS mpt FROM frows WHERE e.cost < inc_cost
  ORDER BY e.cost, pos LIMIT 1
)
SELECT e.pt AS point, e.hv AS halvings, e.par AS parent,
       e.acc OR e.pt = coalesce((SELECT mpt FROM ffold), '')
         AS is_accepted,
       e.cost AS cost
FROM frows"""


def _replay_resumed_sql(x0: tuple, stepsize: float, cost_expr: str,
                        warm_max_tasks: int = 40,
                        resume_max_tasks: int | None = None) -> str:
    """Crash-recovery (warm-start) trace, interpreted end-to-end in
    DuckDB: ``sima`` replays phase A (a serial run killed by its
    ``max_tasks`` budget -- exactly the certified replay_budget
    dynamics), ``awarm`` converts its final ledger into the warm state a
    resume loads from the checkpoint parquet (``_iter_warm_start``,
    search.py:267-288: fresh TrialPoints, parent NULL, acc FALSE,
    original evaluation order), and ``sim`` replays phase B --
    ``search(warm_start=...)`` to convergence -- with the warm keys
    seeding the byte-keyed memo and the x0 re-seed modeled
    (``warm_from`` in ``_replay_sql``).  The emitted rows are the
    CUMULATIVE ledger, which is what the resumed engine returns.

    ``resume_max_tasks`` gives phase B its own (CUMULATIVE) budget:
    the engine counts warm rows against ``max_tasks``
    (``point_budget - len(results)``, search.py:652-656), and the
    clause's ``len(seen)`` accounting matches because the warm keys
    seed ``seen`` while the re-seeded x0 adds no new key."""
    clause_a = _replay_sql(x0, stepsize, cost_expr,
                           max_tasks=warm_max_tasks,
                           sim_name="sima", clause_only=True)
    clause_b = _replay_sql(x0, stepsize, cost_expr,
                           max_tasks=resume_max_tasks,
                           warm_from="awarm", clause_only=True)
    return f"""
WITH RECURSIVE
st(idx, so1, so2, eh) AS (VALUES {_stencil_literal()}),
{clause_a},
awarm AS (
  SELECT seen AS wkeys,
         list_transform(led, e -> struct_pack(
           pt := e.pt, hv := e.hv, par := CAST(NULL AS VARCHAR),
           acc := FALSE, cost := e.cost)) AS wled
  FROM sima WHERE fin
),
{clause_b},
{_replay_fold_sql("sim")}
"""


def pattern_search_replay_resumed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume trace, ORACLE-checked -- certifies the
    crash-recovery path that guards very-long-running cluster searches:
    phase A runs the serial deterministic sphere search under a
    ``max_tasks=40`` budget while checkpointing its ledger to parquet
    every 2 rounds (``ledger_path`` / ``ledger_every``); phase B resumes
    from that parquet via ``warm_start=`` and converges.  The cumulative
    ledger -- warm rows (parent NULL, re-loaded order) plus the resumed
    run's new evaluations, with the engine's x0 re-seed
    (search.py:501,587-589) -- must equal ``_replay_resumed_sql``'s
    DuckDB interpretation bit for bit."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        lp = os.path.join(td, "ledger")
        search(_sphere, [10.0, 15.0], [1.0, 1.0], randomize=False,
               max_tasks=40, ledger_path=lp, ledger_every=2)
        best, results = search(
            _sphere, [10.0, 15.0], [1.0, 1.0], randomize=False,
            warm_start=lp,
        )
    assert best.result == min(results.values())
    assert abs(best.point).max() < 0.02
    _assert_no_negative_zero(results)
    return _canon_ledger(results.to_spark(spark))


def pattern_search_replay_resumed_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume under a CUMULATIVE budget, ORACLE-checked: phase A stops at
    ``max_tasks=40``; phase B resumes with ``max_tasks=52``, so the warm
    rows count against the budget (search.py:652-656) and the final fill
    is trimmed to one slot (40 warm -> +5 new [x0 re-seed takes the 6th
    round-0 slot but is already counted] -> +6 -> +1 = 52).  Certifies
    the budget accounting a production resume relies on: a crashed 100k-
    core run resumed with the SAME total budget must stop exactly where
    the uninterrupted run would have charged it."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        lp = os.path.join(td, "ledger")
        search(_sphere, [10.0, 15.0], [1.0, 1.0], randomize=False,
               max_tasks=40, ledger_path=lp, ledger_every=2)
        best, results = search(
            _sphere, [10.0, 15.0], [1.0, 1.0], randomize=False,
            warm_start=lp, max_tasks=52,
        )
    assert len(results) == 52, len(results)
    assert best.result == min(results.values())
    _assert_no_negative_zero(results)
    return _canon_ledger(results.to_spark(spark))


def pattern_search_replay_pipelined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ASYNC PIPELINED mode's deterministic trace, ORACLE-checked --
    the last reference operator (#8, speculative submission) previously
    covered only by convergence properties.  With ``randomize=False`` and
    ``pipeline_depth=2`` the loop is a pure function of the config: every
    iteration fills round k+1 from the CURRENT epoch while round k is
    still unprocessed, then drains round k and applies accept/contract one
    round LATE.  ``_replay_pipelined_sql`` models exactly that lag
    (pending round in the recursion state, acceptance candidates drawn
    from the drained round with their own fill-time parents driving the
    orientation flips), so the ledger -- including the doubled-step
    accepts with NEGATIVE halvings the lag makes reachable, which the
    serial trace never takes -- is replayed bit-for-bit."""

    def sphere_vec(xs: np.ndarray) -> np.ndarray:
        return (np.atleast_2d(xs) ** 2).sum(axis=1)

    best, results = search(
        sphere_vec, [10.0, 15.0], [1.0, 1.0], randomize=False,
        spark=spark, vectorize=True, round_size=6, pipeline_depth=2,
    )
    assert abs(best.point).max() < 0.02
    _assert_no_negative_zero(results)
    return _canon_ledger(results.to_spark(spark))


def _replay_pipelined_sql(x0: tuple, stepsize: float, cost_expr: str,
                          max_halvings: int = 7) -> str:
    """DuckDB recursive-CTE interpreter of the ``pipeline_depth=2``
    ``randomize=False`` loop (search.py:543-782).

    One recursion step == one loop iteration: (1) fill the next round
    from the CURRENT epoch state (scan-from-zero with the drained+pending
    keys as the memo -- ``pending_keys`` dedup included); (2) drain the
    PENDING round (one-round lag): append its dup=1 rows to the ledger
    and take its best improving row -- min (halvings, cost, fill order)
    vs the CURRENT incumbent cost -- as the acceptance candidate; with
    ``min_new_submit=0`` (the only deferral this CTE models) any
    candidate is applied in the same step, so no carried state survives
    a round; (3) decide.  Because drained
    rows may have been filled under an OLDER incumbent, the orientation
    flip uses the reference's two-term form
    ``(next - next.parent) + (incumbent - incumbent.parent)`` with the
    candidate's own fill-time parent carried through the state (the
    serial replay's ``next - pp`` shortcut assumes next.parent ==
    incumbent and does not survive the lag).  The contraction gate's
    poll set reduces to: the epoch's first fill (the only fill that can
    take stencil indices <= 2*dims) has not yet drained; poll trials
    still pending from the previous epoch clear within the same
    iteration because the drain runs before the decision.  On finish the
    still-pending round drains into the ledger (the engine's post-loop
    final drain) and the ledger-min fold runs as in the serial
    replay.  Exactness argument identical to ``_replay_sql``."""
    inv_g = 2.0 ** max_halvings / stepsize
    g = stepsize / 2.0 ** max_halvings
    mh = max_halvings
    snap = lambda v: (f"(CASE WHEN {v} - floor({v}) = 0.5"
                      f" THEN floor({v}) + CASE WHEN"
                      f" CAST(floor({v}) AS BIGINT) % 2 = 0"
                      f" THEN 0.0 ELSE 1.0 END"
                      f" ELSE floor({v} + 0.5) END) * {g!r}::DOUBLE")
    return f"""
WITH RECURSIVE
st(idx, so1, so2, eh) AS (VALUES {_stencil_literal()}),
sim(r, p1, p2, h, pp1, pp2, o1, o2, inc_cost, age, fin, seen, led,
    pend) AS (
  SELECT 0, {x0[0]!r}::DOUBLE, {x0[1]!r}::DOUBLE, 0,
         {x0[0]!r}::DOUBLE, {x0[1]!r}::DOUBLE,
         1.0::DOUBLE, 1.0::DOUBLE, CAST('inf' AS DOUBLE), 0, FALSE,
         CAST([] AS VARCHAR[]),
         CAST([] AS STRUCT(pt VARCHAR, hv INTEGER, par VARCHAR,
                           acc BOOLEAN, cost DOUBLE)[]),
         CAST([] AS STRUCT(x1 DOUBLE, x2 DOUBLE, hv INTEGER, par1 DOUBLE,
                           par2 DOUBLE, cost DOUBLE, dup BIGINT,
                           ord INTEGER)[])
  UNION ALL
  SELECT r + 1,
         CASE WHEN do_accept THEN pb.x1 ELSE p1 END,
         CASE WHEN do_accept THEN pb.x2 ELSE p2 END,
         CASE WHEN do_accept THEN pb.hv
              WHEN do_contract THEN h + 1 ELSE h END,
         CASE WHEN do_accept THEN pb.par1
              WHEN do_contract THEN p1 ELSE pp1 END,
         CASE WHEN do_accept THEN pb.par2
              WHEN do_contract THEN p2 ELSE pp2 END,
         CASE WHEN do_accept
                   AND (pb.x1 - pb.par1) + (p1 - pp1) <> 0
              THEN CASE WHEN (pb.x1 - pb.par1) + (p1 - pp1) < 0
                        THEN -1.0 ELSE 1.0 END::DOUBLE
              ELSE o1 END,
         CASE WHEN do_accept
                   AND (pb.x2 - pb.par2) + (p2 - pp2) <> 0
              THEN CASE WHEN (pb.x2 - pb.par2) + (p2 - pp2) < 0
                        THEN -1.0 ELSE 1.0 END::DOUBLE
              ELSE o2 END,
         CASE WHEN do_accept THEN pb.cost ELSE inc_cost END,
         CASE WHEN do_accept OR do_contract THEN 0 ELSE age + 1 END,
         CASE WHEN do_accept THEN pb.hv >= {mh}
              WHEN do_contract THEN h + 1 >= {mh}
              ELSE FALSE END,
         -- nfill gate: routing the seen-update through nfill makes the
         -- stencil-exhaustion error() aggregate data-flow-reachable from
         -- the output (an unreferenced aggregate is dead code to DuckDB's
         -- column pruner -- the round-5 lesson; cf. ncand in _replay_sql).
         seen || CASE WHEN nfill = 6 THEN fkeys END,
         CASE WHEN do_accept THEN list_transform(newled,
                e -> struct_pack(pt := e.pt, hv := e.hv, par := e.par,
                                 acc := e.acc OR (pb.dup = 1 AND e.pt =
                                   (pb.x1::VARCHAR || ',' || pb.x2::VARCHAR)),
                                 cost := e.cost))
              ELSE newled END,
         frows
  FROM (
    SELECT *,
           (pb IS NOT NULL) AS do_accept,
           (pb IS NULL
            AND NOT (age = 0 AND fpoll > 0)) AS do_contract
    FROM (
      SELECT *,
               list_sort(list_transform(
                 list_filter(pend, e -> e.cost < inc_cost),
                 e -> struct_pack(hv := e.hv, cost := e.cost, ord := e.ord,
                                  x1 := e.x1, x2 := e.x2,
                                  par1 := e.par1, par2 := e.par2,
                                  dup := e.dup)))[1] AS pb,
               led || list_transform(
                 list_filter(pend, e -> e.dup = 1),
                 e -> struct_pack(
                   pt := e.x1::VARCHAR || ',' || e.x2::VARCHAR,
                   hv := e.hv,
                   par := e.par1::VARCHAR || ',' || e.par2::VARCHAR,
                   acc := FALSE, cost := e.cost)) AS newled
        FROM (
          SELECT r, p1, p2, h, pp1, pp2, o1, o2, inc_cost, age, seen, led,
                 pend,
                 CASE WHEN count(*) <> 6
                      THEN CAST(error('replay-pipelined: stencil literal'
                                      ' exhausted') AS BIGINT)
                      ELSE count(*) END AS nfill,
                 count(*) FILTER (WHERE ord BETWEEN 1 AND 4
                                  AND dup = 1) AS fpoll,
                 list(key ORDER BY ord) FILTER (WHERE dup = 1) AS fkeys,
                 list(struct_pack(x1 := cx1, x2 := cx2,
                                  hv := CAST(chv AS INTEGER),
                                  par1 := p1, par2 := p2, cost := ccost,
                                  dup := dup, ord := CAST(ord AS INTEGER))
                      ORDER BY ord) AS frows
          FROM (
            SELECT *, {cost_expr} AS ccost
            FROM (
              SELECT *, row_number() OVER (ORDER BY ord) AS takern
              FROM (
                SELECT *, row_number() OVER (PARTITION BY key ORDER BY ord)
                          AS dup
                FROM (
                  SELECT q.*,
                         (q.cx1::VARCHAR || ',' || q.cx2::VARCHAR) AS key
                  FROM (
                    SELECT s.*, t.idx AS ord,
                           CASE WHEN t.idx = 0 THEN 0 ELSE s.h + t.eh END
                             AS chv,
                           CASE WHEN t.idx = 0 THEN s.p1 ELSE
                             {snap('v1')}
                           END AS cx1,
                           CASE WHEN t.idx = 0 THEN s.p2 ELSE
                             {snap('v2')}
                           END AS cx2
                    FROM (SELECT * FROM sim WHERE NOT fin AND r < 200) s
                    JOIN (SELECT idx, so1, so2, eh FROM st
                          UNION ALL SELECT 0, NULL, NULL, NULL) t
                      ON t.idx > 0 OR s.r = 0,
                    LATERAL (SELECT
                      (s.p1 + t.so1 * (s.o1 * {stepsize!r}::DOUBLE
                                       / power(2.0, s.h))) * {inv_g!r}::DOUBLE
                        AS v1,
                      (s.p2 + t.so2 * (s.o2 * {stepsize!r}::DOUBLE
                                       / power(2.0, s.h))) * {inv_g!r}::DOUBLE
                        AS v2) w
                  ) q
                  WHERE q.chv <= {mh}
                )
                WHERE NOT list_contains(seen, key)
              )
            ) WHERE takern <= 6
          )
          GROUP BY r, p1, p2, h, pp1, pp2, o1, o2, inc_cost, age, seen, led,
                   pend
        )
      )
    )
),
fstate AS (SELECT inc_cost, led, pend FROM sim WHERE fin),
ledfin AS (
  SELECT inc_cost,
         led || list_transform(
           list_filter(pend, e -> e.dup = 1),
           e -> struct_pack(
             pt := e.x1::VARCHAR || ',' || e.x2::VARCHAR,
             hv := e.hv,
             par := e.par1::VARCHAR || ',' || e.par2::VARCHAR,
             acc := FALSE, cost := e.cost)) AS led
  FROM fstate
),
frows AS (
  SELECT unnest(led) AS e, unnest(range(1, len(led) + 1)) AS pos, inc_cost
  FROM ledfin
),
ffold AS (
  SELECT e.pt AS mpt FROM frows WHERE e.cost < inc_cost
  ORDER BY e.cost, pos LIMIT 1
)
SELECT e.pt AS point, e.hv AS halvings, e.par AS parent,
       e.acc OR e.pt = coalesce((SELECT mpt FROM ffold), '')
         AS is_accepted,
       e.cost AS cost
FROM frows
"""


QUERIES = {
    "pattern_search_sphere": pattern_search_sphere,
    "pattern_search_100d_distributed": pattern_search_100d_distributed,
    "pattern_search_sphere_100d": pattern_search_sphere_100d,
    "pattern_search_rosenbrock": pattern_search_rosenbrock,
    "pattern_search_distributed": pattern_search_distributed,
    "pattern_search_pipelined": pattern_search_pipelined,
    "pattern_search_replay_sphere": pattern_search_replay_sphere,
    "pattern_search_replay_rosenbrock": pattern_search_replay_rosenbrock,
    "pattern_search_replay_budget": pattern_search_replay_budget,
    "pattern_search_replay_deferred": pattern_search_replay_deferred,
    "pattern_search_replay_intdim": pattern_search_replay_intdim,
    "pattern_search_replay_bounded": pattern_search_replay_bounded,
    "pattern_search_replay_distributed": pattern_search_replay_distributed,
    "pattern_search_replay_batched": pattern_search_replay_batched,
    "pattern_search_multistart": pattern_search_multistart,
    "pattern_search_replay_pipelined": pattern_search_replay_pipelined,
    "pattern_search_replay_resumed": pattern_search_replay_resumed,
    "pattern_search_replay_resumed_budget": pattern_search_replay_resumed_budget,
    "pattern_search_multistart_resumed": pattern_search_multistart_resumed,
}

_SPHERE_EXPR = "cx1 * cx1 + cx2 * cx2"

ORACLE: dict[str, str] = {
    "pattern_search_replay_sphere": _replay_sql(
        (10.0, 15.0), 1.0, _SPHERE_EXPR
    ),
    "pattern_search_replay_rosenbrock": _replay_sql(
        (-1.5, 2.5), 0.5,
        "(1.0::DOUBLE - cx1) * (1.0::DOUBLE - cx1)"
        " + 100.0::DOUBLE * ((cx2 - cx1 * cx1) * (cx2 - cx1 * cx1))",
    ),
    "pattern_search_replay_budget": _replay_sql(
        (10.0, 15.0), 1.0, _SPHERE_EXPR, max_tasks=40
    ),
    "pattern_search_replay_deferred": _replay_sql(
        (10.0, 15.0), 1.0, _SPHERE_EXPR, min_new_submit=10
    ),
    "pattern_search_replay_intdim": _replay_sql(
        (10.0, 15.0), 1.0, _SPHERE_EXPR, int_dim0=True
    ),
    "pattern_search_replay_bounded": _replay_sql(
        (10.0, 15.0), 1.0, _SPHERE_EXPR,
        bounds=((9.5, 13.25), (20.0, 20.0)),
    ),
    # identical to the serial sphere replay by design: randomize=False +
    # round_size=6 pin the fill order, so the executor-path ledger must
    # match the serial trace bit for bit
    "pattern_search_replay_distributed": _replay_sql(
        (10.0, 15.0), 1.0, _SPHERE_EXPR
    ),
    "pattern_search_replay_batched": _replay_sql(
        (10.0, 15.0), 1.0, _SPHERE_EXPR, round_fill=8
    ),
    # one replay CTE per start, tagged and unioned: a multistart run IS
    # three independent serial traces
    "pattern_search_replay_resumed": _replay_resumed_sql(
        (10.0, 15.0), 1.0, _SPHERE_EXPR, warm_max_tasks=40
    ),
    "pattern_search_replay_resumed_budget": _replay_resumed_sql(
        (10.0, 15.0), 1.0, _SPHERE_EXPR, warm_max_tasks=40,
        resume_max_tasks=52,
    ),
    "pattern_search_replay_pipelined": _replay_pipelined_sql(
        (10.0, 15.0), 1.0, _SPHERE_EXPR
    ),
    "pattern_search_multistart": " UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS start_id, * FROM ("
        + _replay_sql(tuple(x0), 1.0, _SPHERE_EXPR)
        + ")"
        for i, x0 in enumerate(_MULTISTART_X0S)
    ),
    # portfolio crash recovery = N independent single-start recoveries
    "pattern_search_multistart_resumed": " UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS start_id, * FROM ("
        + _replay_resumed_sql(tuple(x0), 1.0, _SPHERE_EXPR, warm_max_tasks=40)
        + ")"
        for i, x0 in enumerate(_MULTISTART_X0S)
    ),
}
