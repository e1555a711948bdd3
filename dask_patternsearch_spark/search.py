"""Batch-synchronous parallel pattern search on Spark.

Implements the same derivative-free minimization algorithm as the reference
(``/root/reference/dask_patternsearch/search.py:48-362``) re-architected for
Spark's execution model.  The reference is *asynchronous*: it keeps a queue
of dask futures and greedily accepts the best result as soon as it arrives.
Spark jobs are synchronous barriers, so this engine runs the published
*batch-synchronous* variant of generating-set search: each iteration ("poll
round") materializes a set of deduplicated trial points, evaluates them all
in one Spark job (``mapInPandas`` -- Arrow-vectorized), then makes the
accept/contract decision on the driver.  The reference itself notes that its
greedy-async acceptance policy is a replaceable choice
(``search.py:326-329``); the lattice + poll-set contraction gate that
convergence theory actually requires (Kolda/Lewis/Torczon, SIREV 2003) is
preserved exactly:

* all coordinates snap to a dyadic lattice of spacing
  ``stepsize / 2**max_halvings`` before identity is computed
  (reference ``search.py:149-151,159-160``);
* a contraction (step halving) only happens after the full poll set --
  the first ``2*dims`` stencil steps, i.e. the +/- axis points -- has been
  evaluated without improvement (reference ``search.py:259-265,286-287``);
* accepted trial points carry their own resolution level
  (``step.halvings + incumbent.halvings``, reference ``search.py:266``);
* the asymmetric stencil is re-oriented toward the observed descent
  direction on every acceptance (reference ``search.py:334-343``);
* integer dimensions: x0 rounded, minimum step forced to +/-1, steps
  rounded away from zero, halvings not charged for integer-only steps
  (reference ``search.py:153-157,226-229,268-276``).

Driver/cluster split (SURVEY.md section 7): the stencil stream, orientation
flips, contraction bookkeeping and termination checks are O(dims) scalar
work and stay on the driver; the expensive part -- objective evaluation --
is the only thing distributed.  The results ledger is bounded by
``max_tasks`` and lives on the driver as the exact-dedup memo
(reference op #4, ``search.py:285-291``); ``SearchResults.to_spark``
exposes it as a DataFrame for relational post-analysis.
"""

from __future__ import annotations

import math
from collections import deque
from time import time

import numpy as np

from .stencil import SimplexStencil

__all__ = [
    "search",
    "search_multi_start",
    "TrialPoint",
    "LocalEvaluator",
    "SparkEvaluator",
    "AsyncSparkEvaluator",
]


class TrialPoint:
    """One evaluated (or pending) candidate solution with lineage.

    Mirrors the reference's ``Point`` record (``search.py:15-31``): identity
    is the lattice-snapped coordinate bytes, which is exact because every
    point is snapped before construction.
    """

    __slots__ = (
        "point", "halvings", "parent", "is_accepted", "result",
        "start_time", "stop_time",
    )

    def __init__(self, point: np.ndarray, halvings: int):
        self.point = point
        self.halvings = halvings
        self.parent = None
        self.is_accepted = False
        self.result = None
        self.start_time = None
        self.stop_time = None

    def __hash__(self) -> int:
        return hash(self.point.tobytes())

    def __eq__(self, other) -> bool:
        return np.array_equal(self.point, other.point)

    def __repr__(self) -> str:
        return f"TrialPoint({self.point.tolist()}, h={self.halvings})"


class SearchResults(dict):
    """``dict[TrialPoint, float]`` ledger with a DataFrame exporter.

    ``rounds`` counts the poll rounds the search processed (an observable
    for the distributed round-count scaling datapoint); ``jobs`` counts
    the evaluator calls it made -- one Spark job per call with a Spark
    evaluator, so ``jobs`` is ``rounds`` at ``pipeline_depth=1`` and about
    ``rounds / pipeline_depth`` when rounds are fused."""

    rounds: int = 0
    jobs: int = 0

    def to_spark(self, spark, cost_kind: bool = False):
        """Export the ledger as a DataFrame (SURVEY.md section 1.1 schema).

        Non-finite costs (inf/-inf/nan: failed or rejected evaluations)
        map to NULL in the ``cost`` column -- parquet-portable and what
        every downstream relational consumer wants.  Pass
        ``cost_kind=True`` to append a sidecar string column recording
        the original kind (``finite``/``inf``/``-inf``/``nan``/``none``)
        so a reader can restore the exact Python value; the ml model
        persistence uses this to make save/load a lossless round trip.
        """
        from pyspark.sql import types as T

        fields = [
            T.StructField("point", T.ArrayType(T.DoubleType(), False), False),
            T.StructField("halvings", T.IntegerType(), False),
            T.StructField("parent", T.ArrayType(T.DoubleType(), False), True),
            T.StructField("is_accepted", T.BooleanType(), False),
            T.StructField("cost", T.DoubleType(), True),
        ]
        if cost_kind:
            fields.append(T.StructField("cost_kind", T.StringType(), False))

        def _kind(cost):
            if cost is None:
                return "none"
            c = float(cost)
            if np.isnan(c):
                return "nan"
            if np.isinf(c):
                return "inf" if c > 0 else "-inf"
            return "finite"

        cols: dict = {"point": [], "halvings": [], "parent": [],
                      "is_accepted": [], "cost": []}
        if cost_kind:
            cols["cost_kind"] = []
        for p, cost in self.items():
            cols["point"].append(p.point.tolist())
            cols["halvings"].append(int(p.halvings))
            cols["parent"].append(
                None if p.parent is None else p.parent.point.tolist())
            cols["is_accepted"].append(bool(p.is_accepted))
            cols["cost"].append(
                None if cost is None or not np.isfinite(cost)
                else float(cost))
            if cost_kind:
                cols["cost_kind"].append(_kind(cost))
        try:
            # Arrow local relation: one columnar transfer instead of a
            # per-row pickled one -- measured 2.7x faster end to end for
            # a 320-row ledger (the export was ~20% of each headline
            # pattern query's time).  Row order (ledger insertion order)
            # is preserved either way.
            import pyarrow as pa

            table = pa.table({
                "point": pa.array(cols["point"],
                                  type=pa.list_(pa.float64())),
                "halvings": pa.array(cols["halvings"], type=pa.int32()),
                "parent": pa.array(cols["parent"],
                                   type=pa.list_(pa.float64())),
                "is_accepted": pa.array(cols["is_accepted"],
                                        type=pa.bool_()),
                "cost": pa.array(cols["cost"], type=pa.float64()),
                **({"cost_kind": pa.array(cols["cost_kind"],
                                          type=pa.string())}
                   if cost_kind else {}),
            })
            return spark.createDataFrame(table)
        except Exception:  # pragma: no cover - exotic sessions only
            rows = list(zip(*(cols[f.name] for f in fields)))
            return spark.createDataFrame(rows, T.StructType(fields))


class LocalEvaluator:
    """In-process evaluation (the reference's SerialClient analog,
    ``clients.py:27-53``), with optional vectorized dispatch."""

    def __init__(self, vectorize: bool = False):
        self.vectorize = vectorize

    def evaluate(self, func, points: list[np.ndarray], args: tuple) -> list[float]:
        if not points:
            return []
        if self.vectorize:
            return list(np.asarray(func(np.stack(points), *args), dtype=float))
        return [float(func(p, *args)) for p in points]


class SparkEvaluator:
    """Distributed evaluation: one single-stage Spark job per poll round.

    The job is an RDD ``mapPartitions`` over candidate INDICES
    (``sc.parallelize(range(n), k)`` -- contiguous splits, nothing
    materialized driver-side) with the coordinate matrix shipped
    closure/broadcast-side; evaluation inside the partition is vectorized
    numpy, the equivalent of the reference's ``batchsize``/``vectorize``
    modes (``search.py:115-122,190-201``).  This is the sanctioned RDD use
    case -- per-partition imperative logic in a latency-critical driver
    loop: a search runs ~25 poll rounds, each one Spark job, so per-round
    fixed cost dominates wall clock.  The earlier ``mapInPandas`` spelling
    paid Catalyst analysis + Arrow plan execution per round (~1.5x the
    per-job latency, measured on local[32]); per-round results are a few
    hundred floats, so Arrow's columnar transfer buys nothing here.
    Partition count is sized so every core gets work:
    ``min(n_candidates, defaultParallelism)`` unless an explicit
    ``batchsize`` dictates fewer, larger tasks.
    """

    def __init__(self, spark, vectorize: bool = False, batchsize: int | None = None):
        self.spark = spark
        self.vectorize = vectorize
        self.batchsize = batchsize

    # Candidate matrices up to this many bytes ride in the task closure;
    # larger rounds go through a torrent broadcast instead (closures are
    # shipped per task, broadcasts once per executor).
    _CLOSURE_BYTES = 1 << 20

    def evaluate(self, func, points: list[np.ndarray], args: tuple) -> list[float]:
        if not points:
            return []
        vectorize = self.vectorize
        if self.batchsize:
            n_parts = max(1, math.ceil(len(points) / self.batchsize))
        else:
            n_parts = max(1, min(len(points), self.spark.sparkContext.defaultParallelism))

        # One SINGLE-STAGE job per round: the candidate matrix travels to
        # executors via closure/broadcast; the job itself partitions the
        # index range into contiguous splits, so no shuffle and no
        # driver->JVM local-relation job.
        xs_all = np.stack(points)
        bc = None
        if xs_all.nbytes > self._CLOSURE_BYTES:
            bc = self.spark.sparkContext.broadcast(xs_all)
            get_xs = lambda: bc.value  # noqa: E731
        else:
            get_xs = lambda: xs_all  # noqa: E731

        def run(it):
            ids = np.fromiter(it, dtype=np.int64)
            if ids.size == 0:
                return
            xs = np.asarray(get_xs(), dtype=float)[ids]
            if vectorize:
                out = np.asarray(func(xs, *args), dtype=float)
            else:
                out = np.array([func(x, *args) for x in xs], dtype=float)
            yield ids, out

        parts = self.spark.sparkContext.parallelize(
            range(len(points)), n_parts
        ).mapPartitions(run).collect()
        if bc is not None:
            bc.unpersist()
        costs: list[float] = [math.nan] * len(points)
        for ids, vals in parts:
            for i, v in zip(ids.tolist(), vals.tolist()):
                costs[i] = v
        return costs


class AsyncSparkEvaluator(SparkEvaluator):
    """Compatibility name for :class:`SparkEvaluator`.

    ``search(pipeline_depth=k)`` fuses k speculative rounds into one
    synchronous ``evaluate`` call with any evaluator, so this class adds
    no behaviour.  ``max_inflight`` is accepted for backward
    compatibility and ignored.
    """

    def __init__(
        self,
        spark,
        vectorize: bool = False,
        batchsize: int | None = None,
        max_inflight: int = 2,
    ):
        super().__init__(spark, vectorize=vectorize, batchsize=batchsize)


def _chunked_shuffle(step_iter, dims: int, rng: np.random.Generator):
    """Shuffle stencil steps within growing chunks (first chunk ``2*dims``,
    then ``+dims`` each) to decorrelate exploration while keeping the poll
    set first (reference op #16, ``search.py:34-41``)."""
    size = 2 * dims
    while True:
        chunk = []
        for _ in range(size):
            try:
                chunk.append(next(step_iter))
            except StopIteration:
                rng.shuffle(chunk)
                yield from chunk
                return
        rng.shuffle(chunk)
        yield from chunk
        size = dims


def _iter_warm_start(src):
    """Normalize a ``search(warm_start=...)`` input to (TrialPoint, cost)
    pairs: a SearchResults/dict, an iterable of (point, halvings, cost)
    tuples, or a parquet ledger path (``SearchResults.to_spark`` schema,
    read driver-side via pyarrow -- the ledger is driver state).

    Order matters (it seeds the results-dict insertion order, which the
    finish-time ledger-min fold uses as its tiebreak): pyarrow reads a
    checkpoint directory in filename-sorted order, and ``flush_ledger``'s
    zero-padded ``part-<rounds>-<len>`` names make that chronological --
    the resumed ledger replays in original evaluation order (relied on by
    the ``pattern_search_replay_resumed*`` oracles)."""
    if isinstance(src, str):
        import pyarrow.parquet as pq

        for row in pq.read_table(src, columns=["point", "halvings", "cost"]).to_pylist():
            tp = TrialPoint(np.asarray(row["point"], dtype=float), int(row["halvings"]))
            yield tp, row["cost"]
        return
    if isinstance(src, dict):
        for tp, cost in src.items():
            if not isinstance(tp, TrialPoint):
                raise TypeError("warm_start dict keys must be TrialPoint")
            yield tp, cost
        return
    for point, halvings, cost in src:
        yield TrialPoint(np.asarray(point, dtype=float), int(halvings)), cost


def search(
    func,
    x0,
    stepsize,
    spark=None,
    *,
    args: tuple = (),
    round_size: int | None = None,
    min_new_submit: int = 0,
    randomize: bool = True,
    seed: int | None = None,
    max_stencil_size: int | None = None,
    stopratio: float = 0.01,
    max_tasks: int | None = None,
    max_time: float | None = None,
    integer_dimensions=None,
    batchsize: int | None = None,
    vectorize: bool = False,
    evaluator=None,
    pipeline_depth: int = 1,
    client=None,
    max_queue_size: int | None = None,
    min_queue_size: int | None = None,
    warm_start=None,
    ledger_path: str | None = None,
    ledger_every: int = 10,
    bounds=None,
):
    """Minimize ``func`` by parallel pattern search; returns ``(best, results)``.

    Parameters mirror the reference ``search()`` signature
    (``search.py:48-51``) with the async queue knobs mapped to round sizing:
    ``round_size`` (candidates evaluated per Spark job) replaces
    ``max_queue_size``/``min_queue_size`` -- one poll round IS the queue.

    Parameters
    ----------
    func : callable ``func(x, *args) -> float``; if ``vectorize`` is True it
        must accept a 2-D array of points and return a 1-D array.
    x0, stepsize : 1-D array-likes of equal length.
    spark : SparkSession or None.  None runs in-process (serial mode,
        reference trace C); a session distributes evaluation via
        ``mapInPandas``.
    round_size : trial points evaluated per round.  Default
        ``max(3*dims, defaultParallelism)`` with a session, ``3*dims``
        without (the reference's queue-depth default, ``search.py:133-139``).
    min_new_submit : minimum new submissions per incumbent epoch before an
        improvement may be accepted (multi-minima robustness,
        ``search.py:95-98``).
    max_stencil_size : cap on stencil steps consumed per epoch.
    stopratio : stop once the step has been halved ``frexp(1/stopratio)[1]``
        times (``search.py:104-106,149``).
    max_tasks : stop after this many completed tasks (batches count as one
        task each when ``batchsize`` is set, ``search.py:293-295``).
    max_time : wall-clock budget in seconds (stop submitting after).
    integer_dimensions : indices of dimensions constrained to integers.
    batchsize / vectorize : evaluation batching, as in the reference.
    evaluator : explicit evaluator (overrides ``spark``); any object with
        ``evaluate(func, points, args) -> list[float]``.
    pipeline_depth : speculative poll rounds evaluated per evaluator call
        (one Spark job with a session).  1 = strict batch-synchronous
        rounds; k > 1 approximates the reference's async speculative
        submission (``search.py:240-250,299-324``): each round is filled
        before the k - 1 rounds ahead of it are processed, k such rounds
        are evaluated together as ONE synchronous job, and they are then
        processed one at a time, oldest first.  The job-launch cost per
        round drops to about 1/k.  The contraction gate stays exact -- a
        step never halves while any poll point is unevaluated or any
        round is unprocessed.
    client / max_queue_size / min_queue_size : drop-in aliases for the
        reference's signature (``search.py:48-51``).  A SparkSession
        passed as ``client`` behaves as ``spark=``; ``max_queue_size``
        maps to ``round_size`` (one poll round IS the queue);
        ``min_queue_size`` is accepted and ignored (the round model has
        no refill threshold).
    warm_start : crash-recovery / resume input -- a prior run's
        ``SearchResults`` (or any ``dict``-like of TrialPoint-compatible
        entries), an iterable of ``(point, halvings, cost)`` tuples, or a
        path to a parquet ledger written by ``SearchResults.to_spark``.
        Seeded points enter the exact-dedup memo, so the resumed search
        NEVER re-calls the objective for an already-evaluated point -- on
        a 100k-core run the objective calls are the cost; the driver-side
        decision loop is free.  The resumed run is a memoized restart,
        not a bit-exact replay: rounds skip known points, so their
        composition (and hence the acceptance path) can differ from the
        uninterrupted run while remaining a valid pattern search over the
        cumulative ledger.  Seeded entries appear in the returned ledger
        and count toward ``max_tasks`` (the budget is cumulative across
        the resumed run).
    ledger_path / ledger_every : periodic ledger checkpointing -- every
        ``ledger_every`` poll rounds (and at finish) the newly evaluated
        (point, halvings, cost) rows append as a parquet part file under
        ``ledger_path``.  Written driver-side via pyarrow (the ledger IS
        driver state); a crashed run resumes with
        ``search(..., warm_start=ledger_path)`` and pays zero repeated
        objective calls for checkpointed rounds.
    bounds : optional box constraints ``(lower, upper)`` (arrays of length
        ``dims``; beyond the reference, which is unconstrained).  Trial
        points landing outside the box are never generated -- infeasible
        directions simply drop out of the poll set, so the contraction
        gate does not wait on them and the search converges to the best
        FEASIBLE lattice point (boundary optima included).  ``x0`` must
        lie inside the box.

    Returns
    -------
    (best, results) : ``best`` is the incumbent ``TrialPoint`` (equal to the
        minimum of the ledger); ``results`` is a ``SearchResults`` dict of
        every evaluated point to its objective value.
    """
    # reference-signature aliases (SURVEY.md section 2.1 row 1)
    if client is not None:
        if spark is not None:
            raise ValueError("pass either spark= or client=, not both")
        if hasattr(client, "sparkContext"):  # a SparkSession
            spark = client
        else:
            raise ValueError(
                "client= must be a SparkSession here; dask clients are not "
                "supported -- this engine distributes via Spark"
            )
    if max_queue_size is not None and round_size is None:
        round_size = max_queue_size
    del min_queue_size  # accepted for signature parity; no refill threshold

    if vectorize and batchsize is None and spark is None and evaluator is None:
        raise ValueError("batchsize must be given if vectorize is True in serial mode")

    x0 = np.array(x0, dtype=float)
    stepsize = np.array(stepsize, dtype=float)
    dims = len(stepsize)
    if len(x0) != dims:
        raise ValueError("x0 and stepsize must have the same length")
    if bounds is not None:
        lower = np.array(bounds[0], dtype=float)
        upper = np.array(bounds[1], dtype=float)
        if len(lower) != dims or len(upper) != dims:
            raise ValueError("bounds must match the dimension count")
        if np.any(lower > upper):
            raise ValueError("bounds lower > upper")
        if np.any(x0 < lower) or np.any(x0 > upper):
            raise ValueError("x0 must lie inside bounds")
    else:
        lower = upper = None
    max_halvings = math.frexp(1 / stopratio)[1]
    gridsize = stepsize / 2.0 ** max_halvings
    stencil = SimplexStencil(dims, max_halvings)
    rng = np.random.default_rng(seed)

    if evaluator is None:
        if spark is not None:
            evaluator = SparkEvaluator(spark, vectorize=vectorize, batchsize=batchsize)
        else:
            evaluator = LocalEvaluator(vectorize=vectorize)

    if round_size is None:
        round_size = 3 * dims
        if spark is not None:
            round_size = max(round_size, spark.sparkContext.defaultParallelism)
    if max_stencil_size is None:
        max_stencil_size = int(1e9)

    int_mask = None
    if integer_dimensions is not None:
        int_mask = np.zeros(dims, dtype=bool)
        int_mask[np.asarray(integer_dimensions)] = True
        x0[int_mask] = np.round(x0[int_mask])

    def to_grid(x: np.ndarray) -> np.ndarray:
        return np.round(x / gridsize) * gridsize

    # points-per-"task" for the max_tasks accounting (reference search.py:293)
    task_unit = batchsize or 1
    point_budget = None if max_tasks is None else max_tasks * task_unit
    deadline = None if max_time is None else time() + max_time

    orientation = np.ones(dims)
    incumbent = TrialPoint(to_grid(x0), 0)
    incumbent.parent = incumbent
    incumbent.start_time = time()
    incumbent_cost = np.inf
    results = SearchResults()
    if warm_start is not None:
        for tp, cost in _iter_warm_start(warm_start):
            if cost is None or not np.isfinite(cost):
                continue
            tp.result = cost
            results[tp] = cost

    # --- per-epoch (per-incumbent) state ------------------------------------
    def new_epoch():
        it = stencil.steps()
        if randomize:
            it = _chunked_shuffle(it, dims, rng)
        return {
            "steps": enumerate(it, 1),
            "index": 0,          # last stencil index pulled
            "added": 0,          # new submissions this epoch
            "poll": set(),       # unevaluated poll-set TrialPoints
            "exhausted": False,
        }

    epoch = new_epoch()
    seed_point = incumbent  # x0 still needs evaluating
    carried_best = None     # improvement deferred by min_new_submit
    carried_key = None      # (halvings, cost) acceptance key of carried_best
    finished = False

    # round fusing: filled rounds accumulate into a chunk of up to
    # ``pipeline_depth`` rounds that is evaluated as ONE job.  Each round
    # is still filled and processed in the same interleaving as with one
    # job per round, so every round's candidate set -- and hence the
    # ledger -- does not depend on the fusing; only the job count drops.
    pending_chunk: list = []    # [candidates, ...] filled, not evaluated
    buffered: deque = deque()   # (candidates, costs) evaluated rounds
    pending_keys: set = set()   # TrialPoints awaiting results (dedup memo)

    def unprocessed_rounds() -> int:
        return len(pending_chunk) + len(buffered)

    def drain_one_round():
        """Process exactly ONE round, oldest first; when none is evaluated
        yet, evaluate the whole pending chunk in one call and split its
        costs back per round."""
        if not buffered:
            costs = evaluator.evaluate(
                func, [c.point for cand in pending_chunk for c in cand], args)
            results.jobs += 1
            off = 0
            for cand in pending_chunk:
                buffered.append((cand, costs[off:off + len(cand)]))
                off += len(cand)
            pending_chunk.clear()
        process_round(*buffered.popleft())

    # periodic ledger checkpoint state (see ledger_path in the docstring)
    ledger_buf: list = []

    def flush_ledger():
        if ledger_path is None or not ledger_buf:
            return
        import os as _os

        import pyarrow as pa
        import pyarrow.parquet as pq

        _os.makedirs(ledger_path, exist_ok=True)
        table = pa.table({
            "point": pa.array([p for p, _h, _c in ledger_buf],
                              type=pa.list_(pa.float64())),
            "halvings": pa.array([h for _p, h, _c in ledger_buf], type=pa.int32()),
            "cost": pa.array([c for _p, _h, c in ledger_buf], type=pa.float64()),
        })
        part = _os.path.join(
            ledger_path, f"part-{results.rounds:08d}-{len(results):08d}.parquet")
        pq.write_table(table, part)
        ledger_buf.clear()

    def process_round(cand, costs):
        """Record one round's results and update the acceptance candidate."""
        nonlocal carried_best, carried_key
        results.rounds += 1
        if ledger_path is not None:
            for tp, cost in zip(cand, costs):
                c = float(cost)
                ledger_buf.append((
                    tp.point.tolist(), int(tp.halvings),
                    c if np.isfinite(c) else float("nan"),
                ))
            if results.rounds % ledger_every == 0:
                flush_ledger()
        now = time()
        for tp, cost in zip(cand, costs):
            tp.stop_time = now
            tp.result = cost
            results[tp] = cost
            pending_keys.discard(tp)
            epoch["poll"].discard(tp)
            epoch["added"] += 1
            # Acceptance candidate policy: among improving points prefer
            # the lowest resolution level, then the lowest cost.  The
            # reference's async drain sees axis/doubled steps complete
            # first, so its greedy accept (search.py:314-324) has the
            # same effect; taking the raw min of a large synchronous
            # round would instead keep accepting contraction steps and
            # exhaust the halvings budget far from the optimum.  The
            # reference flags this policy as replaceable
            # (search.py:326-329).
            if cost < incumbent_cost:
                key = (tp.halvings, cost)
                if carried_best is None or key < carried_key:
                    carried_best, carried_key = tp, key

    def current_stepsize() -> np.ndarray:
        cs = to_grid(orientation * stepsize / 2.0 ** incumbent.halvings)
        if int_mask is not None:
            cs = cs.copy()
            lo = int_mask & (cs < 0) & (cs > -1)
            hi = int_mask & (cs > 0) & (cs < 1)
            cs[lo] = -1.0
            cs[hi] = 1.0
        return cs

    while not finished:
        if deadline is not None and time() > deadline:
            break

        cs = current_stepsize()

        # ---- fill: pull stencil steps into this round's candidate set ------
        candidates: list[TrialPoint] = []
        if seed_point is not None:
            candidates.append(seed_point)
            seed_point = None

        def pull_one() -> bool:
            """Advance the stencil one step; maybe append a new candidate.

            Returns False when the stencil stream is exhausted for this
            epoch.  Reference fill phase: ``search.py:240-297``.
            """
            try:
                epoch["index"], step = next(epoch["steps"])
            except StopIteration:
                epoch["exhausted"] = True
                return False
            halvings = step.extra_halvings + incumbent.halvings
            dx = step.offset * cs
            if int_mask is not None:
                di = dx[int_mask]
                dx = dx.copy()
                dx[int_mask] = np.copysign(np.ceil(np.abs(di)), di)
                trial = to_grid(incumbent.point + dx)
                trial[int_mask] = np.round(trial[int_mask])
                if step.extra_halvings > 0 and not np.any(dx[~int_mask] != 0):
                    halvings = incumbent.halvings
            else:
                trial = to_grid(incumbent.point + dx)
            if halvings > max_halvings:
                return True  # over-resolved; skip (reference search.py:279-280)
            if lower is not None and (
                np.any(trial < lower) or np.any(trial > upper)
            ):
                return True  # infeasible (outside the box); never generated
            tp = TrialPoint(trial, halvings)
            known = results.get(tp, False)
            if epoch["index"] <= 2 * dims and known is False:
                epoch["poll"].add(tp)
            if known is False and tp not in pending_keys:
                tp.parent = incumbent
                tp.start_time = time()
                candidates.append(tp)
            return True

        while len(candidates) < round_size and epoch["index"] < max_stencil_size:
            if not pull_one():
                break
        if batchsize:
            # keep evaluated counts whole batches: top up rather than discard
            # (the reference buffers partial batches and drops them at exit,
            # search.py:190-201,360-361; topping up loses nothing)
            while (
                len(candidates) % batchsize != 0
                and epoch["index"] < max_stencil_size
                and pull_one()
            ):
                pass
            if len(candidates) % batchsize != 0:
                candidates = candidates[: len(candidates) - (len(candidates) % batchsize)]
        if epoch["index"] >= max_stencil_size:
            epoch["exhausted"] = True

        # ---- budget trim (max_tasks semantics; unprocessed points count) ---
        if point_budget is not None:
            pending = (sum(len(c) for c in pending_chunk)
                       + sum(len(c) for c, _ in buffered))
            remaining = point_budget - len(results) - pending
            if remaining <= 0:
                candidates = []
                if not unprocessed_rounds():
                    break
            elif len(candidates) > remaining:
                candidates = candidates[:remaining]

        # ---- evaluate: ONE Spark job (or local batch) per chunk of rounds ---
        # this round joins the pending chunk; the OLDEST unprocessed round
        # is processed once ``pipeline_depth`` rounds are unprocessed (or
        # nothing new could be filled), evaluating the chunk if needed
        if candidates:
            pending_keys.update(candidates)
            pending_chunk.append(candidates)
        if unprocessed_rounds() and (
            unprocessed_rounds() >= pipeline_depth or not candidates
        ):
            drain_one_round()

        if point_budget is not None and len(results) >= point_budget:
            finished = True
        if deadline is not None and time() > deadline:
            finished = True

        # ---- decide: accept / contract / keep filling -----------------------
        may_accept = (
            carried_best is not None
            and (epoch["added"] >= min_new_submit or epoch["exhausted"] or finished)
        )
        if may_accept and carried_key[1] < incumbent_cost:
            nxt = carried_best
            # orient the asymmetric stencil toward the descent direction
            # (reference search.py:334-343)
            diff = (nxt.point - nxt.parent.point) + (
                incumbent.point - incumbent.parent.point
            )
            orientation = np.where(diff, np.copysign(orientation, diff), orientation)
            nxt.is_accepted = True
            incumbent.stop_time = time()
            incumbent = nxt
            incumbent_cost = carried_key[1]
            carried_best = carried_key = None
            epoch = new_epoch()
            if incumbent.halvings >= max_halvings:
                finished = True
        elif not finished:
            # contraction gate: every poll point evaluated (pending poll
            # points are still in epoch["poll"], so they hold the gate), and
            # on exhaustion no round may remain unprocessed
            poll_done = not epoch["poll"] and epoch["index"] >= 2 * dims
            exhausted_done = epoch["exhausted"] and not unprocessed_rounds()
            if (poll_done and epoch["added"] >= min_new_submit) or exhausted_done:
                # contraction: halve the step at the same coordinates
                # (reference search.py:209-238,351-358)
                nxt = TrialPoint(incumbent.point, incumbent.halvings + 1)
                nxt.parent = incumbent
                nxt.is_accepted = True
                nxt.result = incumbent_cost
                nxt.start_time = time()
                incumbent.stop_time = time()
                incumbent = nxt
                carried_best = carried_key = None
                epoch = new_epoch()
                if incumbent.halvings >= max_halvings:
                    finished = True

    # drain any still-unprocessed rounds into the ledger (the reference's
    # finish-time future drain, search.py:360-362); budget accounting above
    # guarantees these rows never exceed point_budget
    while unprocessed_rounds():
        drain_one_round()

    # fold the global ledger minimum on finish (the reference's finish-time
    # processing guarantees the returned incumbent equals the ledger min,
    # search.py:330-344,360-362)
    if results:
        best_p, best_c = min(results.items(), key=lambda kv: kv[1])
        if best_c < incumbent_cost:
            best_p.is_accepted = True
            incumbent = best_p
            incumbent_cost = best_c

    incumbent.stop_time = time()
    flush_ledger()
    return incumbent, results


def search_multi_start(
    func,
    x0s,
    stepsize,
    spark=None,
    *,
    max_workers: int | None = None,
    **kwargs,
):
    """Independent pattern searches from several starting points; returns
    ``(global_best, [(best, results), ...])`` in ``x0s`` order.

    Pattern search is a local method: on a multimodal objective the basin
    it converges into is decided by ``x0``, so production use launches a
    small portfolio of starts and keeps the global ledger minimum.  The
    reference has no portfolio driver (its ``search()`` is single-start,
    reference search.py:48-51); this composes the existing loop without
    touching its semantics, which keeps every per-start ledger exactly as
    replayable as a single-start run (the multistart replay oracle is a
    UNION of per-start replay CTEs).

    Concurrency: starts run on driver threads.  With a Spark evaluator
    each thread submits its own single-stage jobs and the scheduler
    interleaves them across executors, so a straggling start no longer
    idles the cluster; serial starts still overlap their numpy evaluation (BLAS
    releases the GIL).  ``max_workers`` caps the thread pool (default:
    all starts).  Each start gets its own evaluator, and a shared
    ``ledger_path`` fans out into per-start ``start-<i>`` subdirectories
    (concurrent starts writing one directory would collide on part-file
    names) -- nothing is shared mutable state except the SparkSession,
    which is thread-safe for job submission.
    """
    from concurrent.futures import ThreadPoolExecutor

    x0s = [np.asarray(x, dtype=float) for x in x0s]
    if not x0s:
        raise ValueError("x0s must contain at least one starting point")
    if kwargs.get("evaluator") is not None and len(x0s) > 1:
        raise ValueError(
            "a shared evaluator cannot be used across concurrent starts; "
            "pass spark= (or nothing) and let each start build its own"
        )
    ledger_path = kwargs.pop("ledger_path", None)
    warm_start = kwargs.pop("warm_start", None)
    # crash-recovery round trip: a warm_start that IS this driver's own
    # fanned checkpoint layout (start-<i> subdirectories) resumes each
    # start from ITS OWN ledger; a start that crashed before its first
    # flush simply has no subdir and restarts cold.  Any other warm_start
    # (dict, iterable, flat parquet path) is a SHARED memo passed to every
    # start unchanged -- useful for seeding a portfolio with a prior
    # single run's evaluations.
    import os as _os

    # detect the fanned layout by ANY start-<i> SUBDIRECTORY, not just
    # start-0: if start 0 crashed before its first ledger flush while
    # others did checkpoint, keying on start-0 alone would misclassify
    # the root as a shared memo and seed every start with the union of
    # sibling ledgers.  scandir, not glob: glob would both mis-handle
    # metacharacters in the path ('[..]' ranges) and false-positive on
    # plain FILES named start-* inside a flat memo directory.
    def _has_start_subdir(root: str) -> bool:
        try:
            with _os.scandir(root) as it:
                return any(
                    e.name.startswith("start-") and e.is_dir() for e in it
                )
        except (NotADirectoryError, FileNotFoundError):
            return False

    fanned_warm = isinstance(warm_start, str) and _has_start_subdir(warm_start)

    def start_kwargs(i: int) -> dict:
        kw = kwargs
        if ledger_path is not None:
            kw = {**kw, "ledger_path": _os.path.join(ledger_path, f"start-{i}")}
        if fanned_warm:
            sub = _os.path.join(warm_start, f"start-{i}")
            kw = {**kw, "warm_start": sub if _os.path.isdir(sub) else None}
        elif warm_start is not None:
            kw = {**kw, "warm_start": warm_start}
        return kw

    workers = min(len(x0s), max_workers or len(x0s))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futs = [
            pool.submit(search, func, x0, stepsize, spark, **start_kwargs(i))
            for i, x0 in enumerate(x0s)
        ]
        runs = [f.result() for f in futs]
    global_best = min(runs, key=lambda r: r[0].result)[0]
    return global_best, runs
