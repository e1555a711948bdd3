"""Iterative graph analytics over edge DataFrames.

Connected components (see ``dedup.connected_components``) and PageRank
cover the two shapes every DataFrame-native graph engine needs: label
propagation to a fixpoint and damped score iteration.  Both run as plain
joins/aggregates with a per-round ``localCheckpoint`` to truncate lineage
-- the standard Spark iterative-algorithm pattern (each iteration would
otherwise append to one ever-growing plan).  Every iterative operator
here and in ``dedup`` cuts its rounds with :func:`checkpoint`, and the
ones that stop early run under :func:`fixpoint`.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def checkpoint(df: DataFrame, *cols, **probes) -> tuple[DataFrame, dict]:
    """Materialize ``df`` with an eager ``localCheckpoint``; return the
    frame and the values of the named aggregate ``probes``
    (``name=Column``), observed in the SAME job -- a round's convergence
    test costs no job of its own.  ``cols``, if given, project ``df``
    after the probes and before the checkpoint, so a probe may read a
    column the checkpointed frame drops."""
    obs = Observation()
    if probes:
        df = df.observe(obs, *(c.alias(k) for k, c in probes.items()))
    frame = (df.select(*cols) if cols else df).localCheckpoint(eager=True)
    # the Observation stays referenced as long as the frame it measured
    frame._observation = obs
    return frame, obs.get if probes else {}


def fixpoint(step, state, max_iter: int, what: str | None = None):
    """Run ``state, done = step(state)`` until a round reports ``done`` or
    ``max_iter`` rounds have run; return the last state.  Running out of
    rounds logs one warning carrying ``what`` (what the result then
    lacks); without ``what`` the cap is a silent bound."""
    for _ in range(max_iter):
        state, done = step(state)
        if done:
            return state
    if what is not None:
        logger.warning("max_iter=%d exhausted before the fixpoint: %s",
                       max_iter, what)
    return state


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Damped PageRank over a directed edge list; returns (vertex, rank),
    ranks summing to 1 (dangling mass redistributed uniformly).

    Scale: per iteration ONE shuffle for the contribution aggregate (the
    edges->ranks join broadcasts ranks while small, AQE-shuffles at web
    scale) plus a scalar dangling-mass aggregate.  ``with_deg`` is
    localCheckpoint-ed every iteration with the dangling aggregate
    observed in the same job, and the next iteration's join reads the
    materialized result -- each iteration's plan executes exactly once.
    At production scale replace localCheckpoint with reliable
    checkpointing to the cluster FS.
    """
    verts, got = checkpoint(
        edges.select(F.col(src).alias("vertex"))
        .unionByName(edges.select(F.col(dst).alias("vertex")))
        .distinct(),
        n=F.count(F.lit(1)),
    )
    n = got["n"]
    if n == 0:
        return verts.withColumn("rank", F.lit(0.0))
    # materialized once: every iteration's with_deg join consumes this
    # table, and AQE stage reuse does not span actions -- left lazy, the
    # degree aggregate (an edge-list shuffle) re-executed per iteration
    out_deg = edges.groupBy(F.col(src).alias("vertex")).agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=True)
    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    prev_ckpt = None
    for i in range(n_iter):
        # the dangling-mass scalar rides the job that materializes the
        # checkpoint: one executed plan per iteration
        with_deg, got = checkpoint(
            ranks.join(out_deg, "vertex", "left"),
            dangling=F.coalesce(
                F.sum(F.when(F.col("deg").isNull(), F.col("rank"))),
                F.lit(0.0),
            ),
        )
        if prev_ckpt is not None:
            # The previous iteration's materialization is no longer
            # reachable once this one exists; free its blocks.
            prev_ckpt.unpersist()
        prev_ckpt = with_deg
        dangling = got["dangling"]
        contribs = (
            edges.join(
                with_deg.filter(F.col("deg").isNotNull()).withColumnRenamed(
                    "vertex", "__src"
                ),
                F.col(src) == F.col("__src"),
            )
            .select(
                F.col(dst).alias("vertex"),
                (F.col("rank") / F.col("deg")).alias("contrib"),
            )
            .groupBy("vertex")
            .agg(F.sum("contrib").alias("in_rank"))
        )
        base = (1.0 - damping) / n + damping * dangling / n
        ranks = (
            verts.join(contribs, "vertex", "left")
            .select(
                "vertex",
                (F.lit(base)
                 + F.lit(damping) * F.coalesce(F.col("in_rank"), F.lit(0.0))
                 ).alias("rank"),
            )
        )
    return ranks.select("vertex", F.round("rank", 8).alias("rank"))


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected co-purchase edges: distinct part pairs (a < b) appearing
    in the same order.  Built without a self-join: one groupBy collects the
    per-order part set (TPC-H caps line counts at 7, so arrays stay tiny)
    and an array-transform expression emits the ordered pairs in-place --
    one shuffle on l_orderkey plus the edge distinct, versus the three a
    distinct/self-join/distinct pipeline costs (measured 3x at sf0.1).
    """
    pairs = F.flatten(
        F.expr(
            "transform(ps, (x, i) -> "
            "transform(slice(ps, i + 2, size(ps)), "
            "y -> struct(x AS src, y AS dst)))"
        )
    )
    return (
        lineitem.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .select(F.explode(pairs).alias("p"))
        .select("p.src", "p.dst")
        .distinct()
    )


def triangle_participation(edges: DataFrame, k: int = 10) -> DataFrame:
    """Top-k vertices by triangle participation over an undirected edge
    list (edges normalized src < dst), via degree-oriented wedge
    enumeration -- the MapReduce-era scalable formulation (Suri & Vassilvitskii
    WWW'11 / Cohen's MGT): orient every edge from its lower-(degree, id)
    endpoint to the higher one, enumerate the out-wedges of each vertex,
    and close them against the oriented edge set.

    Why orientation matters at scale: naive key-ordered two-hop joins
    generate ``sum(deg^2)`` wedge candidates, which a single celebrity
    vertex turns into a quadratic hot key.  Orientation caps every
    vertex's out-degree at O(sqrt(m)) regardless of its true degree, so
    the wedge volume is bounded by O(m^1.5) TOTAL and the per-key group
    by the arboricity -- the skew-proof variant.  Each triangle is
    enumerated exactly once (from its lowest-ordered corner).

    Wedges are never materialized as rows: per-vertex out-neighbor
    ARRAYS (bounded at O(sqrt(m)) each by the orientation) are broadcast
    onto the oriented edge list and each edge (u, v) closes its
    triangles with one ``array_intersect(N+(u), N+(v))`` -- each
    triangle {x<y<z} is found exactly once, at its base edge (x, y),
    as z in the intersection.  Per-vertex attribution is a single
    explode of (u, t), (v, t), and one row per intersection member --
    output volume 2|E| + 3*|triangles|, versus the wedge formulation's
    O(m^1.5) intermediate rows through a join.  The oriented edge list
    is materialized once (it feeds the adjacency build and the probe);
    at production scale persist to parquet instead, and past broadcast
    reach drop the hint -- the adjacency join degrades to a shuffled
    hash join with the skew already neutralized by the orientation.
    The final top-k is a TakeOrderedAndProject over per-vertex counts.
    """
    deg = (
        edges.select(F.col("src").alias("v"))
        .unionAll(edges.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # build side chosen deliberately (the edge input is typically a
    # checkpointed RDD with no size statistics, and the planner was
    # observed broadcasting the EDGE LIST -- the big side -- instead):
    # deg is one row per vertex, strictly smaller than the adjacency
    # arrays this function already broadcasts below, so it shares their
    # posture; past broadcast reach drop both hints together and the
    # joins degrade to shuffled joins on uniformly-hashed vertex ids.
    with_deg = (
        edges.join(F.broadcast(deg.withColumnRenamed("v", "src")), "src")
        .withColumnRenamed("deg", "deg_src")
        .join(F.broadcast(deg.withColumnRenamed("v", "dst")), "dst")
        .withColumnRenamed("deg", "deg_dst")
    )
    fwd = F.struct(F.col("deg_src"), F.col("src")) < F.struct(
        F.col("deg_dst"), F.col("dst")
    )
    oriented = (
        with_deg.select(
            F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
            F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    e = (
        oriented.join(
            F.broadcast(adj.select("u", F.col("nbrs").alias("nu"))), "u"
        )
        .join(
            F.broadcast(
                adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv"))
            ),
            "v",
            "left",  # v may have no out-neighbors
        )
        .withColumn(
            "common",
            F.array_intersect("nu", F.coalesce("nv", F.array().cast("array<bigint>"))),
        )
    )
    t = F.size("common")
    empty = F.array().cast("array<struct<vertex:bigint,n:bigint>>")
    contrib = F.when(
        t > 0,
        F.concat(
            F.transform(
                F.array("u", "v"),
                lambda x: F.struct(
                    x.cast("bigint").alias("vertex"), t.cast("bigint").alias("n")
                ),
            ),
            F.transform(
                "common",
                lambda w: F.struct(
                    w.cast("bigint").alias("vertex"),
                    F.lit(1).cast("bigint").alias("n"),
                ),
            ),
        ),
    ).otherwise(empty)
    return (
        e.select(F.explode(contrib).alias("c"))
        .groupBy(F.col("c.vertex").alias("vertex"))
        .agg(F.sum("c.n").cast("long").alias("triangles"))
        .orderBy(F.desc("triangles"), F.asc("vertex"))
        .limit(k)
    )


def bfs_distances(
    edges: DataFrame,
    source: int | None = None,
    max_hops: int = 4,
) -> DataFrame:
    """Hop distances from ``source`` over an undirected edge list, by
    frontier-expanding BFS -- the iterative-join pattern shared with
    :func:`pagerank` and ``dedup.connected_components`` (per-round
    localCheckpoint truncates lineage so round N never re-executes rounds
    1..N-1).

    ``source`` defaults to the smallest vertex id (deterministic).  Each
    round joins only the NEW frontier against the edge list -- the
    frontier is broadcast while it is small (it is, for the hop counts
    that matter) and the anti-join against settled vertices keeps the
    per-round work proportional to the unvisited boundary, so total work
    is O(hops * m) worst case, not O(hops * visited).
    """
    bi, got = checkpoint(
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
        min_src=F.min("src"),
    )
    if source is None:
        source = got["min_src"]
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(source), 0)], "vertex long, hops int"
    ).localCheckpoint(eager=True)

    def expand(state):
        # the frontier-size probe rides the checkpoint job (one executed
        # job per hop); the accumulated distance table is a lazy union of
        # ALREADY-materialized frontiers -- re-checkpointing the growing
        # union every hop would rewrite all settled vertices per round
        # for no lineage benefit
        dist, frontier, hop = state
        nxt, got = checkpoint(
            bi.join(
                F.broadcast(frontier.select(F.col("vertex").alias("src"))), "src"
            )
            .select(F.col("dst").alias("vertex"))
            .distinct()
            .join(dist.select("vertex"), "vertex", "left_anti")
            .withColumn("hops", F.lit(hop)),
            n=F.count(F.lit(1)),
        )
        if got["n"] == 0:
            return state, True
        return (dist.unionAll(nxt), nxt, hop + 1), False

    dist, _, _ = fixpoint(expand, (dist, dist, 1), max_hops)
    return dist.orderBy("hops", "vertex")


def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007), made deterministic and oscillation-damped: every vertex
    adopts the most frequent label among its neighbors PLUS ITSELF, ties
    broken by the smallest label.  Including the self-label is the
    standard damping for the bipartite flip-flop of synchronous LPA, and
    the (count desc, label asc) vote makes every round a pure function of
    the previous labeling -- no rand(), reproducible at any partitioning.

    Scale: one round = one join of the label table against the edge list
    (vertex-keyed, high cardinality) + a (vertex, label) count + a
    min-struct argmax -- all shuffle-partitioned on vertex; lineage is cut
    per round with localCheckpoint exactly as pagerank/BFS do.  Returns
    (community, size, representative=min member) per community.
    """
    bi = (
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = (
        bi.select(F.col("src").alias("vertex"))
        .distinct()
        .withColumn("label", F.col("vertex"))
        .localCheckpoint(eager=True)
    )
    prev = None
    for _ in range(n_iter):
        neighbor_votes = bi.join(
            labels.withColumnRenamed("vertex", "dst"), "dst"
        ).select(F.col("src").alias("vertex"), "label")
        votes = (
            neighbor_votes.unionAll(labels.select("vertex", "label"))
            .groupBy("vertex", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        new_labels, _ = checkpoint(
            votes.groupBy("vertex")
            .agg(F.min(F.struct((-F.col("n")).alias("neg"),
                                F.col("label").alias("l"))).alias("best")),
            "vertex", F.col("best.l").alias("label"),
        )
        if prev is not None:
            prev.unpersist()
        prev = labels
        labels = new_labels
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("size"),
            F.min("vertex").alias("representative"),
        )
        .orderBy(F.desc("size"), F.asc("community"))
    )


def sssp(
    edges: DataFrame,
    source: int | None = None,
    weight_col: str = "weight",
    max_iter: int = 10,
) -> DataFrame:
    """Single-source shortest paths over a weighted undirected edge list
    by distributed Bellman-Ford: each round relaxes every edge out of the
    current distance table (one vertex-keyed join + a min-combine), stops
    early when a round improves nothing.  Negative weights are rejected
    (undirected negative edges make shortest paths undefined).

    Scale: FRONTIER relaxation, the BFS posture applied to Bellman-Ford
    -- each round relaxes only the edges out of vertices whose distance
    strictly decreased last round (round k's table is the min over <= k
    hop paths either way: an improvement at round k must extend a vertex
    improved at round k-1, so the per-round tables are identical to
    full-edge relaxation, row for row).  The join and the min-combine
    shuffle therefore shrink with the frontier instead of staying
    O(|E|) per round.  The min-combine is a partial-aggregated groupBy
    carrying the node's previous distance through the SAME aggregate (a
    tagged union row), so the improved-distance convergence probe rides
    the checkpoint job via ``observe`` with no second join -- one
    exchange, one executed job per iteration.  The distance table is
    localCheckpoint-ed per round so round N never replays rounds 1..N-1.
    Rounds needed = shortest-path hop diameter, not |V|; if ``max_iter``
    rounds pass without reaching the fixpoint a warning is logged
    (distances are then upper bounds, not final).
    """
    # the negative-weight validation and the min-vertex default ride the
    # one job that materializes the bidirectional edge list
    bi, got = checkpoint(
        edges.select("src", "dst", weight_col)
        .unionAll(
            edges.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                weight_col,
            )
        ),
        min_w=F.coalesce(F.min(weight_col), F.lit(0.0)),
        min_src=F.min("src"),
    )
    if got["min_w"] < 0:
        raise ValueError("sssp requires non-negative weights")
    if source is None:
        source = got["min_src"]
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(source), 0.0, True)], "vertex long, dist double, imp boolean"
    ).localCheckpoint(eager=True)

    def relax(dist):
        relaxed = (
            bi.join(
                dist.filter("imp")
                .select(F.col("vertex").alias("src"), "dist"),
                "src",
            )
            .select(
                F.col("dst").alias("vertex"),
                (F.col("dist") + F.col(weight_col)).alias("dist"),
            )
        )
        # the node's previous distance rides the union as a tagged row
        # and comes back out of the SAME min-combine aggregate (each
        # vertex has at most one tagged row), so the improvement probe
        # needs no second join against the distance table -- one
        # exchange per round instead of two.  The carried ``imp`` flag
        # marks ANY strict decrease (no epsilon): sub-epsilon float
        # improvements still enter the next frontier, so the evolving
        # table matches full-edge relaxation bit for bit; the epsilon
        # stays on the STOP probe only.
        d, prev = F.col("dist"), F.col("__prev")
        new, got = checkpoint(
            dist.select("vertex", "dist", F.lit(True).alias("__old"))
            .unionByName(
                relaxed.select("vertex", "dist", F.lit(False).alias("__old"))
            )
            .groupBy("vertex")
            .agg(
                F.min("dist").alias("dist"),
                F.min(F.when(F.col("__old"), F.col("dist"))).alias("__prev"),
            ),
            "vertex", "dist", (prev.isNull() | (d < prev)).alias("imp"),
            improved=F.sum(
                F.when(prev.isNull() | (d < prev - 1e-12), 1).otherwise(0)
            ),
        )
        dist.unpersist()
        return new, got["improved"] == 0

    dist = fixpoint(
        relax, dist, max_iter,
        "sssp distances are upper bounds, not final (raise max_iter to "
        "cover the graph's hop diameter)",
    )
    return dist.select("vertex", F.round("dist", 6).alias("dist")).orderBy(
        "dist", "vertex"
    )


def kcore(
    edges: DataFrame,
    k: int = 3,
    max_iter: int = 20,
) -> DataFrame:
    """The k-core of an undirected graph: iteratively peel vertices of
    degree < k until none remain (Seidman 1983) -- the standard dense-
    subgraph extraction (spam rings, tight duplicate neighborhoods,
    community cores).  Returns surviving (vertex, core_degree).

    Scale: each peel round is one degree aggregate plus two semi-joins
    filtering the edge list to surviving endpoints -- all vertex-keyed,
    checkpoint-cut like the other fixpoint operators.  The fixpoint test
    rides the peel job itself via ``observe`` (directed-edge count
    unchanged <=> no vertex peeled <=> every survivor has degree >= k),
    so each round executes exactly ONE job -- no separate low-degree
    probe.  Rounds are bounded by the peel depth (graph degeneracy
    ordering length), far below |V| in practice; the edge list only ever
    shrinks.  If ``max_iter`` rounds pass without reaching the fixpoint
    a warning is logged (the result may then contain vertices outside
    the true k-core).
    """
    bi, got = checkpoint(
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
        m=F.count(F.lit(1)),
    )

    def peel(state):
        cur, m = state
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        nxt, got = checkpoint(
            cur.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi"),
            m=F.count(F.lit(1)),
        )
        if cur is not bi:
            cur.unpersist()
        return (nxt, got["m"]), got["m"] in (m, 0)

    cur = bi
    if got["m"]:
        cur, _ = fixpoint(
            peel, (bi, got["m"]), max_iter,
            f"the kcore result may include vertices outside the true "
            f"{k}-core (raise max_iter to cover the graph's peel depth)",
        )
    return (
        cur.groupBy(F.col("src").alias("vertex"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .filter(F.col("core_degree") >= k)
        .orderBy("vertex")
    )
