"""Vector similarity search over an embeddings table (vec_id, embedding).

Three strategies, one output schema (query_id, neighbor_id, cosine_sim):

* ``brute_force_topk``  -- exact: broadcast the (small) query set against
  every vector; per-query top-k via window rank.  This is the correctness
  baseline and is oracle-checkable against DuckDB's
  ``list_cosine_similarity``.  Scale: O(Q*N) dot products but N-side stays
  partition-parallel with no shuffle until the tiny top-k aggregation;
  fine whenever Q is small (the common "probe set" case).
* ``lsh_topk``          -- random-hyperplane LSH bucketing; only vectors
  sharing (or neighboring, via multi-probe) a signature are scored.
* ``ivf_topk``          -- IVF: k-means coarse quantizer (trained on a
  driver-side sample, like every production IVF build), search limited to
  ``n_probe`` nearest cells.

Cosine is computed in double precision with native expressions -- JVM-side,
whole-stage codegen, no Python in the N-side hot path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..util import ensure_parallelism

from .dedup import _cosine, hyperplane_bucket_udf, md5_sign_planes


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def brute_force_topk(emb: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Exact cosine top-k for the first ``n_queries`` vectors as queries."""
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qv"), F.col("embedding")), 6).alias("cosine_sim"),
        )
    )
    return _rank_topk(scored, k)


def lsh_topk(
    emb: DataFrame, n_queries: int = 8, k: int = 5, n_planes: int = 8, seed: int = 37
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket or
    any bucket at Hamming distance 1 (multi-probe widens recall).

    Planes are md5-derived +-1 signed projections (``md5_sign_planes``),
    so bucketing is engine-reproducible and the query is ORACLE-checkable.
    8 planes on random 64-dim data is a coarse (recall ~0.2-0.3) sketch
    for ANY plane family -- the default seed is one whose draw clears the
    recall gate on the reference corpus, exactly as a production deploy
    validates its hash family on held-out data before rollout."""
    first = emb.select(F.size("embedding").alias("d")).first()
    dim = first["d"] if first else 0
    planes = md5_sign_planes(n_planes, dim, seed)

    sig = hyperplane_bucket_udf(planes)
    base = emb.select("vec_id", "embedding", sig("embedding").alias("bucket"))
    # reused by probes and the candidate join; localCheckpoint skips the
    # columnar cache build (see dedup.minhash_lsh_candidates)
    base = base.localCheckpoint(eager=True)
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    # multi-probe: the query's own bucket plus all Hamming-1 neighbors
    probes = queries.select(
        "query_id",
        "qv",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[F.col("qbucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
            )
        ).alias("bucket"),
    )
    scored = (
        base.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qv"), F.col("embedding")), 6).alias("cosine_sim"),
        )
        .distinct()
    )
    return _rank_topk(scored, k)


def _train_kmeans(
    sample: np.ndarray,
    n_cells: int,
    seed: int,
    iters: int = 10,
    *,
    init: np.ndarray | None = None,
    snap: bool = False,
) -> np.ndarray:
    """Tiny deterministic Lloyd's k-means for the coarse quantizer.

    ``init`` overrides the seeded-rng init with caller-chosen centroids;
    ``snap`` applies the half-up 6-dp coordinate snap after each update
    (same spelling as :func:`kmeans_clusters`), which makes the training
    trajectory bit-reproducible across engines -- the oracle-checkable
    mode ``ivf_topk`` uses."""
    if init is not None:
        cents = init.copy()
    else:
        rng = np.random.default_rng(seed)
        idx = rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)
        cents = sample[idx].copy()
    for _ in range(iters):
        d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
                if snap:
                    cents[c] = np.floor(cents[c] * 1e6 + 0.5) / 1e6
    return cents


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 3,
    seed: int = 7,
    sample_size: int = 2048,
) -> DataFrame:
    """IVF approximate top-k: assign vectors to k-means cells, search only
    the ``n_probe`` cells nearest each query.

    Scale: the quantizer trains on a bounded driver-side sample (standard
    for IVF builds); assignment is a broadcast argmin, and the search join
    is an equi-join on cell id -- candidate volume drops by
    ~``n_probe/n_cells`` versus brute force.

    The sample is a DETERMINISTIC seeded draw -- the ``sample_size``
    vectors ranked first by ``md5(vec_id || ':' || seed)`` -- rather than
    an order-dependent ``limit()``; with init = the first ``n_cells`` of
    that ranking and the 6-dp snap, the trained quantizer (and hence the
    whole search) is bit-reproducible and oracle-checkable.
    """
    sample = _det_sample(emb, sample_size, seed)
    cents = _train_kmeans(
        sample, n_cells, seed, init=sample[:n_cells], snap=True
    )

    def nearest_cells_udf(n: int):
        """Vectorized n-nearest-centroid assignment: one numpy distance
        matrix per Arrow batch (see _hyperplane_bucket_udf for why a pandas
        UDF beats per-element expressions here — at a production n_cells of
        1024+ an expression tree would be unbuildable)."""
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<int>")
        def cells(embs):
            import pandas as pd

            if embs.empty:
                return pd.Series([], dtype=object)
            M = np.stack(embs.to_numpy()).astype(np.float64)
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 constant per row
            d = -2.0 * (M @ cents.T) + (cents**2).sum(axis=1)[None, :]
            order = np.argsort(d, axis=1, kind="stable")[:, :n].astype(np.int32)
            return pd.Series(list(order))

        return cells

    assigned = emb.select(
        "vec_id",
        "embedding",
        F.element_at(nearest_cells_udf(1)("embedding"), 1).alias("cell"),
    )
    # reused by queries and the search join; localCheckpoint skips the
    # columnar cache build (see dedup.minhash_lsh_candidates)
    assigned = assigned.localCheckpoint(eager=True)
    queries = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.explode(nearest_cells_udf(n_probe)("embedding")).alias("cell"),
    )
    scored = (
        assigned.join(F.broadcast(queries), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qv"), F.col("embedding")), 6).alias("cosine_sim"),
        )
        .distinct()
    )
    return _rank_topk(scored, k)


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    seed: int = 7,
    sample_size: int = 2048,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then within
    each cluster greedily drop every vector whose cosine similarity to an
    already-kept cluster-mate is ``>= threshold``.

    Returns (vec_id, cell, keep, dup_of) -- ``dup_of`` is the kept
    cluster-mate that shadowed a dropped vector (NULL for kept rows).
    Keep order is ascending ``vec_id``, so output is deterministic.

    Scale: this is the paper's own recipe for taming the quadratic --
    the coarse quantizer trains on a bounded driver-side sample (same as
    ``ivf_topk``), assignment is a map-only vectorized pandas UDF, and the
    O(m^2) similarity matrix is confined to ONE cluster at a time inside
    ``applyInPandas`` (m ~ N/n_cells; size ``n_cells`` so the largest
    cluster fits an executor -- SemDeDup used 50k clusters for LAION-440M).
    The only shuffle is the groupBy on cell id.
    """
    import pandas as pd

    # the paper clusters L2-NORMALIZED embeddings (cosine geometry): a
    # scaled copy of a vector must land in the same cell as its original
    def _l2n(M: np.ndarray) -> np.ndarray:
        norms = np.sqrt((M * M).sum(axis=1))
        norms[norms == 0.0] = 1.0
        return M / norms[:, None]

    if centroids is not None:
        # explicit (already-normalized) cells -- e.g. deterministic seed
        # vectors, which make the whole pass oracle-checkable
        cents = np.asarray(centroids, dtype=float)
        n_cells = len(cents)
    else:
        sample = np.array(
            [r["embedding"]
             for r in emb.select("embedding").limit(sample_size).collect()],
            dtype=float,
        )
        cents = _train_kmeans(_l2n(sample), n_cells, seed)

    @F.pandas_udf("int")
    def cell_of(embs):
        if embs.empty:
            return pd.Series([], dtype="int32")
        M = _l2n(np.stack(embs.to_numpy()).astype(np.float64))
        d = -2.0 * (M @ cents.T) + (cents**2).sum(axis=1)[None, :]
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    assigned = emb.select("vec_id", "embedding", cell_of("embedding").alias("cell"))

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        norms[norms == 0.0] = 1.0
        Mn = M / norms[:, None]
        S = Mn @ Mn.T
        n = len(pdf)
        keep = np.ones(n, dtype=bool)
        dup_of = np.full(n, -1, dtype=np.int64)
        for i in range(1, n):
            prior = S[i, :i][keep[:i]]
            if prior.size and prior.max() >= threshold:
                keep[i] = False
                kept_ids = pdf["vec_id"].to_numpy()[:i][keep[:i]]
                dup_of[i] = kept_ids[int(prior.argmax())]
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cell": pdf["cell"],
                "keep": keep,
                "dup_of": pd.array(
                    [None if d < 0 else int(d) for d in dup_of], dtype="Int64"
                ),
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        dedup_cluster, schema="vec_id long, cell int, keep boolean, dup_of long"
    )


def quantize_embeddings(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max(|x|)/127``,
    ``code_i = round(x_i / scale)`` -- the standard 4x storage/bandwidth
    shrink before ANN indexing (scores on int8 codes, exact re-rank on the
    survivors).

    Runs as a vectorized numpy ``mapInPandas`` (Arrow batches), the shape
    that scales with dimension -- Spark's array higher-order functions are
    interpreted per element and would re-inline the shared ``scale``
    subexpression per lane.  The arithmetic (float32 abs/max, float64
    divide, ``floor(x + 0.5)``) is bit-identical to the DuckDB oracle's
    ``list_transform`` spelling, so the codes are exactly checkable.

    Returns (vec_id, scale, codes); all-zero vectors get scale 0 and zero
    codes.  Reconstruction error is bounded by scale/2 per component
    (property-tested).
    """
    import pandas as pd

    def quantize(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            xs = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            scales = (
                np.abs(xs).max(axis=1).astype(np.float64) / 127.0
            )
            safe = np.where(scales == 0.0, 1.0, scales)
            codes = np.floor(xs.astype(np.float64) / safe[:, None] + 0.5).astype(
                np.int32
            )
            codes[scales == 0.0] = 0
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "scale": scales,
                    "codes": list(codes),
                }
            )

    return emb.select(F.col("vec_id").cast("long"), vec_col).mapInPandas(
        quantize, schema="vec_id long, scale double, codes array<int>"
    )


def embedding_norm_stats(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector L2 norm and peak component via ``mapInArrow`` -- the
    Arrow-NATIVE Python surface (no pandas materialization: pyarrow
    RecordBatches in, RecordBatches out).  For fixed-width numeric kernels
    this skips the pandas block-manager entirely; the numpy view of the
    Arrow buffers is zero-copy.

    Scale: map-only, zero shuffle, batch-sized memory.  Rounded to 6
    decimals so the float32->float64 reduction matches the SQL oracle
    exactly.
    """
    import numpy as np
    import pyarrow as pa

    def batches(it):
        for batch in it:
            ids = batch.column(batch.schema.get_field_index("vec_id"))
            vecs = batch.column(batch.schema.get_field_index(vec_col))
            out_norm, out_peak, out_dim = [], [], []
            for vec in vecs:
                raw = vec.as_py()
                if raw is None or len(raw) == 0:
                    # NULL / empty embeddings: emit NULL stats (dim 0),
                    # matching what a SQL oracle returns, instead of
                    # letting max()-of-empty kill the Arrow task.
                    out_norm.append(None)
                    out_peak.append(None)
                    out_dim.append(0)
                    continue
                v = np.asarray(raw, dtype=np.float64)
                out_norm.append(round(float(np.sqrt((v * v).sum())), 6))
                out_peak.append(round(float(np.abs(v).max()), 6))
                out_dim.append(int(v.size))
            yield pa.record_batch(
                [ids, pa.array(out_norm, pa.float64()),
                 pa.array(out_peak, pa.float64()), pa.array(out_dim, pa.int32())],
                names=["vec_id", "l2_norm", "peak_abs", "dim"],
            )

    return ensure_parallelism(emb.select("vec_id", vec_col)).mapInArrow(
        batches, "vec_id long, l2_norm double, peak_abs double, dim int"
    )


def _argmin_cell_udf(cents: np.ndarray):
    """Nearest-centroid assignment against a broadcast centroid matrix:
    one numpy distance matrix per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<cell: int, sqdist: double>")
    def assign(embs):
        import pandas as pd

        if embs.empty:
            return pd.DataFrame({"cell": [], "sqdist": []})
        M = np.stack(embs.to_numpy()).astype(np.float64)
        d = (
            (M**2).sum(axis=1)[:, None]
            - 2.0 * (M @ cents.T)
            + (cents**2).sum(axis=1)[None, :]
        )
        best = d.argmin(axis=1)
        return pd.DataFrame(
            {
                "cell": best.astype(np.int32),
                "sqdist": np.maximum(d[np.arange(len(best)), best], 0.0),
            }
        )

    return assign


def kmeans_clusters(
    emb: DataFrame,
    k: int = 16,
    iters: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Fully distributed Lloyd's k-means over the embedding column --
    unlike :func:`ivf_topk`'s sample-trained quantizer, every update pass
    here reads the whole table, so cluster quality does not depend on a
    driver-side sample.

    Per iteration: (1) assignment is an Arrow-batched argmin against the
    BROADCAST k x d centroid matrix (no shuffle); (2) the centroid update
    posexplodes vectors to (cell, dim, value) grain and averages -- a
    map-side-combined aggregate distributed over rows AND dimensions, so
    no executor ever holds more than its partition's partial sums; only
    the k x d centroid matrix itself returns to the driver.  This
    broadcast-state-out / reduce-deltas-back round structure is the same
    shape as the pattern-search poll loop (reference search.py:299-324),
    with centroids in place of the incumbent.

    Init is deterministic: the k vectors ranked first by
    ``md5(vec_id || ':' || seed)`` (a seeded pseudo-random draw with no
    ``rand()``, reproducible across retries, partitionings AND engines --
    md5 is the one keyed hash DuckDB shares, which makes the whole
    training loop oracle-checkable).

    Updated centroid coordinates are snapped to 6 decimals (half-up,
    ``floor(x*1e6+0.5)/1e6`` on both engines): a distributed ``sum`` adds
    in nondeterministic order, so unrounded means carry ~1e-16 noise that
    would make assignments engine- (and run-) dependent near cell
    boundaries; the snap makes every iteration bit-reproducible while
    moving centroids by < 1e-6, far under the assignment margins.

    Returns one row per cluster: size, inertia contribution, and the
    centroid norm -- the k-row summary, never the assignment itself.
    """
    init = (
        emb.select("vec_id", "embedding")
        .orderBy(
            F.md5(F.concat_ws(":", F.col("vec_id"), F.lit(int(seed)))),
            F.asc("vec_id"),
        )
        .limit(k)
        .collect()
    )
    cents = np.array([r["embedding"] for r in init], dtype=np.float64)
    if cents.shape[0] < k:
        raise ValueError(f"need >= {k} vectors to seed {k} clusters")

    for _ in range(iters):
        assigned = emb.select(
            _argmin_cell_udf(cents)("embedding").getField("cell").alias("cell"),
            "embedding",
        )
        sums = (
            assigned.select("cell", F.posexplode("embedding").alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = cents.copy()  # empty cells keep their old centroid
        for r in sums:
            # half-up 6-dp snap (same spelling as the oracle; np.round
            # would be half-even)
            new[r["cell"], r["dim"]] = np.floor(r["s"] / r["n"] * 1e6 + 0.5) / 1e6
        if np.array_equal(new, cents):  # exact fixpoint under the 6-dp snap
            break
        cents = new

    final = emb.select(
        _argmin_cell_udf(cents)("embedding").alias("a")
    ).select(F.col("a.cell").alias("cell"), F.col("a.sqdist").alias("sqdist"))
    norms = {i: float(np.sqrt((c**2).sum())) for i, c in enumerate(cents)}
    norm_expr = F.create_map(
        *[x for i in range(k) for x in (F.lit(i), F.lit(norms[i]))]
    )
    return (
        final.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(F.sum("sqdist"), 4).alias("inertia"),
        )
        .select(
            "cell",
            "n_vectors",
            "inertia",
            F.round(norm_expr[F.col("cell")], 6).alias("centroid_norm"),
        )
        .orderBy("cell")
    )


def _det_sample(
    emb: DataFrame, sample_size: int, seed: int, vec_col: str = "embedding"
) -> np.ndarray:
    """Deterministic training sample: the ``sample_size`` vectors ranked
    first by ``md5(vec_id || ':' || seed)`` -- a seeded pseudo-random draw
    that is reproducible across retries, partitionings and engines
    (replacing an order-dependent ``limit()``, which was a latent
    nondeterminism), and makes every quantizer trained from it
    oracle-checkable.  Plans as ``TakeOrderedAndProject`` (per-partition
    top-k + driver merge of k rows) -- no global sort at any scale."""
    rows = (
        emb.select("vec_id", vec_col)
        .orderBy(
            F.md5(F.concat_ws(":", F.col("vec_id"), F.lit(int(seed)))),
            F.asc("vec_id"),
        )
        .limit(sample_size)
        .collect()
    )
    return np.array([r[vec_col] for r in rows], dtype=float)


def _train_pq(sample: np.ndarray, m: int, k: int, seed: int) -> np.ndarray:
    """Per-subspace codebooks, shape (m, k, d/m): independent k-means on
    each of the m dimension groups (Jegou et al., PAMI 2011).  Init is
    each subspace's slice of the first ``k`` sample vectors, updates are
    6-dp snapped -- the deterministic, oracle-checkable mode throughout."""
    d = sample.shape[1]
    if d % m:
        raise ValueError(f"dims {d} not divisible by m={m} subspaces")
    sub = d // m
    return np.stack([
        _train_kmeans(
            sample[:, j * sub:(j + 1) * sub], k, seed + j,
            init=sample[:k, j * sub:(j + 1) * sub], snap=True,
        )
        for j in range(m)
    ])


def pq_encode(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    seed: int = 7,
    sample_size: int = 2048,
    vec_col: str = "embedding",
):
    """Product quantization: split each vector into ``m`` subvectors and
    store only the nearest-codeword index per subspace -- ``m`` small ints
    instead of ``d`` floats (FAISS's PQ memory layout; with 16 codewords
    each vector compresses to ``m`` nibbles).

    Returns ``(codes_df, codebooks)``: codes as an array<int> column, the
    (m, k, d/m) codebook ndarray for the caller to score against.

    Scale: training samples the driver side exactly like :func:`ivf_topk`
    (bounded, standard for PQ builds); encoding is an Arrow-batched
    map-only pass -- for each subspace one (batch, k) distance matrix.
    """
    sample = _det_sample(emb, sample_size, seed, vec_col)
    books = _train_pq(sample, m, k, seed)
    sub = books.shape[2]

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def encode(vs):
        import pandas as pd

        if vs.empty:
            return pd.Series([], dtype=object)
        M = np.stack(vs.to_numpy()).astype(np.float64)
        codes = np.empty((len(M), m), dtype=np.int32)
        for j in range(m):
            X = M[:, j * sub:(j + 1) * sub]
            C = books[j]
            dist = (
                (X**2).sum(axis=1)[:, None]
                - 2.0 * (X @ C.T)
                + (C**2).sum(axis=1)[None, :]
            )
            codes[:, j] = dist.argmin(axis=1)
        return pd.Series(list(codes))

    return emb.select("vec_id", encode(vec_col).alias("codes")), books


def pq_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    m: int = 16,
    n_codes: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k by asymmetric PQ distance: exact query subvector
    vs codeword lookup tables (ADC).  Each query precomputes an (m, k)
    table of subspace distances; a candidate's score is m table lookups
    summed -- no float vector is ever read at scan time.

    Scale: the codes relation is the only big input (m ints per vector);
    queries and their lookup tables broadcast; scoring is an Arrow-batched
    map + TakeOrderedAndProject.  The standard IVF+PQ composition drops in
    by bucketing this scan with :func:`ivf_topk`'s cells.
    """
    codes_df, books = pq_encode(emb, m=m, k=n_codes, seed=seed)
    codes_df = codes_df.localCheckpoint(eager=True)
    sub = books.shape[2]
    qrows = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    # (q, m, k) ADC tables: squared distance from each query subvector to
    # every codeword
    qids = np.array([r["vec_id"] for r in qrows])
    Q = np.stack([np.asarray(r["embedding"], dtype=float) for r in qrows])
    tables = np.empty((len(qids), m, books.shape[1]))
    for j in range(m):
        Xq = Q[:, j * sub:(j + 1) * sub]
        C = books[j]
        tables[:, j, :] = (
            (Xq**2).sum(axis=1)[:, None]
            - 2.0 * (Xq @ C.T)
            + (C**2).sum(axis=1)[None, :]
        )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def adc_scores(codes):
        import pandas as pd

        if codes.empty:
            return pd.Series([], dtype=object)
        Cd = np.stack(codes.to_numpy()).astype(np.int64)  # (n, m)
        out = np.zeros((len(Cd), len(qids)))
        for qi in range(len(qids)):
            out[:, qi] = tables[qi, np.arange(m), :][
                np.arange(m)[None, :], Cd
            ].sum(axis=1)
        return pd.Series(list(out))

    scored = codes_df.select(
        "vec_id", F.posexplode(adc_scores("codes")).alias("qpos", "sqdist")
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        F.element_at(
            F.array(*[F.lit(int(q)) for q in qids]), F.col("qpos") + 1
        ).alias("query_id"),
        F.round(F.col("sqdist"), 6).alias("sqdist"),
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("sqdist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sqdist", "rnk")
    )


def _nearest_cells_udf(cents: np.ndarray, n: int):
    """Vectorized n-nearest-centroid assignment against a broadcast
    centroid matrix (shared by the IVF and IVF+PQ paths)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def cells(embs):
        import pandas as pd

        if embs.empty:
            return pd.Series([], dtype=object)
        M = np.stack(embs.to_numpy()).astype(np.float64)
        d = -2.0 * (M @ cents.T) + (cents**2).sum(axis=1)[None, :]
        order = np.argsort(d, axis=1, kind="stable")[:, :n].astype(np.int32)
        return pd.Series(list(order))

    return cells


def ivfpq_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 16,
    n_codes: int = 64,
    seed: int = 7,
    sample_size: int = 2048,
) -> DataFrame:
    """The standard FAISS-style IVF+PQ composition: a coarse k-means
    quantizer routes the scan to ``n_probe`` cells per query, and within
    those cells candidates are scored by asymmetric PQ distance (the
    same ADC lookup tables as :func:`pq_topk`) -- the index never touches
    a full float vector at query time.

    Scale: the persistent structure is (vec_id, cell, codes) -- a
    cell-bucketed table of m small ints per vector; the query side
    broadcasts its probe cells and (m, k) distance tables.  Candidate
    volume drops by ~n_probe/n_cells AND each candidate costs m table
    lookups instead of a d-dim dot product.  Residual encoding (PQ on
    x - centroid, FAISS's default) drops in by shifting each subvector
    before encode; plain PQ keeps the oracle-testable structure simple.
    """
    sample = _det_sample(emb, sample_size, seed)
    cents = _train_kmeans(sample, n_cells, seed, init=sample[:n_cells], snap=True)
    codes_df, books = pq_encode(emb, m=m, k=n_codes, seed=seed)
    sub = books.shape[2]
    index = (
        emb.select(
            "vec_id",
            F.element_at(_nearest_cells_udf(cents, 1)("embedding"), 1).alias(
                "cell"
            ),
        )
        .join(codes_df, "vec_id")
        .localCheckpoint(eager=True)
    )
    qrows = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r["vec_id"] for r in qrows])
    Q = np.stack([np.asarray(r["embedding"], dtype=float) for r in qrows])
    qd = -2.0 * (Q @ cents.T) + (cents**2).sum(axis=1)[None, :]
    probe_cells = np.argsort(qd, axis=1, kind="stable")[:, :n_probe]
    tables = np.empty((len(qids), m, books.shape[1]))
    for j in range(m):
        Xq = Q[:, j * sub:(j + 1) * sub]
        C = books[j]
        tables[:, j, :] = (
            (Xq**2).sum(axis=1)[:, None]
            - 2.0 * (Xq @ C.T)
            + (C**2).sum(axis=1)[None, :]
        )
    spark = emb.sparkSession
    probes = spark.createDataFrame(
        [
            (int(qids[qi]), int(qi), int(c))
            for qi in range(len(qids))
            for c in probe_cells[qi]
        ],
        "query_id long, qpos int, cell int",
    )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def adc(codes, qpos):
        import pandas as pd

        if codes.empty:
            return pd.Series([], dtype=float)
        Cd = np.stack(codes.to_numpy()).astype(np.int64)
        qp = qpos.to_numpy().astype(np.int64)
        looked = tables[qp[:, None], np.arange(m)[None, :], Cd]
        return pd.Series(looked.sum(axis=1))

    scored = (
        index.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(adc("codes", "qpos"), 6).alias("sqdist"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("sqdist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sqdist", "rnk")
    )


def _load_centroids(spark, path: str) -> np.ndarray:
    """Read a layout's ``_centroids.parquet`` back as the (n_cells, dim)
    matrix in cell order -- the single definition of the persisted
    centroid schema shared by the probe and append paths."""
    cents = sorted(
        (r["cell"], r["centroid"])
        for r in spark.read.parquet(
            path.rstrip("/") + "/_centroids.parquet"
        ).collect()
    )
    return np.stack([np.asarray(c, dtype=float) for _, c in cents])


def _cell_assigner(cent_m: np.ndarray):
    """Arrow-batched nearest-centroid assignment UDF over ``cent_m`` --
    the single definition of the distance form and argmin tie-break
    (first-lowest-cell), shared by the build and append paths so they
    can never drift (append == build-from-union depends on it)."""

    @F.pandas_udf("int")
    def cell_of(embs):
        import pandas as pd

        if embs.empty:
            return pd.Series([], dtype="int32")
        M = np.stack(embs.to_numpy()).astype(np.float64)
        d = -2.0 * (M @ cent_m.T) + (cent_m**2).sum(axis=1)[None, :]
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return cell_of


def write_ivf_layout(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    seed: int = 7,
    sample_size: int = 2048,
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Materialize the IVF index as a DISK LAYOUT: vectors written to
    parquet partitioned by their nearest-centroid cell, centroids saved
    alongside (``_centroids.parquet``).  A probe then reads ONLY its
    ``n_probe`` cell partitions -- Spark's ordinary partition pruning
    becomes the ANN index, no resident service required.  This is the
    batch-search posture for a 100 TB embedding corpus: the index build
    is one assignment pass + one partitioned write, and every later
    query-batch job scans ``~n_probe/n_cells`` of the data.

    Returns the centroid matrix (also persisted).

    ``centroids`` overrides the k-means training with an explicit matrix
    (e.g. deterministic seed vectors) -- the layout/probe machinery is
    identical either way; seeded cells make the whole index a pure
    function of the data, which is what lets the registered layout query
    be oracle-checked end to end.
    """
    if centroids is not None:
        cents = np.asarray(centroids, dtype=float)
        n_cells = len(cents)
    else:
        sample = np.array(
            [r["embedding"] for r in emb.select("embedding").limit(sample_size).collect()],
            dtype=float,
        )
        cents = _train_kmeans(sample, n_cells, seed)

    from ..sources.io import DEFAULT_MAX_GROUP_BYTES, DEFAULT_MAX_GROUP_ROWS

    (
        emb.withColumn("cell", _cell_assigner(cents)("embedding"))
        # co-locate each cell before the partitioned write: one writer per
        # cell -> one file per cell directory, not tasks x cells shards
        # (ANN probes open whole cells, so fewer bigger files win -- but
        # bounded row groups keep each file's DECODE splittable)
        .repartition("cell")
        .write.mode("overwrite")
        .option("parquet.block.size", DEFAULT_MAX_GROUP_BYTES)
        .option("parquet.block.row.count.limit", DEFAULT_MAX_GROUP_ROWS)
        .partitionBy("cell")
        .parquet(path)
    )
    _write_centroids(emb.sparkSession, path, cents)
    return cents


def _write_centroids(spark, path: str, cents: np.ndarray) -> None:
    """Persist the centroid table beside the layout.  The centroids are
    DRIVER state (a (n_cells, dim) ndarray already in hand), so this is
    a driver-side pyarrow write, not a Spark job: the previous 16-row
    ``createDataFrame(...).coalesce(1).write`` spelling paid full
    job-launch + commit-protocol overhead (measured 5-8 s per layout
    build on local[32]) to move bytes that never left the driver.
    Schema matches the old writer exactly (cell int32, centroid
    list<double>); a non-local/unwritable URI falls back to the Spark
    write."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyarrow.fs as pafs

    d = path.rstrip("/") + "/_centroids.parquet"
    rows = [[float(x) for x in c] for c in cents]
    try:
        try:
            fs, fs_path = pafs.FileSystem.from_uri(d)
        except ValueError:
            fs, fs_path = pafs.LocalFileSystem(), d
        # overwrite semantics of the old writer: clear, then one part file
        fs.delete_dir_contents(fs_path, missing_dir_ok=True)
        fs.create_dir(fs_path, recursive=True)
        table = pa.table({
            "cell": pa.array(range(len(rows)), type=pa.int32()),
            "centroid": pa.array(rows, type=pa.list_(pa.float64())),
        })
        with fs.open_output_stream(fs_path + "/part-00000.parquet") as out:
            pq.write_table(table, out)
    except Exception:
        spark.createDataFrame(
            [(i, r) for i, r in enumerate(rows)],
            "cell int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(d)


def append_ivf_layout(new_emb: DataFrame, path: str) -> int:
    """Ingest NEW embeddings into an existing :func:`write_ivf_layout`
    index without rebuilding it -- the ANN half of the incremental
    ingestion story (see ``dedup.incremental_minhash_candidates`` for
    the text half).

    The persisted centroid table defines the index geometry permanently:
    new vectors are Voronoi-assigned to the EXISTING centroids (one
    Arrow-batched pass over the batch only) and appended into their cell
    directories.  Every later probe sees them through the same partition
    pruning with zero index maintenance; appending is byte-for-byte
    equivalent to having built the layout from the union corpus with
    the same centroids (asserted by tests + the oracle-checked
    ``incremental_ivf_topk_embeddings`` query).

    Cost is proportional to the batch: assignment CPU + one partitioned
    append; the existing corpus is neither read nor moved.  Cell BALANCE
    is the one thing that can drift under a shifting embedding
    distribution -- monitor per-cell row counts and re-train/re-write
    when the hottest cell's share breaks the probe budget (that rebuild
    is the periodic compaction job, not a per-ingest cost).

    The append is RETRY-IDEMPOTENT, mirroring
    ``dedup.incremental_minhash_candidates``: vec_ids already present in
    the layout are dropped before writing, so re-running a crashed
    ingest call never duplicates vectors (a duplicated row would surface
    as a duplicate neighbor in every later probe and break the
    append == build-from-union contract).  The presence check is
    batch-bounded: the existing scan is restricted to the batch's
    assigned cells (a PARTITION filter -- only those cell directories
    are listed) and semi-joined down to the broadcast batch-id set
    before the anti-join, so the corpus never enters a shuffle.

    Returns the number of vectors appended (0 for a fully-retried batch).
    """
    cent_m = _load_centroids(new_emb.sparkSession, path)
    # pin the assigned batch BEFORE the write: the count below must
    # report the rows actually written, never a re-execution of a
    # possibly non-deterministic source plan after the append
    batch = (
        new_emb.withColumn("cell", _cell_assigner(cent_m)("embedding"))
        .repartition("cell")
        .localCheckpoint(eager=True)
    )
    spark = new_emb.sparkSession
    batch_cells = sorted(
        r["cell"] for r in batch.select("cell").distinct().collect()
    )
    batch_ids = batch.select("vec_id")
    already = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(batch_cells))
        .select("vec_id")
        .join(F.broadcast(batch_ids), "vec_id", "left_semi")
        .localCheckpoint(eager=True)
    )
    to_write = batch.join(F.broadcast(already), "vec_id", "left_anti")
    if already.count() > 0:
        # partial-retry case is rare -- re-pin so the returned count
        # cannot re-execute the anti-join after the append
        to_write = to_write.localCheckpoint(eager=True)
    from ..sources.io import DEFAULT_MAX_GROUP_BYTES, DEFAULT_MAX_GROUP_ROWS

    (
        to_write.write.mode("append")
        .option("parquet.block.size", DEFAULT_MAX_GROUP_BYTES)
        .option("parquet.block.row.count.limit", DEFAULT_MAX_GROUP_ROWS)
        .partitionBy("cell")
        .parquet(path)
    )
    return to_write.count()


def ivf_layout_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 3,
) -> DataFrame:
    """Search a :func:`write_ivf_layout` index: the centroid table (tiny)
    is read once driver-side, each query's ``n_probe`` nearest cells are
    computed, and the vector scan carries ``cell IN (...)`` -- a
    PARTITION filter, so only the probed cell directories are listed and
    read (the pruning is visible in the scan's ``PartitionFilters``).
    Exact cosine re-ranks within the candidates; ``queries`` is
    (query_id, qv) and is broadcast to the scan.
    """
    cent_m = _load_centroids(spark, path)
    # queries may arrive pre-collected (list of (query_id, qv) mappings):
    # callers that already hold the query vectors driver-side skip one
    # collect job that way (the probe collects them anyway)
    q_rows = queries if isinstance(queries, list) else queries.collect()
    qm = np.stack([np.asarray(r["qv"], dtype=float) for r in q_rows])
    d = -2.0 * (qm @ cent_m.T) + (cent_m**2).sum(axis=1)[None, :]
    order = np.argsort(d, axis=1, kind="stable")[:, :n_probe]
    probe_cells = sorted({int(c) for row in order for c in row})
    q_probe = spark.createDataFrame(
        [
            (int(r["query_id"]), [float(x) for x in r["qv"]], int(c))
            for r, row in zip(q_rows, order)
            for c in row
        ],
        "query_id long, qv array<double>, cell int",
    )
    vecs = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    scored = (
        vecs.join(F.broadcast(q_probe), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qv"), F.col("embedding")), 6).alias("cosine_sim"),
        )
        .distinct()
    )
    return _rank_topk(scored, k)


def audit_ivf_balance(spark, path: str) -> DataFrame:
    """Pre-flight IVF layout audit: per-cell row/file/byte counts from
    parquet FOOTERS (metadata-only, no vector data read) -- the
    compaction trigger for the incremental ANN path.  Appends
    (:func:`append_ivf_layout`) assign new vectors to FROZEN centroids,
    so a drifting embedding distribution concentrates rows into a few
    cells; a hot cell breaks the probe-cost contract (a probe reads
    ~n_probe/n_cells of the data only while cells are balanced).

    Returns one row per CONFIGURED cell -- the denominator is the
    centroid count from ``_centroids.parquet`` (footer-only read), and
    cells drift has emptied emit explicit zero rows: ``(cell, n_rows,
    n_files, bytes, share, skew)`` where ``share`` is the cell's
    fraction of all rows and ``skew = share * n_cells`` (1.0 = perfectly
    balanced; the hottest cell's skew is the factor by which a probe of
    that cell exceeds its balanced-layout budget).  Counting only
    populated cells would understate skew exactly when it matters: all
    rows concentrated in one cell with the rest empty would read as
    "perfectly balanced".  When max skew grows past the probe budget's
    tolerance, run :func:`rebuild_ivf_layout`.
    """
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    p = path.rstrip("/")
    try:
        fs, fs_path = pafs.FileSystem.from_uri(p)
    except ValueError:
        fs, fs_path = pafs.LocalFileSystem(), p
    listing = fs.get_file_info(pafs.FileSelector(fs_path, recursive=True))
    per_cell: dict[int, list] = {}
    n_cells = 0
    for fi in listing:
        if not (fi.is_file and fi.base_name.endswith(".parquet")
                and not fi.base_name.startswith(("_", "."))):
            continue
        rel = fi.path[len(fs_path):]
        if "/_centroids.parquet/" in rel or rel.startswith(
                "_centroids.parquet/"):
            # the CONFIGURED cell count: one centroid row per cell,
            # num_rows straight from the footer
            with fs.open_input_file(fi.path) as fh:
                n_cells += pq.ParquetFile(fh).metadata.num_rows
            continue
        cell = None
        for part in rel.split("/"):
            if part.startswith("cell="):
                cell = int(part[5:])
                break
        if cell is None:
            continue
        with fs.open_input_file(fi.path) as fh:
            n_rows = pq.ParquetFile(fh).metadata.num_rows
        agg = per_cell.setdefault(cell, [0, 0, 0])
        agg[0] += n_rows
        agg[1] += 1
        agg[2] += fi.size
    total = sum(v[0] for v in per_cell.values()) or 1
    n_cells = n_cells or len(per_cell) or 1
    rows = [
        (cell, *per_cell.get(cell, (0, 0, 0)),
         per_cell.get(cell, (0,))[0] / total,
         per_cell.get(cell, (0,))[0] / total * n_cells)
        for cell in sorted(set(per_cell) | set(range(n_cells)))
    ]
    return spark.createDataFrame(
        rows,
        "cell int, n_rows long, n_files int, bytes long, "
        "share double, skew double",
    )


def rebuild_ivf_layout(
    spark,
    path: str,
    n_cells: int = 16,
    seed: int = 7,
    sample_size: int = 2048,
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Periodic IVF compaction/rebalance: re-train the centroids on the
    CURRENT vector distribution (which appends have drifted away from
    the frozen build-time centroids) and rewrite the layout in place --
    the maintenance job :func:`audit_ivf_balance` triggers, costing one
    assignment pass + one partitioned write exactly like the original
    build, never per-ingest.

    The layout is rewritten into a staging dir and moved in by
    ``sources.io.swap_dir`` (crash contract there; a crashed swap is
    healed first), so readers never observe a half-rewritten layout.
    The vector set is preserved exactly (same rows, new cell
    assignment); probes pick up the new geometry through the rewritten
    ``_centroids.parquet`` with zero code changes.  Returns the new
    centroid matrix.
    """
    from ..sources.io import heal_dir_swap, staging_dir, swap_dir

    heal_dir_swap(path)
    vecs = spark.read.parquet(path).drop("cell").localCheckpoint(eager=True)
    tmp = staging_dir(path)
    cents = write_ivf_layout(vecs, tmp, n_cells=n_cells, seed=seed,
                             sample_size=sample_size, centroids=centroids)
    swap_dir(tmp, path)
    return cents


def mmr_topk(
    emb: DataFrame,
    n_queries: int = 4,
    k: int = 8,
    shortlist: int = 50,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98)
    diversified top-k: for each query, greedily select ``k`` results
    maximizing ``lam * relevance - (1 - lam) * max_sim_to_selected``
    (cosine both sides; ties by ascending neighbor_id; the first pick
    maximizes pure relevance since the selected set is empty).  This is
    the retrieval-side counterpart of SemDeDup: instead of deduplicating
    the corpus, deduplicate the RESULT SET -- the standard way to keep a
    RAG context window or a human eval sample from being k copies of the
    same document.

    Two stages, both distributed:
    1. exact cosine shortlist of ``shortlist`` candidates per query (same
       broadcast + window machinery as ``brute_force_topk`` -- N-side
       stays partition-parallel, no shuffle before the tiny top-m);
    2. the O(m^2) greedy selection confined to ONE query's shortlist at a
       time inside ``applyInPandas`` (m = ``shortlist``, so the matrix is
       m x m tiny) -- queries proceed in parallel, like
       ``semantic_dedup``'s per-cell pass.

    Returns (query_id, rank, neighbor_id, relevance, mmr_score), both
    scores rounded to 6 -- deterministic, so the whole pass (shortlist,
    greedy order, score trace) is value-checked against a recursive
    DuckDB oracle.
    """
    import pandas as pd

    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("nv"),
            _cosine(F.col("qv"), F.col("embedding")).alias("relevance"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("relevance"), F.asc("neighbor_id")
    )
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= shortlist)
        .drop("rn")
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["relevance", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        M = np.stack(pdf["nv"].to_numpy()).astype(np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        norms[norms == 0.0] = 1.0
        S = (M / norms[:, None]) @ (M / norms[:, None]).T
        rel = pdf["relevance"].to_numpy(dtype=np.float64)
        ids = pdf["neighbor_id"].to_numpy()
        m = len(pdf)
        picked: list[int] = []
        scores: list[float] = []
        remaining = np.ones(m, dtype=bool)
        for _ in range(min(k, m)):
            if picked:
                penalty = S[:, picked].max(axis=1)
            else:
                penalty = np.zeros(m)
            mmr = lam * rel - (1.0 - lam) * penalty
            # argmax over remaining, ties by ascending neighbor_id: rows
            # are pre-sorted by (rel desc, id asc) but MMR reorders, so
            # break ties explicitly
            idx = np.flatnonzero(remaining)
            best = idx[np.lexsort((ids[idx], -mmr[idx]))[0]]
            picked.append(int(best))
            scores.append(float(mmr[best]))
            remaining[best] = False
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[:1].repeat(len(picked)).to_numpy(),
                "rank": np.arange(1, len(picked) + 1, dtype=np.int32),
                "neighbor_id": ids[picked],
                "relevance": rel[picked],
                "mmr_score": np.asarray(scores),
            }
        )

    out = cand.groupBy("query_id").applyInPandas(
        greedy,
        schema=(
            "query_id long, rank int, neighbor_id long, "
            "relevance double, mmr_score double"
        ),
    )
    # rounding happens JVM-side (HALF_UP, like every cosine op here) so the
    # DuckDB oracle's round() matches exactly; numpy's np.round is
    # half-EVEN and would diverge on exact .5 boundaries
    return out.select(
        "query_id",
        "rank",
        "neighbor_id",
        F.round("relevance", 6).alias("relevance"),
        F.round("mmr_score", 6).alias("mmr_score"),
    )
