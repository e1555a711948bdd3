"""Join strategy helpers for skewed / non-equi / large-scale shapes:
``salted_join`` (hot-key skew), ``asof_join`` (temporal nearest-match as a
single window pass), ``range_join`` (interval containment as a bucketed
equi join).

First resort is always stock Spark: AQE (`spark.sql.adaptive.enabled`,
on in ``session.get_spark``) already splits skewed sort-merge partitions at
runtime, and ``F.broadcast`` handles the small-dim case.  ``salted_join``
is for the shape AQE cannot fix: a single hot key whose rows exceed one
executor's memory on the *build* side of the join, or an aggregation-free
pipeline where one reduce task would receive the whole hot key.

Mechanics: the skewed (probe) side gets a uniform random salt in
``[0, n_salts)``; the other side is replicated once per salt value via a
small ``explode``; the join key becomes ``(key, salt)``, spreading each hot
key over ``n_salts`` reduce tasks.  Replication multiplies the build side
by ``n_salts``, so pick the side to replicate small (or pre-aggregate).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..util import ensure_parallelism
from . import bloom

_SALT = "__dps_salt"


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str | list[str],
    how: str = "inner",
    n_salts: int = 16,
    seed: int | None = None,
) -> DataFrame:
    """Equi-join robust to heavy key skew on ``skewed``.

    ``on`` must be column name(s) present on both sides (the usual equi-join
    contract).  Supported ``how``: inner / left (outer joins where ``other``
    is the preserved side would need the salt on the other side instead).
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    rand = F.rand(seed) if seed is not None else F.rand()
    left = skewed.withColumn(_SALT, (rand * n_salts).cast("int"))
    right = other.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = left.join(right, keys + [_SALT], how)
    return joined.drop(_SALT)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    how: str = "left",
    direction: str = "backward",
    tolerance: int | float | None = None,
) -> DataFrame:
    """Temporal as-of join: attach to each ``left`` row the single ``right``
    row with the greatest ``right_ts <= left_ts`` (direction="backward") or
    the smallest ``right_ts >= left_ts`` ("forward") within the same ``on``
    key group.  The reference engine has no such operator; this is the
    standard time-series primitive a training-data pipeline needs (e.g.
    "most recent profile snapshot before each document crawl").

    Implementation is the merge-join formulation, NOT an inequality join:
    both sides are tagged and unioned, then one window pass per key carries
    the latest right-side payload forward onto left rows
    (``last(payload, ignorenulls=True)``).  Cost at 100 TB: ONE shuffle on
    ``on`` + an O(n log n) sort per partition -- no pair explosion, no
    broadcast-nested-loop, and AQE can still split a skewed key's sort.
    An inequality-join spelling would be O(|left_key| * |right_key|) per
    key; this is O(|left_key| + |right_key|).

    ``tolerance`` (same units as the ts columns) null-outs matches farther
    than the given distance.  Right-side columns keep their names; they must
    not collide with left's.  Ties on identical ``right_ts`` within a key
    resolve to an arbitrary single right row (make ``right_ts`` unique for
    full determinism).  ``how``: left (keep unmatched) or inner.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"asof_join supports left/inner, got {how!r}")
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward/forward/nearest, got {direction!r}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    payload_cols = [c for c in right.columns if c not in keys]
    overlap = set(payload_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"right columns collide with left: {sorted(overlap)}")

    side = "__dps_side"
    payload = "__dps_payload"
    order = "__dps_order"
    tagged_r = right.select(
        *keys,
        F.col(right_ts).alias(order),
        F.lit(0).alias(side),
        F.struct(*payload_cols).alias(payload),
    )
    tagged_l = left.withColumn(order, F.col(left_ts)).withColumn(
        side, F.lit(1)
    ).withColumn(payload, F.lit(None).cast(tagged_r.schema[payload].dataType))

    merged = tagged_l.unionByName(tagged_r, allowMissingColumns=True)
    if direction == "nearest":
        # pandas merge_asof(direction='nearest') parity: carry BOTH the
        # latest-preceding and earliest-following right rows (two window
        # passes sharing one key shuffle -- the second direction only adds
        # an in-partition re-sort) and keep whichever is closer; exact
        # ties resolve to the backward match (documented, deterministic).
        w_b = (
            Window.partitionBy(*keys)
            .orderBy(F.col(order), F.col(side))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_f = (
            Window.partitionBy(*keys)
            .orderBy(F.col(order).desc(), F.col(side))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        back = F.last(payload, ignorenulls=True).over(w_b)
        fwd = F.last(payload, ignorenulls=True).over(w_f)
        carried = merged.withColumn("__dps_back", back).withColumn(
            "__dps_fwd", fwd
        )
        bdist = F.col(order) - F.col("__dps_back")[right_ts]
        fdist = F.col("__dps_fwd")[right_ts] - F.col(order)
        chosen = (
            F.when(F.col("__dps_back").isNull(), F.col("__dps_fwd"))
            .when(F.col("__dps_fwd").isNull(), F.col("__dps_back"))
            .when(fdist < bdist, F.col("__dps_fwd"))
            .otherwise(F.col("__dps_back"))
        )
        carried = carried.withColumn(payload, chosen).drop(
            "__dps_back", "__dps_fwd"
        )
    else:
        order_col = (
            F.col(order) if direction == "backward" else F.col(order).desc()
        )
        w = (
            Window.partitionBy(*keys)
            .orderBy(order_col, F.col(side))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = merged.withColumn(
            payload, F.last(payload, ignorenulls=True).over(w)
        )
    out = carried.filter(F.col(side) == 1)

    matched = F.col(payload).isNotNull()
    if tolerance is not None:
        if direction == "backward":
            dist = F.col(left_ts) - F.col(payload)[right_ts]
        elif direction == "forward":
            dist = F.col(payload)[right_ts] - F.col(left_ts)
        else:
            dist = F.abs(F.col(left_ts) - F.col(payload)[right_ts])
        matched = matched & (dist <= F.lit(tolerance))
    if how == "inner":
        out = out.filter(matched)
    exprs = [F.col(c) for c in left.columns] + [
        F.when(matched, F.col(payload)[c]).alias(c) for c in payload_cols
    ]
    return out.select(*exprs)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
    extra_on: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Interval (range) join: pair each ``points`` row with every
    ``intervals`` row whose ``[lo_col, hi_col)`` contains ``point_col``.

    Naive spelling is a non-equi theta join, which Spark executes as
    broadcast-nested-loop -- O(|points| * |intervals|) and only viable when
    one side is tiny.  This operator makes it an EQUI join: both sides are
    bucketed by ``bucket_width`` (intervals explode into the buckets they
    overlap), joined on bucket id (+ any ``extra_on`` equi keys), then the
    exact containment predicate filters false pairs.  Each (point, interval)
    candidate appears exactly once because a point lives in exactly one
    bucket, so no post-join dedup is needed.

    Cost at 100 TB: one shuffle on (bucket, *extra_on) that sort-merge/hash
    joins like any equi join; interval-side blow-up is
    ``ceil(interval_length / bucket_width) + 1`` rows, so pick
    ``bucket_width`` on the order of the TYPICAL interval length.
    """
    if how != "inner":
        raise ValueError("range_join currently supports inner joins only")
    extra = list(extra_on or [])
    bucket = "__dps_bucket"
    p = points.withColumn(
        bucket, F.floor(F.col(point_col) / F.lit(bucket_width)).cast("long")
    )
    iv = intervals.withColumn(
        bucket,
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bucket_width)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(bucket_width)).cast("long"),
            )
        ),
    )
    joined = p.join(iv, [bucket] + extra, "inner").filter(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    )
    return joined.drop(bucket)


# ---------------------------------------------------------------------------
# Bloom-filter join (map-side probe pruning before the shuffle)
# ---------------------------------------------------------------------------

_BLOOM_H1, _BLOOM_H2 = "__dps_bloom_h1", "__dps_bloom_h2"


def _bloom_hashes(df: DataFrame, keys: list[str]) -> DataFrame:
    """``df`` plus the two 64-bit hashes ``bloom`` indexes by, as JVM
    columns: ``h1 = xxhash64(keys)`` and ``h2 = xxhash64(h1)``."""
    return df.withColumn(_BLOOM_H1, F.xxhash64(*keys)).withColumn(
        _BLOOM_H2, F.xxhash64(_BLOOM_H1))


def bloom_join(
    probe: DataFrame,
    build: DataFrame,
    on: str | list[str],
    how: str = "inner",
    num_bits: int = 1 << 23,
) -> DataFrame:
    """Equi join with an explicit Bloom-filter pre-filter on the probe side.

    The shape this exists for at 100 TB: ``build`` is too large to
    broadcast exactly (say 100M distinct keys ~ multi-GB as a hash
    relation) but selective against the probe fact table.  A Bloom bitset
    over the build keys is ~``num_bits/8`` bytes regardless of key count
    (128 MiB at 2^30 bits), broadcasts cheaply, and drops non-matching
    probe rows BEFORE the shuffle -- the shuffle then moves only
    ~match_fraction of the fact table.  Spark's own runtime row-level
    filtering (``spark.sql.optimizer.runtime.bloomFilter.enabled``) makes
    the same transformation, but only when its cost model agrees and never
    across Python-UDF boundaries; this operator is the unconditional,
    composable spelling.

    Mechanics: two JVM-side hashes on BOTH sides, ``h1 = xxhash64(keys)``
    and ``h2 = xxhash64(h1)`` (codegen, no Python in the common path),
    index the package's one bit layout (``operators.bloom``, k = 8
    probes); the build side's hashes fold into per-partition numpy
    bitsets inside ``mapInPandas`` (one binary row out per partition),
    OR-merged on the driver and rebroadcast; a vectorized pandas UDF
    tests each probe row.  Bloom filters have no false negatives, so
    the inner/left join result is EXACTLY the plain join's -- false
    positives only waste shuffle rows (fpp ~ (1-e^(-kn/m))^k: ~1% at
    ``num_bits`` = 10x distinct build keys, ~5e-4 at 16x).

    ``num_bits`` must be a power of two, at least 8 (one byte).  ``how``:
    inner / left_semi (the probe-preserving shapes where pruning is
    sound).
    """
    if num_bits < 8 or num_bits & (num_bits - 1):
        raise ValueError(
            f"num_bits must be a power of two >= 8, got {num_bits}")
    if how not in ("inner", "left_semi", "semi"):
        raise ValueError(f"bloom_join supports inner/left_semi, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)

    # no distinct() before bitset-building: duplicate hashes set the same
    # bits, so deduping would only add a full shuffle for zero effect on
    # the result.  coalesce bounds the collect: every partition yields a
    # full num_bits/8-byte bitset row regardless of its data, so the
    # driver receives at most 8 * m/8 bytes
    build_hashes = _bloom_hashes(build, keys).select(
        _BLOOM_H1, _BLOOM_H2).coalesce(8)

    def _partition_bitsets(batches):
        bits = np.zeros(num_bits // 8, dtype=np.uint8)
        for pdf in batches:
            bloom.set_bits(bits, pdf[_BLOOM_H1].to_numpy(np.int64),
                           pdf[_BLOOM_H2].to_numpy(np.int64))
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    partials = build_hashes.mapInPandas(
        _partition_bitsets, schema="bits binary"
    ).collect()
    merged = np.zeros(num_bits // 8, dtype=np.uint8)
    for row in partials:
        merged |= np.frombuffer(row["bits"], dtype=np.uint8)
    spark = probe.sparkSession
    bc = spark.sparkContext.broadcast(merged.tobytes())

    @F.pandas_udf("boolean")
    def might_contain(h1: pd.Series, h2: pd.Series) -> pd.Series:
        return pd.Series(bloom.might_contain(
            h1.to_numpy(np.int64), h2.to_numpy(np.int64),
            [(num_bits, bc.value)]))

    # the vectorized probe must not inherit a 1-task scan (a single small
    # parquet file would serialize the whole filter through one Python
    # worker); at real scale the scan already exceeds core count and
    # ensure_parallelism is a no-op, so this does NOT reintroduce a
    # fact-table shuffle where it matters
    pruned = (
        ensure_parallelism(_bloom_hashes(probe, keys))
        .filter(might_contain(F.col(_BLOOM_H1), F.col(_BLOOM_H2)))
        .drop(_BLOOM_H1, _BLOOM_H2)
    )
    join_how = "left_semi" if how in ("left_semi", "semi") else "inner"
    return pruned.join(build, keys, join_how)


def cogroup_asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    n_buckets: int = 256,
) -> DataFrame:
    """Backward as-of join in COGROUPED-pandas form: both sides shuffle
    once on a KEY-HASH BUCKET, each bucket's two sides meet in one Arrow
    batch, and a single ``pd.merge_asof(by=keys)`` attaches the latest
    right row at-or-before each left timestamp for every key in the
    bucket at C speed.

    Exists alongside the pure-SQL merge formulation (:func:`asof_join`) to
    cover the ``groupBy().cogroup().applyInPandas`` surface -- the right
    shape when per-key logic is genuinely imperative (custom alignment,
    interpolation).  Cogrouping on ``pmod(xxhash64(keys), n_buckets)``
    rather than the raw key matters at BOTH scales: locally it turns one
    Python invocation per key (~100 us each -- measured 5.2 s for ~15k
    users) into one per bucket (0.8 s), and on a cluster it bounds the
    task count while keeping per-task state at ~|data|/n_buckets instead
    of one whole key group per call.  Ties on identical ``right_ts``
    resolve to the greatest (right_ts, payload-order) row, matching the
    merge formulation on unique timestamps.  NULL join keys follow SQL
    semantics (NULL matches nothing): NULL-key left rows emit NULL
    payloads, NULL-key right rows are dropped.
    """
    import pandas as pd
    from pyspark.sql import types as T

    keys = [on] if isinstance(on, str) else list(on)
    payload_cols = [c for c in right.columns if c not in keys]
    overlap = set(payload_cols) & set(left.columns)
    if overlap:
        # Same guard as asof_join: a colliding right payload column would
        # silently overwrite the left column inside join_group and emit a
        # duplicate-name schema.
        raise ValueError(f"right columns collide with left: {sorted(overlap)}")
    out_fields = list(left.schema.fields) + [
        T.StructField(f.name, f.dataType, True)
        for f in right.schema.fields if f.name in payload_cols
    ]
    schema = T.StructType(out_fields)
    left_cols = list(left.columns)
    out_cols = [f.name for f in out_fields]
    # rename the right-side key columns: when both cogroup sides derive
    # from the same DataFrame (the usual purchase-vs-click self-cogroup),
    # the analyzer's attribute dedup rewrites the shared key attribute
    # and the UDF's right frame silently loses the column
    rkeys = [f"__rk_{k}" for k in keys]
    right_r = right.select(
        *[F.col(k).alias(rk) for k, rk in zip(keys, rkeys)], *payload_cols
    )

    def join_bucket(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if len(l) == 0:
            return pd.DataFrame(columns=out_cols)
        # SQL NULL-key semantics: NULL never equals NULL, so NULL-key left
        # rows get NULL payloads and NULL-key right rows can never match.
        # (merge_asof would otherwise crash on the dtype skew a nullable
        # key causes -- the NaN-carrying side arrives float64.)
        lnull = l[keys].isna().any(axis=1)
        nulls = l[lnull].copy() if lnull.any() else None
        if nulls is not None:
            for c in payload_cols:
                nulls[c] = None
            l = l[~lnull]
        r = r.dropna(subset=rkeys)
        if len(l) == 0:
            return nulls[out_cols]
        if len(r) == 0:
            for c in payload_cols:
                l = l.copy()
                l[c] = None
            out = l
        else:
            for k, rk in zip(keys, rkeys):
                if r[rk].dtype != l[k].dtype:
                    # NaN rows dropped above, so an int key that arrived
                    # float-coerced casts back losslessly
                    r = r.assign(**{rk: r[rk].astype(l[k].dtype)})
            # merge_asof needs both frames sorted by the on-key; sorting
            # the right by payload AFTER ts makes the within-tie LAST row
            # the greatest payload, which backward-asof then picks
            l = l.sort_values(left_ts, kind="mergesort").reset_index(drop=True)
            r = r.sort_values([right_ts] + payload_cols, kind="mergesort").reset_index(drop=True)
            out = pd.merge_asof(
                l, r, left_on=left_ts, right_on=right_ts,
                left_by=keys, right_by=rkeys,
                direction="backward", allow_exact_matches=True,
            )
            for c in payload_cols:
                # unmatched rows surface as NaN (possibly float-coerced
                # for integer payloads); restore typed NULLs for Arrow
                col = out[c]
                out[c] = col.astype(object).where(col.notna(), None)
        if nulls is not None:
            out = pd.concat([out[out_cols], nulls[out_cols]], ignore_index=True)
        return out[out_cols]

    lbucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets))
    rbucket = F.pmod(F.xxhash64(*[F.col(k) for k in rkeys]), F.lit(n_buckets))
    return (
        left.groupBy(lbucket.alias("__asof_bucket"))
        .cogroup(right_r.groupBy(rbucket.alias("__asof_bucket")))
        .applyInPandas(join_bucket, schema)
        .select(*left_cols, *payload_cols)
    )
