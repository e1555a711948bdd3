"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Design for 100 TB (the whole point of each operator):

* exact dedup shuffles 16-byte md5 digests, never document bodies;
* MinHash/LSH turns the quadratic all-pairs problem into an equi-join on
  (band, band_hash) buckets -- the only shuffle key is a 12-byte tuple and
  skew is bounded by band-hash uniformity;
* SimHash candidates use the pigeonhole banding of the 60-bit signature
  (Hamming <= 3 implies one of 4 15-bit chunks matches exactly), again an
  equi-join, never a cross join;
* heavy string hashing (md5-prefix longs, engine-portable and therefore
  oracle-checkable) stays JVM-side; Python only reduces fixed-width
  numeric arrays inside Arrow-batched pandas UDFs.

The generalized primitive is the reference's memo/dedup probe
(``/root/reference/dask_patternsearch/search.py:24-28,285-291``): a
left-anti membership test on a content key.
"""

from __future__ import annotations

from contextlib import contextmanager, nullcontext

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..util import ensure_parallelism
from . import bloom
from .graph import checkpoint, fixpoint

_TOKENIZE = r"\s+"

# Version tags for the base shingle-hash definitions.  Bumped whenever the
# computed hash VALUES change (not just performance), so persisted signature
# tables from an older definition can never silently mix with new ones:
# xxhash64 is v2 because the 28-bit domain fold changed from abs(h) % 2^28
# to h & (2^28 - 1) -- different output for every negative base hash.
HASH_FAMILY_VERSIONS = {"md5": "md5v1", "xxhash64": "xxhash64v2"}


def load_signatures(spark, path: str, hash_family: str = "md5") -> DataFrame:
    """Read back a signature table written via ``persist_signatures``,
    refusing version drift (the incremental-dedup reuse path).

    Raises if the table has no ``hash_family`` stamp (persisted before
    versioning -- possibly the incompatible xxhash64 v1 fold) or if the
    stamp differs from the current definition of ``hash_family``.  On
    success returns (doc_id, sig) with the stamp column dropped.
    """
    want = HASH_FAMILY_VERSIONS[hash_family]
    sigs = spark.read.parquet(path)
    if "hash_family" not in sigs.columns:
        raise ValueError(
            f"signature table {path!r} has no hash_family stamp: it was "
            f"persisted before hash-family versioning and may use an "
            f"incompatible definition (e.g. the xxhash64 v1 abs-fold); "
            f"rebuild it with persist_signatures"
        )
    stamped = [r[0] for r in sigs.select("hash_family").distinct().collect()]
    if not stamped:
        raise ValueError(
            f"signature table {path!r} is empty (zero rows): nothing to "
            f"reuse -- rebuild it with persist_signatures"
        )
    if stamped != [want]:
        raise ValueError(
            f"signature table {path!r} was built with hash family "
            f"{stamped} but the current {hash_family!r} definition is "
            f"{want!r}; mixing them yields wrong band buckets -- rebuild"
        )
    return sigs.drop("hash_family")


def _tokens(col):
    return F.split(F.trim(F.lower(col)), _TOKENIZE)


def _shingles(tok_col, n: int):
    """Distinct word n-grams as space-joined strings (native expressions).

    Pass a MATERIALIZED column (an alias from its own projection), not the
    raw ``split()`` expression: ``tok_col`` is referenced several times per
    gram, and Catalyst re-evaluates a non-cheap expression at every
    reference when it gets inlined -- measured ~20x slower on the sf0.1
    corpus with the inline spelling."""
    idx = F.sequence(F.lit(0), F.size(tok_col) - n)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(tok_col, i + 1, n), " "))
    return F.when(F.size(tok_col) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash; keeper = lowest doc_id."""
    return (
        docs.select(F.md5("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Deterministic EXACT n-gram-Jaccard similarity join by PREFIX
    FILTERING (the AllPairs/PPJoin family, Bayardo et al. WWW'07; same
    exact-join machinery Chaudhuri's SSJoin line uses): two sets with
    Jaccard >= t must share an element within the first
    ``|S| - ceil(t*|S|) + 1`` elements of any COMMON total ordering of
    their shingles, so candidates come from an inverted-index equi-join
    over only those prefix shingles, and only candidates pass the full
    intersection.  The ordering is ascending document frequency
    (rarest-first, ties lexical), the classic choice that keeps prefix
    posting lists short -- frequent shingles never enter a prefix unless
    a set is nearly all-frequent.

    LOSSLESS at the threshold (unlike length/band blocking: a qualifying
    pair can never be missed) and a pure function of the corpus (no hash
    family), so downstream clustering is oracle-checkable end to end.

    Scale: everything is an equi-join or aggregate on gram/doc_id keys --
    no all-pairs stage exists; work is sum over prefix grams of
    posting-list-squared, which the rare-first ordering minimizes, plus
    one exact verify per surviving candidate (a length-ratio
    necessary-condition filter prunes before the intersection).  The
    shingle table is checkpointed once and reused by the prefix explode
    and both verify probes (re-deriving it per reference is the
    documented Catalyst re-evaluation trap).
    """
    toks = ensure_parallelism(docs).select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    sh = (
        toks.select("doc_id", _shingles(F.col("toks"), n).alias("shingles"))
        # checkpoint the shingle pipeline once: grams is derived twice
        # (df count + ordering join) and would otherwise re-run it
        .localCheckpoint(eager=False)
    )
    grams = sh.select("doc_id", F.explode("shingles").alias("g"))
    gram_df = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        grams.join(gram_df, "g")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "g"))),
                lambda s: s["g"],
            ).alias("shingles")
        )
        .localCheckpoint(eager=False)
    )
    plen = (
        F.size("shingles")
        - F.ceil(F.size("shingles") * F.lit(threshold))
        + 1
    ).cast("int")
    pref = ordered.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.posexplode(F.slice("shingles", F.lit(1), plen)).alias("pos", "g"),
    )
    a = pref.alias("a")
    b = pref.alias("b")
    # the length-ratio necessary condition rides the candidate join
    # itself: incompatible-size pairs never reach the distinct/verify
    # stages (lossless -- J >= t implies min >= t * max)
    size_ok = F.least(F.col("a.n"), F.col("b.n")) >= F.lit(
        threshold
    ) * F.greatest(F.col("a.n"), F.col("b.n"))
    # PPJoin positional filter (Xiao et al. WWW'08): J >= t needs overlap
    # >= t/(1+t) * (|A|+|B|); a prefix match at 0-based positions (pa, pb)
    # caps the achievable overlap at 1 + min(|A|-pa-1, |B|-pb-1) because
    # everything BEFORE the matched gram in the shared total order cannot
    # contribute (both prefixes are sorted by the same order).  Lossless:
    # the bound is necessary, and the 1e-9 slack absorbs the float
    # rounding of t/(1+t) so a boundary pair is never over-pruned.  On
    # frequency-dense corpora (fixed vocabulary; the 30x probe) this is
    # what keeps candidate volume linear when gram df grows with corpus
    # size -- matching prefixes deep in both lists can no longer qualify.
    pos_ok = (
        F.lit(1.0)
        + F.least(
            F.col("a.n") - F.col("a.pos") - 1, F.col("b.n") - F.col("b.pos") - 1
        ).cast("double")
        >= F.lit(threshold / (1.0 + threshold))
        * (F.col("a.n") + F.col("b.n")).cast("double")
        - F.lit(1e-9)
    )
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("b.doc_id") > F.col("a.doc_id"))
            & size_ok
            & pos_ok,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        # bytes-small / CPU-dense: exempt the verify from AQE's size-based
        # coalescing (see the identical note in contamination_pairs_exact)
        .repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_a"
        )
    )
    sa = ordered.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = ordered.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    # |A u B| = |A| + |B| - |A n B| (shingle arrays are per-doc distinct):
    # one hash-set intersection per candidate instead of intersect PLUS an
    # array_distinct over the 2x-size concat -- measured ~4x on the verify
    # stage at sf0.1, which dominates the whole pair-graph build
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.least(F.size("sh_a"), F.size("sh_b"))
            >= F.lit(threshold) * F.greatest(F.size("sh_a"), F.size("sh_b"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
            (F.size("sh_a") + F.size("sh_b")).alias("ns"),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("i").cast("double")
                / F.nullif(F.col("ns") - F.col("i"), F.lit(0)).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_consecutive(docs: DataFrame, n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard similarity for consecutive doc_id pairs.

    A deterministic, oracle-checkable slice of the all-pairs problem (the
    full version goes through MinHash/LSH below; this one validates the
    shingling + Jaccard math itself against DuckDB).
    """
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks")).select(
        "doc_id", _shingles(F.col("toks"), n).alias("shingles")
    )
    a = toks.alias("a")
    b = toks.alias("b")
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.size(
                F.array_intersect(F.col("a.shingles"), F.col("b.shingles"))
            ).alias("i"),
            (F.size(F.col("a.shingles")) + F.size(F.col("b.shingles"))).alias(
                "ns"
            ),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("i").cast("double")
                / F.nullif(F.col("ns") - F.col("i"), F.lit(0)).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MAX_LONG = (1 << 63) - 1
_MERSENNE31 = (1 << 31) - 1


def _md5_long(col, n_hex: int = 15):
    """First ``n_hex`` hex digits of md5 as a non-negative BIGINT -- the
    engine-portable keyed hash (DuckDB spells it
    ``('0x' || substr(md5(x), 1, n))::BIGINT``).  15 hex = 60 bits keeps
    the value clear of the sign bit; still JVM-side whole-stage codegen
    (md5 + conv + cast, no Python worker)."""
    return F.conv(F.substring(F.md5(col), 1, n_hex), 16, 10).cast("long")


def _perm_constants(n_perm: int, seed: int) -> tuple[list[int], list[int]]:
    """(a_j, b_j) constants of the universal-hash permutation family
    ``h_j(x) = (a_j * x + b_j) mod (2^31 - 1)``, themselves md5-derived
    (28-bit, a_j != 0) so any engine with an md5 regenerates them."""
    import hashlib

    a = [int(hashlib.md5(f"a:{seed}:{j}".encode()).hexdigest()[:7], 16) + 1
         for j in range(n_perm)]
    b = [int(hashlib.md5(f"b:{seed}:{j}".encode()).hexdigest()[:7], 16)
         for j in range(n_perm)]
    return a, b


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    n_perm: int = 64,
    seed: int = 42,
    hash_family: str = "md5",
) -> DataFrame:
    """(doc_id, sig: array<long>) MinHash signatures over word n-grams.

    Entirely JVM-side: shingles are hashed once, then the j-th
    permutation is the classic universal hash
    ``(a_j * h + b_j) mod (2^31 - 1)`` (Carter-Wegman; products stay
    under 2^56, no overflow) reduced with a single fold.  No Python
    worker, no Arrow transfer — the signature stage stays inside
    whole-stage codegen, which at 100 TB removes the dominant
    executor⇄Python round trip (measured 5x faster than the
    ``mapInPandas`` formulation on the sf0.1 corpus).

    ``hash_family`` picks the base shingle hash: ``"md5"`` (default) is
    the 28-bit md5 prefix -- engine-portable, so with the md5-derived
    (a_j, b_j) the whole signature pipeline is replayed exactly by the
    DuckDB oracle; ``"xxhash64"`` is the fastest JVM hash (~1.5x the
    md5 family end-to-end on the sf0.1 corpus) for deployments that
    don't need cross-engine verifiability.  Candidate QUALITY is
    equivalent -- only which specific borderline pairs surface differs.

    COMPAT: the xxhash64 family's 28-bit domain fold changed from
    ``abs(h) % 2^28`` to ``h & (2^28 - 1)`` (the abs form kept
    ``Long.MIN_VALUE`` negative), which changes the computed value for
    every negative 64-bit base hash -- ~half of all shingles.  The
    current definitions are versioned in ``HASH_FAMILY_VERSIONS``
    (xxhash64 -> ``"xxhash64v2"``); signature tables persisted under
    the old fold are ``v1`` and must be REBUILT -- mixing them with v2
    signatures yields wrong band buckets and wrong est_jaccard with no
    error.  ``persist_signatures`` stamps the version into the table
    and ``load_signatures`` refuses a mismatched or unstamped table.
    """
    docs = ensure_parallelism(docs)
    if hash_family == "md5":
        base = lambda s: _md5_long(s, 7)
    elif hash_family == "xxhash64":
        # fold into the same 28-bit domain the permutation family needs;
        # mask rather than abs+mod -- abs(Long.MIN_VALUE) stays negative
        # in JVM long arithmetic, which would leak a negative base hash
        base = lambda s: F.xxhash64(s).bitwiseAND(F.lit((1 << 28) - 1))
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    hashed = docs.select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        F.transform(_shingles(F.col("toks"), n), base).alias("hashes"),
    )
    # single-pass fold: one reference to `hashes`, so projection collapse
    # inlines the shingle pipeline exactly once (64 separate array_min
    # branches would each re-evaluate it).  Measured against an
    # explode + 64-way min() hash aggregate: the fold wins ~4x on this
    # corpus (no shuffle, no 64-column agg buffer), and it needs no shuffle
    # at any scale since signatures are per-row.
    # (a_j, b_j) packed into one long each (a << 28 | b): higher-order
    # functions run interpreted (CodegenFallback), where a struct-field
    # access per element costs ~2x a shift/mask unpack -- measured 0.60 s
    # -> 0.26 s for the signature stage on the sf0.1 corpus
    av, bv = _perm_constants(n_perm, seed)
    packed = F.array(*[
        F.lit((av[j] << 28) | bv[j]).cast("long") for j in range(n_perm)
    ])
    mask = F.lit((1 << 28) - 1)
    sig = F.aggregate(
        "hashes",
        F.array_repeat(F.lit(_MAX_LONG), n_perm),
        lambda acc, h: F.zip_with(
            acc, packed,
            lambda m, c: F.least(
                m,
                (F.shiftright(c, 28) * h + c.bitwiseAND(mask)) % F.lit(_MERSENNE31),
            ),
        ),
    )
    return hashed.select("doc_id", sig.alias("sig"))


def _bands_sidecar_path(signatures_path: str) -> str:
    return signatures_path.rstrip("/") + ".bands"


def _bands_meta_path(signatures_path: str) -> str:
    import os

    return os.path.join(_bands_sidecar_path(signatures_path), "_meta.json")


def _write_bands_meta(signatures_path: str, n_bands: int,
                      rows_per_band: int,
                      rows_at_rebuild: int | None = None) -> None:
    import os

    meta = _bands_meta_path(signatures_path)
    os.makedirs(os.path.dirname(meta), exist_ok=True)
    payload = {"n_bands": n_bands, "rows_per_band": rows_per_band}
    if rows_at_rebuild is not None:
        payload["rows_at_rebuild"] = int(rows_at_rebuild)
    _atomic_json_write(meta, payload)


def _bump_bands_rebuild_meta(signatures_path: str, rows: int) -> None:
    """Record the sidecar row count the latest bloom rebuild saw,
    preserving the banding fields (callers hold the sidecar lock)."""
    import json
    import os

    meta = _bands_meta_path(signatures_path)
    if not os.path.exists(meta):
        return  # meta absent: the caller sequence writes it afterwards
    with open(meta) as fh:
        payload = json.load(fh)
    payload["rows_at_rebuild"] = int(rows)
    _atomic_json_write(meta, payload)


# --- band sidecar v2: bloom-gated, bucketed by band-bucket key prefix -------
#
# The round-10 sidecar killed the per-batch corpus x n_perm band refold, but
# each incremental batch still SCANNED the full (doc_id, band, bucket)
# sidecar -- ~2.2 TB per batch at a 10^10-doc corpus (SCALE.md round-11
# projection), the last flat per-corpus term in incremental ingestion.
# Partitioning alone cannot fix this: a 15k-doc batch carries ~120k
# distinct (band, bucket) keys, which covers EVERY directory at any
# realistic bucket count (measured: 16/16, 256/256, 4096/4096 dirs
# touched), so directory pruning by the raw batch key set degrades to a
# full scan.  v2 therefore transplants the CDC ledger's architecture
# whole: a BLOOM SIDECAR over the corpus' band-bucket keys decides which
# batch keys can collide AT ALL -- on a real feed the overwhelming
# majority are novel and drop here -- and only the SURVIVORS' prefixes
# are read from the partitioned sidecar.  Bytes per batch are then
# bloom bits (16/key over corpus band rows -- a ~12x constant cut below
# the 3-column row scan, and mergeable executor-resident state on a
# long-lived stream) plus the collision partitions (∝ the batch's true
# duplicate mass), not the corpus row set.
#
# Layout: both sidecars are partitioned by ``bpfx`` = the first w hex
# chars of ``bkey`` = md5(band:bucket) (w self-described by the
# ``bpfx=ab`` dir names, exactly like the ledger's ``_layout_pfx_len``,
# so layout and data can never disagree after a crash).  Safety
# invariants mirror the CDC bloom: bloom rows always land BEFORE the
# band rows they cover (append order; rebuilds swap the bloom dir in by
# atomic rename), so bloom ⊇ sidecar through any crash -- extra bloom
# bits are false positives (read a partition for nothing), a missing
# bloom dir or width mismatch degrades to the unpruned (still correct)
# full-prefix read, and a prefix with NO bloom rows provably has no
# sidecar rows.  Legacy FLAT sidecars keep working: appends follow the
# layout the dir names describe, probes full-scan until a rebuild.

_BANDS_SIDECAR_KEY = "bpfx"


def _bands_key_expr():
    """The 32-hex band-bucket key: md5 over ``band:bucket`` -- a JVM
    expression, computable identically on the batch side, feeding the
    partition prefix, the bloom double-hash halves, and the row-group
    cluster key."""
    return F.md5(F.concat_ws(
        ":", F.col("band").cast("string"), F.col("bucket").cast("string")))


def _bands_bpfx_expr(width: int):
    """Partition key of the band sidecar: the first ``width`` hex chars
    of the band-bucket key."""
    return F.substring(_bands_key_expr(), 1, width)


def _bands_bk_expr():
    """The sidecar's row-group cluster key: the key's first 60 bits as a
    long.  Files are sorted on it, so a pushed ``bk IN (...)`` filter
    skips row groups by footer min/max -- the mechanism that makes a
    point probe's bytes ∝ matching row groups instead of ∝ partition
    size (directory pruning alone reads whole partitions, which still
    grow with the corpus).  60-bit aliasing is harmless: the filter is a
    pre-filter with no false negatives (same md5 ⇒ same bk), and any
    aliased stranger rows are dropped by the (band, bucket) equi-join."""
    return F.conv(
        F.substring(_bands_key_expr(), 1, 15), 16, 10).cast("long")


# a probe pushes its surviving keys as a scan-level IN once bloom
# filtering has bounded them; past this many survivors (a batch that is
# mostly duplicates -- the read is then legitimately large) it falls back
# to prefix pruning alone rather than bloat the plan
_BANDS_KEY_ISIN_MAX = 4096

# the est-jaccard annotation pushes its candidate doc ids into the
# signature-table scan the same way (row-group skipping on the
# doc_id-clustered table); past this many ids it falls back to the
# broadcast semi-join (dup-heavy batch: the read is legitimately large)
_SIG_ID_ISIN_MAX = 4096


def _write_signatures(sigs_stamped: DataFrame, path: str,
                      mode: str) -> None:
    """Write (or append) a signature table CLUSTERED on doc_id: files
    sorted on the id with the round-9 split-safe row-group bounds, so
    the incremental annotation's pushed ``doc_id IN (...)`` skips row
    groups by footer min/max -- the per-batch signature read is then
    ∝ candidate ids, not ∝ corpus.  Content is unchanged (sorting is
    layout only); unsorted legacy tables stay correct, just unskippable
    until rewritten."""
    from ..sources.io import (DEFAULT_MAX_GROUP_BYTES,
                              DEFAULT_MAX_GROUP_ROWS, _row_group_options)

    _row_group_options(
        sigs_stamped.sortWithinPartitions("doc_id").write.mode(mode),
        "parquet", DEFAULT_MAX_GROUP_ROWS, DEFAULT_MAX_GROUP_BYTES,
    ).parquet(path)


def _bands_bloom_dir(signatures_path: str) -> str:
    return _bands_sidecar_path(signatures_path) + ".bloom"


def _write_band_sidecar(sigs: DataFrame, signatures_path: str,
                        n_bands: int, rows_per_band: int) -> int:
    """Overwrite the band sidecar + its bloom in the bucketed layout,
    width sized to the corpus band-row count (same 16/256/4096-dir
    tiers as the CDC ledger; a banding change or explicit rebuild is
    the re-bucket point), and return the sidecar row count.  Callers
    hold the sidecar lock and manage the meta stamp around this write.
    The bloom dir is REMOVED before the sidecar is rewritten and built
    afresh after it (:func:`rebuild_bands_bloom`, which states the crash
    contract), so the old bloom never shadows the new rows."""
    import shutil

    from ..sources.io import (DEFAULT_MAX_GROUP_BYTES,
                              DEFAULT_MAX_GROUP_ROWS, _row_group_options)

    sidecar = _bands_sidecar_path(signatures_path)
    shutil.rmtree(_bands_bloom_dir(signatures_path), ignore_errors=True)
    width = _pick_pfx_len(sigs.count() * n_bands)
    rows = (
        _band_buckets(sigs, n_bands, rows_per_band)
        .withColumn("bk", _bands_bk_expr())
        .withColumn(_BANDS_SIDECAR_KEY, _bands_bpfx_expr(width))
    )
    _row_group_options(
        rows
        # co-locate each prefix before the partitioned write (without
        # this every write task holds every prefix and the layout sprays
        # tasks x buckets small files), then CLUSTER each file on bk so
        # parquet footers carry tight disjoint key ranges -- the pushed
        # probe filter skips row groups instead of decoding partitions.
        # Bounded row groups (the round-9 split-parallelism defaults:
        # 100k rows / 16 MB) are also the skipping granularity, keeping
        # a point probe's decode ~MBs per matching key at ANY corpus
        # size.
        .repartition(F.col(_BANDS_SIDECAR_KEY))
        .sortWithinPartitions("bk")
        .write.mode("overwrite"),
        "parquet", DEFAULT_MAX_GROUP_ROWS, DEFAULT_MAX_GROUP_BYTES,
    ).partitionBy(_BANDS_SIDECAR_KEY).parquet(sidecar)
    return _rebuild_band_bloom(sigs.sparkSession, signatures_path, width)


def rebuild_bands_bloom(bdir: str, width: int, keys_for) -> None:
    """Rebuild the band-bucket bloom at ``bdir`` at prefix ``width``
    from the keys of the table it shadows: ``keys_for(pfxs)`` returns
    that table's ``bkey`` column restricted to the prefixes ``pfxs``, or
    all of it for ``None``.  Shared by the batch band sidecar and the
    streaming band ledger; callers hold their writer lock.

    Stranded ``.build-*`` staging dirs of a crashed rebuild are
    superseded and removed first.  At an unchanged width the rebuild is
    DELTA-PRESERVING: a prefix whose directory holds exactly one file is
    already collapsed -- written by the last rebuild, or by the only
    append that ever touched the prefix (appends land their bloom delta
    before the rows it covers) -- so its file stays byte-identical at
    the same path, and the driver residency cache and worker bloom LRU
    keep serving it with zero re-reads.  Only multi-file prefixes are
    rebuilt, from their own keys; the collapsed file is moved in before
    the old ones are removed, so a reader never sees a covered prefix
    rowless (a crash in between leaves a superset: false positives
    only, collapsed by the next rebuild).  Otherwise (first build,
    missing bloom, width change) the full rebuild is staged and swapped
    in by rmtree + rename.  Crash contract: a crash in that window
    leaves NO bloom dir, which probes treat as the unpruned (still
    correct) read and the next writer heals by rebuilding -- never a
    partial bloom whose missing bits would silently drop real
    collisions."""
    import contextlib
    import glob
    import os
    import shutil
    import uuid

    for leftover in glob.glob(glob.escape(bdir) + ".build-*"):
        shutil.rmtree(leftover, ignore_errors=True)
    tmp = bdir + ".build-" + uuid.uuid4().hex
    files = (_bloom_list_files(bdir)
             if _layout_pfx_len(bdir) == width else None)
    if files is None:
        _bloom_rows(keys_for(None), width, col="bkey").write.mode(
            "errorifexists").partitionBy("pfx").parquet(tmp)
        shutil.rmtree(bdir, ignore_errors=True)
        os.rename(tmp, bdir)
        return
    by_pfx: dict = {}
    for f in files:
        part = os.path.basename(os.path.dirname(f))
        if "=" in part:
            by_pfx.setdefault(part.split("=", 1)[1], []).append(f)
    changed = sorted(p for p, fs in by_pfx.items() if len(fs) > 1)
    if not changed:
        return
    _bloom_rows(keys_for(changed), width, col="bkey").write.mode(
        "errorifexists").partitionBy("pfx").parquet(tmp)
    for p in changed:
        src = os.path.join(tmp, f"pfx={p}")
        if os.path.isdir(src):
            for fn in os.listdir(src):
                if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                    os.rename(os.path.join(src, fn), os.path.join(
                        bdir, f"pfx={p}", f"rebuilt-{uuid.uuid4().hex}-{fn}"))
        for f in by_pfx[p]:
            with contextlib.suppress(FileNotFoundError):
                os.remove(f)
    shutil.rmtree(tmp, ignore_errors=True)


def _rebuild_band_bloom(spark, signatures_path: str, width: int) -> int:
    """Rebuild the band bloom from the sidecar through
    :func:`rebuild_bands_bloom` (collapsing prefixes read
    partition-pruned) and record the sidecar row count in the meta, so
    the geometric append schedule knows when the sidecar has doubled.
    Returns that count.  Callers hold the sidecar lock."""
    sidecar = _bands_sidecar_path(signatures_path)
    full = _read_band_sidecar_full(spark, sidecar)
    n_rows = full.count()

    def keys_for(pfxs):
        rows = full if pfxs is None else _read_bucketed_pruned(
            spark, sidecar, _BANDS_SIDECAR_KEY, pfxs, full.schema)
        return rows.select(_bands_key_expr().alias("bkey"))

    rebuild_bands_bloom(_bands_bloom_dir(signatures_path), width, keys_for)
    # record in the meta when one exists (the bulk overwrite paths write
    # their fresh meta AFTER this returns, carrying the returned count)
    _bump_bands_rebuild_meta(signatures_path, n_rows)
    return n_rows


def _read_band_sidecar_full(spark, sidecar: str) -> DataFrame:
    """Full (unpruned) read of the band sidecar with the partition
    column pinned to string (see :func:`_read_bucketed_pruned` for why
    inference cannot be trusted); flat layouts read as-is."""
    if _layout_pfx_len(sidecar, key=_BANDS_SIDECAR_KEY) is None:
        return spark.read.parquet(sidecar)
    inferred = spark.read.parquet(sidecar).schema
    fixed = T.StructType([
        T.StructField(
            f.name,
            T.StringType() if f.name == _BANDS_SIDECAR_KEY else f.dataType,
            f.nullable,
        )
        for f in inferred
    ])
    return spark.read.schema(fixed).parquet(sidecar)


def _append_band_sidecar(band_rows: DataFrame, signatures_path: str) -> None:
    """Append a batch's band rows in the sidecar's OWN layout -- width
    read from the dir names, so an append can never fork the layout; a
    legacy flat sidecar stays flat (full-scan probes) until an explicit
    :func:`rebuild_band_sidecar`.  On the bucketed layout the bloom
    delta rows land FIRST (bloom ⊇ sidecar through any crash; a torn
    bloom append only adds false-positive bits), and a missing or
    width-forked bloom is rebuilt first.  Once the sidecar has doubled
    since the last rebuild, :func:`rebuild_bands_bloom` collapses the
    delta rows."""
    import os

    sidecar = _bands_sidecar_path(signatures_path)
    width = _layout_pfx_len(sidecar, key=_BANDS_SIDECAR_KEY)
    if width is None:
        band_rows.write.mode("append").parquet(sidecar)
        return
    from ..sources.io import (DEFAULT_MAX_GROUP_BYTES,
                              DEFAULT_MAX_GROUP_ROWS, _row_group_options)

    band_rows = band_rows.localCheckpoint(eager=True)  # feeds two writes
    bdir = _bands_bloom_dir(signatures_path)
    if not os.path.exists(bdir) or _layout_pfx_len(bdir) != width:
        # heal a crashed rebuild (bloom dir removed, rename never
        # happened) or a width fork: without this the gate silently
        # stays off FOREVER -- probes stay correct but permanently
        # degrade to unpruned prefix reads
        _rebuild_band_bloom(band_rows.sparkSession, signatures_path, width)
    if os.path.exists(bdir) and _layout_pfx_len(bdir) == width:
        _bloom_rows(
            band_rows.select(_bands_key_expr().alias("bkey")), width,
            col="bkey",
        ).write.mode("append").partitionBy("pfx").parquet(bdir)
    _row_group_options(
        band_rows.withColumn("bk", _bands_bk_expr())
        .withColumn(_BANDS_SIDECAR_KEY, _bands_bpfx_expr(width))
        .repartition(F.col(_BANDS_SIDECAR_KEY))
        .sortWithinPartitions("bk")
        .write.mode("append"),
        "parquet", DEFAULT_MAX_GROUP_ROWS, DEFAULT_MAX_GROUP_BYTES,
    ).partitionBy(_BANDS_SIDECAR_KEY).parquet(sidecar)
    # GEOMETRIC bloom compaction: each append adds one delta row per
    # touched prefix, and every probe ORs across its prefix's rows --
    # without collapse the per-batch bloom work grows linearly in batch
    # count (the class of creep this round removes everywhere else).
    # Collapse them once the sidecar has doubled since the last rebuild:
    # the rebuild reads only the appended-to prefixes, amortized O(1)
    # per sidecar row.
    import json

    spark = band_rows.sparkSession
    meta = _bands_meta_path(signatures_path)
    if os.path.exists(bdir) and os.path.exists(meta):
        n_rows = spark.read.parquet(sidecar).count()
        with open(meta) as fh:
            last = json.load(fh).get("rows_at_rebuild", 0)
        if n_rows >= 2 * max(last, 1):
            _rebuild_band_bloom(spark, signatures_path, width)


def _read_band_sidecar(spark, signatures_path: str,
                       new_buckets: DataFrame) -> DataFrame:
    """The sidecar rows that can possibly collide with the batch.  On
    the bucketed layout: batch (band, bucket) keys are bloom-tested
    first -- keys failing every bloom row of their prefix have no
    corpus collision and never touch the sidecar -- and only the
    SURVIVORS' prefixes are read (partition-pruned; bytes ∝ bloom bits
    + the batch's true collision mass, not corpus rows).  Lossless: the
    bloom is a superset of the sidecar through any crash, so a dropped
    key provably matches no sidecar row, and pruning by surviving
    prefixes keeps every row the (band, bucket) equi-join could keep
    (parity test-locked).  A missing/width-mismatched bloom degrades to
    reading all batch prefixes (unpruned, correct); a legacy flat
    sidecar full-scans.  Prefix sets are bounded by the dir count
    (<= 4096); past ``_PFX_ISIN_MAX`` the literal IN is replaced by an
    explicit subdir listing (no plan bloat)."""
    import os

    sidecar = _bands_sidecar_path(signatures_path)
    width = _layout_pfx_len(sidecar, key=_BANDS_SIDECAR_KEY)
    if width is None:
        return spark.read.parquet(sidecar)
    keys = new_buckets.withColumn("bkey", _bands_key_expr())
    bdir = _bands_bloom_dir(signatures_path)
    survivor_keys: list | None = None
    if os.path.exists(bdir) and _layout_pfx_len(bdir) == width:
        survivors = _bloom_filter_keys(
            spark, bdir, keys, width, "bkey"
        ).localCheckpoint(eager=True)
        # one bounded take() decides and fetches in the same job: only a
        # bounded key set ever reaches the driver (a mostly-duplicate
        # batch keeps its keys distributed and relies on prefix pruning
        # alone)
        head = survivors.take(_BANDS_KEY_ISIN_MAX + 1)
        if len(head) <= _BANDS_KEY_ISIN_MAX:
            survivor_keys = [r[0] for r in head]
            pfxs = sorted({k[:width] for k in survivor_keys})
        else:
            pfxs = sorted(
                r[0]
                for r in survivors.select(
                    F.substring("bkey", 1, width).alias("p")
                ).distinct().collect()
            )
    else:
        pfxs = sorted(
            r[0]
            for r in keys.select(
                F.substring("bkey", 1, width).alias("p")
            ).distinct().collect()
        )
    fixed = _read_band_sidecar_full(spark, sidecar).schema
    out = _read_bucketed_pruned(spark, sidecar, _BANDS_SIDECAR_KEY, pfxs,
                                fixed)
    if survivor_keys is not None and "bk" in fixed.fieldNames():
        # push the (bloom-bounded) surviving keys to the scan: files are
        # sorted on bk, so the IN filter skips row groups by footer
        # min/max -- bytes ∝ matching row groups, not partition size.
        # No false negatives (same md5 ⇒ same bk); 60-bit aliasing only
        # admits stranger rows, dropped by the (band, bucket) join.
        out = out.filter(
            F.col("bk").isin([int(k[:15], 16) for k in survivor_keys]))
    return out.drop(_BANDS_SIDECAR_KEY, "bk")


def _bands_sidecar_usable(signatures_path: str, n_bands: int,
                          rows_per_band: int) -> bool:
    """The persisted band-bucket sidecar is trustworthy iff its meta
    matches the requested banding: bands are a pure function of
    (signature, n_bands), so a matching meta + the bands-BEFORE-
    signatures append order guarantee the sidecar covers every persisted
    signature (a crash can only leave EXTRA ghost band rows, whose pairs
    drop in the inner annotation join).  Mismatched or absent meta means
    derive bands from the signatures instead (legacy tables, or a
    banding change without a sidecar rebuild)."""
    import json
    import os

    meta = _bands_meta_path(signatures_path)
    if not os.path.exists(meta):
        return False
    with open(meta) as fh:
        m = json.load(fh)
    return (m.get("n_bands") == n_bands
            and m.get("rows_per_band") == rows_per_band)


def rebuild_band_sidecar(
    spark, signatures_path: str, n_bands: int = 8, n_perm: int = 64,
    hash_family: str = "md5",
) -> None:
    """Build (or refresh) the band-bucket sidecar for an existing
    signature table: legacy tables predate it, and changing ``n_bands``
    invalidates it.  The meta stamp is removed FIRST so a crash
    mid-rebuild leaves the sidecar unusable (probes fall back to
    deriving bands) rather than stale-but-trusted."""
    import contextlib
    import os

    rows_per_band = n_perm // n_bands
    # under the sidecar lock: without it a rebuild racing a concurrent
    # incremental append could snapshot the signatures, lose the race to
    # the appender, then OVERWRITE the sidecar without the appended
    # batch's band rows -- committed signatures invisible to a "usable"
    # sidecar, silently losing their candidates forever
    with _path_lock(_bands_sidecar_path(signatures_path) + ".lock"):
        sigs = load_signatures(spark, signatures_path,
                               hash_family=hash_family)
        with contextlib.suppress(FileNotFoundError):
            os.unlink(_bands_meta_path(signatures_path))
        n_rows = _write_band_sidecar(sigs, signatures_path, n_bands,
                                     rows_per_band)
        _write_bands_meta(signatures_path, n_bands, rows_per_band,
                          rows_at_rebuild=n_rows)


def _band_buckets(sigs: DataFrame, n_bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band, bucket) rows: each signature sliced into bands, each
    band hashed to one bucket id (the LSH equi-join key).  The bucket is
    the md5 of the comma-joined band slice -- engine-portable like the
    base hash."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    _md5_long(
                        F.array_join(
                            F.transform(
                                F.slice("sig", (i * rows_per_band + 1).cast("int"),
                                        rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def audit_band_skew(
    signatures: DataFrame,
    n_bands: int = 8,
    n_perm: int = 64,
    top_n: int = 10,
    min_hot_size: int = 3,
) -> DataFrame:
    """Pre-flight LSH banding audit: per-band bucket-size histogram and
    candidate-pair mass report over a signature table -- the check a
    production rollout runs BEFORE paying the band self-join, so banding
    densification (a vocabulary-satiated corpus, a bad hash family, a
    miscalibrated band width) is caught as a metadata-sized report
    instead of a blown-up shuffle.  This is the first-class version of
    the ad-hoc histogram that resolved the x100 MinHash shuffle
    datapoint (SCALE.md round 8): bucket sizes directly predict join
    cost, because a size-k bucket contributes k·(k-1)/2 candidate pairs.

    Returns one row per band: ``(band, n_docs, n_buckets, max_bucket,
    pair_mass, n_hot_buckets, hot_pair_mass, hot_mass_share,
    top_buckets)`` where ``pair_mass = Σ k·(k-1)/2`` over the band's
    buckets (the exact candidate volume the band will emit),
    ``hot_*`` restricts to buckets of size >= ``min_hot_size``, and
    ``top_buckets`` lists the ``top_n`` hottest buckets as
    ``(size, bucket)`` structs, largest first.  A healthy near-dup
    corpus shows max_bucket in the single digits and hot_mass_share
    near the true-duplicate rate; densification shows up as a few
    buckets carrying most of the pair mass.

    Scale: bucket sizing is one map-side-combinable hash aggregate over
    (band, bucket); the per-band summary is a second tiny aggregate.
    The hot-bucket ranking only ever sorts buckets that passed the
    ``min_hot_size`` filter (on a healthy corpus: a vanishing fraction),
    so no task ever sorts a band's full bucket list -- the audit stays
    cheap even when the corpus is not.
    """
    from pyspark.sql import Window

    rows_per_band = n_perm // n_bands
    sizes = (
        _band_buckets(signatures, n_bands, rows_per_band)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=False)  # feeds both aggregates below once
    )
    mass = (F.col("k") * (F.col("k") - 1) / 2).cast("long")
    hot = F.col("k") >= min_hot_size
    summary = sizes.groupBy("band").agg(
        F.sum("k").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("k").cast("long").alias("max_bucket"),
        F.sum(mass).cast("long").alias("pair_mass"),
        F.sum(F.when(hot, 1).otherwise(0)).cast("long").alias("n_hot_buckets"),
        F.sum(F.when(hot, mass).otherwise(0)).cast("long").alias("hot_pair_mass"),
    )
    rn = F.row_number().over(
        Window.partitionBy("band").orderBy(F.desc("k"), F.asc("bucket"))
    )
    top = (
        sizes.filter(hot)
        .withColumn("rn", rn)
        .filter(F.col("rn") <= top_n)
        .groupBy("band")
        .agg(
            # size DESC, bucket ASC (same tie order the rank used): sort
            # ascending on (-size, bucket), then flip the size back
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            (-F.col("k")).alias("neg_size"), F.col("bucket")
                        )
                    )
                ),
                lambda s: F.struct(
                    (-s["neg_size"]).alias("size"),
                    s["bucket"].alias("bucket"),
                ),
            ).alias("top_buckets")
        )
    )
    return (
        summary.join(top, "band", "left")
        .select(
            "band",
            "n_docs",
            "n_buckets",
            "max_bucket",
            "pair_mass",
            "n_hot_buckets",
            "hot_pair_mass",
            F.when(
                F.col("pair_mass") > 0,
                F.col("hot_pair_mass").cast("double") / F.col("pair_mass"),
            ).alias("hot_mass_share"),
            F.coalesce(
                "top_buckets",
                F.array().cast("array<struct<size:long,bucket:long>>"),
            ).alias("top_buckets"),
        )
        .orderBy("band")
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    n: int = 3,
    n_perm: int = 64,
    n_bands: int = 8,
    seed: int = 42,
    min_est_jaccard: float = 0.5,
    persist_signatures: str | None = None,
    hash_family: str = "md5",
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    rows = (doc_a, doc_b, est_jaccard) with est_jaccard = fraction of
    matching signature components (an unbiased Jaccard estimator), filtered
    to ``min_est_jaccard``.  Scale: candidates come from an equi-join on
    (band, xxhash64(band slice)); no cross join anywhere.

    ``persist_signatures``: optional parquet path for the signature table.
    When given, signatures are written once and read back, so every
    downstream reference scans durable columnar storage -- the
    production-scale choice (fault-tolerant: executor loss re-reads
    parquet instead of re-running the shingle pipeline, and the table is
    reusable across jobs, e.g. incremental dedup).  When omitted,
    ``localCheckpoint`` keeps the signatures as in-memory RDD blocks --
    faster on a warm cluster (no parquet encode/decode) but truncated
    lineage means executor loss forces a job retry.  Candidates are
    identical either way (test-locked).
    """
    rows_per_band = n_perm // n_bands
    sigs = minhash_signatures(docs, n=n, n_perm=n_perm, seed=seed,
                              hash_family=hash_family)
    # materialize: four downstream references (both sides of the band
    # self-join + both signature joins) must reuse the signatures, not
    # re-evaluate the shingle pipeline.  localCheckpoint beats .cache()
    # ~2x here: it stores raw RDD blocks and skips the columnar
    # cache-build of the 64-long arrays.
    if persist_signatures is not None:
        # the whole overwrite sequence runs under the SIDECAR LOCK, the
        # same one rebuild_band_sidecar and the incremental append take:
        # without it a concurrent incremental_minhash_candidates(
        # append=True) could append signatures between this job's
        # signature snapshot and its sidecar overwrite, leaving a
        # meta-'usable' sidecar that silently misses those docs'
        # candidates forever
        import contextlib as _ctx
        import os as _os

        with _path_lock(_bands_sidecar_path(persist_signatures) + ".lock"):
            # invalidate any prior band sidecar BEFORE the table
            # overwrite: a crash mid-rebuild must leave the sidecar
            # unusable (meta absent -> probes fall back to deriving
            # bands), never stale
            with _ctx.suppress(FileNotFoundError):
                _os.unlink(_bands_meta_path(persist_signatures))
            # stamp the hash-family version so a later job reusing this
            # table (load_signatures) can refuse signatures computed
            # under an older, value-incompatible definition instead of
            # silently mis-bucketing; clustered on doc_id so incremental
            # annotation probes skip row groups (see _write_signatures)
            _write_signatures(
                sigs.withColumn(
                    "hash_family", F.lit(HASH_FAMILY_VERSIONS[hash_family])
                ),
                persist_signatures, "overwrite",
            )
            sigs = load_signatures(docs.sparkSession, persist_signatures,
                                   hash_family=hash_family)
            # band-bucket sidecar: the per-batch incremental probe reads
            # bloom rows + the batch's collision row groups instead of
            # re-folding every corpus signature into bands on every
            # ingest (see incremental_minhash_candidates)
            n_rows = _write_band_sidecar(sigs, persist_signatures,
                                         n_bands, rows_per_band)
            _write_bands_meta(persist_signatures, n_bands, rows_per_band,
                              rows_at_rebuild=n_rows)
    else:
        sigs = sigs.localCheckpoint(eager=True)
    return _pairs_from_sigs(sigs, n_bands, rows_per_band, n_perm,
                            min_est_jaccard)


def _pairs_from_sigs(
    sigs: DataFrame,
    n_bands: int,
    rows_per_band: int,
    n_perm: int,
    min_est_jaccard: float,
) -> DataFrame:
    """The plain banded candidate join over a materialized signature
    table (shared tail of :func:`minhash_lsh_candidates` and the routed
    path)."""
    bands = _band_buckets(sigs, n_bands, rows_per_band)
    pairs = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    return _annotate_est_jaccard(pairs, sigs, n_perm, min_est_jaccard)


def _factored_pairs_from_sigs(
    sigs: DataFrame,
    n_bands: int,
    rows_per_band: int,
    n_perm: int,
    min_est_jaccard: float,
) -> DataFrame:
    """Signature-twin-factored candidate generation -- the BOUNDED-VERIFY
    path hot banding is routed to.  Returns EXACTLY the pairs of
    :func:`_pairs_from_sigs` (property-tested), computed as:

    1. Docs are grouped by their FULL signature (``sig_key`` = md5 of
       the joined components).  Boilerplate/template duplicates -- the
       measured banding adversary (SCALE.md round 9: 10% of docs from 20
       templates puts a multi-thousand-doc bucket in EVERY band) -- are
       signature twins, so each template collapses to ONE representative.
    2. TWIN pairs (same sig) are emitted directly from a single
       ``sig_key`` equi-join: their est_jaccard is identically 1.0 (all
       ``n_perm`` components match), so they skip banding AND the
       signature-compare verify.  The plain path would push each such
       pair through all ``n_bands`` band joins (they collide in every
       band) and verify it against both 64-long signatures.
    3. The band join runs over REPRESENTATIVES only, deflating a hot
       bucket from k docs to its g distinct signatures: join-side pair
       mass drops from k(k-1)/2 to g(g-1)/2 per bucket.  Rep pairs are
       est-verified once, then expanded to member pairs through two
       ``sig_key`` joins -- bucket membership and est_jaccard are
       functions of the signature, so expansion is lossless.

    The quadratic pair OUTPUT of a template family is irreducible under
    the all-pairs contract; what this path removes is the n_bands-fold
    join amplification and the per-pair verify for the dominant class.
    (Downstream dedup consumers that only need clusters should instead
    union the twin STARS -- rep to member -- with rep pairs; connected
    components are identical and output is linear, see
    ``cluster_keepers``'s labels= path.)"""
    keyed = sigs.withColumn(
        "sig_key",
        F.md5(F.array_join(
            F.transform("sig", lambda v: v.cast("string")), ",")),
    ).localCheckpoint(eager=True)
    members = keyed.select("sig_key", "doc_id")
    # one row per distinct signature; min doc_id is the representative
    reps = (
        keyed.groupBy("sig_key")
        .agg(F.min("doc_id").alias("doc_id"), F.first("sig").alias("sig"))
        .localCheckpoint(eager=True)
    )
    # twin pairs: same full signature => est_jaccard == 1.0 exactly
    twins = (
        members.alias("a")
        .join(members.alias("b"),
              (F.col("a.sig_key") == F.col("b.sig_key"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit(1.0).alias("est_jaccard"),
        )
    )
    rep_pairs = _pairs_from_sigs(
        reps.select("doc_id", "sig"), n_bands, rows_per_band, n_perm,
        min_est_jaccard,
    )
    # rep pair -> all member pairs of the two signature classes
    rep_key = reps.select("sig_key", "doc_id")
    expanded = (
        rep_pairs
        .join(rep_key.select(F.col("doc_id").alias("doc_a"),
                             F.col("sig_key").alias("key_a")), "doc_a")
        .join(rep_key.select(F.col("doc_id").alias("doc_b"),
                             F.col("sig_key").alias("key_b")), "doc_b")
        .join(members.select(F.col("sig_key").alias("key_a"),
                             F.col("doc_id").alias("m_a")), "key_a")
        .join(members.select(F.col("sig_key").alias("key_b"),
                             F.col("doc_id").alias("m_b")), "key_b")
        .select(
            F.least("m_a", "m_b").alias("doc_a"),
            F.greatest("m_a", "m_b").alias("doc_b"),
            "est_jaccard",
        )
    )
    if min_est_jaccard > 1.0:
        twins = twins.filter(F.lit(False))
    return expanded.unionByName(twins)


# Routing gate (minhash_candidates_routed): a band is HOT when buckets of
# this size or larger carry at least this share of its candidate-pair
# mass.  32-doc buckets contribute >= 496 pairs each -- at that point the
# join cost is concentrated, and if the mass share crosses 1/2 the
# factored path's rep deflation is worth its extra sig_key joins.  Below
# the gate the plain path wins (no grouping pass).  Thresholds are
# deliberately coarse: the decision only trades constant factors, never
# correctness (the two paths return identical pairs).
HOT_BUCKET_MIN_SIZE = 32
HOT_MASS_SHARE_GATE = 0.5


def route_band_skew(
    sigs: DataFrame,
    n_bands: int = 8,
    n_perm: int = 64,
    min_hot_size: int = HOT_BUCKET_MIN_SIZE,
    hot_mass_share_gate: float = HOT_MASS_SHARE_GATE,
) -> dict:
    """Run :func:`audit_band_skew` and decide the candidate path: returns
    ``{"factored": bool, "max_bucket": ..., "hot_mass_share": ...}``
    where ``hot_mass_share`` is the worst band's hot-bucket share of
    candidate-pair mass.  The audit is two metadata-sized aggregates --
    the pre-flight a production rollout pays BEFORE the band join."""
    worst = (
        audit_band_skew(sigs, n_bands=n_bands, n_perm=n_perm,
                        min_hot_size=min_hot_size)
        .agg(
            F.max("max_bucket").alias("max_bucket"),
            F.max("hot_mass_share").alias("hot_mass_share"),
        )
        .collect()[0]
    )
    share = worst["hot_mass_share"] or 0.0
    return {
        "factored": bool(worst["max_bucket"] is not None
                         and worst["max_bucket"] >= min_hot_size
                         and share >= hot_mass_share_gate),
        "max_bucket": worst["max_bucket"],
        "hot_mass_share": share,
    }


def minhash_candidates_routed(
    docs: DataFrame,
    n: int = 3,
    n_perm: int = 64,
    n_bands: int = 8,
    seed: int = 42,
    min_est_jaccard: float = 0.5,
    hash_family: str = "md5",
    factor_exact_twins: bool | None = None,
) -> DataFrame:
    """:func:`minhash_lsh_candidates` with the band-skew audit CLOSED
    INTO ACTION: signatures are computed once, :func:`route_band_skew`
    measures the banding's hot-bucket mass, and densified banding
    (boilerplate duplicate-mass -- the adversary the round-9 audit
    identified) is routed to the signature-twin-factored path while
    healthy corpora keep the cheaper plain join.  Identical pairs either
    way (property-tested + oracle-checked); only the plan changes.
    ``factor_exact_twins`` forces the choice (True/False) for testing
    and for deployments that know their feed."""
    rows_per_band = n_perm // n_bands
    sigs = minhash_signatures(docs, n=n, n_perm=n_perm, seed=seed,
                              hash_family=hash_family).localCheckpoint(
        eager=True)
    if factor_exact_twins is None:
        factor_exact_twins = route_band_skew(
            sigs, n_bands=n_bands, n_perm=n_perm)["factored"]
    impl = _factored_pairs_from_sigs if factor_exact_twins else _pairs_from_sigs
    return impl(sigs, n_bands, rows_per_band, n_perm, min_est_jaccard)


def _annotate_est_jaccard(
    pairs: DataFrame, sigs: DataFrame, n_perm: int, min_est_jaccard: float
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) for candidate ``pairs``, estimated as
    the matching-position fraction of the two signatures.  Shared by the
    batch and incremental candidate paths so the estimator expression
    (and its 6-dp rounding, which the DuckDB oracles replay exactly)
    can never drift between them."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double") / F.lit(float(n_perm))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


def incremental_minhash_candidates(
    new_docs: DataFrame,
    signatures_path: str,
    n: int = 3,
    n_perm: int = 64,
    n_bands: int = 8,
    seed: int = 42,
    min_est_jaccard: float = 0.5,
    hash_family: str = "md5",
    append: bool = True,
) -> DataFrame:
    """Near-dup candidates for NEWLY INGESTED documents against an
    already-signed corpus -- the 100 TB/day ingestion path.

    Only the new documents' text is touched: the existing corpus
    participates through its persisted signature table (written by
    ``persist_signatures=`` / a prior call here with ``append=True``),
    version-checked via :func:`load_signatures`.  Candidate pairs are
    exactly the pairs of the full-corpus :func:`minhash_lsh_candidates`
    that involve at least one new document (signatures are per-doc and
    band buckets are deterministic, so the restriction is lossless --
    asserted end-to-end by tools/scaleprobe.py --incremental and
    tests/test_operators.py).

    Scale shape: signature CPU is proportional to the NEW batch; the old
    corpus is never re-shingled and never shuffled -- its bands are
    derived from the persisted signature scan and reduced to the new
    batch's (band, bucket) keys with a BROADCAST semi-join before any
    wide operation, so shuffle volume tracks the new batch + its bucket
    collisions, not corpus size.  The broadcast is the new batch's
    distinct bucket set (~``n_bands`` x batch rows x 24 B); size the
    ingest batch so that stays well under executor memory (a 10M-doc
    batch broadcasts ~2 GB -- split larger backfills into multiple
    calls).

    ``append=True`` (default) stamps and appends the new signatures to
    ``signatures_path`` so the NEXT increment sees this batch as part of
    the corpus.  The append is RETRY-IDEMPOTENT: ids already present in
    the table are filtered out before writing, so re-running a crashed
    ingest call never duplicates signature rows (a duplicated row would
    multiply every later join against the table).  New ``doc_id``s must
    not collide with OTHER documents' persisted ids (ledger invariant,
    same as the exact-dedup ledgers).
    """
    spark = new_docs.sparkSession
    rows_per_band = n_perm // n_bands
    # batch ids are small by contract -- pin them once for the three
    # broadcast joins below
    new_ids = new_docs.select("doc_id").localCheckpoint(eager=True)
    # validate the persisted table's hash-family stamp ONCE up front
    # (refusing drift BEFORE anything is appended under the wrong family)
    sigs_all = load_signatures(spark, signatures_path,
                               hash_family=hash_family)
    if append:
        # retry idempotence: only sign+append ids not already persisted
        already = sigs_all.join(F.broadcast(new_ids), "doc_id").select("doc_id")
        to_sign = new_docs.join(F.broadcast(already), "doc_id", "left_anti")
        to_sign_sigs = minhash_signatures(
            to_sign, n=n, n_perm=n_perm, seed=seed, hash_family=hash_family
        ).localCheckpoint(eager=True)
        # band sidecar rows BEFORE the signature append: the sidecar
        # must stay a SUPERSET of bands(persisted sigs) through any
        # crash -- extra ghost rows (bands landed, sigs did not) only
        # produce pairs that the inner annotation join drops, while a
        # missing row would silently lose candidates forever.  Both
        # appends run under the sidecar lock so a concurrent
        # rebuild_band_sidecar cannot overwrite the sidecar from a
        # signature snapshot taken between them.
        with _path_lock(_bands_sidecar_path(signatures_path) + ".lock"):
            if _bands_sidecar_usable(signatures_path, n_bands,
                                     rows_per_band):
                _append_band_sidecar(
                    _band_buckets(to_sign_sigs, n_bands, rows_per_band),
                    signatures_path,
                )
            else:
                # a sidecar built for a DIFFERENT banding will not cover
                # the signatures appended below -- invalidate its meta,
                # or every later probe at the meta's own banding would
                # trust a sidecar that silently misses these docs'
                # candidates
                import contextlib as _ctx
                import os as _os

                with _ctx.suppress(FileNotFoundError):
                    _os.unlink(_bands_meta_path(signatures_path))
            _write_signatures(
                to_sign_sigs.withColumn(
                    "hash_family", F.lit(HASH_FAMILY_VERSIONS[hash_family])
                ),
                signatures_path, "append",
            )
        # read everything back from the durable table (same
        # fault-tolerance rationale as persist_signatures); one re-load,
        # split into batch/corpus by the broadcast id set
        sigs_all = load_signatures(spark, signatures_path,
                                   hash_family=hash_family)
        new_sigs = sigs_all.join(F.broadcast(new_ids), "doc_id")
        old_sigs = sigs_all.join(F.broadcast(new_ids), "doc_id", "left_anti")
    else:
        new_sigs = minhash_signatures(
            new_docs, n=n, n_perm=n_perm, seed=seed, hash_family=hash_family
        ).localCheckpoint(eager=True)
        # id-overlap protection: if the batch ids were ALREADY persisted
        # (e.g. a retry after a prior append=True run), keeping their
        # rows in old_sigs would give each batch doc two signature rows
        # and duplicate every annotated candidate -- drop them, matching
        # the append branch's batch/corpus split
        old_sigs = sigs_all.join(F.broadcast(new_ids), "doc_id", "left_anti")

    new_bands = _band_buckets(new_sigs, n_bands, rows_per_band)
    new_bands = new_bands.localCheckpoint(eager=True)
    # reduce the old corpus to rows that can possibly collide with the new
    # batch BEFORE anything wide: broadcast the new bucket keys.  The
    # corpus side comes from the persisted band-bucket SIDECAR when one
    # matches the requested banding -- a PARTITION-PRUNED scan of the
    # batch buckets' prefix dirs (bytes ∝ batch + collision mass, not
    # corpus; see the bucketed-layout block above _bands_bpfx_expr)
    # instead of re-running the md5 band fold over every corpus
    # signature on every batch.  Ghost rows from a crashed append are
    # dropped by the batch-id anti-join + the inner annotation join;
    # tables without a usable sidecar derive as before.
    new_buckets = new_bands.select("band", "bucket").distinct() \
        .localCheckpoint(eager=True)
    if _bands_sidecar_usable(signatures_path, n_bands, rows_per_band):
        old_band_rows = _read_band_sidecar(
            spark, signatures_path, new_buckets
        ).join(F.broadcast(new_ids), "doc_id", "left_anti")
    else:
        old_band_rows = _band_buckets(old_sigs, n_bands, rows_per_band)
    old_hit = old_band_rows.join(
        F.broadcast(new_buckets), ["band", "bucket"])
    all_bands = new_bands.unionByName(old_hit)
    pairs = (
        new_bands.alias("x")
        .join(
            all_bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
        )
        .distinct()
        # materialize: pairs feeds BOTH the cand_ids broadcast below and
        # the final annotation join -- without this the corpus band
        # derivation (old_hit) would execute twice per action
        .localCheckpoint(eager=True)
    )
    # annotate with est_jaccard: candidate ids are batch-bounded.  Below
    # _SIG_ID_ISIN_MAX ids they are PUSHED into the signature-table scan
    # as an IN literal -- on the doc_id-clustered layout that skips row
    # groups by footer min/max, so the per-batch signature read is
    # ∝ candidates, not ∝ corpus (the last per-batch corpus term this
    # path had).  Past the bound (dup-heavy batch: the read is
    # legitimately large) fall back to the broadcast semi-join -- the
    # heavy table still never enters a shuffle either way.
    cand_ids = (pairs.select(F.col("doc_a").alias("doc_id"))
                .union(pairs.select("doc_b")).distinct()
                .localCheckpoint(eager=True))
    # one bounded take() decides and fetches in the same job: only a
    # bounded id set ever reaches the driver (a pathological
    # all-duplicate batch keeps everything distributed on the broadcast
    # path)
    head = cand_ids.take(_SIG_ID_ISIN_MAX + 1)
    if len(head) <= _SIG_ID_ISIN_MAX:
        ids = [r[0] for r in head]
        # the filter pushes below the anti/semi-joins into BOTH sides'
        # parquet scans (new_sigs is a batch-bounded checkpoint in the
        # append=False branch; a table semi-join in the append branch)
        old_cand = old_sigs.filter(F.col("doc_id").isin(ids))
        new_cand = new_sigs.filter(F.col("doc_id").isin(ids))
        sigs_cand = old_cand.unionByName(new_cand)
    else:
        sigs_cand = old_sigs.unionByName(new_sigs).join(
            F.broadcast(cand_ids), "doc_id")
    return _annotate_est_jaccard(pairs, sigs_cand, n_perm, min_est_jaccard)


def minhash_estimate_error(
    docs: DataFrame,
    n: int = 3,
    n_perm: int = 64,
    n_bands: int = 8,
    seed: int = 42,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Sketch-calibration report: for every surfaced MinHash candidate
    pair, compare the signature estimate against the EXACT shingle
    Jaccard and histogram the absolute error into 0.01-wide bins --
    ``(err_bin, n_pairs, n_overestimates)``.

    This is the QA pass a production hash-family or seed rollout runs
    before trusting an LSH layer at 100 TB (estimator bias/variance on
    YOUR corpus, not the textbook bound): integers only, so the whole
    report is oracle-checkable bit-for-bit.  Cost: the candidate volume
    is already band-bounded, and the corpus is semi-joined down to the
    candidate doc_ids BEFORE the exact-verify shingle pass -- only
    candidate documents are re-tokenized, the same bounded verify join
    every near-dup pipeline already pays (never a second full-corpus
    text pass).

    Error bins are exact: the estimate is a multiple of 1/n_perm
    (exactly representable and unchanged by the 6-dp round), the exact
    Jaccard is one IEEE division, and ``floor(abs(diff) * 100)`` is the
    same float expression tree on any engine.  Empty-vs-empty shingle
    pairs (signatures all-sentinel, est 1.0) define Jaccard as 1.0.
    """
    cands = minhash_lsh_candidates(
        docs, n=n, n_perm=n_perm, n_bands=n_bands, seed=seed,
        min_est_jaccard=min_est_jaccard,
    ).localCheckpoint(eager=False)
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = docs.join(cand_ids, "doc_id", "left_semi").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    ).select("doc_id", _shingles(F.col("toks"), n).alias("shingles"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    i = F.size(F.array_intersect("sh_a", "sh_b"))
    u = F.size("sh_a") + F.size("sh_b") - i
    exact = F.when(u == 0, F.lit(1.0)).otherwise(
        i.cast("double") / u.cast("double")
    )
    err_bin = F.floor(F.abs(F.col("est_jaccard") - exact) * F.lit(100)).cast("int")
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            err_bin.alias("err_bin"),
            (F.col("est_jaccard") >= exact).cast("int").alias("over"),
        )
        .groupBy("err_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("over").cast("long").alias("n_overestimates"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60


def simhash_signatures(docs: DataFrame, seed: int = 42) -> DataFrame:
    """60-bit SimHash over token hashes (sign of per-bit weighted sums).

    Entirely JVM-side: bit i of the signature is set iff more than half the
    token hashes have bit i set (vote ``2*ones - n > 0``), computed with one
    ``aggregate`` per bit over the token-hash array — whole-stage codegen,
    no Python worker in the path.  Token hashes are 60-bit md5 prefixes
    (``_md5_long``): engine-portable (the DuckDB oracle replays the votes
    bit-for-bit) and sign-bit-free, so masks and the signature sum stay in
    plain positive long arithmetic.
    """
    hashed = ensure_parallelism(docs).select(
        "doc_id", F.transform(_tokens(F.col("text")), lambda t: _md5_long(t)).alias("hashes")
    )
    masks = F.array(*[
        F.lit(1 << i).cast("long") for i in range(_SIMHASH_BITS)
    ])
    # single fold over the token hashes building all 64 popcounts at once
    # (one reference to `hashes`, so the tokenize+hash pipeline inlines once)
    ones = F.aggregate(
        "hashes",
        F.array_repeat(F.lit(0).cast("long"), _SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda c, m: c
            + F.when(h.bitwiseAND(m) != 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
    )
    n = F.size("hashes").cast("long")
    sig = F.aggregate(
        F.zip_with(
            ones, masks, lambda c, m: F.when(c * 2 > n, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc + b,
    )
    return hashed.select("doc_id", sig.alias("simhash"))


def simhash_candidates(docs: DataFrame, max_hamming: int = 3, seed: int = 42) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole banding: split the 60-bit signature into ``max_hamming + 1``
    chunks; any pair within the Hamming radius shares at least one exact
    chunk, so candidates come from an equi-join on (chunk_idx, chunk_value).
    """
    n_chunks = max_hamming + 1
    chunk_bits = _SIMHASH_BITS // n_chunks
    # both sides of the chunk self-join reuse the materialized signatures
    # (see minhash_lsh_candidates for the localCheckpoint-vs-cache note)
    sigs = simhash_signatures(docs, seed=seed).localCheckpoint(eager=True)
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk"),
                    F.shiftrightunsigned("simhash", i * chunk_bits)
                    .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                    .alias("value"),
                )
                for i in range(n_chunks)
            ])
        ).alias("cc"),
    ).select("doc_id", "simhash", "cc.chunk", "cc.value")
    pairs = (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.value") == F.col("y.value"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------

def md5_sign_planes(n_rows: int, dim: int, seed: int) -> np.ndarray:
    """Deterministic +-1 projection planes derived from md5: entry (r, d)
    is +1 iff the top bit of ``md5(seed:r:d)`` is set.  Sign-LSH only
    needs plane coordinates symmetric about zero, and +-1 entries
    (Achlioptas 2003's database-friendly random projections) carry two
    extra properties Gaussians lack: the planes are reproducible on ANY
    engine with an md5 (making the whole LSH pipeline oracle-checkable),
    and every product +-v_d is exact in float64, so bucket bits depend
    only on a sum whose margin (~||v||) dwarfs association noise."""
    import hashlib

    out = np.empty((n_rows, dim))
    for r in range(n_rows):
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{r}:{d}".encode()).hexdigest()
            out[r, d] = 1.0 if int(h[0], 16) >= 8 else -1.0
    return out


def hyperplane_bucket_udf(planes: np.ndarray):
    """Vectorized random-hyperplane LSH signature: one Arrow batch -> one
    numpy matmul.  A pandas UDF rather than per-element expressions because
    the work is a dense (batch x dim) @ (dim x n_planes) product; an
    expression tree grows with n_planes and higher-order functions run
    interpreted (CodegenFallback), while this is O(1) Python calls per
    batch and the planes matrix rides along as a closure broadcast."""
    from pyspark.sql.functions import pandas_udf

    if planes.shape[0] >= 32:
        # bucket ids are bit-weighted 1 << plane_index into the declared
        # int32 return type; 32+ planes would silently overflow/truncate
        raise ValueError(
            f"n_planes must be < 32 for int32 bucket ids (got {planes.shape[0]}); "
            "use fewer planes per table (more tables) instead"
        )

    @pandas_udf("int")
    def bucket(embs):
        import pandas as pd

        if embs.empty:
            return pd.Series([], dtype="int32")
        M = np.stack(embs.to_numpy()).astype(np.float64)
        bits = (M @ planes.T) > 0
        weights = (1 << np.arange(planes.shape[0])).astype(np.int64)
        return pd.Series(bits @ weights, dtype="int32")

    return bucket


def hyperplane_buckets_udf(planes: np.ndarray, n_tables: int):
    """Multi-table variant of :func:`hyperplane_bucket_udf`: ``planes``
    stacks ``n_tables`` independent plane sets ((n_tables*n_planes) x dim)
    and ONE matmul per Arrow batch yields every table's bucket at once,
    returned as ``array<int>`` of length ``n_tables`` (one Python stage
    regardless of table count)."""
    from pyspark.sql.functions import pandas_udf

    n_planes = planes.shape[0] // n_tables
    if n_planes >= 32:
        # same int32 bit-weight bound as hyperplane_bucket_udf
        raise ValueError(
            f"planes-per-table must be < 32 for int32 bucket ids (got {n_planes}); "
            "raise n_tables or drop planes"
        )

    @pandas_udf("array<int>")
    def buckets(embs):
        import pandas as pd

        if embs.empty:
            return pd.Series([], dtype="object")
        M = np.stack(embs.to_numpy()).astype(np.float64)
        bits = (M @ planes.T) > 0  # (batch, n_tables*n_planes)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        per_table = bits.reshape(len(M), n_tables, n_planes) @ weights
        return pd.Series(list(per_table.astype(np.int32)))

    return buckets


def _make_cosine_udf():
    """Row-wise cosine similarity between two array<float> columns as an
    Arrow-vectorized pandas UDF (float64 einsum over the whole batch).

    Chosen over a native aggregate/zip_with fold after measurement: the
    fold is CodegenFallback (interpreted per element) and pays several
    seconds of JVM warm-up per query, while the UDF is one BLAS call per
    batch — and at production scale batched matmul is the only reasonable
    shape for dense-vector scoring."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a, b):
        import pandas as pd

        if a.empty:
            return pd.Series([], dtype="float64")
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        dot = np.einsum("ij,ij->i", A, B)
        denom = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(dot / denom)

    return cos


def _cosine(a, b):
    """Cosine similarity between two array<float> columns (see
    _make_cosine_udf for the execution strategy)."""
    return _make_cosine_udf()(a, b)


def embedding_near_duplicates(
    emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 12,
    seed: int = 42,
    n_tables: int = 2,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold``.

    Scale path: random-hyperplane signatures bucket the vectors (an
    equi-join), then exact cosine verifies within buckets.  A single
    table misses a high-cosine pair with probability
    ``1 - (1 - theta/pi)^n_planes``; ``n_tables`` INDEPENDENT plane sets
    are OR-ed together (multi-probe), driving the miss rate to that
    value ^n_tables -- the production recall knob.  All tables' buckets
    come out of ONE matmul/Arrow stage; the candidate join is an
    equi-join on (table, bucket); candidate pairs found by several
    tables are deduplicated BEFORE the exact-cosine verify, so each pair
    is verified exactly once regardless of how many tables caught it.
    """
    first = emb.select(F.size("embedding").alias("d")).first()
    dim = first["d"] if first else 0
    planes = md5_sign_planes(n_tables * n_planes, dim, seed)
    sig = hyperplane_buckets_udf(planes, n_tables)
    sigs = emb.select(
        "vec_id", F.posexplode(sig("embedding")).alias("t", "bucket")
    )
    cand = (
        sigs.alias("x")
        .join(
            sigs.alias("y"),
            (F.col("x.t") == F.col("y.t"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    ex = emb.select("vec_id", "embedding")
    pairs = (
        cand.join(
            ex.select(F.col("vec_id").alias("vec_a"),
                      F.col("embedding").alias("emb_a")),
            "vec_a",
        )
        .join(
            ex.select(F.col("vec_id").alias("vec_b"),
                      F.col("embedding").alias("emb_b")),
            "vec_b",
        )
        .select(
            "vec_a", "vec_b",
            F.round(_cosine(F.col("emb_a"), F.col("emb_b")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    return pairs.filter(F.col("cosine_sim") >= threshold)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph -- the dedup
    endgame: candidate pairs (from MinHash/SimHash/embedding LSH) form a
    graph whose components are duplicate CLUSTERS; keeping one canonical
    doc per component is what actually shrinks a corpus.

    Algorithm: iterative min-label propagation.  Every node starts labeled
    with its own id; each round every node takes the min of its label and
    its neighbors' labels; fixpoint when no label changes.  Rounds needed =
    graph diameter, and near-dup clusters are small/dense (diameter 2-4 in
    practice), so the loop is short.  Each round is one shuffle join + one
    min-aggregation; ``localCheckpoint`` truncates the growing lineage so
    round N's plan does not replay rounds 1..N-1 (the classic iterative-
    algorithm trap).  For adversarial chain-shaped graphs use
    ``connected_components_star`` (alternating large-star/small-star),
    which converges in O(log^2 n) rounds regardless of diameter; not
    needed for dedup-shaped graphs.  If ``max_iterations`` rounds pass
    without reaching the fixpoint a warning is logged (a component may
    then carry more than one label).

    Returns ``(node, label)`` where ``label`` is the min node id reachable
    -- the cluster's canonical representative.  Nodes outside any pair are
    absent (they are their own singleton clusters by definition).
    """
    e = pairs.select(
        F.col(a_col).cast("long").alias("src"), F.col(b_col).cast("long").alias("dst")
    )
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .withColumn("chg", F.lit(True))
        .localCheckpoint(eager=False)
    )

    # Two scale changes vs the naive loop, both result-identical:
    #
    # FRONTIER propagation: round k only propagates labels out of nodes
    # whose label changed in round k-1 (round k's table is the min label
    # over <= k-hop reachability either way -- a change at round k must
    # extend a node changed at round k-1 -- so the per-round tables match
    # full propagation row for row).  The edges join and the min-combine
    # shuffle shrink with the frontier instead of staying O(|E|)/round.
    #
    # Fixpoint probe rides the checkpoint job itself: min-label
    # propagation is MONOTONE -- a node's label never increases and the
    # node set is fixed -- so the exact decimal sum of labels strictly
    # decreases iff any label changed, and comparing consecutive sums
    # needs no join-and-count probe job.
    def propagate(state):
        labels, prev_sum = state
        prop = (
            edges.join(
                labels.filter("chg").select("node", "label"),
                edges.src == F.col("node"),
            )
            .select(F.col("dst").alias("node"), F.col("label"))
        )
        new_labels, got = checkpoint(
            labels.select("node", "label", F.lit(True).alias("__old"))
            .unionByName(prop.select(
                "node", "label", F.lit(False).alias("__old")))
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("__old"), F.col("label"))).alias("__prev"),
            ),
            "node", "label",
            (F.col("label") < F.col("__prev")).alias("chg"),
            s=F.coalesce(
                F.sum(F.col("label").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)")),
        )
        return (new_labels, got["s"]), got["s"] == prev_sum

    labels, _ = fixpoint(
        propagate, (labels, None), max_iterations,
        "connected_components labels may split a component (raise "
        "max_iterations to cover the graph's diameter, or use "
        "connected_components_star)",
    )
    return labels.select("node", "label")


def incremental_cluster_assign(
    new_edges: DataFrame,
    persisted_labels: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Maintain duplicate-cluster labels under a NEW batch of candidate
    edges without re-clustering the corpus -- the decision half of the
    incremental ingestion story (candidates:
    :func:`incremental_minhash_candidates`; decisions: this).

    ``persisted_labels`` is a prior :func:`connected_components` output
    ``(node, label)`` with label = min member id.  The update runs CC on
    a REDUCED graph only: the new edges, plus one star edge
    ``member -> label`` for every member of a cluster the batch touches
    (connectivity inside an old cluster is fully represented by its
    label star, so old pair edges are never needed again).  Clusters the
    batch does not touch keep their persisted labels verbatim.

    MERGE-AWARE and exact: a new edge bridging two old clusters relabels
    BOTH to the merged min id, because every member of every touched
    cluster is in the reduced graph via its star edge -- the result
    equals a full re-cluster over (old edges ∪ new edges) node for node
    (property-tested with random graphs + planted merges; the registered
    query is oracle-checked against the full-recompute DuckDB CC).

    Scale: the reduced graph is ∝ new edges + touched-cluster
    memberships -- never the corpus.  The touched-node and touched-label
    sets are batch-bounded, so they reach the persisted label table as
    broadcast joins (scan, no corpus shuffle); the CC fixpoint runs on
    the reduced graph only.  Label STABILITY: min-id labels mean an
    untouched cluster's id never changes, and a merge takes the smaller
    of the merged ids -- downstream tables keyed on cluster_id only see
    churn where a merge actually happened.
    """
    e = new_edges.select(
        F.col(a_col).cast("long").alias("doc_a"),
        F.col(b_col).cast("long").alias("doc_b"),
    )
    updated, touched_labels = _incremental_cc_updated(e, persisted_labels)
    untouched = persisted_labels.join(
        F.broadcast(touched_labels), "label", "left_anti"
    )
    return untouched.unionByName(updated)


def _incremental_cc_updated(
    e: DataFrame, persisted_labels: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Shared core of :func:`incremental_cluster_assign` /
    :func:`ingest_batch`: CC over the reduced graph (new edges + label
    stars of touched clusters).  Returns ``(updated, touched_labels)``
    where ``updated`` holds (node, label) for every node of every
    touched cluster plus the batch nodes appearing in edges -- exactly
    the label rows a delta-maintained state table needs to append."""
    touched_nodes = (
        e.select(F.col("doc_a").alias("node"))
        .union(e.select("doc_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    touched_labels = (
        persisted_labels.join(F.broadcast(touched_nodes), "node")
        .select("label")
        .distinct()
    )
    # every member of every touched cluster, connected via its label star
    touched_members = persisted_labels.join(F.broadcast(touched_labels), "label")
    label_edges = touched_members.select(
        F.col("node").alias("doc_a"), F.col("label").alias("doc_b")
    )
    updated = connected_components(e.unionByName(label_edges))
    return updated, touched_labels


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components via the alternating large-star / small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) -- the scale path for ADVERSARIAL graph shapes.

    ``connected_components`` (min-label propagation) needs one round per
    unit of graph diameter: a 10M-node chain takes 10M rounds.  The star
    algorithm contracts the graph itself each round -- large-star hangs
    every node's larger neighbors onto its locally-smallest neighbor,
    small-star does the same for the smaller neighbors -- and provably
    reaches a fixpoint of depth-1 stars (every node directly attached to
    its component's min) in O(log^2 n) rounds regardless of diameter.

    Cost per round: two grouped mins + two joins on node id = a bounded
    number of shuffles on uniformly-distributed keys; ``localCheckpoint``
    truncates lineage each round.  Rule of thumb: use min-label
    propagation for dedup-cluster graphs (diameter 2-4, cheaper per
    round), stars for unknown / chain-risk graphs (e.g. transitive as-of
    linkage, web graphs).  If ``max_iterations`` rounds pass without
    reaching the fixpoint a warning is logged.

    Output contract matches ``connected_components``: ``(node, label)``
    with ``label`` = min reachable node id, one row per distinct endpoint
    appearing in ``pairs``.
    """
    raw = pairs.select(
        F.col(a_col).cast("long").alias("a"), F.col(b_col).cast("long").alias("b")
    )
    nodes = (
        raw.select(F.col("a").alias("node"))
        .unionByName(raw.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # canonical directed representation: big -> small, self loops dropped
    edges, got = checkpoint(
        raw.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct(),
        n=F.count(F.lit(1)),
    )

    # Fixpoint probe rides the checkpoint job: both edge sets are
    # DISTINCT, so set equality is exactly |ss| == |edges| plus "no ss
    # row is novel vs edges" -- one left join observed inline, with no
    # exceptAll set-difference shuffle or probe job of its own.
    def contract(state):
        edges, prev_n = state
        # large-star: per node u over BOTH directions, attach strictly
        # larger neighbors to m = min(N(u) + {u})
        both = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = both.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", "u").alias("m"))
        ls = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on the (big -> small) edges: attach each node and its
        # smaller neighbors to the group min
        smins = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss, got = checkpoint(
            ls.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .join(
                edges.select("u", "v", F.lit(1).alias("__old")),
                ["u", "v"],
                "left",
            ),
            "u", "v",
            n=F.count(F.lit(1)),
            novel=F.coalesce(
                F.sum(F.when(F.col("__old").isNull(), 1).otherwise(0)),
                F.lit(0),
            ),
        )
        return (ss, got["n"]), got["novel"] == 0 and got["n"] == prev_n

    edges, _ = fixpoint(
        contract, (edges, got["n"]), max_iterations,
        "connected_components_star labels may split a component (raise "
        "max_iterations)",
    )
    # fixpoint is a forest of depth-1 stars: u -> component min
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("label"))
    return (
        nodes.join(labels, "node", "left")
        .select("node", F.coalesce("label", "node").alias("label"))
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    n_perm: int = 64,
    n_bands: int = 8,
    seed: int = 42,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """A-vs-B near-duplicate detection: corpus documents that near-match
    any BENCHMARK document (test-set leakage), as
    (doc_id, bench_doc_id, est_jaccard) rows.

    Same banded-MinHash machinery as the self-join dedup, but asymmetric:
    only cross-side band collisions are candidates, and the benchmark side
    (eval sets are small next to a training corpus) is BROADCAST -- at
    100 TB the corpus never shuffles at all: signatures, band buckets and
    the collision probe are all map-side against the broadcast benchmark
    bands.  Both inputs need (doc_id, text).
    """
    rows_per_band = n_perm // n_bands
    sig_c = minhash_signatures(corpus, n=n, n_perm=n_perm, seed=seed)
    sig_b = minhash_signatures(benchmark, n=n, n_perm=n_perm, seed=seed)
    sig_b = sig_b.localCheckpoint(eager=True)  # reused: bands + verify join
    bands_c = _band_buckets(sig_c, n_bands, rows_per_band)
    bands_b = _band_buckets(sig_b, n_bands, rows_per_band).select(
        F.col("doc_id").alias("bench_doc_id"), "band", "bucket"
    )
    cands = (
        bands_c.join(F.broadcast(bands_b), ["band", "bucket"])
        .select("doc_id", "bench_doc_id")
        .distinct()
    )
    sb = sig_b.select(F.col("doc_id").alias("bench_doc_id"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double") / F.lit(float(n_perm))
    return (
        cands.join(sig_c, "doc_id")
        .join(F.broadcast(sb), "bench_doc_id")
        .select("doc_id", "bench_doc_id", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


def ngram_overlap_contamination(
    corpus: DataFrame, benchmark: DataFrame, n: int = 5
) -> DataFrame:
    """EXACT n-gram collision decontamination (the GPT-3 appendix-C
    method: a training document is contaminated if it shares ANY word
    n-gram with a held-out benchmark document) -- the deterministic,
    oracle-checkable complement to the MinHash-estimate
    :func:`contamination_pairs`.

    Returns (doc_id, n_shared_grams) for contaminated corpus documents
    only.  Both inputs need (doc_id, text); tokenization matches the
    corpus-side shingle ops (lower, trim, split on whitespace; distinct
    grams per doc).

    Scale: the benchmark gram set (eval sets are tiny next to a training
    corpus) is distinct-ed and BROADCAST; the corpus side explodes grams
    map-side and aggregates per doc_id -- the corpus never shuffles at
    gram grain, only the (doc_id, count) result does.
    """
    def grams(df: DataFrame) -> DataFrame:
        t = df.select(
            "doc_id", _tokens(F.col("text")).alias("toks")
        )
        return t.select("doc_id", F.explode(_shingles(F.col("toks"), n)).alias("gram"))

    bench = grams(benchmark).select("gram").distinct()
    return (
        grams(corpus)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    **kwargs,
) -> DataFrame:
    """The decontamination pass itself: drop every corpus document that
    near-matches a benchmark document (``contamination_pairs`` kwargs pass
    through).  One anti-join on doc_id; corpus rows come back unchanged."""
    dirty = contamination_pairs(corpus, benchmark, **kwargs).select("doc_id").distinct()
    return corpus.join(dirty, "doc_id", "left_anti")


def contamination_pairs_exact(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Cross-set variant of :func:`jaccard_prefix_pairs`: every
    (corpus doc, benchmark doc) pair with EXACT n-gram Jaccard >=
    ``threshold``, found losslessly via rarest-first prefix filtering --
    the deterministic alternative to the MinHash
    :func:`contamination_pairs` (no hash family, so a decontamination
    pass built on it is oracle-checkable end to end).

    The shingle-frequency ordering is computed ONCE over the UNION of
    both sets -- the two sides must share one canonical total order
    (required by the prefix theorem), and a single build also halves the
    ordering shuffles.  Rows are keyed by (side, doc_id), so overlapping
    ``doc_id`` spaces are well-defined (each side's document stays its
    own row; nothing merges or double-counts) and each side is recovered
    by a free ``filter`` instead of a semi-join.  Scale posture matches
    the self-join variant: gram/doc-keyed equi-joins only, candidate
    volume bounded by prefix posting products, one exact verify per
    survivor; benchmark sets are typically tiny next to the corpus, so
    their postings are short.

    Returns ``(doc_id, benchmark_doc_id, jaccard)`` -- corpus ids in
    ``doc_id`` to match ``contamination_pairs``'s consumer contract.
    """
    def _sh(df: DataFrame, side: str) -> DataFrame:
        t = ensure_parallelism(df).select(
            "doc_id", _tokens(F.col("text")).alias("toks")
        )
        return t.select(
            F.lit(side).alias("side"), "doc_id",
            _shingles(F.col("toks"), n).alias("shingles"),
        )

    # checkpoint BEFORE the explode (exactly like jaccard_prefix_pairs):
    # explode infers a size(shingles) > 0 filter that predicate pushdown
    # drags through the ensure_parallelism repartition down to the scan,
    # re-evaluating the whole tokenize+shingle pipeline (twice: the size
    # and isnotnull branches) in the narrow pre-exchange stage -- measured
    # 50 s of CPU on 2 tasks at the 10x probe scale, the dominant cost of
    # the whole pass.  The checkpoint is a pushdown barrier, so the heavy
    # projection runs post-exchange at full parallelism.
    sh_all = (
        _sh(corpus, "c").unionByName(_sh(benchmark, "b"))
        .localCheckpoint(eager=False)
    )
    grams = sh_all.select("side", "doc_id", F.explode("shingles").alias("g"))
    gram_df = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ordered_all = (
        grams.join(gram_df, "g")
        .groupBy("side", "doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "g"))),
                lambda s: s["g"],
            ).alias("shingles")
        )
        .localCheckpoint(eager=False)
    )

    def _prefix(ordered: DataFrame) -> DataFrame:
        plen = (
            F.size("shingles")
            - F.ceil(F.size("shingles") * F.lit(threshold))
            + 1
        ).cast("int")
        return ordered.select(
            "doc_id",
            F.size("shingles").alias("n"),
            F.posexplode(F.slice("shingles", F.lit(1), plen)).alias("pos", "g"),
        )

    co = ordered_all.filter(F.col("side") == "c").drop("side")
    bo = ordered_all.filter(F.col("side") == "b").drop("side")
    size_ok = F.least(F.col("a.n"), F.col("b.n")) >= F.lit(
        threshold
    ) * F.greatest(F.col("a.n"), F.col("b.n"))
    # PPJoin positional filter -- see jaccard_prefix_pairs for the bound
    # and the losslessness argument (shared total order across BOTH sides
    # here, which is why the ordering is built over the union)
    pos_ok = (
        F.lit(1.0)
        + F.least(
            F.col("a.n") - F.col("a.pos") - 1, F.col("b.n") - F.col("b.pos") - 1
        ).cast("double")
        >= F.lit(threshold / (1.0 + threshold))
        * (F.col("a.n") + F.col("b.n")).cast("double")
        - F.lit(1e-9)
    )
    cand = (
        _prefix(co).alias("a")
        .join(_prefix(bo).alias("b"),
              (F.col("a.g") == F.col("b.g")) & size_ok & pos_ok)
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("benchmark_doc_id"),
        )
        .distinct()
        # pin the verify join's parallelism: the candidate relation is a
        # few BYTES per pair but hundreds of microseconds of array
        # intersection per row downstream, so AQE's size-based coalescing
        # (>= 1 MB per partition) starves the verify stage -- measured
        # 21 s of CPU on 5 of 32 cores at the 10x probe scale.  A keyed
        # REPARTITION_BY_NUM is exempt from coalescing, and hashing on
        # doc_id means the verify join reuses the layout (no extra
        # exchange on the probe side).
        .repartition(
            corpus.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
    )
    sa = co.select(F.col("doc_id"), F.col("shingles").alias("sh_a"))
    sb = bo.select(
        F.col("doc_id").alias("benchmark_doc_id"), F.col("shingles").alias("sh_b")
    )
    return (
        cand.join(sa, "doc_id")
        .join(sb, "benchmark_doc_id")
        .filter(
            F.least(F.size("sh_a"), F.size("sh_b"))
            >= F.lit(threshold) * F.greatest(F.size("sh_a"), F.size("sh_b"))
        )
        .select(
            "doc_id",
            "benchmark_doc_id",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
            (F.size("sh_a") + F.size("sh_b")).alias("ns"),
        )
        .select(
            "doc_id",
            "benchmark_doc_id",
            (
                F.col("i").cast("double")
                / F.nullif(F.col("ns") - F.col("i"), F.lit(0)).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def decontaminate_exact(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """:func:`decontaminate` on the deterministic
    :func:`contamination_pairs_exact` join -- same anti-join contract,
    fully oracle-checkable."""
    dirty = (
        contamination_pairs_exact(corpus, benchmark, n=n, threshold=threshold)
        .select("doc_id")
        .distinct()
    )
    return corpus.join(dirty, "doc_id", "left_anti")


def canonicalize_near_dups(
    docs: DataFrame,
    min_est_jaccard: float = 0.5,
    quality_col: str = "n_chars",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """The dedup endgame in one call: near-duplicate candidate pairs ->
    connected components -> keep the HIGHEST-QUALITY document per
    duplicate cluster (ties broken by min doc_id), singletons passing
    through untouched.  ``pairs`` overrides the default MinHash-LSH
    candidate source with any (doc_a, doc_b) pair DataFrame (e.g. the
    deterministic :func:`jaccard_prefix_pairs`, which makes the whole
    endgame oracle-checkable).

    Returns ``(doc_id, cluster, cluster_size, kept)`` for every input
    document, so the caller can either filter ``kept`` or audit what was
    dropped.

    Scale: pair generation and clustering are the bounded-shuffle paths
    documented on `minhash_lsh_candidates` / `connected_components`; the
    canonical pick is ONE `max_by` hash aggregate over (cluster) with a
    packed (quality, -doc_id) tie-break key -- no window sort, no
    per-cluster collect.  The labels and per-cluster tables join WITHOUT
    broadcast hints: they are usually a few percent of the corpus, which
    AQE will broadcast at test scale but correctly shuffle at 100 TB
    (where "a few percent" is billions of rows).
    """
    if pairs is None:
        pairs = minhash_lsh_candidates(docs, min_est_jaccard=min_est_jaccard)
    labels = connected_components(pairs)
    labeled = docs.join(
        labels.select(F.col("node").alias("doc_id"), "label"),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster"),
        F.col(quality_col).cast("long").alias("quality"),
    )
    # argmax(quality, tie-break LOWEST doc_id) per cluster: pack both into
    # one orderable struct so a single max_by resolves it deterministically
    best = labeled.groupBy(F.col("cluster").alias("b_cluster")).agg(
        F.max_by(
            "doc_id", F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("kept_doc_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return (
        labeled.join(best, F.col("cluster") == F.col("b_cluster"))
        .select(
            "doc_id",
            "cluster",
            "cluster_size",
            (F.col("doc_id") == F.col("kept_doc_id")).alias("kept"),
        )
    )


def cluster_keepers(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    quality_col: str = "n_chars",
    labels: DataFrame | None = None,
) -> DataFrame:
    """Per-cluster KEEPER table -- the persisted state of the
    canonicalization endgame: one row per duplicate cluster (singletons
    included, as their own cluster) carrying the canonical pick and the
    facts needed to maintain it incrementally.

    Returns ``(cluster, kept_doc_id, kept_quality, cluster_size)`` where
    ``kept_doc_id`` is the argmax-quality member (ties: lowest doc_id)
    and ``kept_quality`` its quality.  Because argmax decomposes over a
    partition of the members, a keeper row is a lossless summary for
    later merges: max_by over {old keeper} ∪ {new members} equals max_by
    over the full merged membership -- the invariant
    :func:`incremental_canonicalize` relies on (the same
    never-re-evaluate idea as the reference's point memo,
    ``/root/reference/dask_patternsearch/search.py:285-291``).

    Scale: one CC over the pair graph plus ONE max_by hash aggregate
    over (cluster); no window sort, no per-cluster collect.  Pass
    ``labels=`` (a prior :func:`connected_components` output over the
    same pairs) to skip the CC fixpoint entirely -- the state bootstrap
    path computes labels once and derives keepers from them.
    """
    if labels is None:
        labels = connected_components(pairs)
    labeled = docs.join(
        labels.select(F.col("node").alias("doc_id"), "label"),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster"),
        F.col(quality_col).cast("long").alias("quality"),
    )
    return labeled.groupBy("cluster").agg(
        F.max_by(
            F.struct(F.col("doc_id"), F.col("quality")),
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id")),
        ).alias("k"),
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
    ).select(
        "cluster",
        F.col("k.doc_id").alias("kept_doc_id"),
        F.col("k.quality").alias("kept_quality"),
        "cluster_size",
    )


def incremental_canonicalize(
    new_docs: DataFrame,
    new_edges: DataFrame,
    persisted_labels: DataFrame,
    persisted_keepers: DataFrame,
    quality_col: str = "n_chars",
) -> DataFrame:
    """Maintain the per-cluster KEEPER table under a freshly ingested
    batch without re-reading the corpus -- the endgame leg of the
    incremental ingestion story (candidates:
    :func:`incremental_minhash_candidates`; decisions:
    :func:`incremental_cluster_assign`; keepers: this).  A daily 100 TB
    ingest re-picks keepers only for clusters the batch actually
    touches; every other keeper row carries over verbatim.

    Inputs: ``new_docs`` the batch (``doc_id`` + ``quality_col``; ids
    must be NEW -- same ledger invariant as the signature table),
    ``new_edges`` the batch's candidate edges (new-new and new-old; any
    ``(doc_a, doc_b)`` source), ``persisted_labels`` a prior
    :func:`connected_components` output over the old corpus, and
    ``persisted_keepers`` a prior :func:`cluster_keepers` /
    ``incremental_canonicalize`` output over the SAME state.

    Exactness: the update runs CC on a CONTRACTED graph -- each old
    endpoint replaced by its persisted cluster label (its cluster's min
    member id), so a component's new label = min over (old labels, new
    ids) = min over the merged membership, exactly as a full recompute
    would assign.  Keeper re-pick per touched cluster is a max_by over
    {old keeper rows of the merged-in clusters} ∪ {new batch members}
    -- lossless because argmax decomposes (see :func:`cluster_keepers`);
    merged sizes are the sum of old sizes plus new members.  The result
    equals ``cluster_keepers(old_docs ∪ new_docs, old_pairs ∪
    new_edges)`` row for row (property-tested with random splits and
    planted keeper-changing merges; the registered
    ``incremental_canonicalize`` query is oracle-checked against the
    full-pipeline recursive recompute).

    Scale: the contracted graph is ∝ new edges ONLY -- smaller than even
    :func:`incremental_cluster_assign`'s reduced graph (no member
    star-edges; keeper rows summarize members).  Endpoint and remap sets
    are batch-bounded, so the big persisted tables are only touched by
    broadcast joins (scan, never a corpus shuffle).

    Returns the updated keeper table, ``(cluster, kept_doc_id,
    kept_quality, cluster_size)`` -- same schema as
    :func:`cluster_keepers`, covering old ∪ batch.
    """
    remap = _contracted_remap(new_edges, persisted_labels)
    repicked = _repick_keepers(new_docs, remap, persisted_keepers, quality_col)
    untouched = persisted_keepers.join(
        F.broadcast(remap.withColumnRenamed("node", "cluster")),
        "cluster",
        "left_anti",
    )
    return untouched.unionByName(repicked)


def _contracted_remap(
    new_edges: DataFrame, persisted_labels: DataFrame
) -> DataFrame:
    """Contracted-graph cluster remap (shared by
    :func:`incremental_canonicalize` / :func:`ingest_batch`): each old
    edge endpoint replaced by its persisted cluster label, CC over the
    contracted edges.  Returns (node, label) where node ranges over
    touched old cluster ids and batch doc ids appearing in edges, and
    label is the merged cluster's new id (min member id, exactly as a
    full recompute would assign)."""
    e = new_edges.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
    )
    endpoints = (
        e.select(F.col("doc_a").alias("node"))
        .union(e.select("doc_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # batch-bounded label lookup: old endpoints resolve to their cluster
    # label, new/singleton endpoints to themselves
    ep_map = (
        endpoints.join(
            persisted_labels.join(F.broadcast(endpoints), "node"),
            "node",
            "left",
        )
        .select("node", F.coalesce("label", "node").alias("cl"))
        .localCheckpoint(eager=True)
    )
    contracted = (
        e.join(ep_map.withColumnRenamed("node", "doc_a"), "doc_a")
        .withColumnRenamed("cl", "ca")
        .join(
            ep_map.withColumnRenamed("node", "doc_b").withColumnRenamed("cl", "cb"),
            "doc_b",
        )
        .select(F.col("ca").alias("doc_a"), F.col("cb").alias("doc_b"))
    )
    # remap: (old cluster id | batch doc id) -> merged new label; includes
    # self-loop components, so "touched" is exactly remap's node set
    return connected_components(contracted)


def _repick_keepers(
    new_docs: DataFrame,
    remap: DataFrame,
    persisted_keepers: DataFrame,
    quality_col: str,
) -> DataFrame:
    """Keeper re-pick for every cluster the remap touches (shared by
    :func:`incremental_canonicalize` / :func:`ingest_batch`)."""
    # contenders for every touched cluster: carried old keepers ...
    old_carry = persisted_keepers.join(
        F.broadcast(remap.withColumnRenamed("node", "cluster")), "cluster"
    ).select(
        F.col("label").alias("new_cluster"),
        F.col("kept_doc_id").alias("cand_doc"),
        F.col("kept_quality").alias("cand_quality"),
        F.col("cluster_size").alias("n_members"),
    )
    # ... plus the batch docs themselves (edge-less batch docs become
    # their own singleton clusters)
    new_members = (
        new_docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col(quality_col).cast("long").alias("quality"),
        )
        .join(
            F.broadcast(remap.withColumnRenamed("node", "doc_id")),
            "doc_id",
            "left",
        )
        .select(
            F.coalesce("label", "doc_id").alias("new_cluster"),
            F.col("doc_id").alias("cand_doc"),
            F.col("quality").alias("cand_quality"),
            F.lit(1).cast("long").alias("n_members"),
        )
    )
    repicked = (
        old_carry.unionByName(new_members)
        .groupBy(F.col("new_cluster").alias("cluster"))
        .agg(
            F.max_by(
                F.struct(F.col("cand_doc"), F.col("cand_quality")),
                F.struct(
                    F.col("cand_quality"),
                    (-F.col("cand_doc")).alias("neg_id"),
                ),
            ).alias("k"),
            F.sum("n_members").cast("long").alias("cluster_size"),
        )
        .select(
            "cluster",
            F.col("k.cand_doc").alias("kept_doc_id"),
            F.col("k.cand_quality").alias("kept_quality"),
            "cluster_size",
        )
    )
    return repicked


def _batch_stamp(new_docs: DataFrame):
    """Content-derived batch stamp: md5 over an ORDER-INDEPENDENT hash of
    the id multiset -- count, the two 64-bit halves of md5(doc_id) summed
    as decimal(38,0), min, max.  Deterministic for a given batch, so a
    crashed-then-retried ingest call recomputes the SAME stamp and is
    recognized as already applied.  Distinct id multisets collide only if
    their full-width md5 digest sums collide (a crc32 sum, the previous
    stamp, was additive-collision-prone -- two different batches could
    alias and one would be silently skipped as already-applied)."""
    half = lambda lo: F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), lo, 16), 16, 10
    ).cast("decimal(38,0)")
    row = new_docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(half(1)).alias("s_hi"),
        F.sum(half(17)).alias("s_lo"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).collect()[0]
    import hashlib

    return hashlib.md5(
        f"{row['n']}:{row['s_hi']}:{row['s_lo']}:{row['lo']}:{row['hi']}"
        .encode()
    ).hexdigest()


def _delta_dirs(state_dir: str) -> tuple[str, str, str]:
    s = state_dir.rstrip("/")
    return (f"{s}/signatures.parquet", f"{s}/labels_delta.parquet",
            f"{s}/keepers_delta.parquet")


def _stamp_ledger_path(state_dir: str) -> str:
    import os

    return os.path.join(state_dir.rstrip("/"), "_applied_stamps.json")


# commit-stamp filters switch from a scan-pushed isin literal to a
# broadcast (semi-)join once the ledger outgrows this many stamps
_STAMP_ISIN_MAX = 64


def _atomic_json_write(path: str, obj) -> None:
    """Write ``obj`` as JSON via temp-file + ``os.replace``: readers see
    the old file or the new one, never a torn write.  The one spelling
    of this pattern for every sidecar (stamp ledger, seq map, bands
    meta), so a hardening change lands once."""
    import json
    import os

    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def _heal_state_swaps(state_dir: str) -> None:
    """``sources.io.heal_dir_swap`` on every state-dir directory a
    crashed compaction swap may have stranded (label log, keeper log,
    CDC ledger, bloom sidecar).  Runs under the state lock -- the single
    writer the heal requires -- at each write-path entry, so a state dir
    that crashed mid-compaction self-heals on the next ingest or
    compaction instead of failing loudly until a manual restore."""
    from ..sources.io import heal_dir_swap

    _sig, lab_path, keep_path = _delta_dirs(state_dir)
    for p in (lab_path, keep_path, _cdc_ledger_path(state_dir),
              _cdc_bloom_dir(state_dir)):
        heal_dir_swap(p)


def _applied_stamps(spark, state_dir: str) -> set:
    """Every batch stamp this state has COMMITTED, read from the sidecar
    ledger ``_applied_stamps.json``.  The ledger -- not presence in a
    delta log -- is the commit point: a Spark parquet append is not
    atomic (a crash during job commit can land a subset of part files
    carrying the stamp), so log presence would misclassify a partially-
    landed batch as applied and its missing rows would never be
    repaired.  The ledger is updated with a single ``os.replace`` --
    atomic on POSIX -- AFTER both delta appends succeed.

    A pre-ledger LEGACY state dir (keeper log present, no sidecar) is no
    longer silently interpreted through keeper-log presence -- that rule
    would misread a TORN legacy append (a crash that landed a subset of
    stamped part files) as committed, the exact misclassification the
    ledger exists to prevent.  Such dirs read as NOTHING-COMMITTED here
    and must be upgraded once via :func:`migrate_stamp_ledger` (the
    explicit, documented acceptance of the legacy rule)."""
    import json
    import os
    import warnings

    ledger = _stamp_ledger_path(state_dir)
    if os.path.exists(ledger):
        with open(ledger) as fh:
            return set(json.load(fh))
    _sig, _lab, keep_path = _delta_dirs(state_dir)
    if os.path.exists(keep_path):
        warnings.warn(
            f"pre-ledger dedup state at {state_dir!r}: keeper log present "
            "but no _applied_stamps.json; treating all generations as "
            "uncommitted. Run migrate_stamp_ledger() once to accept the "
            "legacy keeper-log-presence rule and seed the ledger.",
            # FutureWarning, not DeprecationWarning: the default filters
            # silence DeprecationWarning outside __main__, and this is a
            # semantics change the operator must see
            FutureWarning,
            stacklevel=2,
        )
    return set()


def _is_unmigrated_legacy(state_dir: str) -> bool:
    """A pre-ledger state dir: keeper log present, stamp sidecar absent.
    Write paths refuse these until :func:`migrate_stamp_ledger` runs --
    silently proceeding would double-apply previously-committed batches
    (retry-idempotence needs the stamps) and a compaction could re-write
    the logs around state the ledger does not yet acknowledge."""
    import os

    _sig, _lab, keep_path = _delta_dirs(state_dir)
    return (os.path.exists(keep_path)
            and not os.path.exists(_stamp_ledger_path(state_dir)))


def _legacy_stamps(spark, state_dir: str) -> set:
    """The pre-ledger commit rule -- every stamp present in the keeper
    log counts as committed.  Reachable ONLY through
    :func:`migrate_stamp_ledger`: presence-in-log cannot distinguish a
    committed legacy batch from a torn one, so applying this rule is an
    explicit operator decision, not a silent read-path fallback."""
    _sig, _lab, keep_path = _delta_dirs(state_dir)
    import os

    if not os.path.exists(keep_path):
        return set()
    return {
        r["batch_stamp"]
        for r in spark.read.parquet(keep_path)
        .select("batch_stamp").distinct().collect()
    }


def migrate_stamp_ledger(spark, state_dir: str) -> set:
    """One-time upgrade of a pre-ledger state dir: seed
    ``_applied_stamps.json`` from the legacy keeper-log-presence rule.
    Idempotent -- if the ledger already exists this is a no-op merge (an
    existing ledger's stamps are preserved; legacy stamps are added only
    on the first migration).  Returns the committed stamp set after
    migration.  CAVEAT (why this is explicit): the keeper log cannot
    distinguish a committed legacy batch from one whose append tore
    mid-crash; migrating accepts every logged stamp as committed, which
    matches what pre-ledger readers always assumed."""
    legacy = _legacy_stamps(spark, state_dir)
    if legacy:
        _record_applied(state_dir, *legacy)
    return _applied_stamps(spark, state_dir)


class StateLockLost(RuntimeError):
    """Raised by a commit step whose holder no longer owns the state
    lock: the lock was stolen (legitimately -- the holder was frozen
    past the staleness horizon and stopped heartbeating) while the
    holder was suspended.  The commit MUST abort: the usurper may
    already be inside the same read-modify-write, and a dispossessed
    commit could drop its freshly committed stamps.  The aborted
    batch's appended rows remain uncommitted orphans (invisible via
    ``_committed_only``; reclaimed by compaction) and a clean retry
    re-applies the batch idempotently."""


class _LockHandle:
    """What :func:`_path_lock` yields: the lock path plus an
    ``owned()`` probe that re-reads the lock file and compares its
    per-acquisition token.  Commit steps call :func:`_verify_owned`
    with this handle so a holder dispossessed mid-suspension can never
    commit (fail-stop instead of racing the usurper)."""

    __slots__ = ("path", "_owned_fn")

    def __init__(self, path: str, owned_fn) -> None:
        self.path = path
        self._owned_fn = owned_fn

    def owned(self) -> bool:
        return self._owned_fn()


def _verify_owned(lock) -> None:
    """Fail-stop ownership check before a commit step.  ``lock`` is
    whatever the active state-lock context manager yielded; anything
    without an ``owned()`` probe (a custom provider's handle, or None)
    is trusted -- the provider owns its own liveness semantics."""
    owned = getattr(lock, "owned", None)
    if owned is not None and not owned():
        raise StateLockLost(
            f"state lock {getattr(lock, 'path', lock)!r} was stolen while "
            "this holder was suspended; aborting the commit (the batch's "
            "appended rows stay uncommitted orphans -- retry cleanly)"
        )


def _steal_stale(lock: str, observed: bytes, stale_after: float) -> None:
    """Reclaim a lock observed stale, displacing ONLY the exact inode
    observed (its unique per-acquisition token) -- never a live lock.

    The naive stat-then-replace had a TOCTOU: after waiter A observed
    staleness, waiter B could steal and re-acquire a FRESH lock; A's
    ``os.replace`` would then displace B's LIVE lock -- two committers
    inside the ledger read-modify-write, the lost-stamp hazard the lock
    exists to prevent.  Two mechanisms close it:

    - Steals are SERIALIZED by a micro-held steal-mutex (O_EXCL file,
      held only across this function, never across user code; crash
      debris reclaimed by age), so concurrent stealers holding the same
      stale observation cannot take turns displacing whatever fresh
      lock the first winner created.
    - The current lock is RE-OBSERVED under the mutex and displaced
      only if its content still equals the observed stale token
      (tokens are unique per acquisition and a lock file's content
      never changes after creation, so content equality identifies the
      inode); the displaced file is verified again post-replace and a
      mismatch is restored with ``os.link`` (atomic; never clobbers a
      racing creator's new lock the way a blind replace-back would).

    Residual (documented, guarded): a frozen holder resuming its
    release in the microseconds between the re-observe and the
    replace, PLUS a fresh creator in the same window, can still leave
    one holder dispossessed -- its ``owned()`` probe goes false, the
    heartbeat stops, and the :func:`_verify_owned` commit-time
    fail-stop keeps it from committing.  The caller always re-contends
    after this function regardless of outcome."""
    import contextlib
    import os
    import time as timemod
    import uuid

    mutex = lock + ".stealing"
    try:
        os.close(os.open(mutex, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except FileExistsError:
        # another stealer is mid-claim; crash debris reclaimed by age
        with contextlib.suppress(FileNotFoundError):
            if timemod.time() - os.stat(mutex).st_mtime > stale_after:
                os.unlink(mutex)
        timemod.sleep(0.01)
        return
    try:
        try:
            with open(lock, "rb") as fh:
                st = os.fstat(fh.fileno())
                current = fh.read()
        except OSError:
            return  # released meanwhile -- re-contend on O_EXCL
        if current != observed \
                or timemod.time() - st.st_mtime <= stale_after:
            return  # someone else already reclaimed/re-acquired it
        tomb = lock + ".steal-" + uuid.uuid4().hex
        try:
            os.replace(lock, tomb)
        except FileNotFoundError:
            return
        with open(tomb, "rb") as fh:
            displaced = fh.read()
        if displaced != observed:  # pragma: no cover - microsecond race
            with contextlib.suppress(FileExistsError):
                os.link(tomb, lock)
        os.unlink(tomb)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(mutex)


@contextmanager
def _path_lock(lock: str, stale_after: float = 60.0):
    """Cross-process mutual exclusion on an O_EXCL-created lock file.
    Yields a :class:`_LockHandle` so critical-section code can fail-stop
    its commit if dispossessed (see :func:`_verify_owned`).

    LIVENESS, two mechanisms replacing the old fixed-deadline unlink
    (which let two past-deadline waiters race: A unlinks, B creates, C
    unlinks B's LIVE lock -- two writers in the critical section, the
    lost-stamp hazard the lock exists to prevent):

    - A holder HEARTBEATS: a daemon thread touches the lock file every
      ``stale_after/4`` seconds for as long as the critical section
      runs, so a live holder -- however slow (a compaction rewriting a
      corpus-sized log, an ingest appending a large batch) -- never
      looks stale and can never have its lock stolen.
    - A waiter steals only a lock whose mtime is older than
      ``stale_after`` (a crashed holder stops heartbeating), and steals
      it ATOMICALLY with a token-verified claim (:func:`_steal_stale`):
      ``os.replace`` onto a uniquely-named tombstone succeeds for
      exactly one of any number of concurrent stealers, and the winner
      unlinks the tombstone only after verifying it displaced the very
      lock it observed stale -- a fresh lock acquired between the
      waiter's stat and its replace is restored intact.

    OWNERSHIP: the lock file carries a per-acquisition token, and the
    heartbeat, the release, AND every commit step (via
    :func:`_verify_owned`) verify the token before acting.  Without
    this, a holder suspended past ``stale_after`` (VM pause, SIGSTOP,
    storage hang) whose lock was legitimately stolen would, on resume,
    refresh and then UNLINK the new holder's live lock -- or worse,
    run its ledger read-modify-write concurrently with the usurper's
    and drop freshly committed stamps.  A resumed-and-dispossessed
    holder instead leaves the usurper's lock alone and ABORTS its own
    commit (:class:`StateLockLost`).

    PORTABILITY (documented 100 TB caveat, SCALE.md "single-node-isms"):
    O_EXCL creation, mtime heartbeats and atomic rename exist on local
    and NFSv4 filesystems but NOT on object stores (S3/GCS).  There a
    deployment must either guarantee a single writer per state_dir by
    construction (one driver owns the feed) or install a real
    coordination service via :func:`set_state_lock_provider`."""
    import os
    import threading
    import time as timemod
    import uuid

    parent = os.path.dirname(lock)
    if parent:
        os.makedirs(parent, exist_ok=True)
    token = f"{os.getpid()}:{uuid.uuid4().hex}".encode()

    def _owned() -> bool:
        try:
            with open(lock, "rb") as fh:
                return fh.read() == token
        except OSError:
            return False

    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, token)
            os.close(fd)
            break
        except FileExistsError:
            # observe content + mtime from ONE open fd: they describe the
            # same inode, and a lock file's content never changes after
            # creation, so "stale mtime + token X" proves token X's holder
            # stopped heartbeating (a steal-and-reacquire swaps the whole
            # file, never rewrites it in place)
            try:
                with open(lock, "rb") as fh:
                    st = os.fstat(fh.fileno())
                    observed = fh.read()
            except (FileNotFoundError, OSError):
                continue  # released between open and read -- re-contend
            if timemod.time() - st.st_mtime > stale_after:
                _steal_stale(lock, observed, stale_after)
                continue  # reclaimed or not: re-contend on O_EXCL
            timemod.sleep(0.05)
    stop = threading.Event()

    def _heartbeat() -> None:
        while not stop.wait(stale_after / 4.0):
            if not _owned():
                # stolen while this process was frozen -- keep POLLING
                # instead of exiting: a momentary displacement (another
                # holder's release verifying and restoring our file)
                # returns ownership, and a dead heartbeat would let a
                # LIVE restored holder read as stale and be stolen
                continue
            try:
                os.utime(lock)
            except FileNotFoundError:
                continue

    hb = threading.Thread(
        target=_heartbeat, name="state-lock-heartbeat", daemon=True
    )
    hb.start()
    try:
        yield _LockHandle(lock, _owned)
    finally:
        stop.set()
        hb.join()
        # release by displace-and-verify, not owned()-then-unlink: the
        # latter's check-to-unlink gap could kill a usurper's live lock
        # if a steal landed exactly between them.  Displacing to a
        # unique tombstone and verifying the token restores anything
        # that is not ours (same non-clobbering discipline as
        # _steal_stale).
        import contextlib

        tomb = lock + ".rel-" + uuid.uuid4().hex
        try:
            os.replace(lock, tomb)
        except FileNotFoundError:
            pass  # stolen and released already
        else:
            with open(tomb, "rb") as fh:
                displaced = fh.read()
            if displaced != token:  # pragma: no cover - microsecond race
                with contextlib.suppress(FileExistsError):
                    os.link(tomb, lock)
            os.unlink(tomb)


# Optional deployment hook: a callable (state_dir, stale_after) -> context
# manager replacing the file-based lock for filesystems without O_EXCL /
# rename atomicity (object stores).  The provider's context manager may
# yield any handle; if the handle exposes ``owned()`` the commit-time
# fail-stop (:func:`_verify_owned`) uses it, otherwise the provider is
# trusted to fence its own holders (e.g. a DynamoDB/ZooKeeper lease).
_STATE_LOCK_PROVIDER = None


def set_state_lock_provider(provider) -> None:
    """Install (or with ``None`` remove) a custom state-dir lock provider
    used by every ingest/compaction write path in place of the default
    POSIX lock file -- the object-store deployment hook (the default
    file lock needs O_EXCL + atomic rename, which S3/GCS do not give;
    see SCALE.md's single-node-isms).  ``provider(state_dir,
    stale_after)`` must return a context manager whose scope IS the
    critical section."""
    global _STATE_LOCK_PROVIDER
    _STATE_LOCK_PROVIDER = provider


def _state_lock(state_dir: str, stale_after: float = 60.0):
    """The per-state-dir writer lock (batch ingest commit, streaming sink
    commit, compaction swap): a :func:`_path_lock` next to the stamp
    ledger, unless a deployment installed a coordination-service lock
    via :func:`set_state_lock_provider`."""
    if _STATE_LOCK_PROVIDER is not None:
        return _STATE_LOCK_PROVIDER(state_dir, stale_after)
    return _path_lock(_stamp_ledger_path(state_dir) + ".lock", stale_after)


def _record_applied(
    state_dir: str, *stamps: str, spark=None, locked: bool = False,
    lock=None,
) -> None:
    """Atomically add ``stamps`` to the commit ledger (write a temp file,
    ``os.replace`` over the live one -- readers see old-or-new, never a
    torn file).  The read-modify-write is serialized by
    :func:`_state_lock` so CONCURRENT committers (e.g. the MinHash and
    CDC legs sharing one state_dir, or two streaming micro-batch sinks)
    cannot drop each other's stamps -- a lost stamp would turn an
    applied batch's rows into compaction-eligible orphans.  When the
    ledger does not exist yet and ``spark`` is passed, the first write
    SEEDS it from the legacy keeper-log-presence rule
    (:func:`_legacy_stamps`), so upgrading a pre-ledger state dir cannot
    orphan its already-committed generations.  Callers already inside a
    :func:`_state_lock` section pass their yielded handle as ``lock``
    (or legacy ``locked=True``): the handle's ownership token is
    re-verified HERE, at the commit point, so a holder frozen past the
    staleness horizon whose lock was stolen fail-stops
    (:class:`StateLockLost`) instead of racing the usurper's
    read-modify-write and dropping its freshly committed stamps."""
    import json
    import os

    ledger = _stamp_ledger_path(state_dir)
    with nullcontext() if (locked or lock is not None) \
            else _state_lock(state_dir):
        if lock is not None:
            _verify_owned(lock)
        seen: set = set()
        if os.path.exists(ledger):
            with open(ledger) as fh:
                seen = set(json.load(fh))
        elif spark is not None:
            seen = set(_legacy_stamps(spark, state_dir))
        seen.update(stamps)
        _atomic_json_write(ledger, sorted(seen))


def init_dedup_state(
    docs: DataFrame,
    state_dir: str,
    n: int = 3,
    n_perm: int = 64,
    n_bands: int = 8,
    seed: int = 42,
    min_est_jaccard: float = 0.5,
    hash_family: str = "md5",
    quality_col: str = "n_chars",
) -> None:
    """Bootstrap the persistent dedup state :func:`ingest_batch`
    maintains: the stamped MinHash signature table, plus LABEL and
    KEEPER tables stored as DELTA logs (every row carries
    ``batch_seq``/``batch_stamp``; readers resolve latest-wins via
    :func:`load_cluster_state`).  One full-corpus pass -- the only one
    the lifetime of the state ever pays; every later batch goes through
    :func:`ingest_batch`."""
    sig_path, lab_path, keep_path = _delta_dirs(state_dir)
    stamp = _batch_stamp(docs)
    cands = minhash_lsh_candidates(
        docs, n=n, n_perm=n_perm, n_bands=n_bands, seed=seed,
        min_est_jaccard=min_est_jaccard, hash_family=hash_family,
        persist_signatures=sig_path,
    ).localCheckpoint(eager=True)
    # compute the CC fixpoint ONCE and derive keepers from it (both
    # writes below consume it; the CC output is already checkpointed)
    labels = connected_components(cands)
    keepers = cluster_keepers(docs, quality_col=quality_col, labels=labels)
    tag = lambda df: df.withColumn(
        "batch_seq", F.lit(0).cast("long")
    ).withColumn("batch_stamp", F.lit(stamp))
    tag(labels).write.mode("errorifexists").parquet(lab_path)
    tag(
        keepers.withColumn("alive", F.lit(True))
    ).write.mode("errorifexists").parquet(keep_path)
    # commit point: the genesis batch enters the stamp ledger (readers
    # resolve only committed generations; a bootstrap that crashed before
    # this line is cleaned up and re-run -- errorifexists guards it).
    # spark= so a shared pre-ledger dir's legacy stamps are seeded, not
    # orphaned, by this first ledger write
    _record_applied(state_dir, stamp, spark=docs.sparkSession)


def _resolve_labels(lab: DataFrame) -> DataFrame:
    """Latest batch wins per node (nodes never disappear, they only
    change label)."""
    return lab.groupBy("node").agg(
        F.max_by("label", "batch_seq").alias("label"))


def _resolve_keepers(keep: DataFrame) -> DataFrame:
    """Latest batch wins per cluster; tombstones (alive = false) drop."""
    return (
        keep.groupBy("cluster")
        .agg(
            F.max_by(
                F.struct("kept_doc_id", "kept_quality", "cluster_size",
                         "alive"),
                "batch_seq",
            ).alias("k")
        )
        .filter(F.col("k.alive"))
        .select(
            "cluster",
            F.col("k.kept_doc_id").alias("kept_doc_id"),
            F.col("k.kept_quality").alias("kept_quality"),
            F.col("k.cluster_size").alias("cluster_size"),
        )
    )


def _committed_only(spark, state_dir: str, df: DataFrame) -> DataFrame:
    """Restrict a delta log to COMMITTED generations: rows whose
    ``batch_stamp`` is in the ledger.  Uncommitted orphans -- the debris
    of an ingest that crashed between its appends and its ledger write --
    are invisible to every reader until a retry commits them or
    compaction physically drops them.  The stamp set is one per applied
    batch (plus compaction markers), so below ``_STAMP_ISIN_MAX`` the
    ``isin`` stays a pushed scan-level filter; past it (a years-running
    feed: 1e5 stamps would put a 1e5-element IN into every plan) the
    filter becomes a broadcast semi-join against a one-column stamp
    relation.  Legacy dirs without a ledger resolve unfiltered
    (pre-ledger rule)."""
    import os

    if not os.path.exists(_stamp_ledger_path(state_dir)):
        return df
    applied = sorted(_applied_stamps(spark, state_dir))
    if len(applied) > _STAMP_ISIN_MAX:
        stamps_df = df.sparkSession.createDataFrame(
            [(s,) for s in applied], "batch_stamp string"
        )
        return df.join(F.broadcast(stamps_df), "batch_stamp", "left_semi")
    return df.filter(F.col("batch_stamp").isin(applied))


def load_cluster_state(spark, state_dir: str) -> tuple[DataFrame, DataFrame]:
    """Resolve the delta logs to current views: ``(labels, keepers)``.

    Labels: latest batch wins per node (one max_by hash aggregate --
    nodes never disappear, they only change label).  Keepers: latest
    batch wins per cluster, then tombstones (``alive = false``, written
    when a merge absorbs a cluster) are dropped.  Only COMMITTED
    generations participate (stamp in the sidecar ledger -- see
    :func:`_applied_stamps`), so a partially-landed crashed batch never
    leaks into the resolved views.  Duplicate rows from a retried append
    resolve by latest-``batch_seq``-wins.  Read cost grows with the
    number of deltas until compaction (:func:`compact_dedup_state`) --
    the standard LSM posture."""
    sig_path, lab_path, keep_path = _delta_dirs(state_dir)
    return (
        _resolve_labels(
            _committed_only(spark, state_dir,
                            spark.read.parquet(lab_path))),
        _resolve_keepers(
            _committed_only(spark, state_dir,
                            spark.read.parquet(keep_path))),
    )


def ingest_batch(
    new_docs: DataFrame,
    state_dir: str,
    n: int = 3,
    n_perm: int = 64,
    n_bands: int = 8,
    seed: int = 42,
    min_est_jaccard: float = 0.5,
    hash_family: str = "md5",
    quality_col: str = "n_chars",
) -> DataFrame:
    """The 100 TB/day ingestion loop in ONE call: run all three
    incremental legs against the persisted state and append the deltas
    -- candidates (:func:`incremental_minhash_candidates`: batch-only
    shingling, signature append), decisions (label-star CC via
    :func:`_incremental_cc_updated`: label rows for touched clusters
    only), and keepers (:func:`_repick_keepers` + tombstones for merged-
    away clusters).  Returns the batch's annotated candidate pairs.
    Reference analogs: the memo ledger never re-evaluates a known point
    (``/root/reference/dask_patternsearch/search.py:285-291``) and the
    results dict is the durable state the loop resumes from
    (``search.py:48-63``) -- here generalized to a multi-table LSM state
    with an explicit commit protocol.

    State is LSM-shaped: label/keeper updates APPEND delta rows tagged
    ``(batch_seq, batch_stamp)`` instead of rewriting the corpus-sized
    tables (an untouched cluster's rows are never written again --
    per-batch write volume is ∝ the batch and its touched clusters);
    :func:`load_cluster_state` resolves latest-wins, and periodic
    compaction of a resolved snapshot bounds read amplification.  A
    cluster absorbed by a merge gets a TOMBSTONE row (``alive = false``)
    so it disappears from the resolved keeper view.

    RETRY-IDEMPOTENT end to end, with a two-state COMMIT PROTOCOL: the
    commit point is a single atomic ``os.replace`` of the stamp ledger
    (``_applied_stamps.json``), performed AFTER both delta appends
    succeed.  A retry therefore sees exactly one of two states:
    COMMITTED (stamp in the ledger -> all state writes skipped,
    candidates recomputed and returned) or NOT COMMITTED (fresh apply).
    Any rows a crashed attempt left in either log -- including a
    partially-landed parquet append, where only a subset of part files
    carry the stamp -- are uncommitted orphans: every reader
    (:func:`load_cluster_state`, this function's own resolution, and
    :func:`compact_dedup_state`) filters to committed stamps, so the
    pre-batch view is reconstructed exactly and the retry re-appends the
    full delta at a fresh generation.  Batch sequence numbers are drawn
    above the max of BOTH logs INCLUDING orphans, so a retried
    generation always shadows its own debris and an unrelated
    never-retried orphan can never collide with a later batch.
    Orphan rows are physically dropped at the next compaction.
    Sequential batches compose exactly: after any number of calls the
    resolved state equals the from-scratch build over the union corpus
    (property-tested, including forced partial-crash replays -- with and
    without an intervening compaction; the registered
    ``incremental_ingest_keepers`` query is oracle-checked against the
    full recursive recompute)."""
    spark = new_docs.sparkSession
    sig_path, lab_path, keep_path = _delta_dirs(state_dir)
    stamp = _batch_stamp(new_docs)
    if _is_unmigrated_legacy(state_dir):
        # a pre-ledger dir has committed generations the stamp sidecar
        # does not know about: ingesting now would re-apply any
        # previously-committed batch (double-counting its docs) because
        # already_applied reads as False for every legacy stamp
        raise ValueError(
            f"pre-ledger dedup state at {state_dir!r}: run "
            "migrate_stamp_ledger(spark, state_dir) once before ingesting"
        )
    # whole read-apply-append-commit under the state lock (same
    # rationale as ingest_cdc_batch: atomic applied-check + generation
    # allocation + appends vs concurrent ingests and compaction swaps;
    # the lock heartbeats, so a long batch never reads as stale)
    with _state_lock(state_dir) as lk:
        return _ingest_batch_locked(
            spark, new_docs, state_dir, sig_path, lab_path, keep_path,
            stamp, n, n_perm, n_bands, seed, min_est_jaccard, hash_family,
            quality_col, lk,
        )


def _ingest_batch_locked(
    spark, new_docs: DataFrame, state_dir: str, sig_path: str,
    lab_path: str, keep_path: str, stamp: str, n: int, n_perm: int,
    n_bands: int, seed: int, min_est_jaccard: float, hash_family: str,
    quality_col: str, lk=None,
) -> DataFrame:
    _heal_state_swaps(state_dir)  # a crashed compaction swap self-heals
    already_applied = stamp in _applied_stamps(spark, state_dir)
    cands = incremental_minhash_candidates(
        new_docs, sig_path, n=n, n_perm=n_perm, n_bands=n_bands, seed=seed,
        min_est_jaccard=min_est_jaccard, hash_family=hash_family,
        append=not already_applied,
    ).localCheckpoint(eager=True)
    if already_applied:
        return cands
    # generation: above the max of BOTH logs, orphan debris included, so
    # this batch's rows shadow any partial rows a crashed attempt left
    lab_gen = spark.read.parquet(lab_path).select(
        "batch_seq", "batch_stamp").distinct().collect()
    keep_gen = spark.read.parquet(keep_path).select(
        "batch_seq", "batch_stamp").distinct().collect()
    seq = max(r["batch_seq"] for r in lab_gen + keep_gen) + 1
    # pin the resolved COMMITTED views (uncommitted orphans filtered =
    # the exact pre-batch state): each is referenced by several joins
    # below, and without this the log scan + max_by aggregate re-runs per
    # reference (the views are ∝ corpus but flat -- the same
    # materialization a production job would pay once per batch)
    labels = _resolve_labels(
        _committed_only(spark, state_dir, spark.read.parquet(lab_path))
    ).localCheckpoint(eager=False)
    keepers = _resolve_keepers(
        _committed_only(spark, state_dir, spark.read.parquet(keep_path))
    ).localCheckpoint(eager=False)
    edges = cands.select("doc_a", "doc_b")
    tag = lambda df: df.withColumn(
        "batch_seq", F.lit(seq).cast("long")
    ).withColumn("batch_stamp", F.lit(stamp))
    # decisions: label rows for every member of every touched cluster
    updated, _touched = _incremental_cc_updated(
        edges.select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
        ),
        labels,
    )
    tag(updated).write.mode("append").parquet(lab_path)
    # keepers: re-picked rows for touched clusters + singleton batch
    # docs, tombstones for clusters a merge absorbed
    remap = _contracted_remap(edges, labels)
    repicked = _repick_keepers(new_docs, remap, keepers, quality_col)
    # tombstone only clusters that EXIST in the keeper state (a batch doc
    # absorbed into a cluster also has node != label in the remap, but it
    # never had a keeper row -- writing junk tombstones for those would
    # add ∝-batch rows to the log for nothing)
    absorbed = remap.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("cluster"))
    tombstones = (
        keepers.join(F.broadcast(absorbed), "cluster", "left_semi")
        .select(
            "cluster",
            F.lit(None).cast("long").alias("kept_doc_id"),
            F.lit(None).cast("long").alias("kept_quality"),
            F.lit(0).cast("long").alias("cluster_size"),
        )
    )
    delta = (
        repicked.withColumn("alive", F.lit(True))
        .unionByName(tombstones.withColumn("alive", F.lit(False)))
    )
    tag(delta).write.mode("append").parquet(keep_path)
    # COMMIT: one atomic ledger replace -- before this line the batch
    # does not exist to any reader; after it, a retry is a no-op.  The
    # lock handle's ownership is re-verified at the commit point, so a
    # holder dispossessed mid-suspension aborts instead of committing
    _record_applied(state_dir, stamp, spark=spark, locked=True, lock=lk)
    return cands


def compact_dedup_state(spark, state_dir: str) -> dict:
    """Collapse the label/keeper DELTA logs to a resolved snapshot -- the
    periodic maintenance job that bounds :func:`load_cluster_state`'s
    read amplification after many :func:`ingest_batch` calls (the LSM
    compaction leg; the signature table needs no compaction -- it is
    append-only with no superseded rows).

    The resolved views are rewritten as a single batch-0 generation
    whose ``batch_stamp`` is a fresh compaction marker; tombstoned
    clusters, superseded generations, AND uncommitted orphan rows (the
    debris of a crashed never-retried ingest -- already invisible to
    resolution via the commit ledger) vanish physically.  Resolution
    semantics are unchanged: ``load_cluster_state`` before == after
    (asserted in tests).  RETRY PROTECTION survives by construction:
    ``_applied_stamps.json`` IS the commit ledger, so a pre-compaction
    COMMITTED batch retried afterwards is still recognized as applied
    (re-applying it would double-count its docs in cluster sizes), while
    a pre-compaction CRASHED batch retried afterwards is a clean fresh
    apply against the restored pre-batch view.  The compaction marker is
    ledgered BEFORE the swap so a crash mid-swap never leaves the new
    generation unreadable.  Safety: each log is rewritten into a
    staging dir and moved in by ``sources.io.swap_dir`` (crash contract
    there; the next write-path entry heals a crashed swap); row groups
    stay split-friendly via the default writer bounds.

    Returns ``{"labels_rows_before": ..., "labels_rows_after": ...,
    "keepers_rows_before": ..., "keepers_rows_after": ...}``.
    """
    import uuid

    from ..sources.io import staging_dir, swap_dir, write_table

    _sig, lab_path, keep_path = _delta_dirs(state_dir)
    stamp = "compact-" + uuid.uuid4().hex
    if _is_unmigrated_legacy(state_dir):
        # writing the marker into a FRESH ledger before the swap would
        # make every legacy-stamped row read as uncommitted if the
        # compaction crashes mid-swap -- and the retry would then
        # rewrite the logs from that EMPTY resolved view, destroying
        # the state.  Migration (explicit, one-time) closes the window.
        raise ValueError(
            f"pre-ledger dedup state at {state_dir!r}: run "
            "migrate_stamp_ledger(spark, state_dir) once before compacting"
        )
    # under the state lock (same rationale as compact_cdc_state: an
    # ingest append landing in a log between its rename and rmtree would
    # be destroyed while its stamp may still commit); heartbeat keeps
    # the corpus-sized rewrite from reading as a stale holder
    with _state_lock(state_dir) as lk:
        _heal_state_swaps(state_dir)  # incl. this compactor's own crashes
        # resolve COMMITTED state only (load_cluster_state filters to
        # the ledger), then ledger the marker BEFORE the swap: if the
        # compaction dies mid-swap, the already-swapped log's new
        # generation must already be committed or readers would resolve
        # it to empty
        labels, keepers = load_cluster_state(spark, state_dir)
        # re-record the current committed set alongside the marker so a
        # crash mid-swap leaves every pre-compaction generation readable
        _record_applied(
            state_dir, stamp, *_applied_stamps(spark, state_dir),
            locked=True, lock=lk,
        )
        stats = {}
        for path, df, key in (
            (lab_path, labels, "labels"),
            (keep_path, keepers.withColumn("alive", F.lit(True)), "keepers"),
        ):
            stats[f"{key}_rows_before"] = spark.read.parquet(path).count()
            tagged = df.withColumn(
                "batch_seq", F.lit(0).cast("long")
            ).withColumn("batch_stamp", F.lit(stamp))
            tmp = staging_dir(path)
            write_table(tagged, tmp)
            # fail-stop before the swap: a holder dispossessed during
            # the (corpus-sized) rewrite must not rename logs the
            # usurper may be appending to
            _verify_owned(lk)
            swap_dir(tmp, path)
            stats[f"{key}_rows_after"] = spark.read.parquet(path).count()
        # refresh the maintenance hint: post-compaction log sizes ARE the
        # resolved sizes (one generation, no tombstones)
        _record_resolved_sizes(
            state_dir, stats["labels_rows_after"], stats["keepers_rows_after"]
        )
    return stats


def _compact_meta_path(state_dir: str) -> str:
    import os

    return os.path.join(state_dir.rstrip("/"), "_compact_meta.json")


def _record_resolved_sizes(state_dir: str, labels: int, keepers: int) -> None:
    """Remember the resolved view sizes (a maintenance HINT, not state:
    losing it only costs one extra resolution; same atomic temp+replace
    as every sidecar)."""
    _atomic_json_write(
        _compact_meta_path(state_dir),
        {"labels_resolved": int(labels), "keepers_resolved": int(keepers)},
    )


def maybe_compact_dedup_state(
    spark,
    state_dir: str,
    gap_ratio: float = 2.0,
    min_log_rows: int = 100_000,
) -> dict | None:
    """The compaction TRIGGER for the LSM dedup state: compact when
    EITHER delta log has grown past ``gap_ratio`` times its resolved
    view -- i.e. when at least half the log (at the default 2.0) is
    superseded generations, tombstones and orphan debris.  Both gaps
    matter because they move on different feeds: a keeper-heavy gap
    comes from repeated re-picks/tombstones, while a BOILERPLATE-heavy
    revising feed blows up the LABEL log specifically (measured,
    scaleprobe --compaction boilerplate: every batch carries copies of
    the same templates, so each ingest rewrites label rows for every
    member of the ever-growing template clusters -- label gap 4.7x after
    six batches while the keeper gap stayed 1.01, the singleton keeper
    mass diluting it).  On mostly-new feeds both gaps stay ~1 and
    compaction is correctly skipped (the round-9 probe measured ~1%
    superseded overhead on a fresh feed -- compacting that would rewrite
    the corpus-sized logs for nothing).  ``min_log_rows`` keeps tiny
    states out of the maintenance path regardless of ratio (applied to
    the larger log).  Returns :func:`compact_dedup_state`'s stats when
    triggered, else ``None``.

    Cost model (round-12: safe to run per micro-batch -- the streaming
    sink's ``auto_compact`` does): the COMMON path is two driver-side
    footer sums plus one tiny json read -- since round 13 ZERO Spark
    jobs on a locally-listable state dir (an unlistable URI falls back
    to Spark's footer-count job).  The corpus-sized state RESOLUTION only
    runs when the footer math says the gap COULD have reached
    ``gap_ratio`` against the resolved sizes remembered from the last
    resolution or compaction (``_compact_meta.json`` -- a heuristic
    hint, not state: losing it costs one extra resolution; label counts
    only grow, so the label gap bound is exact, while keeper merges can
    shrink the resolved view and merely DELAY the trigger by the shrink
    factor until the next resolution refreshes the hint).  A triggered
    compaction rewrites each log once (∝ resolved state).  Read
    amplification stays bounded by ``gap_ratio`` while write
    amplification stays ∝ the superseded fraction -- without the
    trigger itself becoming a per-batch corpus term."""
    import json
    import os

    _sig, lab_path, keep_path = _delta_dirs(state_dir)
    lab_rows = _footer_row_count(lab_path)
    if lab_rows is None:  # unlistable: Spark's footer-count job
        lab_rows = spark.read.parquet(lab_path).count()
    keep_rows = _footer_row_count(keep_path)
    if keep_rows is None:
        keep_rows = spark.read.parquet(keep_path).count()
    if max(lab_rows, keep_rows) < min_log_rows:
        return None
    meta = _compact_meta_path(state_dir)
    if os.path.exists(meta):
        with open(meta) as fh:
            hint = json.load(fh)
        cheap = max(
            lab_rows / max(hint.get("labels_resolved", 1), 1),
            keep_rows / max(hint.get("keepers_resolved", 1), 1),
        )
        if cheap < gap_ratio:
            return None  # footer math alone rules compaction out
    labels, keepers = load_cluster_state(spark, state_dir)
    n_labels, n_keepers = labels.count(), keepers.count()
    _record_resolved_sizes(state_dir, n_labels, n_keepers)
    gaps = []
    for log_rows, resolved in ((lab_rows, n_labels), (keep_rows, n_keepers)):
        gaps.append(log_rows / resolved if resolved else float("inf"))
    if max(gaps) < gap_ratio:
        return None
    return compact_dedup_state(spark, state_dir)


def sparse_cosine_pairs(
    docs: DataFrame,
    max_df_frac: float = 0.06,
    k: int = 20,
) -> DataFrame:
    """All-pairs sparse cosine similarity over TF-IDF vectors with prefix
    filtering (the Bayardo et al. WWW'07 similarity-join family):
    candidate pairs are generated ONLY through discriminative terms
    (document frequency <= ``max_df_frac * |corpus|`` -- a FRACTION, so
    the filter's meaning is scale-invariant), then scored exactly over
    every shared term.  Pairs that share nothing rarer than the cutoff
    are not candidates -- the standard recall/volume tradeoff that makes
    an all-pairs join feasible (without it the join is |corpus|^2).

    Scale: the candidate self-join keys on a rare term, so its fan-out is
    bounded by the df cutoff squared per term; scoring re-joins the (doc, term)
    weight relation twice keyed on (doc) and (doc, term); the weight
    relation is materialized once and is exactly the inverted-index grain
    (persist it to parquet in production).  Output is a deterministic
    top-k: (cosine desc, pair asc) via TakeOrderedAndProject.
    """
    tf = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    n_docs = tf.select("doc_id").distinct().count()
    dfrel = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = tf.join(dfrel, "term").select(
        "doc_id",
        "term",
        "df",
        (F.col("tf") * (F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0))
        .alias("w"),
    ).localCheckpoint(eager=True)
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    rare = w.filter(F.col("df") <= max_df_frac * n_docs).select("doc_id", "term")
    cands = (
        rare.alias("ra")
        .join(rare.alias("rb"), "term")
        .filter(F.col("ra.doc_id") < F.col("rb.doc_id"))
        .select(
            F.col("ra.doc_id").alias("d1"), F.col("rb.doc_id").alias("d2")
        )
        .distinct()
    )
    wa = w.select(F.col("doc_id").alias("d1"), "term", F.col("w").alias("wa"))
    wb = w.select(F.col("doc_id").alias("d2"), "term", F.col("w").alias("wb"))
    dots = (
        cands.join(wa, "d1")
        .join(wb, ["d2", "term"])
        .groupBy("d1", "d2")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    n1 = norms.select(F.col("doc_id").alias("d1"), F.col("norm").alias("n1"))
    n2 = norms.select(F.col("doc_id").alias("d2"), F.col("norm").alias("n2"))
    return (
        dots.join(n1, "d1")
        .join(n2, "d2")
        .select(
            "d1",
            "d2",
            F.round(F.col("dot") / (F.col("n1") * F.col("n2")), 6).alias(
                "cosine"
            ),
        )
        .orderBy(F.desc("cosine"), F.asc("d1"), F.asc("d2"))
        .limit(k)
    )


def cdc_chunks(docs: DataFrame, window: int = 4) -> DataFrame:
    """Content-defined chunking of each document's token stream (the
    rsync/LBFS rolling-hash idea, applied at word grain): a chunk
    boundary falls AFTER token ``i`` iff the md5 of the ``window``-token
    gram ending at ``i`` starts with hex digit '0' or '1' (a 2/16 coin,
    so chunks average ~8 tokens).  Because the boundary test looks only
    at local content, chunk boundaries inside a shared span land at the
    SAME tokens in every document containing the span -- alignment
    independence that fixed-width blocking fundamentally lacks (two
    copies of a span at different offsets mod the block width never
    produce equal blocks; their CDC chunks are equal wherever the span
    covers a whole chunk plus one window).  This is the reference
    analog of ``dask_patternsearch``'s byte-identity dedup of trial
    points (reference ``search.py:283-291``, the ``results.get(trial_point)`` memo probe) lifted to sub-document
    spans.

    Returns one row per chunk: (doc_id, chunk_idx, chunk_text,
    chunk_hash, n_tokens).

    Scale: boundary marking and chunk slicing are per-document array
    expressions (map-only, whole-stage codegen, no Python, no shuffle);
    output grain is ~n_tokens/8 rows.  The md5-per-position cost is
    ~n_tokens hashes of ``window``-token strings -- the same O(corpus
    tokens) coefficient every shingling operator here pays.
    """
    t = ensure_parallelism(docs).select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    ).select("doc_id", "toks", F.size("toks").alias("n"))
    # boundary AFTER position i (1-based), for i in [window, n-1]: a cut at
    # i == n is a no-op (the tail chunk always ends at n), so exclude it
    # and keep start/end construction uniform.
    gram = lambda i: F.array_join(F.slice("toks", i - window + 1, window), " ")
    bps = F.when(
        F.col("n") > window,
        F.filter(
            F.sequence(F.lit(window), F.col("n") - 1),
            lambda i: F.substring(F.md5(gram(i)), 1, 1).isin("0", "1"),
        ),
    ).otherwise(F.array().cast("array<int>"))
    # let-binding: Catalyst collapses stacked projections, so naming bps
    # in one select and referencing it from starts AND ends re-evaluates
    # the md5 boundary filter per reference (measured 11x slower at
    # sf0.1: 6.5 s vs 0.57 s warm).  transform over a one-element array
    # binds the expression to a lambda variable -- evaluated ONCE.
    spans = F.flatten(
        F.transform(
            F.array(bps),
            lambda b: F.zip_with(
                F.concat(F.array(F.lit(1)), F.transform(b, lambda x: x + 1)),
                F.concat(b, F.array(F.col("n"))),
                lambda st, en: F.struct(st.alias("s"), en.alias("e")),
            ),
        )
    )
    # pass the expression to posexplode DIRECTLY: exploding a projected
    # alias instead plans a shape that re-derives the span construction
    # per output row (measured 12x: 3.3 s vs 0.28 s warm at sf0.1)
    ch = t.select(
        "doc_id", "toks", F.posexplode(spans).alias("chunk_idx", "span")
    ).select(
        "doc_id",
        "chunk_idx",
        F.array_join(
            F.slice("toks", F.col("span.s"), F.col("span.e") - F.col("span.s") + 1),
            " ",
        ).alias("chunk_text"),
        (F.col("span.e") - F.col("span.s") + 1).cast("long").alias("n_tokens"),
    )
    return ch.withColumn("chunk_hash", F.md5("chunk_text")).select(
        "doc_id", "chunk_idx", "chunk_text", "chunk_hash", "n_tokens"
    )


def cdc_span_dedup(
    docs: DataFrame, window: int = 4, chunks: DataFrame | None = None
) -> DataFrame:
    """Exact duplicated-span REMOVAL with corpus rewriting -- the
    training-data transform of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499), whose
    suffix-array formulation is inherently sequential, re-expressed as
    the distributable content-defined-chunk relaxation: cut every
    document into CDC chunks (``cdc_chunks``; boundaries are a pure
    function of local content, so repeated spans chunk identically at
    any offset), keep each distinct chunk text only at its corpus-wide
    FIRST occurrence (ordered by doc_id, then chunk position --
    within-document repeats are removed too), and re-emit every document
    from its surviving chunks.  Unlike the detection-only signals
    (``duplicate_ngram_fraction``, ``substring_dup_fraction``) this op
    produces the cleaned corpus itself.

    Returns (doc_id, n_chunks, n_kept, clean_text, clean_n_tokens);
    documents whose every chunk was seen earlier come back with
    ``clean_text = ''`` (the paper drops the span, not the document).

    Scale: chunking is map-only (see ``cdc_chunks``); keep-first is ONE
    groupBy on chunk_hash (partial map-side combine -- the min (doc_id,
    chunk_idx) pair commutes) followed by a join back on (hash, doc,
    idx) that AQE broadcasts while the duplicated-chunk relation is
    small; reassembly is one groupBy on doc_id.  Everything is ~corpus
    tokens with two shuffles; no Python, no windows over data-scale
    relations.
    """
    ch = (
        cdc_chunks(docs, window=window).localCheckpoint(eager=True)
        if chunks is None else chunks
    )
    first = ch.groupBy("chunk_hash").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("first_at")
    )
    kept = ch.join(first, "chunk_hash").filter(
        (F.col("doc_id") == F.col("first_at.doc_id"))
        & (F.col("chunk_idx") == F.col("first_at.chunk_idx"))
    )
    return _rebuild_from_chunks(ch, kept)


def _rebuild_from_chunks(all_chunks: DataFrame, kept: DataFrame) -> DataFrame:
    """Reassemble documents from surviving chunks: position-ordered join
    of kept chunk texts per doc, with every document of ``all_chunks``
    present in the output (fully-removed docs come back empty, not
    absent).  One groupBy on doc_id each side."""
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ),
                lambda st: st["chunk_text"],
            ),
            " ",
        ).alias("clean_text"),
        F.sum("n_tokens").alias("clean_n_tokens"),
    )
    totals = all_chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("clean_n_tokens", F.lit(0)).alias("clean_n_tokens"),
        )
    )


def decontaminate_spans(
    corpus: DataFrame, benchmark: DataFrame, window: int = 4
) -> DataFrame:
    """SURGICAL decontamination: remove the benchmark-overlapping SPANS
    and keep the rest of each document, instead of dropping whole
    documents (:func:`decontaminate_exact` / the n-gram-collision drop).
    A corpus chunk is removed iff its text occurs as a chunk of ANY
    benchmark document -- every occurrence, no first-occurrence
    exemption (it is contamination, not redundancy).  Content-defined
    chunking makes this offset-independent: a benchmark span pasted
    mid-document chunks identically on both sides wherever it covers a
    whole chunk plus one hash window.

    Returns the rewritten corpus (same schema as :func:`cdc_span_dedup`);
    fully deterministic, so the cleaned text itself is oracle-checkable.

    Scale: benchmark sets are small next to the corpus, so the distinct
    benchmark chunk-hash set broadcasts and the corpus-side anti-join is
    map-only after one chunking pass -- no shuffle touches the corpus
    beyond the reassembly groupBy.
    """
    ch = cdc_chunks(corpus, window=window).localCheckpoint(eager=True)
    bench_hashes = (
        cdc_chunks(benchmark, window=window).select("chunk_hash").distinct()
    )
    kept = ch.join(F.broadcast(bench_hashes), "chunk_hash", "left_anti")
    return _rebuild_from_chunks(ch, kept)


def leakage_guarded_split(
    docs: DataFrame, n: int = 8
) -> DataFrame:
    """Deterministic train/holdout split with a cross-split leakage
    audit -- the guard a pretraining pipeline needs BEFORE training:
    a document is holdout iff the first hex digit of md5(doc_id) is
    '0' or '1' (a content-independent 1/8 coin, reproducible across
    engines/runs/partitionings, like ``deterministic_shards``), and a
    TRAIN document is flagged leaky iff it shares at least one distinct
    word ``n``-gram with ANY holdout document (the GPT-3 appendix-C
    n-gram overlap test, here applied between a corpus' own splits
    rather than against an external benchmark -- cf.
    ``contamination_pairs_exact`` for the benchmark form).

    Returns one bounded summary row per source: (source, n_train,
    n_holdout, n_leaky_train, leak_rate) -- report grain, so output
    size is domain-bounded regardless of corpus size.

    Scale: the split label is a map-only expression; the audit is one
    semi-join between the train-side and holdout-side distinct-gram
    relations (both ~corpus tokens; the holdout side is ~1/8 of that),
    then a count-distinct on the leaky doc ids.  No all-pairs stage:
    documents only meet through shared grams, exactly like
    ``contamination_pairs_exact``.  The join key is the 60-bit
    engine-portable gram digest (``_md5_long``), NOT the gram string:
    once the holdout gram set outgrows the broadcast threshold this
    join shuffles both sides, and shuffling ~45-byte word grams was
    measured 5x the digest's mass (scaleprobe --spans at x100: the
    raw-gram spelling jumped to 806 MB shuffle when the broadcast
    stopped fitting; digests restore the ∝-corpus line).
    """
    lab = ensure_parallelism(docs).select(
        "doc_id",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        .isin("0", "1")
        .alias("is_holdout"),
        _tokens(F.col("text")).alias("toks"),
    ).select(
        "doc_id", "is_holdout",
        F.explode(_shingles(F.col("toks"), n)).alias("gram"),
    ).select("doc_id", "is_holdout", _md5_long(F.col("gram")).alias("g"))
    hold_grams = lab.filter("is_holdout").select("g").distinct()
    leaky = (
        lab.filter(~F.col("is_holdout"))
        .join(hold_grams, "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    per_doc = docs.select(
        "doc_id",
        "source",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        .isin("0", "1")
        .alias("is_holdout"),
    ).join(leaky.withColumn("leaky", F.lit(True)), "doc_id", "left")
    return per_doc.groupBy("source").agg(
        F.sum((~F.col("is_holdout")).cast("long")).alias("n_train"),
        F.sum(F.col("is_holdout").cast("long")).alias("n_holdout"),
        F.sum(
            (~F.col("is_holdout") & F.coalesce("leaky", F.lit(False))).cast(
                "long"
            )
        ).alias("n_leaky_train"),
        F.round(
            F.sum(
                (~F.col("is_holdout") & F.coalesce("leaky", F.lit(False)))
                .cast("long")
            )
            / F.greatest(F.sum((~F.col("is_holdout")).cast("long")), F.lit(1)),
            6,
        ).alias("leak_rate"),
    )


def _cdc_ledger_path(state_dir: str) -> str:
    import os

    return os.path.join(state_dir, "cdc_chunks_delta")


# --- CDC ledger v2: hash-prefix bucketing + bloom sidecar ------------------
#
# The v1 ledger was one flat parquet dir, so every ingest_cdc_batch paid a
# full ∝-corpus ledger scan for its membership probe -- the one non-flat
# per-batch term in the round-10 scaleprobe table.  v2 removes it:
#
# * the ledger is PARTITIONED by ``pfx`` = the first 2 hex chars of the
#   chunk hash (256 dirs), so a probe restricted to a prefix set is a
#   partition-pruned scan -- only the named directories are listed/read;
# * a BLOOM SIDECAR (``cdc_bloom/``, also partitioned by pfx) decides
#   which batch hashes need the ledger at all.  It is APPEND-ONLY, the
#   same LSM discipline as the ledger itself: each committed batch
#   appends one delta bloom row per touched prefix covering exactly its
#   novel hashes (self-describing ``(pfx, m, bits)``; ``m`` sized to
#   that delta), and a hash is "maybe present" iff ANY row of its
#   prefix says so.  Append-only makes crash-safety trivial: there is
#   no read-modify-write to tear, a torn append only adds uncommitted
#   bits (false positives, re-verified against the real ledger), and
#   the superset invariant -- every committed hash is fully inside at
#   least one bloom row -- holds through any crash.  Compaction
#   collapses the rows to one per prefix under the state lock.
# * a SEQ SIDECAR (``_cdc_seq.json``: stamp -> generation) lets the
#   committed-max generation be read without touching the ledger.
#
# Per-batch ledger I/O is then: bloom rows for the batch's prefixes
# (KBs), plus ledger partitions for prefixes holding a bloom HIT --
# expected = true duplicates + m/n-tuned false positives, NOT the whole
# corpus.  A fully-novel batch reads (almost) no ledger bytes at any
# corpus size.  Bloom math stays out of the JVM row path: the two
# 60-bit hash halves are computed as JVM expressions, and Python only
# ever sees batch-bounded Arrow groups reduced with vectorized numpy.

_CDC_BLOOM_SCHEMA = "pfx string, m long, bits binary"
_CDC_LEDGER_SCHEMA = (
    "chunk_hash string, batch_seq long, batch_stamp string, pfx string"
)


def _layout_pfx_len(path: str, key: str = "pfx") -> int | None:
    """Prefix length READ FROM THE LAYOUT ITSELF (the ``pfx=ab`` /
    ``bpfx=ab`` dir names) -- self-describing, so it can never disagree
    with the data the way a recorded-on-the-side value could after a
    crash between a re-bucketing compaction's swap and a metadata
    write.  None = not a bucketed layout."""
    import os

    pre = key + "="
    try:
        for e in os.listdir(path):
            if e.startswith(pre):
                return len(e) - len(pre)
    except FileNotFoundError:
        pass
    return None


# partition-pruning prefix filters switch from an isin literal to an
# explicit subdir listing once the batch touches more prefixes than this
# (same plan-bloat class _STAMP_ISIN_MAX bounds for commit stamps: at the
# 4096-dir tier a literal IN would put thousands of literals in every
# batch plan)
_PFX_ISIN_MAX = 64


def _read_bucketed_pruned(spark, path: str, key: str, pfxs,
                          schema) -> DataFrame:
    """Partition-pruned read of a prefix-bucketed dir restricted to
    ``pfxs``, with an EXPLICIT schema (the partition column pinned to
    string -- inference over all-numeric dir names would otherwise
    parse hex prefixes as decimal ints and break every comparison,
    including dropping leading zeros).  Below ``_PFX_ISIN_MAX`` prefixes
    the restriction is an isin pushed into PartitionFilters; above it,
    an explicit subdir listing with ``basePath`` (identical pruning, no
    multi-thousand-literal IN in the plan)."""
    import os

    pfxs = sorted(pfxs)
    if not pfxs:
        return spark.createDataFrame([], schema)
    if len(pfxs) <= _PFX_ISIN_MAX:
        return (
            spark.read.schema(schema).parquet(path)
            .filter(F.col(key).isin(pfxs))
        )
    dirs = [f"{path}/{key}={p}" for p in pfxs]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", path).parquet(*dirs)


def _cdc_pfx_len(state_dir: str) -> int:
    return _layout_pfx_len(_cdc_ledger_path(state_dir)) or 2


def _pick_pfx_len(n_chunks: int) -> int:
    """Bucket count sized to the ledger: 16 dirs under 2M chunks (a tiny
    state pays file-listing overhead, not scan volume -- 256 dirs over a
    test-scale ledger was measured 2.5x the query cost), 256 to 200M,
    4096 beyond (a 100 TB corpus is ~10^10 chunks; 4096 buckets keep a
    pruned probe's per-partition read in the low GBs).  Compaction
    re-buckets as the corpus grows, the same way it re-tunes bloom
    fpp."""
    if n_chunks < 2_000_000:
        return 1
    if n_chunks < 200_000_000:
        return 2
    return 3


def _cdc_bloom_dir(state_dir: str) -> str:
    import os

    return os.path.join(state_dir, "cdc_bloom")


def _cdc_seq_path(state_dir: str) -> str:
    import os

    return os.path.join(state_dir, "_cdc_seq.json")


def _cdc_rows_path(state_dir: str) -> str:
    import os

    return os.path.join(state_dir, "_cdc_rows.json")


def _record_cdc_rows(state_dir: str, stamp: str, n_rows: int) -> None:
    """Record how many ledger rows a generation appended (stamp -> rows,
    written at commit time by the appender, which already knows the
    count).  A maintenance HINT, not state: the trigger's orphan math
    reads it so the common path never scans the ledger; a lost or stale
    entry only costs one fallback stamp-grain scan that re-seeds it.
    Callers on the commit path hold the state lock (same atomic
    temp+replace discipline as the seq sidecar)."""
    import json
    import os

    rp = _cdc_rows_path(state_dir)
    rows: dict = {}
    if os.path.exists(rp):
        with open(rp) as fh:
            rows = json.load(fh)
    rows[stamp] = int(n_rows)
    _atomic_json_write(rp, rows)


def _cdc_ledger_is_bucketed(path: str) -> bool:
    return _layout_pfx_len(path) is not None


def _with_pfx_halves(hashes: DataFrame, pfx_len: int,
                     col: str = "chunk_hash") -> DataFrame:
    """Add the bloom-relevant derivations of a 32-hex key column as JVM
    expressions: the partition prefix and two independent 60-bit halves
    (double hashing: index_i = (h1 + i*h2) mod m).  Shared by the CDC
    chunk-hash ledger (``chunk_hash``) and the band-bucket bloom
    (``bkey``)."""
    return (
        hashes.withColumn(
            "pfx", F.substring(col, 1, pfx_len)
        )
        .withColumn(
            "h1", F.conv(F.substring(col, 1, 15), 16, 10).cast("long")
        )
        .withColumn(
            "h2", F.conv(F.substring(col, 16, 15), 16, 10).cast("long")
        )
    )


def _bloom_rows(hashes: DataFrame, pfx_len: int,
                col: str = "chunk_hash") -> DataFrame:
    """One delta bloom row per prefix covering exactly the distinct
    values of the 32-hex key column ``col``, sized to the per-prefix
    count."""
    import pandas as pd

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        m = bloom.size_for(len(pdf))
        arr = np.zeros(m // 8, dtype=np.uint8)
        bloom.set_bits(arr, pdf["h1"].to_numpy(np.int64),
                       pdf["h2"].to_numpy(np.int64))
        return pd.DataFrame(
            {"pfx": [pdf["pfx"].iloc[0]], "m": [m], "bits": [arr.tobytes()]}
        )

    return (
        _with_pfx_halves(hashes.select(col).distinct(), pfx_len, col=col)
        .groupBy("pfx")
        .applyInPandas(build, _CDC_BLOOM_SCHEMA)
    )


# --- bloom residency (round-13, round-12 verdict #2) -------------------
#
# SCALE.md's 100 TB arithmetic for the bloom-gated probes assumed the
# bloom bits are "executor-RESIDENT on a long-lived stream"; this makes
# the residency code instead of arithmetic.  The OR-able per-prefix
# delta rows of a bloom sidecar are cached IN-PROCESS keyed by the dir's
# parquet file listing: an unchanged dir re-reads nothing, an APPEND
# re-reads only the new delta files (∝ batch, not corpus), and a REBUILD
# (atomic rename => all file paths change) reloads from scratch --
# exactly the geometric schedule the rebuild already amortizes.  The
# cached bits feed the probe through a broadcast (re-broadcast only when
# the listing or the SparkContext changes), so steady-state per-batch
# bloom BYTES READ is ~the batch's own delta, not the corpus' bits.
# Bounded: past _BLOOM_RESIDENT_MAX_BYTES per dir the cache disengages
# and the probe falls back to the distributed cogroup (same semantics,
# parity test-locked) -- on a real cluster that budget maps to executor
# memory; at 10^10 docs the OR-ed bits are ~160 GB corpus-wide, i.e.
# ~40 MB per 4096-bucket prefix, spread across executors by the cogroup
# fallback rather than one driver dict.

_BLOOM_RESIDENT_MAX_BYTES = 256 * 1024 * 1024
_BLOOM_RESIDENT: dict = {}


def _bloom_list_files(bdir: str) -> set | None:
    """The sidecar's parquet data files (local paths only -- a
    non-local URI disengages the residency cache).  Skips ``_``/``.``
    prefixed components (Spark's hidden-path convention), so an
    in-flight write's ``_temporary`` staging never leaks into a
    listing -- its rows are not yet visible to readers either."""
    import os

    if not os.path.isdir(bdir):
        return None
    found: set = set()
    for root, dirs, files in os.walk(bdir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                found.add(os.path.join(root, f))
    return found


def _footer_rows_map(path: str) -> dict | None:
    """{relpath: num_rows} for every data file of a LOCAL parquet dir,
    manifest-gated (round-13 verdict #7): per-file row counts persist in
    ``<path>/_footer_manifest.json`` (underscore-prefixed, so Spark and
    this repo's own listings ignore it), and a call opens parquet
    footers ONLY for files absent from the manifest -- an UNCHANGED dir
    costs one directory walk and one JSON read, zero footer opens.
    Sound because visible part files are immutable under every writer
    here: appends create new uniquely-named files, compactions and
    rebuilds swap whole directories by rename (the manifest rides along
    or starts fresh) -- a path never maps to two different row counts.
    Entries for vanished files drop out via the listing diff.  None when
    the dir isn't locally listable or a new footer is unreadable
    (mid-swap); the manifest is only rewritten after a fully successful
    pass, so a failed read never poisons it."""
    import json
    import os

    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return None
    current: dict = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                fp = os.path.join(root, f)
                current[os.path.relpath(fp, path)] = fp
    mpath = os.path.join(path, "_footer_manifest.json")
    known: dict = {}
    try:
        with open(mpath) as fh:
            known = json.load(fh)
    except (OSError, ValueError):
        known = {}
    out: dict = {}
    new_files = 0
    for rel, fp in current.items():
        n = known.get(rel)
        if n is None:
            try:
                n = pq.ParquetFile(fp).metadata.num_rows
            except Exception:
                return None
            new_files += 1
        out[rel] = int(n)
    if new_files or len(known) != len(out):
        try:
            _atomic_json_write(mpath, out)
        except OSError:
            pass  # read-only dir: served uncached, still correct
    return out


def _footer_row_count(path: str) -> int | None:
    """Total rows of a LOCAL parquet dir from the footer manifest -- the
    same number as Spark's footer-only ``count()``, with zero Spark
    jobs, and zero parquet-footer opens on an unchanged dir (see
    :func:`_footer_rows_map`).  None when the dir isn't locally listable
    or a footer is unreadable (mid-swap): callers then fall back to the
    Spark count.  Used by the maintenance TRIGGERS, which run per
    micro-batch -- this keeps their common path metadata-sized."""
    rows = _footer_rows_map(path)
    return None if rows is None else sum(rows.values())


def _footer_rows_per_pfx_max(bdir: str) -> int | None:
    """max over prefixes of the bloom sidecar's rows-per-prefix, from
    the footer manifest (no Spark job, no footer opens on an unchanged
    dir).  None when unlistable."""
    import os

    rows = _footer_rows_map(bdir)
    if rows is None:
        return None
    per: dict = {}
    for rel, n in rows.items():
        part = os.path.basename(os.path.dirname(rel))
        if "=" not in part:
            continue
        pfx = part.split("=", 1)[1]
        per[pfx] = per.get(pfx, 0) + n
    return max(per.values()) if per else 0


def _bloom_read_rows(fpath: str) -> list:
    """Driver-side footer+column read of ONE bloom delta file:
    [(pfx, m, bits), ...].  Factored out so tests can count physical
    bloom reads."""
    import os

    import pyarrow.parquet as pq

    part = os.path.basename(os.path.dirname(fpath))
    if "=" not in part:
        raise ValueError(f"unpartitioned bloom file {fpath}")
    pfx = part.split("=", 1)[1]
    t = pq.read_table(fpath, columns=["m", "bits"])
    return [
        (pfx, int(mm), bytes(bb))
        for mm, bb in zip(t.column("m").to_pylist(),
                          t.column("bits").to_pylist())
    ]


def _bloom_resident_bits(bdir: str) -> dict | None:
    """{pfx: [(m, bits), ...]} for the sidecar at ``bdir``, served from
    the process-resident cache, reconciled PER PREFIX (round-13 verdict
    #6): an unchanged prefix's bits are kept as-is, an appended-to
    prefix re-reads only its new delta files, and a rebuilt prefix
    (file set neither equal nor a superset of the cached one) reloads
    alone -- so the refresh cost after the delta-preserving rebuild is
    ∝ the prefixes the rebuild actually touched, never the corpus.
    None when the dir isn't locally listable or the bits exceed the
    residency budget -- callers then use the distributed cogroup
    probe."""
    import os

    current = _bloom_list_files(bdir)
    if current is None:
        return None
    cached = _BLOOM_RESIDENT.get(bdir)
    if cached is not None and cached["files"] == current:
        return cached["bits"]

    def pfx_of(path: str) -> str:
        part = os.path.basename(os.path.dirname(path))
        # non-partitioned layouts keep the whole-dir grouping (one key);
        # _bloom_read_rows raises on them exactly as before
        return part.split("=", 1)[1] if "=" in part else ""

    cur_by_pfx: dict = {}
    for f in current:
        cur_by_pfx.setdefault(pfx_of(f), set()).add(f)
    old_by_pfx: dict = {}
    if cached is not None:
        for f in cached["files"]:
            old_by_pfx.setdefault(pfx_of(f), set()).add(f)
    bits: dict = {}
    to_read: list = []
    for pfx, fset in cur_by_pfx.items():
        old = old_by_pfx.get(pfx)
        if cached is not None and old == fset:
            if pfx in cached["bits"]:
                bits[pfx] = cached["bits"][pfx]
            continue
        if cached is not None and old is not None and old <= fset:
            if pfx in cached["bits"]:
                bits[pfx] = list(cached["bits"][pfx])
            to_read.extend(sorted(fset - old))  # append: delta files only
        else:
            to_read.extend(sorted(fset))  # new / rebuilt prefix
    try:
        for fpath in to_read:
            for pfx, mm, bb in _bloom_read_rows(fpath):
                bits.setdefault(pfx, []).append((mm, bb))
    except Exception:
        _bloom_drop_broadcast(_BLOOM_RESIDENT.pop(bdir, None))
        return None
    total = sum(len(b) for rows in bits.values() for _m, b in rows)
    if total > _BLOOM_RESIDENT_MAX_BYTES:
        _bloom_drop_broadcast(_BLOOM_RESIDENT.pop(bdir, None))
        return None
    _bloom_drop_broadcast(cached)
    _BLOOM_RESIDENT[bdir] = {"files": current, "bits": bits, "bc": None,
                             "sc": None}
    return bits


def _bloom_drop_broadcast(entry) -> None:
    """Eagerly unpersist a cache entry's superseded broadcast so a
    long-lived stream (one refresh per appended micro-batch) frees
    executor/driver copies deterministically instead of waiting on GC +
    ContextCleaner.  Non-blocking; no job is in flight at refresh time
    on the sequential foreachBatch path, and a rare concurrent reader
    just re-fetches."""
    if entry and entry.get("bc") is not None:
        try:
            entry["bc"].unpersist(False)
        except Exception:
            pass  # context already stopped: nothing to free


def _bloom_resident_broadcast(spark, bdir: str):
    """The cached bits as a Spark broadcast, re-broadcast only when the
    dir's listing or the SparkContext changed (the cache entry was just
    refreshed by :func:`_bloom_resident_bits`)."""
    entry = _BLOOM_RESIDENT.get(bdir)
    sc = spark.sparkContext
    if entry["bc"] is None or entry["sc"] is not sc:
        entry["bc"] = sc.broadcast(entry["bits"])
        entry["sc"] = sc
    return entry["bc"]


# --- executor-side residency for the over-budget fallback --------------
#
# Past _BLOOM_RESIDENT_MAX_BYTES the driver cache disengages; the probe
# then runs grouped-by-prefix in the python workers, and each WORKER
# process keeps its own path-keyed LRU of bloom delta files.  Sound
# because the files are immutable once visible: an append creates new
# part files, a rebuild renames the whole dir so every path changes --
# a path never maps to two different byte strings.  With
# spark.python.worker.reuse (Spark's default) the cache survives across
# jobs and micro-batches, so aggregate executor bloom READS converge to
# each batch's own delta even when the corpus' bits exceed any single
# process budget -- this bounds the last "∝ corpus" term in the 100 TB
# cost model (SCALE.md round-12 residual #2) per worker instead of per
# driver.  An unlistable sidecar URI (non-local filesystem) still falls
# through to the distributed cogroup scan, which has no listing
# prerequisite.

_WORKER_BLOOM_MAX_BYTES = 128 * 1024 * 1024
_WORKER_BLOOM_CACHE: dict = {}  # path -> (bits_bytes, rows); insertion-ordered
_WORKER_BLOOM_CACHE_BYTES = [0]
_WORKER_PATHS_BC: dict = {}  # bdir -> {files, sc, bc}: driver-side map cache


def _worker_bloom_rows(paths: list) -> list:
    """[(m, bits), ...] for the given bloom delta files, served from
    the worker-process LRU (physical read only on first contact per
    path).  Runs inside python workers during the grouped probe; also
    unit-testable in-process.  A missing file propagates -- exactly the
    loud failure the Spark scan fallback gives a mid-swap read."""
    import os

    spool = os.environ.get("SPARK_GRAFT_BLOOM_SPOOL")
    out = []
    for p in paths:
        hit = _WORKER_BLOOM_CACHE.pop(p, None)
        if hit is not None:
            _WORKER_BLOOM_CACHE_BYTES[0] -= hit[0]
        else:
            if spool:  # telemetry for tools/scaleprobe --worker-bloom:
                try:   # one line per PHYSICAL read, keyed by worker pid
                    with open(os.path.join(
                            spool, f"{os.getpid()}.log"), "a") as fh:
                        fh.write(f"{os.path.getsize(p)}\n")
                except OSError:
                    pass
            rows = [(mm, bb) for _pfx, mm, bb in _bloom_read_rows(p)]
            nbytes = sum(len(bb) for _mm, bb in rows)
            if nbytes > _WORKER_BLOOM_MAX_BYTES:
                out.extend(rows)  # larger than the whole budget: serve
                continue          # uncached rather than thrash the LRU
            while (_WORKER_BLOOM_CACHE_BYTES[0] + nbytes
                   > _WORKER_BLOOM_MAX_BYTES and _WORKER_BLOOM_CACHE):
                oldest = next(iter(_WORKER_BLOOM_CACHE))
                old_bytes, _r = _WORKER_BLOOM_CACHE.pop(oldest)
                _WORKER_BLOOM_CACHE_BYTES[0] -= old_bytes
            hit = (nbytes, rows)
        _WORKER_BLOOM_CACHE[p] = hit  # re-insert last: LRU recency order
        _WORKER_BLOOM_CACHE_BYTES[0] += hit[0]
        out.extend(hit[1])
    return out


def _bloom_filter_keys(spark, bdir: str, keys: DataFrame, pfx_len: int,
                       col: str) -> DataFrame:
    """The distinct values of 32-hex key column ``col`` that MIGHT be
    covered by the bloom sidecar at ``bdir`` -- the rest are definitely
    absent from whatever table the bloom shadows.  Caller has verified
    the dir exists and its width matches ``pfx_len``.  A present sidecar
    with no rows for a prefix means NO candidates there: bloom delta
    rows always land before the data rows they cover (append order /
    rebuild order), so rowlessness proves the shadowed table is empty
    under that prefix (``bloom.might_contain`` over no rows is all
    False).  Served from the process-resident bits when
    available (zero sidecar bytes on an unchanged dir -- see the
    residency block above); otherwise cogrouped per prefix so a bloom's
    bits travel to its batch keys once, never row-multiplied through a
    join."""
    import pandas as pd

    bh = _with_pfx_halves(keys.select(col).distinct(), pfx_len, col=col)
    resident = _bloom_resident_bits(bdir)
    if resident is not None:
        # no checkpoint here: the resident probe consumes bh exactly once
        # (one lazy mapInPandas), so materializing it first would add one
        # Spark job per probe for nothing; callers checkpoint the RESULT
        bc = _bloom_resident_broadcast(spark, bdir)

        def probe_map(batches):
            for pdf in batches:
                outs = []
                for pfx, grp in pdf.groupby("pfx"):
                    maybe = bloom.might_contain(
                        grp["h1"].to_numpy(np.int64),
                        grp["h2"].to_numpy(np.int64), bc.value.get(pfx, ()))
                    outs.append(grp.loc[maybe, [col]])
                yield (pd.concat(outs) if outs
                       else pdf.iloc[0:0][[col]])

        return bh.mapInPandas(probe_map, f"{col} string")
    files = _bloom_list_files(bdir)
    if files is not None:
        # driver cache over budget (or read-degraded) but the sidecar is
        # locally listable: grouped probe against the WORKER-process
        # file cache -- each python worker LRU-caches the immutable
        # bloom delta files it has served, so with worker reuse the
        # aggregate physical re-read converges to each batch's own
        # delta even past any single-process budget (see the
        # executor-side residency block above).  The pfx -> files map
        # is metadata-sized (paths only, no bits) and rides a broadcast
        # cached per dir: re-broadcast only when the listing or the
        # SparkContext changes, superseded broadcasts unpersisted
        # eagerly (same lifecycle as the resident-bits broadcast).
        import os

        sc = spark.sparkContext
        entry = _WORKER_PATHS_BC.get(bdir)
        if entry is None or entry["files"] != files \
                or entry["sc"] is not sc:
            by_pfx: dict = {}
            for f in sorted(files):
                part = os.path.basename(os.path.dirname(f))
                if "=" in part:
                    by_pfx.setdefault(part.split("=", 1)[1], []).append(f)
            if entry is not None and entry["sc"] is sc:
                _bloom_drop_broadcast(entry)
            entry = {"files": files, "sc": sc, "bc": sc.broadcast(by_pfx)}
            _WORKER_PATHS_BC[bdir] = entry
        bc_paths = entry["bc"]

        def probe_grp(pdf: "pd.DataFrame") -> "pd.DataFrame":
            if len(pdf) == 0:
                return pd.DataFrame({col: pd.Series([], dtype=object)})
            maybe = bloom.might_contain(
                pdf["h1"].to_numpy(np.int64), pdf["h2"].to_numpy(np.int64),
                _worker_bloom_rows(
                    bc_paths.value.get(pdf["pfx"].iloc[0], [])))
            return pdf.loc[maybe, [col]]

        return bh.groupBy("pfx").applyInPandas(probe_grp, f"{col} string")
    # final fallback (unlistable URI): distributed cogroup scan.  It
    # consumes bh twice (prefix collect + cogroup): materialize once
    bh = bh.localCheckpoint(eager=True)
    # touched prefixes: bounded collect (<= 4096 short hex strings);
    # pruned read with pfx pinned to string (all-numeric dirs would
    # otherwise infer int and break the string-keyed cogroup below)
    pfxs = [r["pfx"] for r in bh.select("pfx").distinct().collect()]
    blooms = _read_bucketed_pruned(spark, bdir, "pfx", pfxs,
                                   _CDC_BLOOM_SCHEMA)

    def probe(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if len(left) == 0:
            return pd.DataFrame({col: pd.Series([], dtype=object)})
        maybe = bloom.might_contain(
            left["h1"].to_numpy(np.int64), left["h2"].to_numpy(np.int64),
            zip(right["m"], right["bits"]))
        return left.loc[maybe, [col]]

    return (
        bh.groupBy("pfx")
        .cogroup(blooms.groupBy("pfx"))
        .applyInPandas(probe, f"{col} string")
    )


def _bloom_candidates(spark, state_dir: str, hashes: DataFrame) -> DataFrame:
    """The subset of ``hashes`` that MIGHT be in the committed ledger,
    per the bloom sidecar -- the rest are definitely novel and skip the
    ledger probe entirely.  A MISSING SIDECAR DIRECTORY degrades safely
    to all-candidates (every hash probes the ledger)."""
    import os

    pfx_len = _cdc_pfx_len(state_dir)
    bdir = _cdc_bloom_dir(state_dir)
    if not os.path.exists(bdir) or _layout_pfx_len(bdir) != pfx_len:
        # missing sidecar, or ledger and bloom disagree on bucket width
        # -- the crash window of a RE-BUCKETING compaction (ledger
        # swapped, bloom swap pending).  Degrade to all-candidates (full
        # probe: correct, just unpruned) until the compaction retry
        # lands the new blooms
        return hashes.select("chunk_hash").distinct() \
            .localCheckpoint(eager=True)
    return _bloom_filter_keys(spark, bdir, hashes, pfx_len, "chunk_hash")


def _cdc_ledger_hits(
    spark, state_dir: str, path: str, stamp: str, batch_firsts: DataFrame
) -> tuple[DataFrame, list | None]:
    """The batch hashes already present in the committed pre-batch
    ledger view (excluding rows stamped by THIS batch -- present iff
    retrying after commit).  On the v2 bucketed layout: bloom sidecar
    first -- hashes failing every bloom row of their prefix are
    definitely novel and never touch the ledger; survivors probe ONLY
    the partitions of their own prefixes (partition-pruned scan), so
    ledger bytes read per batch is ∝ (true duplicates + bloom false
    positives), not ∝ corpus.  Returns ``(hits, candidate_prefixes)``;
    prefixes is None on the v1 flat layout (full-scan probe; compaction
    migrates the layout)."""
    if _cdc_ledger_is_bucketed(path):
        cands = _bloom_candidates(
            spark, state_dir, batch_firsts
        ).localCheckpoint(eager=True)
        cand_pfxs = [
            r["pfx"]
            for r in cands.select(
                F.substring("chunk_hash", 1, _cdc_pfx_len(state_dir))
                .alias("pfx")
            ).distinct().collect()
        ]
        if not cand_pfxs:
            return cands, cand_pfxs  # empty: nothing passed the blooms
        # pruned read (isin below _PFX_ISIN_MAX prefixes, explicit subdir
        # listing above -- no multi-thousand-literal IN at the 4096-dir
        # tier) with pfx pinned to string against all-numeric-dir
        # inference
        ledger = _committed_only(
            spark,
            state_dir,
            _read_bucketed_pruned(spark, path, "pfx", cand_pfxs,
                                  _CDC_LEDGER_SCHEMA),
        ).filter(F.col("batch_stamp") != stamp)
        hits = (
            ledger.join(F.broadcast(cands), "chunk_hash", "left_semi")
            .select("chunk_hash")
            .distinct()
            .localCheckpoint(eager=True)
        )
        return hits, cand_pfxs
    ledger = _committed_only(
        spark, state_dir, spark.read.parquet(path)
    ).filter(F.col("batch_stamp") != stamp)
    hits = (
        ledger.join(
            F.broadcast(batch_firsts.select("chunk_hash").distinct()),
            "chunk_hash",
            "left_semi",
        )
        .select("chunk_hash")
        .distinct()
        .localCheckpoint(eager=True)
    )
    return hits, None


def _next_cdc_seq(spark, state_dir: str, path: str, applied: set) -> int:
    """Next generation number = committed max + 1, read from the seq
    sidecar (stamp -> seq, maintained under the state lock) so the
    common path never scans the ledger for a single max.  Sidecar-less
    legacy dirs fall back to one committed-rows scan; the commit that
    follows seeds the sidecar."""
    import json
    import os

    sp = _cdc_seq_path(state_dir)
    if os.path.exists(sp):
        with open(sp) as fh:
            seqs = json.load(fh)
        vals = [s for st, s in seqs.items() if st in applied]
        if vals:
            return max(vals) + 1
    m = (
        _committed_only(spark, state_dir, spark.read.parquet(path))
        .agg(F.max("batch_seq").alias("m"))
        .collect()[0]["m"]
    )
    return int(m if m is not None else -1) + 1


def _record_cdc_seq(state_dir: str, stamp: str, seq: int) -> None:
    """Record a generation's number in the seq sidecar (caller holds the
    state lock; same atomic temp+replace discipline as the stamp
    ledger)."""
    import json
    import os

    sp = _cdc_seq_path(state_dir)
    seqs: dict = {}
    if os.path.exists(sp):
        with open(sp) as fh:
            seqs = json.load(fh)
    seqs[stamp] = seq
    _atomic_json_write(sp, seqs)


def init_cdc_state(docs: DataFrame, state_dir: str, window: int = 4) -> DataFrame:
    """Bootstrap the persistent chunk-hash ledger for incremental
    duplicated-span removal (:func:`ingest_cdc_batch`): chunk the corpus
    (:func:`cdc_chunks`), keep each distinct chunk's FIRST occurrence
    (ordered by doc_id, then position), persist the surviving hashes as
    generation 0, and return the rewritten corpus.  One full-corpus pass
    -- the only one the state's lifetime pays.

    The ledger is append-only SET state (chunk_hash, batch_seq,
    batch_stamp): span dedup is first-wins, so unlike the label/keeper
    logs of :func:`ingest_batch` nothing is ever revised or tombstoned
    -- no latest-wins resolution, no compaction pressure beyond
    physically dropping crash orphans."""
    stamp = "cdc-" + _batch_stamp(docs)
    # ONE corpus chunking pass: the checkpointed chunk table feeds both
    # the rewrite and the ledger build (recomputing cdc_chunks for the
    # ledger would double the dominant tokenize+md5 cost of the init)
    ch = cdc_chunks(docs, window=window).localCheckpoint(eager=True)
    rewritten = cdc_span_dedup(docs, window=window, chunks=ch)
    firsts = ch.select("chunk_hash").distinct().localCheckpoint(eager=True)
    # v2 layout: ledger partitioned by hash prefix + bloom sidecar, so
    # every later ingest probes by partition pruning instead of a flat
    # ∝-corpus scan (see the v2 block above _cdc_bloom_dir).  Prefix
    # length sized to the ledger (16 dirs for a small state, up to 4096
    # at corpus scale) and recorded in the state meta; compaction
    # re-buckets as the corpus grows.
    n_firsts = firsts.count()
    pfx_len = _pick_pfx_len(n_firsts)
    (
        firsts.withColumn("pfx", F.substring("chunk_hash", 1, pfx_len))
        .withColumn("batch_seq", F.lit(0).cast("long"))
        .withColumn("batch_stamp", F.lit(stamp))
        # co-locate each prefix before the partitioned write: without
        # this every write task holds every prefix and the layout sprays
        # tasks x buckets small files
        .repartition(F.col("pfx"))
        .write.mode("errorifexists")
        .partitionBy("pfx")
        .parquet(_cdc_ledger_path(state_dir))
    )
    _bloom_rows(firsts, pfx_len).write.mode("append").partitionBy(
        "pfx"
    ).parquet(_cdc_bloom_dir(state_dir))
    _record_cdc_seq(state_dir, stamp, 0)
    _record_cdc_rows(state_dir, stamp, n_firsts)
    # spark= so bootstrapping the CDC leg on a state_dir SHARED with a
    # pre-ledger MinHash leg seeds that leg's legacy stamps too -- the
    # first ledger write is the only chance; seeding only the CDC stamp
    # would make every committed MinHash generation read as uncommitted
    # (and therefore compaction-eligible)
    _record_applied(state_dir, stamp, spark=docs.sparkSession)
    return rewritten


def ingest_cdc_batch(
    new_docs: DataFrame, state_dir: str, window: int = 4
) -> DataFrame:
    """Incremental duplicated-span removal: rewrite ONE batch against
    the persisted chunk-hash ledger and append the batch's novel chunk
    hashes -- the streaming/LSM leg of :func:`cdc_span_dedup`, with
    first-INGESTED-wins semantics (the ledger order is the arrival
    order, which is what a feed means by "first").

    A batch chunk survives iff it is the within-batch first occurrence
    of its hash (by doc_id, then position) AND its hash is absent from
    the pre-batch committed ledger.  Sequential batches therefore
    compose exactly: after any number of calls the union of rewrites
    equals the one-shot :func:`cdc_span_dedup` over the concatenated
    corpus in arrival order (oracle-checked by the registered
    ``incremental_cdc_rewrite`` query).

    RETRY-IDEMPOTENT via the same commit protocol as
    :func:`ingest_batch`: the batch's content stamp enters the atomic
    stamp ledger only after the parquet append succeeds, readers filter
    to committed stamps, and the pre-batch view is always reconstructed
    as "committed rows whose stamp differs from THIS batch's" -- so a
    retry after any crash (or after commit) recomputes the identical
    rewrite.  A crashed attempt's partial part files are shadowed by the
    retry's full append; the duplicate (hash, stamp) rows that leaves
    are harmless because every ledger read is a set-semantics semi/anti
    probe.

    Scale: per-batch compute is ∝ batch tokens (map-only chunking + two
    tiny shuffles).  On the v2 bucketed layout (the default since round
    11 -- see the block above :func:`_cdc_bloom_dir`) the ledger probe
    reads only the bloom sidecar rows for the batch's prefixes plus the
    ledger partitions holding a bloom hit, so per-batch ledger I/O is
    ∝ (true duplicates + tuned false positives), not ∝ corpus --
    measured flat across a 10x corpus in scaleprobe --cdc while the
    flat-scan line grew 10x.  v1 flat-layout states keep the full-scan
    broadcast probe until :func:`compact_cdc_state` migrates them."""
    spark = new_docs.sparkSession
    path = _cdc_ledger_path(state_dir)
    # namespaced stamp: the stamp ledger is shared per state_dir, and a
    # batch applied to the MinHash leg must not read as applied here
    stamp = "cdc-" + _batch_stamp(new_docs)
    # the WHOLE read-rewrite-append-commit runs under the state lock:
    # the applied check, the pre-batch committed view, the generation
    # number and the commit are one atomic step against concurrent
    # ingests (two same-batch callers racing past the applied check
    # would double-append; two distinct batches racing the unlocked
    # max(batch_seq) read would share a generation number), and against
    # a concurrent compaction swap (an append landing between
    # compaction's rename and rmtree would be deleted while its stamp
    # commits).  The lock heartbeats while held, so a long append never
    # reads as stale.
    with _state_lock(state_dir) as lk:
        return _ingest_cdc_batch_locked(
            spark, new_docs, state_dir, path, stamp, window, lk
        )


def _ingest_cdc_batch_locked(
    spark, new_docs: DataFrame, state_dir: str, path: str, stamp: str,
    window: int, lk=None,
) -> DataFrame:
    _heal_state_swaps(state_dir)  # a crashed compaction swap self-heals
    already_applied = stamp in _applied_stamps(spark, state_dir)

    ch = cdc_chunks(new_docs, window=window).localCheckpoint(eager=True)
    batch_firsts = (
        ch.groupBy("chunk_hash")
        .agg(F.min(F.struct("doc_id", "chunk_idx")).alias("first_at"))
        .select(
            "chunk_hash",
            F.col("first_at.doc_id").alias("doc_id"),
            F.col("first_at.chunk_idx").alias("chunk_idx"),
        )
    )
    # pre-batch view: committed generations, excluding THIS batch's own
    # rows (present iff this is a retry after commit) -- uncommitted
    # orphans from a crashed attempt are filtered by _committed_only
    hits, _cand_pfxs = _cdc_ledger_hits(
        spark, state_dir, path, stamp, batch_firsts
    )
    novel_firsts = batch_firsts.join(
        F.broadcast(hits), "chunk_hash", "left_anti"
    ).localCheckpoint(eager=True)
    kept = ch.join(
        F.broadcast(novel_firsts), ["chunk_hash", "doc_id", "chunk_idx"], "left_semi"
    )
    rewritten = _rebuild_from_chunks(ch, kept)
    if already_applied:
        return rewritten
    # next generation from COMMITTED state only: a crashed attempt's
    # orphan rows (e.g. a torn append stamped seq 9) must not inflate
    # the numbering -- a retry re-appending at the same committed-max+1
    # seq leaves duplicate (hash, seq, stamp) rows, harmless under the
    # ledger's set semantics and surfaced by audit_cdc_ledger as
    # rows > distinct within the generation.  Read from the seq sidecar
    # (falls back to one committed-rows scan on sidecar-less legacy
    # dirs), so the common path's only ledger I/O is the pruned probe.
    seq = _next_cdc_seq(
        spark, state_dir, path, _applied_stamps(spark, state_dir)
    )
    novel = novel_firsts.select("chunk_hash").withColumn(
        "batch_seq", F.lit(seq).cast("long")
    ).withColumn("batch_stamp", F.lit(stamp))
    if _cdc_ledger_is_bucketed(path):
        pfx_len = _cdc_pfx_len(state_dir)
        novel.withColumn(
            "pfx", F.substring("chunk_hash", 1, pfx_len)
        ).repartition(F.col("pfx")).write.mode("append").partitionBy(
            "pfx"
        ).parquet(path)
        # bloom delta BEFORE the stamp commit: a crash in between leaves
        # uncommitted bits (false positives only -- re-verified against
        # the ledger); the superset invariant (every COMMITTED hash is
        # inside at least one bloom row) therefore survives any crash
        _bloom_rows(novel_firsts.select("chunk_hash"), pfx_len).write.mode(
            "append"
        ).partitionBy("pfx").parquet(_cdc_bloom_dir(state_dir))
    else:
        novel.write.mode("append").parquet(path)
    # ownership re-verified BEFORE the seq sidecar write, not just the
    # stamp commit: the sidecar is a read-modify-write too, and a
    # dispossessed holder clobbering the usurper's concurrent entry
    # could hand a later batch a duplicate generation number
    _verify_owned(lk)
    _record_cdc_seq(state_dir, stamp, seq)
    # rows hint BEFORE the stamp commit, so every committed generation
    # has a recorded count (the maintenance trigger's orphan math is
    # then pure footer arithmetic); a crash in between leaves an entry
    # for an uncommitted stamp, ignored by the committed-only sum.  The
    # count is a driver-side job over the checkpointed novel set --
    # metadata-cheap, never a ledger read.
    _record_cdc_rows(state_dir, stamp, novel_firsts.count())
    # COMMIT: atomic stamp-ledger replace -- before this line the batch
    # does not exist to any reader
    _record_applied(state_dir, stamp, spark=spark, locked=True, lock=lk)
    return rewritten


def compact_cdc_state(spark, state_dir: str) -> dict:
    """Physically drop the CDC chunk-hash ledger's crash debris -- the
    maintenance job that keeps :func:`ingest_cdc_batch`'s ledger scan
    honest after crashes and retries.  Unlike the label/keeper logs
    (:func:`compact_dedup_state`), this ledger has NO superseded
    generations to collapse (first-ingested-wins set state is
    append-only), so the only reclaimable rows are (a) uncommitted
    orphans from crashed never-retried batches and (b) duplicate (hash,
    stamp) rows a crashed-then-retried append left behind; both are
    already invisible/harmless to readers, so compaction here is purely
    a space/scan-size lever, never a correctness event.

    STAMP ATTRIBUTION IS PRESERVED: rows are rewritten as one
    (chunk_hash, batch_stamp) row with the smallest generation, NOT
    re-stamped under a compaction marker -- a committed batch retried
    AFTER compaction reconstructs its pre-batch view by excluding rows
    carrying its own stamp, which only works if its rows still carry it
    (the failure mode the label-log compactor had to fix the hard way).
    Returns row counts before/after."""
    from ..sources.io import staging_dir, swap_dir

    path = _cdc_ledger_path(state_dir)
    # under the state lock: the read-resolve-swap must not interleave
    # with an ingest append -- an append landing in the old directory
    # between the rename and the rmtree would be deleted while its stamp
    # may still commit, leaving a committed batch with no ledger rows
    # (its chunk hashes never enter the ledger; later duplicates of
    # those spans would survive silently).  The lock heartbeats, so the
    # corpus-sized rewrite never reads as a stale holder.
    with _state_lock(state_dir) as lk:
        _heal_state_swaps(state_dir)  # incl. this compactor's own crashes
        raw = spark.read.parquet(path)
        before = raw.count()
        resolved = (
            _committed_only(spark, state_dir, raw)
            .groupBy("chunk_hash", "batch_stamp")
            .agg(F.min("batch_seq").alias("batch_seq"))
            .select("chunk_hash", "batch_seq", "batch_stamp")
            .localCheckpoint(eager=True)
        )
        after = resolved.count()
        # output is ALWAYS the v2 bucketed layout -- compaction is the
        # migration point for v1 flat-ledger states, and the moment the
        # bucket count is re-tuned to the grown corpus (like bloom fpp)
        pfx_len = _pick_pfx_len(after)
        tmp = staging_dir(path)
        resolved.withColumn(
            "pfx", F.substring("chunk_hash", 1, pfx_len)
        ).repartition(F.col("pfx")).write.mode("errorifexists").partitionBy(
            "pfx"
        ).parquet(tmp)
        # bloom sidecar rebuilt from the committed set: the per-batch
        # delta rows collapse to ONE right-sized row per prefix (this is
        # where append-only bloom read amplification is reclaimed, and
        # where fpp is re-tuned after the corpus grows)
        bdir = _cdc_bloom_dir(state_dir)
        btmp = staging_dir(bdir)
        _bloom_rows(resolved.select("chunk_hash"), pfx_len).write.mode(
            "errorifexists"
        ).partitionBy("pfx").parquet(btmp)
        # seq + rows sidecars pruned to committed stamps in ONE agg:
        # (max seq, row count) per stamp -- the compactor is where retry
        # duplicates collapse, so the recorded counts it leaves make the
        # trigger's footer math exact again
        per_stamp = resolved.groupBy("batch_stamp").agg(
            F.max("batch_seq").alias("m"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
        seqs = {r["batch_stamp"]: r["m"] for r in per_stamp}
        rows_hint = {r["batch_stamp"]: int(r["n"]) for r in per_stamp}
        # fail-stop before the swap: a holder dispossessed during the
        # (corpus-sized) rewrite must not rename a ledger the usurper
        # may be appending to
        _verify_owned(lk)
        swap_dir(tmp, path)
        swap_dir(btmp, bdir)
        _atomic_json_write(_cdc_seq_path(state_dir), seqs)
        _atomic_json_write(_cdc_rows_path(state_dir), rows_hint)
    return {"rows_before": int(before), "rows_after": int(after)}


def maybe_compact_cdc_state(
    spark,
    state_dir: str,
    max_bloom_rows_per_pfx: int = 8,
    orphan_ratio: float = 0.25,
    min_orphan_rows: int = 100_000,
) -> dict | None:
    """The compaction TRIGGER for the CDC leg -- the counterpart of
    :func:`maybe_compact_dedup_state`, closing the round-11 gap where
    bloom delta rows and per-batch ledger files accumulated until
    someone called :func:`compact_cdc_state` by hand.  Three conditions,
    each a metadata-sized read, each tracking a different cost that
    only compaction reclaims:

    - BLOOM READ AMPLIFICATION: every probe ORs across its prefix's
      delta rows, so rows-per-prefix is a direct multiplier on
      per-batch bloom work; compact once any prefix exceeds
      ``max_bloom_rows_per_pfx`` (the check is a per-prefix footer sum
      over the KB-sized sidecar -- driver-side, zero Spark jobs on a
      listable dir).
    - ORPHAN/DUPLICATE MASS: uncommitted crash debris and retry
      duplicates are invisible to readers but inflate the
      partition-pruned probe's bytes; compact once they exceed
      ``orphan_ratio`` of the ledger AND ``min_orphan_rows`` (tiny
      states never enter the maintenance path).  Round-13: measured as
      FOOTER TOTAL minus the committed generations' recorded row counts
      (the ``_cdc_rows.json`` hint every appender writes at commit) --
      footer arithmetic, no ledger column scan.  A committed stamp
      missing a recorded count (pre-round-13 state) falls back to one
      stamp-grain aggregate that backfills the hint, so even a legacy
      dir pays the scan exactly once.
    - RE-BUCKET PRESSURE: the layout's prefix width no longer matches
      what :func:`_pick_pfx_len` would choose for the grown corpus --
      compaction is the re-bucket point, so fire as soon as the tier
      boundary is crossed (keeps the probe's per-partition read bounded
      as the corpus grows 100x; see the scaleprobe --cdc-rebucket
      evidence in SCALE.md).  Committed mass comes from the same
      recorded counts.

    Returns :func:`compact_cdc_state`'s stats plus a ``trigger`` key
    when fired, else None.  Run it after each ingest (the streaming
    sink does, with ``auto_compact=True``)."""
    import json
    import os

    path = _cdc_ledger_path(state_dir)
    if not os.path.exists(path):
        return None
    if _cdc_ledger_is_bucketed(path):
        bdir = _cdc_bloom_dir(state_dir)
        if os.path.exists(bdir) \
                and _layout_pfx_len(bdir) == _cdc_pfx_len(state_dir):
            worst = _footer_rows_per_pfx_max(bdir)
            if worst is None:  # unlistable: one KB-sized sidecar job
                worst = (
                    spark.read.schema(_CDC_BLOOM_SCHEMA).parquet(bdir)
                    .groupBy("pfx").count()
                    .agg(F.max("count").alias("m")).collect()[0]["m"]
                )
            if worst is not None and worst > max_bloom_rows_per_pfx:
                stats = compact_cdc_state(spark, state_dir)
                stats["trigger"] = "bloom_rows_per_pfx"
                return stats
    # orphan/duplicate mass by footer arithmetic: physical total from
    # parquet footers (zero-column count) minus the committed CDC
    # generations' recorded row counts -- the common path's only ledger
    # I/O is footer metadata, never a column scan (round-12 verdict #1:
    # the sink runs this per micro-batch)
    applied = {s for s in _applied_stamps(spark, state_dir)
               if s.startswith("cdc-")}
    recorded: dict = {}
    rp = _cdc_rows_path(state_dir)
    if os.path.exists(rp):
        with open(rp) as fh:
            recorded = json.load(fh)
    if applied <= set(recorded):
        total = _footer_row_count(path)  # driver-side: zero Spark jobs
        if total is None:  # unlistable: Spark's footer-count job
            total = spark.read.parquet(path).count()
        committed = sum(int(recorded[s]) for s in applied)
        orphan = max(total - committed, 0)
    else:
        # legacy state (appends predate the rows hint): ONE stamp-grain
        # aggregate, then backfill the hint so the scan never repeats.
        # The backfill is an unlocked hint write -- a concurrent
        # ingest's entry lost to this read-modify-write just re-takes
        # this branch once more.
        per_stamp = _cdc_stamp_rows_scan(spark, path)
        total = sum(per_stamp.values())
        orphan = sum(n for s, n in per_stamp.items() if s not in applied)
        committed = total - orphan
        merged = dict(recorded)
        merged.update(
            {s: int(n) for s, n in per_stamp.items() if s in applied})
        _atomic_json_write(rp, merged)
    if total and orphan >= min_orphan_rows \
            and orphan / total >= orphan_ratio:
        stats = compact_cdc_state(spark, state_dir)
        stats["trigger"] = "orphan_mass"
        return stats
    if _cdc_ledger_is_bucketed(path) \
            and _pick_pfx_len(committed) != _cdc_pfx_len(state_dir):
        stats = compact_cdc_state(spark, state_dir)
        stats["trigger"] = "rebucket"
        return stats
    return None


def _cdc_stamp_rows_scan(spark, path: str) -> dict:
    """Stamp-grain ledger row counts -- the legacy fallback of
    :func:`maybe_compact_cdc_state` (one narrow-column aggregate over
    the ledger; the common path never calls this)."""
    return {
        r["batch_stamp"]: r["n"]
        for r in spark.read.parquet(path)
        .groupBy("batch_stamp").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def audit_cdc_ledger(spark, state_dir: str) -> DataFrame:
    """Metadata-sized health report of the CDC chunk-hash ledger, one row
    per generation: row count, distinct hash count, and whether the
    generation's stamp is committed -- the pre-flight a maintenance job
    reads before deciding to :func:`compact_cdc_state` (uncommitted rows
    = crash debris to reclaim; rows > distinct hashes within a committed
    generation = duplicate debris from a crashed-then-retried append).

    Scale: one aggregate over the ledger at (batch_seq, batch_stamp)
    grain -- the ledger's columns are a hash and two tags, so this scans
    a few bytes per chunk and reduces map-side; output is one row per
    generation."""
    applied = _applied_stamps(spark, state_dir)
    led = spark.read.parquet(_cdc_ledger_path(state_dir))
    grouped = led.groupBy("batch_seq", "batch_stamp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("chunk_hash").alias("n_distinct_hashes"),
    )
    if applied and len(applied) > _STAMP_ISIN_MAX:
        # a years-running feed accumulates 1e5+ stamps: an isin literal
        # of that size bloats every plan it lands in, so flag commit
        # status with a broadcast join against a one-column stamp
        # relation instead (plan unchanged below the threshold)
        stamps_df = led.sparkSession.createDataFrame(
            [(s,) for s in sorted(applied)], "batch_stamp string"
        ).withColumn("is_committed", F.lit(True))
        flagged = grouped.join(F.broadcast(stamps_df), "batch_stamp", "left")
        return flagged.select(
            "batch_seq",
            F.coalesce("is_committed", F.lit(False)).alias("committed"),
            "n_rows",
            "n_distinct_hashes",
        )
    return grouped.select(
        "batch_seq",
        F.col("batch_stamp").isin(*sorted(applied)).alias("committed")
        if applied else F.lit(False).alias("committed"),
        "n_rows",
        "n_distinct_hashes",
    )
