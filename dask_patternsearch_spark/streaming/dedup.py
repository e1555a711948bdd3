"""Incremental near-duplicate filtering over a document stream.

The production LLM-corpus shape: documents arrive continuously, and each
new document must be dropped if it near-duplicates anything ALREADY KEPT
-- without ever re-scanning the historical corpus.  ``foreachBatch``
carries MinHash banding across micro-batches through a persistent band
ledger: per batch, O(batch) signature work plus one semi join against the
ledger's (band, bucket) keys.

Contract (deterministic): a document is DROPPED iff it shares a band
bucket with a smaller-doc_id document in its own batch, or with any
previously kept document.  Survivors append their bands to the ledger.

Scale: the ledger stores (band, bucket, doc_id, bk, batch_id) rows for
KEPT docs only -- a few dozen longs per document, far smaller than text
(batch_id is the at-least-once guard: a replayed micro-batch excludes
its own crashed append from the probe instead of classifying its every
document as a duplicate of itself) -- and
since round 12 the per-batch probe is BLOOM-GATED and CLUSTERED, the
same architecture as the batch path's band sidecar: a bloom sidecar
over md5(band:bucket) drops the batch keys with no ledger collision
(on a real feed, almost all of them), and the survivors are pushed
into the ledger scan as a ``bk IN (...)`` literal over files sorted on
the 60-bit key, so parquet footer min/max skips row groups -- per-batch
ledger bytes ∝ the batch's true collision mass, not the ledger.  Bloom
deltas land BEFORE the band rows they cover (superset through any
replay) and are collapsed by a GEOMETRIC rebuild (when the ledger
doubles since the last rebuild -- amortized O(1) per row, so the
rebuild never becomes a per-batch corpus term).  The rebuild is the
batch sidecar's ``operators.dedup.rebuild_bands_bloom``: it keeps the
files of prefixes no batch touched, and states the crash contract.
A pre-round-12 ledger is migrated in place on first contact (one
clustered rewrite + bloom build, moved in by ``sources.io.swap_dir``
and crash-healed by ``sources.io.heal_dir_swap``).  Plain
parquet append keeps this container-friendly; at real scale the same
body targets Delta/Iceberg (atomic append) or a key-value store -- the
structure is what carries over, exactly as for
``streaming.events.upsert_ledger_stream``.

Reference note: this is the streaming generalization of the reference's
memo-table dedup probe (``/root/reference/dask_patternsearch/search.py:
285-291``) -- "have we seen this before" against an ever-growing ledger,
here with near-duplicate rather than exact-bytes identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def neardup_filter_stream(
    docs_stream: DataFrame,
    bands_path: str,
    kept_path: str,
    checkpoint_path: str,
    n: int = 3,
    n_perm: int = 64,
    n_bands: int = 8,
) -> None:
    """Run the incremental filter to completion (availableNow trigger).

    ``docs_stream`` must provide (doc_id, text).  Kept doc_ids land in
    ``kept_path`` (with their batch_id); kept documents' bands accumulate
    in ``bands_path`` (clustered on the 60-bit band-bucket key), with a
    bloom sidecar at ``bands_path + ".bloom"``.
    """
    import functools
    import json
    import operator
    import os

    from ..operators.dedup import (_BANDS_KEY_ISIN_MAX, _atomic_json_write,
                                   _band_buckets, _bands_bk_expr,
                                   _bands_key_expr, _bloom_filter_keys,
                                   _bloom_rows, _layout_pfx_len,
                                   _pick_pfx_len, minhash_signatures,
                                   rebuild_bands_bloom)
    from ..sources.io import (DEFAULT_MAX_GROUP_BYTES, DEFAULT_MAX_GROUP_ROWS,
                              _row_group_options, heal_dir_swap, staging_dir,
                              swap_dir)

    rows_per_band = n_perm // n_bands
    bdir = bands_path + ".bloom"
    meta_path = bdir + ".meta.json"

    def _width() -> int:
        """Bloom prefix width, self-described by the ``pfx=..`` dir names
        (exactly like the batch sidecar) so probes, delta appends and the
        build can never fork the layout; 1 (16 dirs) before the first
        build.  The PRUNING here comes from the pushed bk-IN row-group
        skip, not from directories -- but the dirs bound the per-prefix
        bloom cell (~2 B/ledger row per dir) and the build/probe cogroup
        group sizes, so each geometric rebuild re-buckets via
        :func:`_pick_pfx_len` as the ledger grows (a width pinned to 1
        forever would grow one unbounded Arrow cell per prefix)."""
        return (_layout_pfx_len(bdir) or 1) if os.path.exists(bdir) else 1

    def _write_clustered(rows: DataFrame, mode: str, path: str) -> None:
        _row_group_options(
            rows.withColumn("bk", _bands_bk_expr())
            .sortWithinPartitions("bk").write.mode(mode),
            "parquet", DEFAULT_MAX_GROUP_ROWS, DEFAULT_MAX_GROUP_BYTES,
        ).parquet(path)

    def _rebuild_bloom(sp, n_rows: int) -> None:
        """Rebuild the bloom at the width sized to the ledger (the
        RE-BUCKET point) through :func:`rebuild_bands_bloom` -- a
        collapsing prefix is one contiguous bk range, read through the
        row-group pushdown, so a width-stable rebuild costs ∝ the
        appended-to prefixes' ledger mass -- and record the ledger size
        the rebuild saw.  Called on a GEOMETRIC schedule (ledger
        doubled) and to cover a migrated or bloomless ledger."""
        w = _pick_pfx_len(n_rows)
        span = 16 ** (15 - w)

        def keys_for(pfxs):
            ledger = sp.read.parquet(bands_path)
            if pfxs is not None and len(pfxs) <= 64:
                ledger = ledger.filter(functools.reduce(operator.or_, [
                    (F.col("bk") >= int(p, 16) * span)
                    & (F.col("bk") < (int(p, 16) + 1) * span)
                    for p in pfxs
                ]))
            return ledger.select(_bands_key_expr().alias("bkey"))

        rebuild_bands_bloom(bdir, w, keys_for)
        _atomic_json_write(meta_path, {"rows_at_rebuild": n_rows})

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        sigs = minhash_signatures(batch_df, n=n, n_perm=n_perm).localCheckpoint(
            eager=True
        )
        bands = _band_buckets(sigs, n_bands, rows_per_band).localCheckpoint(
            eager=True
        )
        # existence check, not try/except: a read of the not-yet-written
        # ledger would surface as a logged ExecutionListener ERROR even
        # though caught (noisy and indistinguishable from a real failure)
        jvm = sp.sparkContext._jvm
        hconf = sp.sparkContext._jsc.hadoopConfiguration()
        dst = jvm.org.apache.hadoop.fs.Path(bands_path)
        # heal a crashed migration swap BEFORE the existence check: the
        # crash leaves bands_path missing, which must not read as "no
        # ledger yet"
        heal_dir_swap(bands_path)
        if dst.getFileSystem(hconf).exists(dst):
            ledger_rd = sp.read.parquet(bands_path)
            if not os.path.exists(meta_path) or "bk" not in ledger_rd.columns:
                # pre-round-12 ledger: one-time in-place migration to the
                # clustered layout + bloom
                tmp = staging_dir(bands_path)
                _write_clustered(
                    ledger_rd.select("band", "bucket", "doc_id"),
                    "errorifexists", tmp)
                swap_dir(tmp, bands_path)
                ledger_rd = sp.read.parquet(bands_path)
                _rebuild_bloom(sp, ledger_rd.count())
            elif not os.path.exists(bdir):
                # bloom lost (manual cleanup / crashed rebuild): the
                # ledger is already clustered, only the bloom needs
                # rebuilding before the gated probe can run
                _rebuild_bloom(sp, ledger_rd.count())
            # read the ledger with batch_id pinned into the schema:
            # appends from older versions lack the column, and mixed
            # files would otherwise surface it only when inference
            # happens to pick a new footer (old rows read as null)
            inferred = sp.read.parquet(bands_path).schema
            if "batch_id" not in inferred.fieldNames():
                from pyspark.sql import types as T
                inferred = inferred.add("batch_id", T.LongType(), True)
            ledger_rd = sp.read.schema(inferred).parquet(bands_path)
            # AT-LEAST-ONCE REPLAY SAFETY: a crash between the band
            # append and the kept write would otherwise make the replay
            # semi-join the batch against its OWN just-appended rows --
            # every doc classified duplicate, silently lost.  Ledger
            # rows carry the batch_id that wrote them; the probe excludes
            # the replaying batch's own rows (null-safe: legacy rows with
            # no batch_id must stay IN the probe).
            ledger_rd = ledger_rd.filter(
                ~F.col("batch_id").eqNullSafe(F.lit(batch_id)))
            w = _width()
            keys = (bands.select("band", "bucket").distinct()
                    .withColumn("bkey", _bands_key_expr()))
            surv = _bloom_filter_keys(
                sp, bdir, keys, w, "bkey").localCheckpoint(eager=True)
            if surv.count() <= _BANDS_KEY_ISIN_MAX:
                # bloom-bounded survivors pushed to the scan: row-group
                # skipping on the bk-sorted files -- ledger bytes read
                # ∝ the batch's collision mass.  A replayed batch's own
                # bloom bits are false positives here, re-verified away
                # by the batch_id-filtered scan.
                bks = [int(r[0][:15], 16) for r in surv.collect()]
                ledger_keys = (ledger_rd.filter(F.col("bk").isin(bks))
                               .select("band", "bucket").distinct())
            else:  # mostly-duplicate batch: the read is legitimately big
                ledger_keys = ledger_rd.select("band", "bucket").distinct()
            dup_vs_ledger = bands.join(
                ledger_keys, ["band", "bucket"], "left_semi"
            ).select("doc_id")
        else:  # first batch: no ledger yet
            dup_vs_ledger = sp.createDataFrame([], "doc_id long")
        dup_in_batch = (
            bands.alias("x")
            .join(
                bands.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("y.doc_id") < F.col("x.doc_id")),
            )
            .select(F.col("x.doc_id").alias("doc_id"))
        )
        dups = dup_vs_ledger.unionByName(dup_in_batch).distinct()
        kept = (
            sigs.select("doc_id")
            .join(dups, "doc_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        kept_bands = bands.join(
            kept, "doc_id", "left_semi").localCheckpoint(eager=True)
        # bloom delta BEFORE the band append: bloom ⊇ ledger through any
        # crash/replay (extra bits from a replayed batch = fp only).
        # Delta rows follow the CURRENT bloom layout's width (a rebuild
        # may have re-bucketed it past the initial 1).
        _bloom_rows(
            kept_bands.select(_bands_key_expr().alias("bkey")), _width(),
            col="bkey",
        ).write.mode("append").partitionBy("pfx").parquet(bdir)
        # band rows stamped with the writing batch: what lets a replayed
        # batch exclude its own crashed append from the probe (above)
        _write_clustered(
            kept_bands.withColumn("batch_id", F.lit(batch_id).cast("long")),
            "append", bands_path)
        kept.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            kept_path
        )
        # geometric bloom compaction: the per-batch delta rows pile up
        # one-per-prefix-per-batch; once the ledger has doubled since
        # the last rebuild, collapse them (amortized O(1) per row)
        n_rows = sp.read.parquet(bands_path).count()
        last = 0
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                last = json.load(fh).get("rows_at_rebuild", 0)
        if n_rows >= max(2 * last, 1):
            _rebuild_bloom(sp, n_rows)

    q = (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_docs_stream(
    spark: SparkSession,
    docs_dir: str,
    max_files_per_trigger: int | None = None,
    glob: str | None = None,
) -> DataFrame:
    """File-source document stream.  ``docs_dir`` must be a DIRECTORY
    (Spark's file source rejects a bare file as basePath); pass ``glob``
    to restrict which files in it are streamed."""
    sample = f"{docs_dir}/{glob}" if glob else docs_dir
    static = spark.read.parquet(sample)
    reader = spark.readStream.schema(static.schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(docs_dir)


def ingest_keepers_stream(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_path: str,
    auto_compact: bool = False,
    **ingest_kwargs,
) -> None:
    """Continuous corpus ingestion as a STREAM: every micro-batch of
    documents runs the full incremental loop
    (``operators.dedup.ingest_batch``: batch-only shingling + signature
    append, label-delta append for touched clusters, keeper re-pick +
    merge tombstones) against the persistent state directory -- the
    foreachBatch posture a production 100 TB/day feed uses, with the
    micro-batch as the ingest unit.

    EXACTLY-ONCE composition for free: ``ingest_batch``'s content-derived
    batch stamps make a REPLAYED micro-batch (restart after a sink-side
    failure, a rewound checkpoint, even a fresh checkpoint over the same
    files) a state no-op, so the stream needs no transactional sink --
    the idempotence lives in the state protocol, not the checkpoint.
    And because sequential ``ingest_batch`` calls compose to the
    from-scratch build regardless of how documents are SPLIT into
    batches, the drained stream's resolved state is independent of
    micro-batch boundaries -- which is what makes the registered
    ``streaming_ingest_keepers`` query hash-checkable against the same
    full-recompute oracle as the batch path.

    ``auto_compact=True`` runs the maintenance trigger
    (``maybe_compact_dedup_state``: gap-ratio gated, a cheap check per
    micro-batch) after each ingest, so a long-running feed's LSM read
    amplification stays bounded without an external scheduler.

    Drains to completion (availableNow trigger).
    """
    from ..operators import dedup as bdedup

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bdedup.ingest_batch(batch_df, state_dir, **ingest_kwargs)
        if auto_compact:
            bdedup.maybe_compact_dedup_state(batch_df.sparkSession, state_dir)

    q = (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def cdc_rewrite_stream(
    docs_stream: DataFrame,
    state_dir: str,
    output_path: str,
    checkpoint_path: str,
    window: int = 4,
    auto_compact: bool = False,
) -> None:
    """Duplicated-span removal as a STREAM: every micro-batch runs
    ``operators.dedup.ingest_cdc_batch`` against the persistent
    chunk-hash ledger and lands its rewritten documents under
    ``output_path`` -- the continuous form of the Lee et al. 2022
    training-data transform (span-level, not document-level: the
    arriving text itself is cleaned against everything already seen).

    Exactly-once END TO END without a transactional sink, at both
    levels of state:
    * ledger -- ``ingest_cdc_batch``'s content stamps make a replayed
      micro-batch a state no-op (same protocol as
      ``ingest_keepers_stream``);
    * output -- each micro-batch's rewrite is written by OVERWRITE into
      a subdirectory keyed by the same content stamp, so a replay lands
      byte-identically on top of itself instead of appending
      duplicates.  Readers take ``output_path/*`` as one relation.

    Because sequential ingest calls compose to the one-shot
    arrival-order keep-first regardless of how documents are split into
    micro-batches, the drained output over id-ordered micro-batches is
    hash-checkable against the SAME oracle as the batch path
    (registered ``streaming_cdc_rewrite``).  Drains to completion
    (availableNow trigger)."""
    from ..operators import dedup as bdedup

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        stamp = "cdc-" + bdedup._batch_stamp(batch_df)
        rewritten = bdedup.ingest_cdc_batch(batch_df, state_dir, window=window)
        rewritten.write.mode("overwrite").parquet(f"{output_path}/{stamp}")
        if auto_compact:
            # maintenance trigger per micro-batch (metadata-sized checks:
            # bloom rows/prefix, orphan mass, re-bucket pressure) so
            # ledger debris and bloom read amplification stay bounded on
            # a long-running feed without an external scheduler
            bdedup.maybe_compact_cdc_state(batch_df.sparkSession, state_dir)

    q = (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
