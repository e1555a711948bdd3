"""Streaming distinct-count sketching: per-batch KMV sketches merged
into a persistent ledger.

The production shape: events arrive continuously and per-group
distinct-user estimates must stay current WITHOUT re-scanning history.
Because the KMV sketch state is a relation that merges associatively
(``operators.sketches.kmv_merge``), each micro-batch only sketches its
own rows and folds them into the ledger -- O(batch) work per batch,
bounded ledger size (k longs per group) forever.  This is the
streaming twin of the mergeability property the batch tests lock, and
the tmp-sibling/rename swap it shares with
``streaming.events.upsert_ledger_stream`` (``ledger.write_swapped``,
healed at batch start by ``ledger.recover_swap``) keeps the ledger
write crash-consistent without a transactional table format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def kmv_ledger_stream(
    events: DataFrame,
    ledger_path: str,
    checkpoint_path: str,
    k: int = 256,
) -> None:
    """Drain ``events`` (availableNow), folding per-batch KMV sketches of
    ``user_id`` per ``event_type`` into the parquet ledger."""
    from ..operators.sketches import kmv_merge, kmv_sketch
    from .ledger import recover_swap, write_swapped

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        sk = kmv_sketch(batch_df, "user_id", ["event_type"], k)
        base_dir = ledger_path.rstrip("/")
        jvm = sp.sparkContext._jvm
        hconf = sp.sparkContext._jsc.hadoopConfiguration()
        dst = jvm.org.apache.hadoop.fs.Path(base_dir)
        fs = dst.getFileSystem(hconf)
        recover_swap(fs, dst)
        if fs.exists(dst):
            prior = sp.read.parquet(base_dir)
            merged = kmv_merge(prior, sk, ["event_type"], k)
        else:
            merged = sk
        write_swapped(fs, dst, batch_id, merged)

    q = (
        events.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
