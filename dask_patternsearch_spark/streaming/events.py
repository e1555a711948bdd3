"""Event-stream operators: watermarked tumbling windows + session windows.

Scale notes: file-source streams partition per file; watermarks bound state
(late data beyond 1h dropped); both aggregations are the streaming forms of
``queries/relational.py::events_hourly`` / ``sessionize_events`` so batch
and streaming answers can be cross-checked (see tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_events_stream(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """File-source stream over the events parquet (naive microsecond
    timestamps read as TIMESTAMP_NTZ; cast to LTZ under the pinned UTC
    session timezone for an ``event_time`` column watermarks accept).

    ``path`` must be a directory; pass ``glob`` (e.g. ``events.parquet``)
    to restrict which files in it are streamed.
    """
    sample = f"{path}/{glob}" if glob else path
    schema = spark.read.parquet(sample).schema
    reader = spark.readStream.schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    stream = reader.parquet(path)
    return stream.withColumn("event_time", F.col("ts").cast("timestamp"))


def hourly_counts_stream(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows with a 1-hour watermark (late rows beyond
    the watermark are dropped, bounding state size)."""
    return (
        events.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts_stream(events: DataFrame) -> DataFrame:
    """Sliding 2-hour windows advancing hourly (each event in two live
    windows); watermark bounds the open-window state."""
    return (
        events.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "2 hours", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (gap-based), the streaming equivalent of the
    batch lag-based sessionization."""
    return (
        events.withWatermark("event_time", "1 hour")
        .groupBy(F.session_window("event_time", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def purchase_click_join_stream(
    events: DataFrame, lookback_ms: int = 600000
) -> DataFrame:
    """Stream-stream INNER interval join: each purchase paired with the
    same user's clicks in the ``lookback_ms`` window strictly before it.

    Both sides carry a watermark and the join condition bounds event time
    on both sides, so Spark can expire join state: click-side state is kept
    only ``lookback`` + watermark past the frontier -- without the time
    bound the state store would grow without limit at 100 TB/day.  Batch
    twin: ``queries/relational.py::interval_join_purchase_click`` (the
    bucketed range_join); equality asserted in tests/test_streaming.py.
    """
    # carry truncate-to-ms longs for the OUTPUT gap so it matches the batch
    # twin bit-for-bit (diff-then-truncate on microsecond event_time is off
    # by 1 ms whenever the sub-ms fractions straddle); the JOIN still uses
    # the microsecond event-time columns, which the watermark needs
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("event_time").alias("p_time"),
            F.unix_millis(F.col("event_time")).alias("p_ms"),
        )
        .withWatermark("p_time", "1 hour")
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("event_time").alias("c_time"),
            F.unix_millis(F.col("event_time")).alias("c_ms"),
        )
        .withWatermark("c_time", "1 hour")
    )
    # two-layer condition: the event-time range (1s slack each side) is what
    # Spark derives join-state expiry from; the ms-truncated predicate is
    # the EXACT batch-equal semantics
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (
            F.col("c_time")
            >= F.col("p_time")
            - F.expr(f"INTERVAL {lookback_ms} MILLISECOND")
            - F.expr("INTERVAL 1 SECOND")
        )
        & (F.col("c_time") <= F.col("p_time") + F.expr("INTERVAL 1 SECOND"))
        & (F.col("c_ms") >= F.col("p_ms") - F.lit(lookback_ms))
        & (F.col("c_ms") < F.col("p_ms")),
        "inner",
    )
    return joined.select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        (F.col("p_ms") - F.col("c_ms")).alias("gap_ms"),
    )


def purchase_click_left_join_stream(
    events: DataFrame, lookback_ms: int = 600000
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase emitted,
    paired with same-user clicks in the ``lookback_ms`` window before it
    or with NULL click columns once the WATERMARK proves no match can
    still arrive.  The outer semantics are the part batch left-joins get
    for free but streams must earn: an unmatched purchase sits in join
    state until the watermark passes its upper match bound, THEN emits
    with nulls -- so emission timing (and state size) is governed by the
    watermark, and a stream that never advances its watermark never
    emits an unmatched row.  Same two-layer condition as the inner
    variant (event-time range drives state expiry, the ms-truncated
    predicate is the exact batch-equal semantics)."""
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("event_time").alias("p_time"),
            F.unix_millis(F.col("event_time")).alias("p_ms"),
        )
        .withWatermark("p_time", "1 hour")
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("event_time").alias("c_time"),
            F.unix_millis(F.col("event_time")).alias("c_ms"),
        )
        .withWatermark("c_time", "1 hour")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (
            F.col("c_time")
            >= F.col("p_time")
            - F.expr(f"INTERVAL {lookback_ms} MILLISECOND")
            - F.expr("INTERVAL 1 SECOND")
        )
        & (F.col("c_time") <= F.col("p_time") + F.expr("INTERVAL 1 SECOND"))
        & (F.col("c_ms") >= F.col("p_ms") - F.lit(lookback_ms))
        & (F.col("c_ms") < F.col("p_ms")),
        "leftOuter",
    )
    return joined.select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "p_ms",
        "click_id",
        (F.col("p_ms") - F.col("c_ms")).alias("gap_ms"),
    )


def dedup_events_stream(events: DataFrame, within: str = "1 hour") -> DataFrame:
    """Streaming exact deduplication with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps one row per ``event_id`` among
    duplicates arriving within the watermark delay, then expires that
    key's state -- the only way streaming dedup survives at 100 TB/day
    (plain ``dropDuplicates`` on a stream retains every key forever).

    The exactness contract is therefore windowed: duplicates farther apart
    than ``within`` in event time can BOTH survive.  For ingestion dedup
    (retries/replays arrive seconds apart) that is the right trade; the
    batch twin for a full-history guarantee is ``operators.dedup.
    exact_dedup`` / the ``dedup_incremental`` anti-join.
    """
    return (
        events.withWatermark("event_time", within)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_millis(F.col("event_time")).alias("ts_ms"),
        )
    )


def run_to_memory(
    stream_df: DataFrame,
    table_name: str,
    spark: SparkSession,
    output_mode: str = "complete",
) -> None:
    """Drain an availableNow stream into an in-memory table (test/dev sink;
    production would writeStream to parquet/kafka with checkpointing).
    Stream-stream joins require ``output_mode='append'``; streaming
    aggregations here use complete."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def upsert_ledger_stream(
    events: DataFrame,
    ledger_path: str,
    checkpoint_path: str,
) -> None:
    """Streaming latest-state ledger via ``foreachBatch`` + merge.upsert:
    each micro-batch's per-user latest event is merged (latest-wins on
    event time) into a parquet ledger -- the standard incremental
    ingestion pattern when no transactional table format is available.

    The merge stays DISTRIBUTED end-to-end: each batch writes the merged
    ledger to a sibling temp directory (the write executes the plan that
    reads the old ledger, which is still untouched), then swaps
    directories with two filesystem renames.  Nothing ever lands on the
    driver, so ledger size is bounded by the cluster, not driver memory.
    Plain parquet gives no transactional swap (a reader racing the two
    renames can see a missing directory); at production scale point the
    same foreachBatch body at Delta/Iceberg MERGE or a key-value sink.
    The structure -- watermarked stream, per-batch reduce, idempotent
    merge keyed on user_id -- is what carries over.
    """
    from ..operators.merge import upsert
    from .ledger import recover_swap, write_swapped

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = (
            batch_df.groupBy("user_id")
            .agg(F.max_by(F.struct("event_id", "ts_ms"), F.col("ts_ms")).alias("s"))
            .select("user_id", F.col("s.event_id").alias("event_id"),
                    F.col("s.ts_ms").alias("ts_ms"))
        )
        base_dir = ledger_path.rstrip("/")
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        dst = jvm.org.apache.hadoop.fs.Path(base_dir)
        fs = dst.getFileSystem(hconf)
        recover_swap(fs, dst)
        if fs.exists(dst):
            base = spark.read.parquet(ledger_path)
            merged = upsert(base, latest, keys=["user_id"], order_col="ts_ms")
        else:
            merged = latest
        write_swapped(fs, dst, batch_id, merged)

    q = (
        events.select(
            "user_id", "event_id", F.unix_millis(F.col("event_time")).alias("ts_ms")
        )
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def enrich_stream(events: DataFrame, dim: DataFrame, dim_key: str = "c_custkey") -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the event stream
    joins the (re-read per batch, always current) static dimension.

    Scale: Spark plans stream-static joins as broadcast of the static side
    into every micro-batch -- no state store involved, unlike
    stream-stream joins, so the dimension can change between batches and
    state stays zero.  The stream side never shuffles for the join.
    """
    d = dim.withColumnRenamed(dim_key, "user_id")
    return (
        events.join(F.broadcast(d), "user_id", "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
