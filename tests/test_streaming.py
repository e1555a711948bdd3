"""Structured Streaming tests: streaming answers must agree with their
batch counterparts, and the stateful incumbent operator must converge to
the ledger minimum."""

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from dask_patternsearch_spark.queries.relational import events_hourly, sessionize_events
from dask_patternsearch_spark.streaming import events as sev
from dask_patternsearch_spark.streaming.incumbent import incumbent_stream
from tests.conftest import SF_DIR

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


@pytest.fixture()
def scratch_dir():
    d = os.path.join(SCRATCH, uuid.uuid4().hex)
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def events_stream_dir(scratch_dir):
    # file-source streaming requires a directory
    d = os.path.join(scratch_dir, "events_in")
    os.makedirs(d, exist_ok=True)
    shutil.copy(f"{SF_DIR}/events.parquet", os.path.join(d, "events.parquet"))
    return d


def test_streaming_hourly_matches_batch(spark, events_stream_dir):
    stream = sev.read_events_stream(spark, events_stream_dir)
    out = sev.hourly_counts_stream(stream)
    sev.run_to_memory(out, "hourly_stream", spark)
    got = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("hourly_stream").collect()
    }
    want = {}
    for r in events_hourly(spark, SF_DIR).collect():
        import datetime

        start = datetime.datetime.utcfromtimestamp(r["hour_ms"] / 1000)
        want[(start, r["event_type"])] = (r["n_events"], r["sum_value"])
    assert len(got) == len(want)
    # compare counts (sum_value rounding identical)
    for k, (n, s) in want.items():
        assert k in got, k
        assert got[k][0] == n
        assert abs(got[k][1] - s) < 0.05


def test_streaming_sessions_match_batch_counts(spark, events_stream_dir):
    stream = sev.read_events_stream(spark, events_stream_dir)
    out = sev.session_counts_stream(stream)
    sev.run_to_memory(out, "session_stream", spark)
    stream_sessions = spark.table("session_stream")
    batch_sessions = sessionize_events(spark, SF_DIR)
    # same number of sessions and same total events per user
    ssum = stream_sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events")
    )
    bsum = batch_sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events")
    )
    s = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in ssum.collect()}
    b = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in bsum.collect()}
    assert s == b


def test_incumbent_stream_finds_minimum(spark, scratch_dir):
    from dask_patternsearch_spark import search

    def obj(x):
        return float((x * x).sum())

    best, results = search(obj, [5.0, 5.0], [1.0, 1.0], max_tasks=80, seed=3)
    ledger = results.to_spark(spark).filter(F.col("cost").isNotNull())
    src = os.path.join(scratch_dir, "ledger")
    ledger.select(F.lit("sphere").alias("group"), "point", "cost").write.parquet(src)

    stream = spark.readStream.schema("group string, point array<double>, cost double").parquet(src)
    q = (
        incumbent_stream(stream)
        .writeStream.format("memory")
        .queryName("incumbents")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("incumbents").collect()
    assert rows, "expected at least one incumbent improvement"
    final = min(rows, key=lambda r: r["cost"])
    assert final["cost"] == pytest.approx(best.result)


def test_sources_roundtrip(spark, scratch_dir):
    from dask_patternsearch_spark.sources import read_table, write_table

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "order_year", F.year("o_orderdate")
    )
    for fmt in ("parquet", "csv", "json", "orc"):
        path = os.path.join(scratch_dir, fmt)
        kwargs = {"partition_by": ["order_year"]} if fmt == "parquet" else {}
        write_table(df, path, fmt=fmt, **kwargs)
        back = read_table(
            spark, path, fmt=fmt,
            schema=None if fmt != "json" else df.schema,
        )
        assert back.count() == df.count()
        assert set(c.lower() for c in back.columns) == set(c.lower() for c in df.columns)
    # partition pruning: reading one partition dir only
    pruned = spark.read.parquet(os.path.join(scratch_dir, "parquet")).filter(
        F.col("order_year") == 1996
    )
    assert pruned.count() == df.filter(F.col("order_year") == 1996).count()

    with pytest.raises(ValueError):
        write_table(df, os.path.join(scratch_dir, "x"), fmt="avro")


def test_streaming_running_minimum_matches_batch(spark):
    """The stateful incumbent drained over the whole stream must equal the
    batch group-wise minimum."""
    from dask_patternsearch_spark.queries.pipeline import streaming_running_minimum
    from tests.conftest import SF_DIR

    got = {
        r["group"]: r["best_cost"]
        for r in streaming_running_minimum(spark, SF_DIR).collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = {
        r["event_type"]: r["m"]
        for r in ev.groupBy("event_type").agg(F.min("value").alias("m")).collect()
    }
    assert got == want


def test_watermark_drops_late_data(spark, scratch_dir):
    """An event arriving 3 hours behind the persisted watermark must be
    dropped from the append-mode windowed aggregation.

    Watermark semantics under ``availableNow`` (observed, load-bearing for
    the state-size guarantee): all batches pre-planned in ONE run share the
    run's initial watermark, so the drop shows up across checkpointed runs
    — run 1 advances the watermark to hour 7 and persists it; run 2's late
    hour-4 row is then dropped (stateOperators.numRowsDroppedByWatermark)
    and its window never reaches the sink."""
    import pandas as pd

    indir = os.path.join(scratch_dir, "late_in")
    ckpt = os.path.join(scratch_dir, "ckpt")
    outdir = os.path.join(scratch_dir, "out")
    os.makedirs(indir, exist_ok=True)
    base = pd.Timestamp("2024-01-01 00:00:00")

    def write_file(name, hours, start_id=0):
        pdf = pd.DataFrame({
            "event_id": range(start_id, start_id + len(hours)),
            "ts": [base + pd.Timedelta(hours=h) for h in hours],
            "user_id": [1] * len(hours),
            "event_type": ["click"] * len(hours),
            "value": [1.0] * len(hours),
            "props": ["{}"] * len(hours),
        })
        # microsecond timestamps: Spark's vectorized reader rejects
        # TIMESTAMP(NANOS), pandas' default
        pdf.to_parquet(
            os.path.join(indir, name),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )

    def run_once():
        schema = spark.read.parquet(indir).schema
        stream = (
            spark.readStream.schema(schema)
            .parquet(indir)
            # watermarks require TIMESTAMP (not NTZ); session tz is UTC
            .withColumn("event_time", F.col("ts").cast("timestamp"))
        )
        agg = (
            stream.withWatermark("event_time", "1 hour")
            .groupBy(F.window("event_time", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("hour_start"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    # run 1: head reaches hour 8 -> persisted watermark hour 7
    write_file("a.parquet", [0.5, 8.0])
    run_once()
    # run 2: one on-time event (hour 8.5) and one LATE event (hour 4)
    write_file("b.parquet", [8.5, 4.0], start_id=10)
    q2 = run_once()

    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q2.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1, "the hour-4 event was not dropped by the watermark"
    rows = {r["hour_start"]: r["n"] for r in spark.read.parquet(outdir).collect()}
    assert base + pd.Timedelta(hours=4) not in rows, "late window leaked"
    assert rows.get(base) == 1  # the closed hour-0 window, exactly once


def test_streaming_interval_join_matches_batch_range_join(spark, events_stream_dir):
    """The watermarked stream-stream join must produce exactly the pairs the
    batch bucketed range_join produces."""
    from dask_patternsearch_spark.queries.relational import (
        interval_join_purchase_click,
    )

    stream = sev.read_events_stream(spark, events_stream_dir)
    out = sev.purchase_click_join_stream(stream)
    sev.run_to_memory(out, "ssjoin_stream", spark, output_mode="append")
    got = {
        (r["user_id"], r["purchase_id"], r["click_id"], r["gap_ms"])
        for r in spark.table("ssjoin_stream").collect()
    }
    want = {
        (r["user_id"], r["purchase_id"], r["click_id"], r["gap_ms"])
        for r in interval_join_purchase_click(spark, SF_DIR).collect()
    }
    assert got == want and got


def test_streaming_dedup_exactly_once(spark):
    """A stream unioned with itself (100% duplicates) must surface each
    event_id exactly once, and match the batch distinct count."""
    from dask_patternsearch_spark.queries.pipeline import streaming_dedup_events

    out = streaming_dedup_events(spark, SF_DIR)
    n_batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("event_id")
        .distinct()
        .count()
    )
    assert out.count() == n_batch
    dupes = out.groupBy("event_id").count().filter("count > 1").count()
    assert dupes == 0


def test_streaming_sliding_windows_match_batch(spark):
    """The streaming sliding-window aggregation (availableNow drain) must
    equal the batch events_sliding_2h answer."""
    from dask_patternsearch_spark.queries.relational import events_sliding_2h
    from dask_patternsearch_spark.streaming import events as sev

    stream = sev.read_events_stream(spark, SF_DIR, glob="events.parquet")
    sev.run_to_memory(sev.sliding_counts_stream(stream), "dps_sliding_t", spark)
    got = sorted(map(tuple, spark.table("dps_sliding_t").collect()))
    want = sorted(map(tuple, events_sliding_2h(spark, SF_DIR).collect()))
    assert got == want


def test_foreachbatch_upsert_ledger_matches_batch(spark, tmp_path):
    """Draining the event stream through the foreachBatch upsert sink must
    leave a ledger equal to the batch latest-event-per-user answer."""
    from pyspark.sql import functions as F

    from dask_patternsearch_spark.streaming import events as sev

    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    stream = sev.read_events_stream(spark, SF_DIR, glob="events.parquet")
    sev.upsert_ledger_stream(stream, ledger, ckpt)

    got = {
        r["user_id"]: (r["event_id"], r["ts_ms"])
        for r in spark.read.parquet(ledger).collect()
    }
    from dask_patternsearch_spark.util import epoch_ms

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "ts_ms", epoch_ms("ts")
    )
    want = {
        r["user_id"]: (r["s"]["event_id"], r["s"]["ts_ms"])
        for r in ev.groupBy("user_id")
        .agg(F.max_by(F.struct("event_id", "ts_ms"), F.col("ts_ms")).alias("s"))
        .collect()
    }
    assert got == want


def test_streaming_neardup_filter_contract(spark, tmp_path):
    """Cross-batch near-dup filtering: a later near-copy of a kept doc is
    dropped, novel docs survive, and the band ledger holds kept docs only."""
    import pandas as pd

    from dask_patternsearch_spark.streaming import dedup as sdedup

    base = "spark shuffle partition broadcast join aggregate window stage task " * 8
    uniq1 = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon ") * 6
    uniq2 = ("stencil simplex reflect contract halving lattice orientation "
             "incumbent poll round ledger dedup probe submit drain decide ") * 6
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    # two files => two micro-batches under maxFilesPerTrigger=1 (file order
    # tracked by the source; content-level assertions below hold even if
    # both land in one batch)
    pd.DataFrame({"doc_id": [1, 2], "text": [base, uniq1]}).to_parquet(
        docs_dir / "a_batch1.parquet"
    )
    pd.DataFrame(
        {"doc_id": [3, 4], "text": [base + " tail", uniq2]}
    ).to_parquet(docs_dir / "b_batch2.parquet")

    stream = sdedup.read_docs_stream(spark, str(docs_dir), max_files_per_trigger=1)
    sdedup.neardup_filter_stream(
        stream,
        bands_path=str(tmp_path / "bands"),
        kept_path=str(tmp_path / "kept"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    kept = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "kept")).collect()}
    assert 1 in kept and 2 in kept and 4 in kept
    assert 3 not in kept, "near-copy of a kept doc must be dropped"
    ledger_docs = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "bands")).select("doc_id").distinct().collect()
    }
    assert ledger_docs == kept, "ledger must hold kept docs' bands only"


def test_streaming_neardup_replay_survives_crashed_band_append(spark,
                                                               tmp_path):
    """Round-13 (ADVICE): a crash between the band-ledger append and the
    kept write must not lose the batch on replay -- without the batch_id
    exclusion the replay semi-joins the docs against their OWN crashed
    rows and drops every one of them silently.  Simulated by manually
    performing the crashed attempt's ledger+bloom appends (stamped with
    the batch id Spark will assign on replay) before running the
    stream."""
    import pandas as pd

    from dask_patternsearch_spark.operators import dedup as bdedup
    from dask_patternsearch_spark.streaming import dedup as sdedup

    uniq1 = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon ") * 6
    uniq2 = ("stencil simplex reflect contract halving lattice orientation "
             "incumbent poll round ledger dedup probe submit drain decide ") * 6
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    bands_path = str(tmp_path / "bands")
    kept_path = str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")
    pd.DataFrame({"doc_id": [1], "text": [uniq1]}).to_parquet(
        docs_dir / "a.parquet")
    sdedup.neardup_filter_stream(
        sdedup.read_docs_stream(spark, str(docs_dir)),
        bands_path=bands_path, kept_path=kept_path, checkpoint_path=ckpt)
    # stage batch 1's file, then replicate the crashed attempt: bloom
    # delta + band rows stamped batch_id=1, but NO kept write and NO
    # checkpoint commit (the stream will therefore reprocess the file
    # as batch 1)
    b_docs = spark.createDataFrame([(5, uniq2)], "doc_id long, text string")
    pd.DataFrame({"doc_id": [5], "text": [uniq2]}).to_parquet(
        docs_dir / "b.parquet")
    bands = bdedup._band_buckets(
        bdedup.minhash_signatures(b_docs), 8, 8).localCheckpoint(eager=True)
    w = bdedup._layout_pfx_len(bands_path + ".bloom") or 1
    bdedup._bloom_rows(
        bands.select(bdedup._bands_key_expr().alias("bkey")), w, col="bkey"
    ).write.mode("append").partitionBy("pfx").parquet(bands_path + ".bloom")
    (bands.withColumn("bk", bdedup._bands_bk_expr())
     .withColumn("batch_id", F.lit(1).cast("long"))
     .sortWithinPartitions("bk").write.mode("append").parquet(bands_path))
    # replay: doc 5 must survive (it only "collides" with itself)
    sdedup.neardup_filter_stream(
        sdedup.read_docs_stream(spark, str(docs_dir)),
        bands_path=bands_path, kept_path=kept_path, checkpoint_path=ckpt)
    kept = {r["doc_id"]
            for r in spark.read.parquet(kept_path).collect()}
    assert kept == {1, 5}, "replayed batch must not self-collide"
    # and the ledger still drops a LATER true near-dup of doc 5
    pd.DataFrame({"doc_id": [9, 10],
                  "text": [uniq2 + " tail",
                           "totally different words " * 20]}).to_parquet(
        docs_dir / "c.parquet")
    sdedup.neardup_filter_stream(
        sdedup.read_docs_stream(spark, str(docs_dir)),
        bands_path=bands_path, kept_path=kept_path, checkpoint_path=ckpt)
    kept = {r["doc_id"]
            for r in spark.read.parquet(kept_path).collect()}
    assert kept == {1, 5, 10}


def test_streaming_neardup_bloom_rebuckets_at_rebuild(spark, tmp_path,
                                                      monkeypatch):
    """Round-13 (ADVICE): the streaming bloom's prefix width is re-sized
    via _pick_pfx_len at each geometric rebuild instead of staying
    pinned to 1 forever (an unbounded per-prefix Arrow cell at corpus
    scale) -- and decisions stay correct across the width change."""
    import pandas as pd

    from dask_patternsearch_spark.operators import dedup as bdedup
    from dask_patternsearch_spark.streaming import dedup as sdedup

    # the known-colliding pair from the contract test: base vs
    # base+" tail" share band buckets at n_bands=8
    base = ("spark shuffle partition broadcast join aggregate window "
            "stage task ") * 8
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    bands_path = str(tmp_path / "bands")
    kept_path = str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")
    pd.DataFrame({"doc_id": [1], "text": [base]}).to_parquet(
        docs_dir / "a.parquet")
    sdedup.neardup_filter_stream(
        sdedup.read_docs_stream(spark, str(docs_dir)),
        bands_path=bands_path, kept_path=kept_path, checkpoint_path=ckpt)
    assert bdedup._layout_pfx_len(bands_path + ".bloom") == 1
    # pretend the ledger crossed the next tier: the NEXT geometric
    # rebuild (ledger doubles on batch 2) must re-bucket to width 2
    monkeypatch.setattr(bdedup, "_pick_pfx_len", lambda n: 2)
    uniq = ("stencil simplex reflect contract halving lattice orientation "
            "incumbent poll round ledger dedup probe submit drain decide ") * 6
    pd.DataFrame({"doc_id": [2], "text": [uniq]}).to_parquet(
        docs_dir / "b.parquet")
    sdedup.neardup_filter_stream(
        sdedup.read_docs_stream(spark, str(docs_dir)),
        bands_path=bands_path, kept_path=kept_path, checkpoint_path=ckpt)
    assert bdedup._layout_pfx_len(bands_path + ".bloom") == 2
    # decisions at the new width: near-dup of a width-1-era doc drops,
    # novel doc survives
    pd.DataFrame({"doc_id": [7, 8],
                  "text": [base + " tail",
                           "unrelated fresh tokens " * 20]}).to_parquet(
        docs_dir / "c.parquet")
    sdedup.neardup_filter_stream(
        sdedup.read_docs_stream(spark, str(docs_dir)),
        bands_path=bands_path, kept_path=kept_path, checkpoint_path=ckpt)
    kept = {r["doc_id"]
            for r in spark.read.parquet(kept_path).collect()}
    assert kept == {1, 2, 8}


def test_streaming_neardup_rebuild_preserves_unchanged_prefixes(
        spark, tmp_path):
    """Round-14 (round-13 verdict #6): a width-stable geometric rebuild
    is DELTA-PRESERVING -- prefixes with no appends since the last
    rebuild keep their single collapsed file byte-identical at the SAME
    path (so the worker LRU and driver residency caches keep serving
    them with zero re-reads), and only multi-file prefixes collapse to
    one fresh file.  Decisions stay correct afterwards."""
    import hashlib
    import os

    import pandas as pd

    from dask_patternsearch_spark.operators import dedup as bdedup
    from dask_patternsearch_spark.streaming import dedup as sdedup

    def snap(bloom_dir):
        out = {}
        for f in sorted(bdedup._bloom_list_files(bloom_dir) or set()):
            pfx = os.path.basename(os.path.dirname(f)).split("=", 1)[1]
            with open(f, "rb") as fh:
                out.setdefault(pfx, []).append(
                    (f, hashlib.md5(fh.read()).hexdigest()))
        return out

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    bands_path = str(tmp_path / "bands")
    bloom = bands_path + ".bloom"
    kept_path = str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")
    t1 = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
          "lambda mu nu xi omicron pi rho sigma tau upsilon ") * 6
    t2 = ("stencil simplex reflect contract halving lattice orientation "
          "incumbent poll round ledger dedup probe submit drain decide ") * 6
    pd.DataFrame({"doc_id": [1], "text": [t1]}).to_parquet(
        docs_dir / "a.parquet")
    sdedup.neardup_filter_stream(
        sdedup.read_docs_stream(spark, str(docs_dir)),
        bands_path=bands_path, kept_path=kept_path, checkpoint_path=ckpt)
    before = snap(bloom)
    assert before and all(len(v) == 1 for v in before.values()), \
        "batch-1 prefixes must already be single-file (collapsed)"
    # batch 2 doubles the ledger, so the geometric rebuild fires after
    # its append; its touched prefixes are computable deterministically
    touched = {
        r["p"] for r in bdedup._band_buckets(
            bdedup.minhash_signatures(
                spark.createDataFrame([(100, t2)], "doc_id long, text string")
            ), 8, 8)
        .select(F.substring(bdedup._bands_key_expr(), 1, 1).alias("p"))
        .distinct().collect()
    }
    pd.DataFrame({"doc_id": [100], "text": [t2]}).to_parquet(
        docs_dir / "b.parquet")
    sdedup.neardup_filter_stream(
        sdedup.read_docs_stream(spark, str(docs_dir)),
        bands_path=bands_path, kept_path=kept_path, checkpoint_path=ckpt)
    after = snap(bloom)
    untouched = set(before) - touched
    assert untouched, "test premise: some batch-1 prefix saw no append"
    for pfx in untouched:
        assert after[pfx] == before[pfx], (
            f"untouched prefix {pfx} must keep its file byte-identical "
            f"at the same path")
    for pfx in touched & set(before):
        assert len(after[pfx]) == 1, "appended-to prefix must re-collapse"
        assert after[pfx][0][0] not in {f for f, _ in before[pfx]}, (
            "collapsed prefix must land in a NEW file")
    for pfx in touched - set(before):
        assert len(after[pfx]) == 1, (
            "batch-2-only prefix is already collapsed; its delta stays")
    # decisions after the delta-preserving rebuild: a near-dup of a
    # batch-1 doc drops, a novel doc survives
    pd.DataFrame({"doc_id": [7, 8],
                  "text": [t1 + " tail",
                           "wholly different fresh tokens " * 20]}
                 ).to_parquet(docs_dir / "c.parquet")
    sdedup.neardup_filter_stream(
        sdedup.read_docs_stream(spark, str(docs_dir)),
        bands_path=bands_path, kept_path=kept_path, checkpoint_path=ckpt)
    kept = {r["doc_id"] for r in spark.read.parquet(kept_path).collect()}
    assert kept == {1, 100, 8}


def test_streaming_neardup_rebuild_sweeps_stranded_build_dirs(spark,
                                                            tmp_path):
    """A crashed bloom rebuild strands its ``.build-*`` staging dir; the
    next rebuild (here the width-stable one a doubled ledger fires) must
    remove it, as the batch sidecar's rebuild does."""
    import glob

    import pandas as pd

    from dask_patternsearch_spark.streaming import dedup as sdedup

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    bands_path = str(tmp_path / "bands")
    kept_path = str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")

    def stream(name, doc_id, text):
        pd.DataFrame({"doc_id": [doc_id], "text": [text]}).to_parquet(
            docs_dir / name)
        sdedup.neardup_filter_stream(
            sdedup.read_docs_stream(spark, str(docs_dir)),
            bands_path=bands_path, kept_path=kept_path, checkpoint_path=ckpt)

    stream("a.parquet", 1, "alpha beta gamma delta epsilon zeta eta " * 8)
    os.makedirs(bands_path + ".bloom.build-deadbeef")
    stream("b.parquet", 2, "stencil simplex reflect contract halving " * 8)
    assert glob.glob(glob.escape(bands_path) + ".bloom.build-*") == []
    kept = {r["doc_id"] for r in spark.read.parquet(kept_path).collect()}
    assert kept == {1, 2}


def test_streaming_neardup_idempotent_restart(spark, tmp_path):
    """availableNow + checkpoint: a second run over the same input adds
    nothing (exactly-once per input file)."""
    import pandas as pd

    from dask_patternsearch_spark.streaming import dedup as sdedup

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    pd.DataFrame(
        {"doc_id": [10, 11], "text": ["one two three four five " * 10,
                                      "six seven eight nine ten " * 10]}
    ).to_parquet(docs_dir / "x.parquet")
    for _ in range(2):
        stream = sdedup.read_docs_stream(spark, str(docs_dir))
        sdedup.neardup_filter_stream(
            stream,
            bands_path=str(tmp_path / "bands"),
            kept_path=str(tmp_path / "kept"),
            checkpoint_path=str(tmp_path / "ckpt"),
        )
    kept = spark.read.parquet(str(tmp_path / "kept")).collect()
    assert sorted(r["doc_id"] for r in kept) == [10, 11]


def test_streaming_enrichment_matches_batch(spark):
    """Stream-static broadcast join must equal the same join run in batch."""
    from dask_patternsearch_spark.streaming import events as sev

    stream = sev.read_events_stream(spark, SF_DIR, glob="events.parquet")
    dim = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    sev.run_to_memory(sev.enrich_stream(stream, dim), "t_enriched", spark)
    got = {tuple(r) for r in spark.table("t_enriched").collect()}

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "event_time", F.col("ts").cast("timestamp")
    )
    want = {tuple(r) for r in sev.enrich_stream(ev, dim).collect()}
    assert got == want


def test_transform_with_state_running_stats(spark):
    """Spark-4 transformWithState running stats must equal the batch
    aggregate (skipped where the protobuf-based TWS driver worker cannot
    start; applyInPandasWithState coverage stands regardless)."""
    from dask_patternsearch_spark.streaming.stateful import (
        event_stats_stream, tws_available, use_rocksdb_state,
    )

    if not tws_available():
        pytest.skip("transformWithState needs protobuf in the Python workers")
    use_rocksdb_state(spark)
    stream = sev.read_events_stream(spark, SF_DIR, glob="events.parquet")
    sev.run_to_memory(
        event_stats_stream(stream), "t_tws_stats", spark, output_mode="update"
    )
    got = {
        r["event_type"]: (r["n_events"], round(r["sum_value"], 2), r["min_value"])
        for r in spark.table("t_tws_stats").collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = {
        r["event_type"]: (r["n"], round(r["s"], 2), r["m"])
        for r in ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("m"),
        ).collect()
    }
    assert got == want


def test_zorder_layout_prunes_on_both_columns(spark, scratch_dir):
    """Z-ordered files must be skippable on EVERY cluster column: a narrow
    range predicate on either column overlaps only a minority of file
    footers.  Range clustering (the single-column layout) only achieves
    this for its leading column -- that contrast is the point of Z-order."""
    import glob as globmod

    import pyarrow.parquet as pq

    from dask_patternsearch_spark.sources import write_zordered

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    out = os.path.join(scratch_dir, "zorder")
    write_zordered(li, out, ["l_partkey", "l_suppkey"], n_files=8)

    files = sorted(globmod.glob(os.path.join(out, "*.parquet")))
    assert len(files) >= 6

    def overlap_fraction(col, lo, hi):
        n_overlap = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            fmin = min(md.row_group(i).column(idx).statistics.min
                       for i in range(md.num_row_groups))
            fmax = max(md.row_group(i).column(idx).statistics.max
                       for i in range(md.num_row_groups))
            if fmax >= lo and fmin <= hi:
                n_overlap += 1
        return n_overlap / len(files)

    for col in ("l_partkey", "l_suppkey"):
        stats = li.agg(F.min(col), F.max(col)).first()
        lo, hi = stats[0], stats[0] + (stats[1] - stats[0]) // 10
        frac = overlap_fraction(col, lo, hi)
        assert frac <= 0.67, f"{col}: {frac} of files overlap a 10% range"


def test_observed_write_audits_row_count(spark, scratch_dir):
    """write_table_observed must report exactly the rows it wrote,
    measured inside the write job itself (no second scan)."""
    from dask_patternsearch_spark.sources.io import write_table_observed

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = os.path.join(scratch_dir, "observed")
    metrics = write_table_observed(docs, out)
    n = spark.read.parquet(out).count()
    assert metrics["n_rows"] == n == docs.count()


def test_jsonl_shards_streaming_ingest_is_incremental(spark, tmp_path):
    """The custom source's streaming reader picks up ONLY files that
    appeared since the checkpointed offset (append-only shard ingest)."""
    import json
    import os

    from dask_patternsearch_spark.sources.jsonl import JsonlShards

    spark.dataSource.register(JsonlShards)
    src = str(tmp_path / "arriving")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")

    def shard(name, ids):
        with open(os.path.join(src, name), "w") as fh:
            for i in ids:
                fh.write(json.dumps({"doc_id": i, "text": f"doc {i}"}) + "\n")

    sink = str(tmp_path / "ingested")

    def drain():
        q = (
            spark.readStream.format("jsonl_shards")
            .schema("doc_id long, text string")
            .option("path", src)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["doc_id"] for r in spark.read.parquet(sink).collect()}

    shard("shard-00000.jsonl", [1, 2, 3])
    assert drain() == {1, 2, 3}
    # a later-named shard arrives; only its rows are appended on restart
    shard("shard-00001.jsonl", [4, 5])
    assert drain() == {1, 2, 3, 4, 5}


def test_streaming_left_outer_join_matches_batch_on_flushed_region(spark):
    """The left-outer stream-stream join's flushed region must equal the
    batch left join exactly: matched pairs identical, and every
    unmatched purchase present exactly once with NULL click columns."""
    from pyspark.sql import functions as F

    from dask_patternsearch_spark.queries.pipeline import (
        streaming_left_interval_join,
    )

    out = streaming_left_interval_join(spark, SF_DIR)
    got = {
        (r["user_id"], r["purchase_id"], r["click_id"], r["gap_ms"])
        for r in out.collect()
    }
    assert got, "flushed region must not be empty"
    assert any(c is None for _, _, c, _ in got), "no null emissions flushed"

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"),
        F.col("ms").alias("pms"),
    )
    c = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("cid"),
        F.col("ms").alias("cms"),
    )
    batch = (
        p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("cms") >= F.col("pms") - 600000)
            & (F.col("cms") < F.col("pms")),
            "left",
        )
        .select(
            F.col("pu").alias("user_id"),
            F.col("pid").alias("purchase_id"),
            F.col("cid").alias("click_id"),
            (F.col("pms") - F.col("cms")).alias("gap_ms"),
        )
    )
    emitted_pids = {pid for _, pid, _, _ in got}
    want = {
        (r["user_id"], r["purchase_id"], r["click_id"], r["gap_ms"])
        for r in batch.collect()
        if r["purchase_id"] in emitted_pids
    }
    assert got == want


def test_kmv_ledger_recovers_mid_swap_crash(spark, scratch_dir):
    """A crash between the two commit renames leaves the ledger stranded in
    an .old-<batch_id> sibling with dst missing; the next drain must restore
    it and merge on top, ending bit-equal to the whole-table batch sketch
    (without recovery the ledger would silently restart from the last
    batch's rows alone)."""
    import os

    from dask_patternsearch_spark.operators import sketches
    from dask_patternsearch_spark.streaming.sketch import kmv_ledger_stream
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    indir = os.path.join(scratch_dir, "kmv_in")
    ledger = os.path.join(scratch_dir, "kmv_ledger")
    ckpt = os.path.join(scratch_dir, "kmv_ckpt")
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(indir)

    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(indir)
        )

    kmv_ledger_stream(stream(), ledger, ckpt)
    # simulate the crash window: rename(dst -> old) ran, rename(tmp -> dst)
    # did not -- dst is gone, the prior ledger sits in the .old sibling
    os.rename(ledger, ledger + ".old-7")
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(indir)
    kmv_ledger_stream(stream(), ledger, ckpt)

    got = {
        r["event_type"]: r["hashes"]
        for r in spark.read.parquet(ledger).collect()
    }
    want = {
        r["event_type"]: r["hashes"]
        for r in sketches.kmv_sketch(ev, "user_id", ["event_type"]).collect()
    }
    assert got == want
    stranded = [n for n in os.listdir(scratch_dir) if ".old-" in n]
    assert stranded == []


def test_upsert_ledger_recovers_mid_swap_crash(spark, scratch_dir):
    """Same crash window for the upsert ledger: the restored prior state
    must survive and the replacement batch merge on top of it."""
    import os

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.streaming import events as sev
    from dask_patternsearch_spark.util import epoch_ms
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    indir = os.path.join(scratch_dir, "up_in")
    ledger = os.path.join(scratch_dir, "up_ledger")
    ckpt = os.path.join(scratch_dir, "up_ckpt")
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(indir)

    def stream():
        return sev.read_events_stream(spark, indir)

    sev.upsert_ledger_stream(stream(), ledger, ckpt)
    os.rename(ledger, ledger + ".old-3")
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(indir)
    sev.upsert_ledger_stream(stream(), ledger, ckpt)

    got = {
        r["user_id"]: (r["event_id"], r["ts_ms"])
        for r in spark.read.parquet(ledger).collect()
    }
    want = {
        r["user_id"]: (r["s"]["event_id"], r["s"]["ts_ms"])
        for r in ev.withColumn("ts_ms", epoch_ms("ts"))
        .groupBy("user_id")
        .agg(F.max_by(F.struct("event_id", "ts_ms"), F.col("ts_ms")).alias("s"))
        .collect()
    }
    assert got == want


def test_streaming_kmv_ledger_matches_batch_sketch(spark, scratch_dir):
    """The 2-batch streamed KMV ledger must equal the batch sketch of the
    whole table (associative merge across micro-batches)."""
    import os

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.operators import sketches
    from dask_patternsearch_spark.streaming.sketch import kmv_ledger_stream
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    indir = os.path.join(scratch_dir, "kmv_in")
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(indir)
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(indir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    kmv_ledger_stream(
        stream,
        os.path.join(scratch_dir, "kmv_ledger"),
        os.path.join(scratch_dir, "kmv_ckpt"),
    )
    got = {
        r["event_type"]: r["hashes"]
        for r in spark.read.parquet(os.path.join(scratch_dir, "kmv_ledger")).collect()
    }
    want = {
        r["event_type"]: r["hashes"]
        for r in sketches.kmv_sketch(ev, "user_id", ["event_type"]).collect()
    }
    assert got == want


def test_streaming_ingest_restart_is_state_noop(spark, scratch_dir):
    """Replaying the ingest stream over the SAME files -- even with a
    FRESH checkpoint, the case a checkpoint loss forces -- must not
    change the state: exactly-once composition lives in ingest_batch's
    content-derived stamps, not in the streaming checkpoint.  And the
    drained stream's resolved state equals the batch path's (micro-batch
    boundaries don't matter)."""
    import time as timemod

    from dask_patternsearch_spark.operators import dedup as bdedup
    from dask_patternsearch_spark.streaming import dedup as sdedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    state = os.path.join(scratch_dir, "ing_state")
    bdedup.init_dedup_state(docs.filter(F.col("doc_id") % 5 < 3), state)
    staged = os.path.join(scratch_dir, "ing_staged")
    docs.filter(F.col("doc_id") % 5 == 3).coalesce(1).write.parquet(staged)
    a = sorted(f for f in os.listdir(staged) if f.startswith("part-"))
    docs.filter(F.col("doc_id") % 5 == 4).coalesce(1).write.mode(
        "append").parquet(staged)
    b = sorted(set(f for f in os.listdir(staged) if f.startswith("part-"))
               - set(a))
    now = timemod.time()
    for i, name in enumerate(a + b):
        os.utime(os.path.join(staged, name), (now + i, now + i))

    stream = sdedup.read_docs_stream(spark, staged, max_files_per_trigger=1)
    sdedup.ingest_keepers_stream(
        stream, state, os.path.join(scratch_dir, "ing_ckpt1"))
    keepers_once = sorted(
        tuple(r) for r in bdedup.load_cluster_state(spark, state)[1].collect())
    n_keep = spark.read.parquet(f"{state}/keepers_delta.parquet").count()
    n_sig = spark.read.parquet(f"{state}/signatures.parquet").count()

    # batch-boundary independence: equals the one-call batch path
    full_pairs = bdedup.minhash_lsh_candidates(docs)
    want = sorted(
        tuple(r)
        for r in bdedup.cluster_keepers(docs, full_pairs).collect())
    assert keepers_once == want

    # full re-drain with a FRESH checkpoint over the same files
    stream2 = sdedup.read_docs_stream(spark, staged, max_files_per_trigger=1)
    sdedup.ingest_keepers_stream(
        stream2, state, os.path.join(scratch_dir, "ing_ckpt2"))
    assert sorted(
        tuple(r) for r in bdedup.load_cluster_state(spark, state)[1].collect()
    ) == keepers_once
    assert spark.read.parquet(
        f"{state}/keepers_delta.parquet").count() == n_keep
    assert spark.read.parquet(f"{state}/signatures.parquet").count() == n_sig


def test_streaming_cdc_restart_is_noop_at_both_levels(spark, scratch_dir):
    """Re-draining the CDC rewrite stream over the same files with a
    FRESH checkpoint must change neither the chunk-hash ledger (content
    stamps) nor the rewritten output (stamp-keyed overwrite subdirs),
    and the drained output must equal the one-shot batch rewrite over
    the arrival-ordered corpus."""
    import time as timemod

    from dask_patternsearch_spark.operators import dedup as bdedup
    from dask_patternsearch_spark.streaming import dedup as sdedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    state = os.path.join(scratch_dir, "cdc_state")
    bdedup.init_cdc_state(docs.filter(F.col("doc_id") % 2 == 0), state)
    split = docs.agg(F.max("doc_id")).collect()[0][0] // 2
    staged = os.path.join(scratch_dir, "cdc_staged")
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    odds.filter(F.col("doc_id") <= split).coalesce(1).write.parquet(staged)
    a = sorted(f for f in os.listdir(staged) if f.startswith("part-"))
    odds.filter(F.col("doc_id") > split).coalesce(1).write.mode(
        "append").parquet(staged)
    b = sorted(set(f for f in os.listdir(staged) if f.startswith("part-"))
               - set(a))
    now = timemod.time()
    for i, name in enumerate(a + b):
        os.utime(os.path.join(staged, name), (now + i, now + i))

    out = os.path.join(scratch_dir, "cdc_out")
    stream = sdedup.read_docs_stream(spark, staged, max_files_per_trigger=1)
    sdedup.cdc_rewrite_stream(
        stream, state, out, os.path.join(scratch_dir, "cdc_ckpt1"))
    once = sorted(tuple(r) for r in spark.read.parquet(f"{out}/*").collect())
    n_ledger = spark.read.parquet(
        bdedup._cdc_ledger_path(state)).count()

    # micro-batch boundary independence: the drained output equals the
    # one-shot keep-first in ARRIVAL order (all evens, then odds by id)
    # -- realized independently by lifting odd ids above every even id,
    # so cdc_span_dedup's doc_id ordering becomes the arrival ordering
    lift = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    remapped = docs.withColumn(
        "doc_id", F.col("doc_id") + (F.col("doc_id") % 2) * lift)
    want = sorted(
        (r["doc_id"] - lift,) + tuple(r)[1:]
        for r in bdedup.cdc_span_dedup(remapped).filter(
            f"doc_id >= {lift}").collect())
    assert once == want

    # fresh-checkpoint replay: ledger row count and output unchanged
    stream2 = sdedup.read_docs_stream(spark, staged, max_files_per_trigger=1)
    sdedup.cdc_rewrite_stream(
        stream2, state, out, os.path.join(scratch_dir, "cdc_ckpt2"))
    assert sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/*").collect()) == once
    assert spark.read.parquet(
        bdedup._cdc_ledger_path(state)).count() == n_ledger


def test_streaming_cdc_auto_compact_maintains_ledger(spark, scratch_dir):
    """The round-12 sink registration: cdc_rewrite_stream(auto_compact=
    True) runs the CDC maintenance trigger per micro-batch, so bloom
    delta rows stay collapsed (at most the post-compaction one-per-
    prefix plus the batches since the last firing) and the drained
    output is identical to the untriggered stream."""
    import time as timemod

    from dask_patternsearch_spark.operators import dedup as bdedup
    from dask_patternsearch_spark.streaming import dedup as sdedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 120)
    state = os.path.join(scratch_dir, "ac_state")
    control = os.path.join(scratch_dir, "ac_control")
    for s in (state, control):
        bdedup.init_cdc_state(docs.filter(F.col("doc_id") % 4 == 0), s)
    staged = os.path.join(scratch_dir, "ac_staged")
    now = timemod.time()
    parts: list[str] = []
    for i, m in enumerate((1, 2, 3)):
        docs.filter(F.col("doc_id") % 4 == m).coalesce(1).write.mode(
            "append").parquet(staged)
        new = sorted(set(f for f in os.listdir(staged)
                         if f.startswith("part-")) - set(parts))
        parts += new
        for name in new:
            os.utime(os.path.join(staged, name), (now + i, now + i))

    # monkeypatch-free forcing: gate low enough that 3 micro-batches trip it
    orig = bdedup.maybe_compact_cdc_state
    fired: list[str] = []

    def eager(spark_, state_dir, **kw):
        stats = orig(spark_, state_dir, max_bloom_rows_per_pfx=1)
        if stats:
            fired.append(stats["trigger"])
        return stats

    bdedup.maybe_compact_cdc_state = eager
    try:
        sdedup.cdc_rewrite_stream(
            sdedup.read_docs_stream(spark, staged, max_files_per_trigger=1),
            state, os.path.join(scratch_dir, "ac_out"),
            os.path.join(scratch_dir, "ac_ckpt1"), auto_compact=True)
    finally:
        bdedup.maybe_compact_cdc_state = orig
    assert fired  # the sink actually ran the trigger
    sdedup.cdc_rewrite_stream(
        sdedup.read_docs_stream(spark, staged, max_files_per_trigger=1),
        control, os.path.join(scratch_dir, "ac_out2"),
        os.path.join(scratch_dir, "ac_ckpt2"))
    led = lambda s: sorted(
        r["chunk_hash"]
        for r in spark.read.parquet(bdedup._cdc_ledger_path(s))
        .select("chunk_hash").distinct().collect())
    assert led(state) == led(control)
    out = lambda p: sorted(
        tuple(r) for r in spark.read.parquet(
            os.path.join(scratch_dir, p) + "/*").collect())
    assert out("ac_out") == out("ac_out2")


def test_streaming_neardup_migrates_legacy_ledger_and_blooms(spark, tmp_path):
    """Round-12: a pre-existing FLAT band ledger (no bk column, no bloom)
    is migrated in place on first contact -- clustered rewrite + bloom
    build -- and the drained decisions match the legacy semantics: a doc
    near-duplicating a ledgered doc is dropped, novel docs kept."""
    import pandas as pd

    from dask_patternsearch_spark.operators import dedup as bdedup
    from dask_patternsearch_spark.streaming import dedup as sdedup

    base = "spark shuffle partition broadcast join aggregate window stage task " * 8
    uniq = ("stencil simplex reflect contract halving lattice orientation "
            "incumbent poll round ledger dedup probe submit drain decide ") * 6
    # plant a LEGACY ledger: doc 1's bands, flat layout, no bloom
    seed = spark.createDataFrame([(1, base)], "doc_id long, text string")
    bands_path = str(tmp_path / "bands")
    bdedup._band_buckets(
        bdedup.minhash_signatures(seed), 8, 8
    ).write.parquet(bands_path)
    assert "bk" not in spark.read.parquet(bands_path).columns
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    pd.DataFrame({"doc_id": [3, 4], "text": [base + " tail", uniq]}
                 ).to_parquet(docs_dir / "x.parquet")
    sdedup.neardup_filter_stream(
        sdedup.read_docs_stream(spark, str(docs_dir)),
        bands_path=bands_path,
        kept_path=str(tmp_path / "kept"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    kept = {r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / "kept")).collect()}
    assert kept == {4}, "near-copy of the legacy-ledgered doc must drop"
    # migrated: clustered column present, bloom sidecar + meta written,
    # no swap debris
    led = spark.read.parquet(bands_path)
    assert "bk" in led.columns and led.filter("bk is null").count() == 0
    assert os.path.exists(bands_path + ".bloom")
    assert os.path.exists(bands_path + ".bloom.meta.json")
    import glob as _g
    assert not _g.glob(bands_path + ".old-*")
    assert not _g.glob(bands_path + ".compact-*")


def test_streaming_neardup_heals_a_crashed_migration_swap(spark, tmp_path):
    """A legacy-ledger migration that died between its two renames left
    the ledger only in the .old sibling.  The next batch must restore and
    migrate it, not read the missing ledger as "no ledger yet" (which
    would keep a near-copy of the ledgered doc and later delete the
    stranded sibling)."""
    import glob as _g

    import pandas as pd

    from dask_patternsearch_spark.operators import dedup as bdedup
    from dask_patternsearch_spark.streaming import dedup as sdedup

    base = "spark shuffle partition broadcast join aggregate window stage task " * 8
    uniq = ("stencil simplex reflect contract halving lattice orientation "
            "incumbent poll round ledger dedup probe submit drain decide ") * 6
    seed = spark.createDataFrame([(1, base)], "doc_id long, text string")
    bands_path = str(tmp_path / "bands")
    bdedup._band_buckets(
        bdedup.minhash_signatures(seed), 8, 8
    ).write.parquet(bands_path)
    os.rename(bands_path, bands_path + ".old-0a1b")   # crash mid-swap
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    pd.DataFrame({"doc_id": [3, 4], "text": [base + " tail", uniq]}
                 ).to_parquet(docs_dir / "x.parquet")
    sdedup.neardup_filter_stream(
        sdedup.read_docs_stream(spark, str(docs_dir)),
        bands_path=bands_path,
        kept_path=str(tmp_path / "kept"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    kept = {r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / "kept")).collect()}
    assert kept == {4}, "near-copy of the stranded-ledger doc must drop"
    assert "bk" in spark.read.parquet(bands_path).columns
    assert not _g.glob(bands_path + ".old-*")


def test_streaming_keepers_auto_compact_runs_trigger(spark, tmp_path):
    """ingest_keepers_stream(auto_compact=True) runs the MinHash leg's
    maintenance trigger per micro-batch (quiet at tiny scale -- the
    min_log_rows floor -- but the hook must execute and the drain must
    land the same resolved state as the untriggered path)."""
    import pandas as pd

    from dask_patternsearch_spark.operators import dedup as bdedup
    from dask_patternsearch_spark.streaming import dedup as sdedup

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    rows = [(i, " ".join(f"w{(i * 5 + j) % 37}" for j in range(20)))
            for i in range(24)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # stage ONLY the stream's docs: the init docs must not re-ingest
    pd.DataFrame({"doc_id": [r[0] for r in rows if r[0] >= 8],
                  "text": [r[1] for r in rows if r[0] >= 8]}).to_parquet(
        docs_dir / "x.parquet")
    state = str(tmp_path / "state")
    bdedup.init_dedup_state(docs.filter("doc_id < 8"), state,
                            quality_col="doc_id")
    calls: list[str] = []
    orig = bdedup.maybe_compact_dedup_state

    def spy(sp, sd, **kw):
        calls.append(sd)
        return orig(sp, sd, **kw)

    bdedup.maybe_compact_dedup_state = spy
    try:
        sdedup.ingest_keepers_stream(
            sdedup.read_docs_stream(spark, str(docs_dir)),
            state, str(tmp_path / "ckpt"), auto_compact=True,
            quality_col="doc_id",
        )
    finally:
        bdedup.maybe_compact_dedup_state = orig
    assert calls == [state]
    # resolved state matches the one-call batch path over the union
    full_pairs = bdedup.minhash_lsh_candidates(docs)
    want = sorted(
        tuple(r)
        for r in bdedup.cluster_keepers(
            docs.withColumn("n_chars", F.length("text")),
            full_pairs, quality_col="doc_id").collect())
    got = sorted(
        tuple(r)
        for r in bdedup.load_cluster_state(spark, state)[1].collect())
    assert got == want
