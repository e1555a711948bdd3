import os

import pytest


def test_overwrite_partitions_touches_only_emitted_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from dask_patternsearch_spark.sources.io import overwrite_partitions, write_table

    path = str(tmp_path / "facts")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "id long, day string, v double",
    )
    write_table(base, path, partition_by=["day"])
    # re-land ONLY day=a with corrected values
    delta = spark.createDataFrame(
        [(1, "a", 11.0), (5, "a", 50.0)], "id long, day string, v double"
    )
    overwrite_partitions(delta, path, ["day"])
    out = {(r["id"], r["day"]): r["v"]
           for r in spark.read.parquet(path).collect()}
    # day=a fully replaced (id 2 gone, id 5 added, id 1 corrected)
    assert out == {(1, "a"): 11.0, (5, "a"): 50.0, (3, "b"): 30.0, (4, "c"): 40.0}
    # the session conf was restored
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper() == "STATIC"


def test_compact_files_reduces_file_count_preserves_data(spark, tmp_path):
    from pyspark.sql import functions as F

    from dask_patternsearch_spark.sources.io import compact_files

    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)  # 64 small files
    before = spark.read.parquet(path)
    rows_before = sorted(tuple(r) for r in before.collect())

    manifest = compact_files(spark, path, target_file_bytes=1 << 30)
    assert manifest["files_before"] == 64
    assert manifest["files_after"] == 1  # total bytes << 1 GiB target
    after = spark.read.parquet(path)
    assert sorted(tuple(r) for r in after.collect()) == rows_before
    # no staging/old sibling left behind
    assert _siblings(path) == []


def _siblings(path):
    """Every directory entry named ``path`` + something (swap debris)."""
    import glob

    return sorted(glob.glob(glob.escape(path) + "?*"))


@pytest.mark.parametrize("old_sfx,tmp_sfx", [
    ("__compact_old", "__compact_tmp"),   # fixed names before swap_dir
    (".old-0a1b", ".compact-2c3d"),       # swap_dir / staging_dir names
])
def test_compact_files_heals_a_crash_between_its_renames(
        spark, tmp_path, old_sfx, tmp_sfx):
    """A compaction that died between its two renames left the table
    only in the old sibling, next to a complete staged copy.  The next
    compact_files must restore the table, not delete both copies."""
    import shutil

    from dask_patternsearch_spark.sources.io import compact_files

    path = str(tmp_path / "t")
    spark.range(0, 1000).repartition(8).write.parquet(path)
    shutil.copytree(path, path + tmp_sfx)   # staged copy, fully written
    os.rename(path, path + old_sfx)         # first rename done, crash
    compact_files(spark, path, target_file_bytes=1 << 30)
    ids = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert ids == list(range(1000))
    assert _siblings(path) == []


def test_swap_dir_onto_missing_path(tmp_path):
    from dask_patternsearch_spark.sources.io import staging_dir, swap_dir

    path = str(tmp_path / "d")
    tmp = staging_dir(path)
    os.makedirs(tmp)
    open(os.path.join(tmp, "f"), "w").close()
    swap_dir(tmp, path)
    assert os.listdir(path) == ["f"]
    assert _siblings(path) == []


def test_swap_dir_restores_the_original_when_the_second_rename_raises(
        tmp_path, monkeypatch):
    from dask_patternsearch_spark.sources import io

    path = str(tmp_path / "d")
    os.makedirs(path)
    open(os.path.join(path, "orig"), "w").close()
    tmp = io.staging_dir(path)
    os.makedirs(tmp)
    real_rename, calls = os.rename, []

    def rename(src, dst):
        calls.append(src)
        if src == tmp:
            raise OSError("injected")
        real_rename(src, dst)

    monkeypatch.setattr(io.os, "rename", rename)
    with pytest.raises(OSError, match="injected"):
        io.swap_dir(tmp, path)
    monkeypatch.undo()
    assert calls[:2] == [path, tmp]
    assert os.listdir(path) == ["orig"]
    # only the staged copy remains, for the next heal to remove
    assert _siblings(path) == [tmp]


def _mkdir_with(path, name, mtime=None):
    os.makedirs(path)
    open(os.path.join(path, name), "w").close()
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def test_heal_dir_swap_restores_the_newest_old_sibling(tmp_path):
    from dask_patternsearch_spark.sources.io import heal_dir_swap

    path = str(tmp_path / "d")
    _mkdir_with(path + ".old-aa", "oldest", mtime=1_000)
    _mkdir_with(path + ".old-bb", "newest", mtime=3_000)
    _mkdir_with(path + ".old-cc", "middle", mtime=2_000)
    _mkdir_with(path + ".compact-dd", "staged")
    heal_dir_swap(path)
    assert os.listdir(path) == ["newest"]
    assert _siblings(path) == []


def test_heal_dir_swap_with_path_present_only_cleans_siblings(tmp_path):
    from dask_patternsearch_spark.sources.io import heal_dir_swap

    path = str(tmp_path / "d")
    _mkdir_with(path, "live")
    _mkdir_with(path + ".old-aa", "superseded")
    _mkdir_with(path + ".compact-bb", "staged")
    _mkdir_with(path + "__compact_tmp", "staged")
    heal_dir_swap(path)
    assert os.listdir(path) == ["live"]
    assert _siblings(path) == []


@pytest.mark.parametrize("old_sfx,tmp_sfx", [
    ("__compact_old", "__compact_tmp"),
    ("__rebuild_old", "__rebuild_tmp"),
])
def test_heal_dir_swap_recognises_the_fixed_legacy_names(
        tmp_path, old_sfx, tmp_sfx):
    from dask_patternsearch_spark.sources.io import heal_dir_swap

    path = str(tmp_path / "d")
    _mkdir_with(path + old_sfx, "orig")
    _mkdir_with(path + tmp_sfx, "staged")
    heal_dir_swap(path)
    assert os.listdir(path) == ["orig"]
    assert _siblings(path) == []


def test_jsonl_shards_roundtrip_and_parallelism(spark, tmp_path):
    """Custom Python data source (PySpark 4 datasource API): write gz
    jsonl shards with a commit manifest, read them back with one input
    partition per shard file."""
    import gzip
    import json
    import os

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.sources.jsonl import JsonlShards

    spark.dataSource.register(JsonlShards)
    out = str(tmp_path / "corpus")
    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    (df.repartition(4).write.format("jsonl_shards").mode("overwrite")
       .option("path", out).option("compress", "true").save())

    shards = sorted(f for f in os.listdir(out) if f.endswith(".jsonl.gz"))
    assert len(shards) == 4
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert sum(s["n_rows"] for s in manifest["shards"]) == 100
    with gzip.open(os.path.join(out, shards[0]), "rt") as fh:
        first = json.loads(fh.readline())
    assert set(first) == {"doc_id", "text"}

    back = (spark.read.format("jsonl_shards")
            .schema("doc_id long, text string")
            .option("path", out).load())
    assert back.rdd.getNumPartitions() == 4  # one partition per shard
    rows = sorted((r["doc_id"], r["text"]) for r in back.collect())
    assert rows == sorted((r["doc_id"], r["text"]) for r in df.collect())

    # explicit schema is mandatory -- inference is a 100 TB anti-pattern
    import pytest as _pytest
    with _pytest.raises(Exception):
        spark.read.format("jsonl_shards").option("path", out).load().collect()


def test_ivf_layout_prunes_partitions_and_recalls(spark, tmp_path):
    """write_ivf_layout + ivf_layout_topk: the probe scan must read ONLY
    the probed cell partitions (partition pruning IS the ANN index), and
    recall against exact brute force must be above chance."""
    import numpy as np

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.operators.similarity import (
        brute_force_topk,
        ivf_layout_topk,
        write_ivf_layout,
    )

    rng = np.random.default_rng(11)
    # 4 well-separated gaussian blobs so cells are meaningful
    centers = rng.standard_normal((4, 16)) * 5
    rows = []
    for i in range(200):
        v = centers[i % 4] + rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    path = str(tmp_path / "ivf")
    write_ivf_layout(emb, path, n_cells=8, sample_size=200)

    # pruning: a cell-filtered read touches only the matching directories
    files = {
        r[0]
        for r in spark.read.parquet(path)
        .filter(F.col("cell").isin([0, 1]))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert files and all(("cell=0" in f) or ("cell=1" in f) for f in files)

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    approx = ivf_layout_topk(spark, path, queries, k=5, n_probe=3)
    exact = brute_force_topk(emb, n_queries=5, k=5)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.6  # blob structure makes 3-probe recall high


def test_jsonl_shards_overwrite_clears_stale_shards(spark, tmp_path):
    """A narrower overwrite must not leave shards from a previous wider
    write behind (readers would see mixed outputs)."""
    import os

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.sources.jsonl import JsonlShards

    spark.dataSource.register(JsonlShards)
    out = str(tmp_path / "corpus2")
    df = spark.range(0, 40).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    )
    (df.repartition(8).write.format("jsonl_shards").mode("overwrite")
       .option("path", out).save())
    assert len([f for f in os.listdir(out) if f.endswith(".jsonl")]) == 8
    (df.repartition(2).write.format("jsonl_shards").mode("overwrite")
       .option("path", out).save())
    assert len([f for f in os.listdir(out) if f.endswith(".jsonl")]) == 2
    back = (spark.read.format("jsonl_shards")
            .schema("doc_id long, text string").option("path", out).load())
    assert back.count() == 40


def test_jsonl_shards_append_does_not_clobber(spark, tmp_path):
    """Append mode must be additive: partition ids repeat across jobs, so
    shard names carry a per-job token (no silent overwrite of the prior
    write's shards) and the commit manifest MERGES rather than replaces."""
    import json
    import os

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.sources.jsonl import JsonlShards

    spark.dataSource.register(JsonlShards)
    out = str(tmp_path / "corpus_append")
    df1 = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.lit("first").alias("text")
    )
    df2 = spark.range(100, 250).select(
        F.col("id").alias("doc_id"), F.lit("second").alias("text")
    )
    (df1.repartition(4).write.format("jsonl_shards").mode("append")
        .option("path", out).save())
    (df2.repartition(4).write.format("jsonl_shards").mode("append")
        .option("path", out).save())

    shards = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert len(shards) == 8
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert len(manifest["shards"]) == 8
    assert sum(s["n_rows"] for s in manifest["shards"]) == 250

    back = (spark.read.format("jsonl_shards")
            .schema("doc_id long, text string")
            .option("path", out).load())
    assert back.count() == 250
    # overwrite still clears everything stale, manifest shrinks with it
    (df1.repartition(2).write.format("jsonl_shards").mode("overwrite")
        .option("path", out).save())
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert len(manifest["shards"]) == 2
    assert sum(s["n_rows"] for s in manifest["shards"]) == 100


def test_jsonl_shard_tokens_survive_clock_regression(spark, tmp_path):
    """Shard tokens must stay unique and lexically increasing even when
    the wall clock is BEHIND the newest shard on disk (NTP step back /
    same-millisecond jobs): the writer bumps past the highest prior
    token, so the streaming reader's sorted-listing offset contract
    holds."""
    import os

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.sources.jsonl import JsonlShards

    spark.dataSource.register(JsonlShards)
    out = str(tmp_path / "corpus_clock")
    os.makedirs(out)
    future = 9_000_000_000_000  # year ~2255: ahead of any real clock,
    # still inside the 13-digit zero-padded token width the lexical
    # ordering contract is defined over
    planted = os.path.join(out, f"shard-{future:013d}-deadbeef-00000.jsonl")
    with open(planted, "w") as fh:
        fh.write('{"doc_id": -1, "text": "planted"}\n')

    df = spark.range(0, 10).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    )
    (df.repartition(2).write.format("jsonl_shards").mode("append")
        .option("path", out).save())

    names = sorted(f for f in os.listdir(out) if f.endswith(".jsonl"))
    new = [n for n in names if "deadbeef" not in n]
    assert len(names) == 3 and len(new) == 2
    # bumped past the planted future token, so new names sort after it
    assert all(int(n.split("-")[1]) > future for n in new)
    assert all(n > os.path.basename(planted) for n in new)


def test_audit_scan_parallelism_flags_single_row_group(spark, tmp_path):
    """The layout auditor must flag a one-big-group file (whose scan
    serializes onto one task) and pass a many-group file of the same
    rows, with scan_task_bound = min(splits, n_row_groups).  A SMALL
    single-group file must NOT flag: one task is already optimal there,
    so reporting it as a parallelism problem would be noise."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from dask_patternsearch_spark.sources import audit_scan_parallelism

    tab = pa.table({"x": list(range(200_000))})
    bad = str(tmp_path / "bad.parquet")
    good = str(tmp_path / "good.parquet")
    tiny = str(tmp_path / "tiny.parquet")
    pq.write_table(tab, bad)                          # one 200k-row group
    pq.write_table(tab, good, row_group_size=10_000)  # twenty groups
    pq.write_table(pa.table({"x": list(range(500))}), tiny)  # small, 1 group
    out = {r["file"]: r for r in
           audit_scan_parallelism(spark, str(tmp_path)).collect()}
    assert out[bad]["n_row_groups"] == 1 and out[bad]["starved"]
    assert out[bad]["scan_task_bound"] == 1
    assert out[good]["n_row_groups"] == 20 and not out[good]["starved"]
    assert out[good]["rows"] == out[bad]["rows"] == 200_000
    assert out[tiny]["n_row_groups"] == 1 and not out[tiny]["starved"]
    # file:// URI routing through pyarrow.fs resolves to the same audit
    uri = {r["file"]: r for r in
           audit_scan_parallelism(spark, "file://" + str(tmp_path)).collect()}
    assert len(uri) == 3 and any(r["starved"] for r in uri.values())
    # the driver testdata itself demonstrates the trap (read-only, so the
    # audit is how a user would discover it); skip on checkouts without
    # the fixture tree
    li_path = "/root/testdata/sf0.1/lineitem.parquet"
    if not os.path.exists(li_path):
        pytest.skip("driver testdata fixture not present")
    li = audit_scan_parallelism(spark, li_path).collect()[0]
    assert li["starved"] and li["n_row_groups"] == 1


def test_write_table_is_row_group_safe_by_default(spark, tmp_path):
    """Every parquet file written by write_table must satisfy the
    split-friendly footer contract: n_row_groups >= ceil(bytes / 128MB)
    (trivially, group bytes <= 128MB) AND no group holds more than
    DEFAULT_MAX_GROUP_ROWS rows -- Spark's writer default would put all
    600k rows in ONE group (the trap measured as a 7-19% whole-query tax
    on the copurchase bench family), so the bounds must be applied."""
    import math
    import os

    import pyarrow.parquet as pq

    from dask_patternsearch_spark.sources.io import (
        DEFAULT_MAX_GROUP_ROWS,
        write_table,
    )

    df = spark.range(600_000).selectExpr("id", "id * 2 as v")
    out = str(tmp_path / "safe")
    write_table(df.coalesce(1), out)
    files = [os.path.join(out, f) for f in os.listdir(out)
             if f.endswith(".parquet")]
    assert files
    for f in files:
        md = pq.ParquetFile(f).metadata
        size = os.path.getsize(f)
        assert md.num_row_groups >= math.ceil(size / (128 * 1024 * 1024))
        assert md.num_row_groups > 1, "600k rows must never be one group"
        for i in range(md.num_row_groups):
            assert md.row_group(i).num_rows <= DEFAULT_MAX_GROUP_ROWS
    # opt-out restores the writer default (one group for this size)
    out2 = str(tmp_path / "unsafe")
    write_table(df.coalesce(1), out2, max_group_rows=None,
                max_group_bytes=None)
    f2 = [os.path.join(out2, f) for f in os.listdir(out2)
          if f.endswith(".parquet")][0]
    assert pq.ParquetFile(f2).metadata.num_row_groups == 1


def test_compact_files_preserves_row_group_safety(spark, tmp_path):
    """Compaction makes files bigger -- exactly when the single-row-group
    trap bites hardest -- so the compacted rewrite must carry the same
    footer contract, and the post-compaction layout must pass the audit."""
    import os

    import pyarrow.parquet as pq

    from dask_patternsearch_spark.sources.io import (
        DEFAULT_MAX_GROUP_ROWS,
        audit_scan_parallelism,
        compact_files,
    )

    out = str(tmp_path / "frag")
    spark.range(400_000).selectExpr("id", "id % 7 as k").repartition(
        32).write.parquet(out)
    manifest = compact_files(spark, out, target_file_bytes=1 << 40)
    assert manifest["files_after"] < manifest["files_before"]
    files = [os.path.join(out, f) for f in os.listdir(out)
             if f.endswith(".parquet") and not f.startswith(("_", "."))]
    for f in files:
        md = pq.ParquetFile(f).metadata
        assert all(md.row_group(i).num_rows <= DEFAULT_MAX_GROUP_ROWS
                   for i in range(md.num_row_groups))
    audit = audit_scan_parallelism(spark, out).collect()
    assert audit and not any(r["starved"] for r in audit)


def test_write_training_shards_layout_passes_audit(spark, tmp_path):
    """The training-shard writer must produce a layout the scan auditor
    passes (bounded row groups inside every shard directory)."""
    import warnings

    from pyspark.sql import functions as F

    from dask_patternsearch_spark.operators.text import write_training_shards
    from dask_patternsearch_spark.sources.io import audit_scan_parallelism

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    )
    out = str(tmp_path / "shards")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # the audit warning must NOT fire
        write_training_shards(docs, out)
    audit = audit_scan_parallelism(spark, out).collect()
    assert audit and not any(r["starved"] for r in audit)


def test_session_parquet_codec_zstd_engages_on_writes(spark, tmp_path):
    """Round-13 guide-§6 change: the session default parquet codec is
    zstd (env-overridable via SPARK_GRAFT_PARQUET_CODEC), and it must
    actually reach the files every operator writes -- asserted from the
    written footer, not just the conf."""
    import os

    import pyarrow.parquet as pq

    expected = os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd")
    assert (spark.conf.get("spark.sql.parquet.compression.codec").lower()
            == expected.lower())

    out = str(tmp_path / "codec_probe")
    spark.range(100).selectExpr(
        "id", "repeat('payload ', 8) as text").coalesce(1).write.parquet(out)
    files = [f for f in os.listdir(out)
             if f.endswith(".parquet") and not f.startswith(("_", "."))]
    assert files
    meta = pq.ParquetFile(os.path.join(out, files[0])).metadata
    codecs = {meta.row_group(i).column(j).compression.lower()
              for i in range(meta.num_row_groups)
              for j in range(meta.num_columns)}
    assert codecs == {expected.lower()}
