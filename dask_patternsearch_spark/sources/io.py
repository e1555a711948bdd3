"""Readers/writers: parquet, csv, json, orc (+ partitioned layouts).

Scale defaults baked in:

* parquet everywhere unless interchange demands text formats;
* explicit schemas for text sources (schema inference is a full extra
  scan at 100 TB);
* partitioned writes (``partition_by``) so downstream scans get partition
  pruning; ``coalesce_output`` bounds small-file explosion;
* every reader returns a plain DataFrame -- predicate pushdown and column
  pruning then happen in whatever query consumes it.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FORMATS = ("parquet", "csv", "json", "orc")

# Split-friendly parquet row-group bounds (SCALE.md round 8/9): a row
# group is indivisible to Spark's split scheduler, so a one-big-group
# file serializes its whole fused scan stage onto ONE task (measured as
# a 7-19% whole-query tax on the bench's copurchase family, and a 177 s
# straggler at probe x300).  Spark's parquet writer only flushes a group
# at parquet.block.size (128 MB) of UNCOMPRESSED buffer, so any smaller
# output lands as a single group by default -- these bounds make every
# written file carry enough groups that byte-range splits can actually
# parallelize the decode.  Both are per-write parquet-mr options,
# verified honored in tests/test_sources.py footer tests.
DEFAULT_MAX_GROUP_BYTES = 16 * 1024 * 1024
DEFAULT_MAX_GROUP_ROWS = 100_000


def _row_group_options(writer, fmt: str, max_group_rows: int | None,
                       max_group_bytes: int | None):
    """Apply the row-group bounds to a DataFrameWriter (parquet only)."""
    if fmt != "parquet":
        return writer
    if max_group_bytes:
        writer = writer.option("parquet.block.size", int(max_group_bytes))
    if max_group_rows:
        writer = writer.option("parquet.block.row.count.limit",
                               int(max_group_rows))
    return writer


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {FORMATS}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt == "csv":
        # no schema given: header + inference is acceptable for small files
        # only; callers at scale must pass a schema
        options.setdefault("header", "true")
        options.setdefault("inferSchema", "true")
    if fmt == "csv":
        options.setdefault("header", "true")
    return getattr(reader.options(**options), fmt)(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    coalesce_output: int | None = None,
    max_group_rows: int | None = DEFAULT_MAX_GROUP_ROWS,
    max_group_bytes: int | None = DEFAULT_MAX_GROUP_BYTES,
    **options,
) -> None:
    """Write a table; parquet outputs are ROW-GROUP-SAFE by default:
    every file carries a group per ``max_group_bytes`` of (uncompressed)
    data and at most ``max_group_rows`` rows per group, so later scans
    can be split-parallelized instead of serializing onto one task per
    file (the single-row-group trap ``audit_scan_parallelism`` detects;
    these bounds prevent it at the source).  Pass ``None`` for either to
    fall back to the parquet-mr defaults."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {FORMATS}")
    if coalesce_output:
        df = df.coalesce(coalesce_output)
    writer = df.write.mode(mode).options(**options)
    writer = _row_group_options(writer, fmt, max_group_rows, max_group_bytes)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    getattr(writer, fmt)(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (and optionally sorted) managed table.

    THE co-location tool at 100 TB: two tables bucketed by the same key
    into the same bucket count join with NO shuffle exchange on either side
    (verified in tests/test_plans.py::test_bucketed_join_is_shuffle_free),
    and sorted buckets skip the sort of a sort-merge join too.  Pay the
    shuffle once at write time, reuse it for every subsequent join/agg on
    the bucket key.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name, format="parquet")


def write_clustered(
    df: DataFrame,
    path: str,
    range_cols: list[str],
    n_files: int = 32,
    sort_within: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a range-CLUSTERED parquet layout: rows range-partitioned on
    ``range_cols`` (one contiguous key range per output file) and sorted
    within each file.

    The layout tool for scan pruning when the predicate column is NOT a
    good directory-partition key (too high cardinality for directories,
    e.g. timestamps or ids): each parquet footer then carries a TIGHT,
    disjoint min/max range for the cluster key, so any engine's row-group
    / file skipping reduces a key-range scan from O(total) to O(matching
    files).  Same idea as Delta/Iceberg OPTIMIZE ... ZORDER for the
    single-column case, in plain parquet.

    Cost: one range-exchange shuffle (sampling pass picks the bounds --
    skew-robust) + a per-partition sort.  ``n_files`` bounds the file
    count; pick ~target_size 128-512 MiB per file at scale.
    """
    sort_cols = sort_within or range_cols
    writer = _row_group_options(
        df.repartitionByRange(n_files, *range_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode),
        "parquet", DEFAULT_MAX_GROUP_ROWS, DEFAULT_MAX_GROUP_BYTES)
    writer.parquet(path)


def _zvalue(cols: list[str], bits: int = 21):
    """Interleaved-bit (Morton / Z-order) key over up to 3 numeric columns.

    Each column is first rank-normalized OUTSIDE this helper (pass
    percent_rank-scaled integers); here we just interleave the low ``bits``
    bits of each column expression, JVM-side (shift/or chain inside
    whole-stage codegen).
    """
    from pyspark.sql import functions as F

    n = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int = 32,
    mode: str = "overwrite",
    bits: int = 21,
) -> None:
    """Write a MULTI-column Z-ordered parquet layout: rows are clustered by
    the Morton interleave of the rank-normalized cluster columns, so every
    output file covers a small hyper-rectangle of the key space and its
    footer min/max stats are tight on EVERY cluster column at once --
    range-clustering (``write_clustered``) can only do this for one column.

    Rank normalization (ntile over each column) makes the interleave
    robust to arbitrary value distributions: each column contributes a
    uniform [0, 2^bits) integer regardless of skew.  Cost: one window pass
    per cluster column for the ranks (at production scale: approximate via
    ``approxQuantile`` bounds instead of exact ntile to avoid the global
    sorts) + one range exchange on the z-value + per-file sort.  This is
    Delta/Iceberg ``OPTIMIZE ... ZORDER BY`` in plain parquet.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if not 1 <= len(zorder_cols) <= 3:
        raise ValueError("zorder_cols must name 1-3 columns")
    buckets = 1 << bits
    ranked = df
    rank_cols = []
    for c in zorder_cols:
        rc = f"__dps_zr_{c}"
        # percent_rank in [0,1] -> integer bucket in [0, 2^bits)
        pr = F.percent_rank().over(Window.orderBy(F.col(c)))
        ranked = ranked.withColumn(
            rc, F.least(F.floor(pr * buckets), F.lit(buckets - 1)).cast("long")
        )
        rank_cols.append(rc)
    z = "__dps_zval"
    ranked = ranked.withColumn(z, _zvalue(rank_cols, bits))
    writer = _row_group_options(
        ranked.repartitionByRange(n_files, F.col(z))
        .sortWithinPartitions(z)
        .drop(z, *rank_cols)
        .write.mode(mode),
        "parquet", DEFAULT_MAX_GROUP_ROWS, DEFAULT_MAX_GROUP_BYTES)
    writer.parquet(path)


def write_table_observed(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    **options,
) -> dict:
    """Write a table and return audit metrics (row count, per-partition
    max) collected IN THE SAME JOB via ``df.observe`` -- no second scan.

    The pattern every production pipeline needs at 100 TB: the write
    itself proves how many rows landed, so row-count drift between
    pipeline stages is detected for free instead of via a follow-up
    ``count()`` that re-reads terabytes.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("write_audit")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.lit(1)).alias("n_rows_sum_check"),
    )
    write_table(observed, path, fmt=fmt, mode=mode, **options)
    return dict(obs.get)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    fmt: str = "parquet",
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present in
    ``df``, leaving every other partition untouched -- the incremental
    daily-reload pattern (re-land one day of a date-partitioned fact
    without rewriting seven years).  Static overwrite mode would truncate
    the whole table first; the dynamic mode scopes the delete to the
    partitions the job actually emits.

    The session-level ``partitionOverwriteMode`` is set around the write
    and restored, so concurrent code keeps Spark's default semantics.
    """
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {FORMATS}")
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try:
        writer = df.write.mode("overwrite").partitionBy(*partition_by)
        getattr(writer, fmt)(path)
    finally:
        spark.conf.set(key, prev)


def staging_dir(path: str) -> str:
    """A fresh sibling of ``path`` to write its rewritten copy into
    before :func:`swap_dir` moves it in place."""
    return path.rstrip("/") + ".compact-" + uuid.uuid4().hex


def swap_dir(tmp: str, path: str) -> None:
    """Replace directory ``path`` with ``tmp`` by two renames: ``path``
    to a ``.old-<uuid>`` sibling (when it exists), then ``tmp`` to
    ``path``; the sibling is removed last.  Readers never see a
    half-written directory.  If the second rename raises, the original
    is put back before the error propagates.  If the process dies
    between the renames, ``path`` is missing and its data sits in the
    sibling; every caller runs :func:`heal_dir_swap` on ``path`` before
    it reads, so the next call restores it and nothing is lost.

    Local filesystem only.  There is a brief window in which ``path``
    does not exist, so swaps run single-writer with no concurrent
    readers (the maintenance-window posture); on a lake/metastore, swap
    a table pointer instead, which is atomic for readers."""
    path = path.rstrip("/")
    old = path + ".old-" + uuid.uuid4().hex
    moved = os.path.exists(path)
    if moved:
        os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        if moved:
            os.rename(old, path)
        raise
    shutil.rmtree(old, ignore_errors=True)


# fixed sibling names of the two-rename swaps that predate swap_dir:
# still recognised so a directory that crashed under them heals
_LEGACY_OLD = ("__compact_old", "__rebuild_old")
_LEGACY_TMP = ("__compact_tmp", "__rebuild_tmp")


def heal_dir_swap(path: str) -> None:
    """Heal a crashed :func:`swap_dir` around ``path``.  If ``path`` is
    missing and pre-swap siblings exist, the NEWEST sibling is the
    pre-crash directory: rename it back (the interrupted rewrite never
    swapped in its output, so restoring the input loses nothing; a retry
    rewrites from it).  Superseded siblings and orphaned staging dirs
    are removed either way, so the caller must be the only writer (a
    state lock or the maintenance window).  Cheap when there is nothing
    to do: two directory globs."""
    path = path.rstrip("/")
    olds = glob.glob(glob.escape(path) + ".old-*") + [
        path + s for s in _LEGACY_OLD if os.path.exists(path + s)]
    if olds and not os.path.exists(path):
        olds.sort(key=os.path.getmtime)
        os.rename(olds.pop(), path)
    for leftover in (olds + glob.glob(glob.escape(path) + ".compact-*")
                     + [path + s for s in _LEGACY_TMP]):
        shutil.rmtree(leftover, ignore_errors=True)


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 512 * 1024 * 1024,
    fmt: str = "parquet",
    max_group_rows: int | None = DEFAULT_MAX_GROUP_ROWS,
    max_group_bytes: int | None = DEFAULT_MAX_GROUP_BYTES,
) -> dict:
    """Small-file compaction: rewrite a table directory so each output
    file is ~``target_file_bytes`` -- the standing maintenance job of any
    large table (streaming sinks, dynamic-partition re-lands and
    per-task writers all shed thousands of small files, and at 100 TB
    file-open overhead + footer reads dominate scans of a fragmented
    table).

    The output file count derives from the CURRENT on-disk byte total
    (driver-side file listing -- metadata only, no data read), then one
    ``repartition(n)`` round-robin shuffle spreads rows evenly across
    exactly ``n`` writers.  The compacted copy lands in a
    :func:`staging_dir` and is moved in by :func:`swap_dir` (crash
    contract and single-writer caveat there); a previous run's crashed
    swap is healed first.

    Returns a manifest dict: files/bytes before and after.
    """
    import math

    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {FORMATS}")

    def _scan(d: str) -> tuple[int, int]:
        n = b = 0
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                n += 1
                b += os.path.getsize(os.path.join(root, f))
        return n, b

    heal_dir_swap(path)
    files_before, bytes_before = _scan(path)
    n_out = max(1, math.ceil(bytes_before / target_file_bytes))
    tmp = staging_dir(path)
    df = getattr(spark.read, fmt)(path)
    # compaction makes files BIGGER -- exactly when row-group bounds
    # matter most (a 512 MB single-group file would undo the compaction
    # win by serializing every later scan)
    writer = _row_group_options(
        df.repartition(n_out).write.mode("overwrite"), fmt,
        max_group_rows, max_group_bytes)
    getattr(writer, fmt)(tmp)
    swap_dir(tmp, path)
    files_after, bytes_after = _scan(path)
    return {
        "files_before": files_before,
        "bytes_before": bytes_before,
        "files_after": files_after,
        "bytes_after": bytes_after,
        "target_file_bytes": target_file_bytes,
    }


def audit_scan_parallelism(
    spark: SparkSession,
    path: str,
    max_partition_bytes: int = 128 * 1024 * 1024,
    single_group_rows_threshold: int = 100_000,
) -> DataFrame:
    """Per-file parquet ROW-GROUP layout audit: the pre-flight check for
    the single-row-group trap (SCALE.md round 8).

    Spark parallelizes a parquet scan by byte-range file splits, but a
    row group is indivisible -- the split containing a group's midpoint
    decodes ALL of it.  A file written with pyarrow's 1M-row default (or
    any one-big-group layout) therefore serializes its whole scan stage
    -- and everything Catalyst fuses into it (filters, projections,
    partial aggregates) -- onto ONE task per group, regardless of
    cluster width; measured on this repo's probe corpora as a 31-of-32-
    cores-idle straggler, and as a 7-19% whole-query tax on the bench's
    copurchase family.

    Returns one row per data file: ``(file, bytes, rows, n_row_groups,
    max_group_rows, splits, scan_task_bound, starved)`` where ``splits``
    is the byte-range split count at ``max_partition_bytes``,
    ``scan_task_bound = min(splits, n_row_groups)`` is the hard ceiling
    on scan parallelism for that file, and ``starved`` flags files where
    row groups -- not bytes -- are the limit: either the bound is below
    the split count, or the file is a single row group holding more than
    ``single_group_rows_threshold`` rows (the one-big-group layout that
    serializes fused per-row work onto one task even when the file fits
    a single split; a small single-group file is fine -- one task is
    already optimal there).  Metadata-only: reads parquet footers
    driver-side, never row data.  File listing goes through
    ``pyarrow.fs``, so ``file://``/``s3://``-style URIs work wherever
    the pyarrow build carries that filesystem.
    """
    import math

    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    p = path.rstrip("/")
    try:
        # handles bare local paths and file://, s3://, ... URIs alike
        fs, fs_path = pafs.FileSystem.from_uri(p)
    except ValueError:  # pyarrow's ArrowInvalid subclasses ValueError
        fs, fs_path = pafs.LocalFileSystem(), p
    info = fs.get_file_info(fs_path)
    if info.type == pafs.FileType.Directory:
        listing = fs.get_file_info(pafs.FileSelector(fs_path, recursive=True))
        files = {
            fi.path: fi.size
            for fi in listing
            if fi.is_file
            and fi.base_name.endswith(".parquet")
            and not fi.base_name.startswith(("_", "."))
        }
    else:
        files = {fs_path: info.size}
    rows = []
    for f in sorted(files):
        with fs.open_input_file(f) as fh:
            md = pq.ParquetFile(fh).metadata
        group_rows = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
        size = files[f]
        splits = max(1, math.ceil(size / max_partition_bytes))
        bound = min(splits, max(1, md.num_row_groups))
        rows.append((
            f, size, md.num_rows, md.num_row_groups,
            max(group_rows) if group_rows else 0, splits, bound,
            bound < splits
            or (
                md.num_row_groups == 1
                and md.num_rows > single_group_rows_threshold
            ),
        ))
    return spark.createDataFrame(
        rows,
        "file string, bytes long, rows long, n_row_groups int, "
        "max_group_rows long, splits int, scan_task_bound int, "
        "starved boolean",
    )
