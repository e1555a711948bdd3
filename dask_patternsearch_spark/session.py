"""SparkSession factory with scale-oriented defaults.

Centralizes the configs we want identical in tests, bench and the driver
harness.  Tuned for the local[32] test box but chosen to be the settings
you'd also want on a 1000-executor cluster reading 100 TB:

* AQE on (runtime join re-selection, skew-join splitting, partition
  coalescing) -- the single most important knob at scale;
* shuffle partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the static number mostly irrelevant;
* Arrow enabled for every Python<->JVM hop (pandas UDFs, toPandas);
* session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle regardless of host timezone;
* Python workers forked from ``worker_daemon`` (``spark.python.daemon.module``),
  whose zip importers re-read ``pyspark.zip`` and the Spark jar only when
  they changed: PySpark's per-task ``importlib.invalidate_caches()`` would
  otherwise re-read both archives' central directories in every partition
  of every Python stage (about 0.25 s of CPU per task on a 4-core box).
  The daemon also freezes its heap (``gc.freeze()``) before it forks, so
  the ``gc.collect()`` a reused worker runs after every task skips the
  ~39,000 objects inherited from it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# the value of ``spark.python.daemon.module``; tools that build their own
# session set it too, so their stage CPU readings match the engine's
WORKER_DAEMON_MODULE = "dask_patternsearch_spark.worker_daemon"


def get_spark(app_name: str = "dask-patternsearch-spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # pin AQE's starting partition count to the static shuffle number:
        # the default leaves it unset (falls back per-plan), and making it
        # explicit keeps physical plans -- and therefore bench numbers --
        # identical across sessions and rounds
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(cpus))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # every state/sink write (ingest/CDC ledgers, IVF layouts, shards,
        # compaction) compresses with zstd instead of the snappy default:
        # measured on this repo's payload shapes -- documents -39%,
        # lineitem-shape -20%, embeddings -8% bytes at read parity -- so
        # at 100 TB every byte written, stored and re-read by the
        # incremental operators shrinks by that factor.  Inputs are
        # whatever codec they arrived in (this only affects writes);
        # results are row sets, codec-independent.  Env-overridable for
        # A/B comparability with earlier rounds.
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # ContextCleaner frees localCheckpoint/broadcast blocks only after
        # a DRIVER GC collects their references; the default periodic GC
        # (30 min) never fires inside a big heap, so a long session's
        # checkpointing operators leak blocks and every query slows a
        # little more (measured: identical bench runs drifting 31s -> 35s).
        # One forced GC per minute keeps block cleanup bounded.
        .config("spark.cleaner.periodicGC.interval", "60s")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        .getOrCreate()
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Register every testdata table as a temp view and return the dict.

    Column pruning + predicate pushdown reach the parquet scan because these
    are plain file scans (checked via ``.explain``: PushedFilters/ReadSchema).
    """
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
