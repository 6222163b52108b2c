"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every setting here is
chosen to survive a multi-executor cluster at ~100 TB: AQE for runtime
re-planning (coalesce + skew joins), partition counts sized by env, Arrow for
any Python exchange, and UTC session time so timestamp semantics are
machine-independent. Imported inside a Spark task, the module also stops
zip importers from re-reading their archives before every later task
(``_keep_zip_directories_in_tasks``).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

# Dynamic (runtime-settable) confs the engine relies on. Applied both when we
# create the session ourselves and defensively on sessions handed to us by a
# driver harness (see ensure_runtime_conf).
RUNTIME_CONF = {
    # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as long ns and convert (catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: partition coalescing and skew-join splitting are
    # essential at 100 TB where static planning guesses wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for any pandas UDF / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _keep_zip_directory(self) -> None:
    """zipimporter.invalidate_caches replacement: keep the directory read
    when the importer was created."""


def _keep_zip_directories_in_tasks() -> None:
    """Stop each Spark task from re-reading every zip archive on sys.path.

    PySpark's worker calls importlib.invalidate_caches() at the start of
    every task, and before Python 3.13 each zipimporter then re-parses its
    whole archive directory in pure Python. A reused worker holds one
    importer per package directory of pyspark.zip (1,328 entries) and
    py4j's zip, 14-16 in all: ~0.13 s per task on an idle core and ~0.4 s
    under a replication drain. Spark never rewrites an archive already on
    a worker's sys.path; a new --py-files archive gets a new importer,
    which reads its directory when it is created, and FileFinder
    invalidation (new .py files) is untouched. Python 3.13 made the
    re-read lazy; the driver and other non-task processes keep the stdlib
    behaviour.
    """
    if sys.version_info < (3, 13) and TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _keep_zip_directory


# A worker imports this package when it unpickles the replication kernel's
# closure, so every later task on that reused worker skips the re-read.
_keep_zip_directories_in_tasks()


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return int(cpus)
        except ValueError:
            pass
    return os.cpu_count() or 8


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's dynamic confs to an existing session (idempotent).

    Guarded once per session object: each conf.set is a py4j round-trip
    (~1 ms measured), and load_table calls this on every table load —
    500+ times per bench sweep. Queries that temporarily override a conf
    (loop-narrowed shuffle partitions, AQE-off iterations) restore the
    previous value themselves, so re-asserting here was never load-bearing.
    """
    if getattr(spark, "_atrs_runtime_conf_done", False):
        return spark
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on this build — leave whatever the session has.
            pass
    spark._atrs_runtime_conf_done = True
    return spark


# Intra-query persist bookkeeping (r12 verdict item 9 / ADVICE): a query
# fn that returns a lazy DataFrame cannot unpersist its own intermediates
# (they materialize only when the caller executes the plan), so every
# .persist() inside a query path registers here instead. The bench's
# per-query spark.catalog.clearCache() evicts the cached BLOCKS anyway;
# release_tracked_persists() is the precise variant for long-lived shared
# sessions (the verify harness, library consumers) — it unpersists every
# tracked plan and drops the references, leaving the cache empty without
# nuking caches the caller owns.
_TRACKED_PERSISTS: "list" = []


def track_persist(df, storage_level=None):
    """persist() a query-internal DataFrame and register it for
    release_tracked_persists(). Returns the persisted DataFrame."""
    df = df.persist() if storage_level is None else df.persist(storage_level)
    _TRACKED_PERSISTS.append(df)
    return df


def release_tracked_persists() -> int:
    """Unpersist every DataFrame registered by track_persist (blocking=False,
    matching clearCache's async eviction). Returns how many were released.
    Call between queries in any session that outlives a single query and
    does not already clearCache."""
    n = 0
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


def get_spark(
    app_name: str = "avro-topic-replication-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's configuration."""
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Sized for local[32]/128GiB; a cluster deploy overrides via
        # spark-submit. Dims (region/nation/customer/supplier/part) should
        # broadcast; facts sort-merge — the 10MB default threshold does the
        # right thing at every SF, AQE corrects at runtime.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_runtime_conf(spark)
