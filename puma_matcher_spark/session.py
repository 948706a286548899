"""SparkSession factory with the engine's tuned configuration.

Mirrors the intent of the reference's ``ProgramConfig.defaultSparkConfig``
(reference: utils/conf/ProgramConfig.scala:102-123) — shuffle-partition
sizing, Kryo, object-hash-aggregate fallback for heavy ``collect_list`` —
re-expressed for Spark 3.5+/4.x: AQE replaces most manual repartitioning,
auto-broadcast replaces most explicit hints.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ceiling on the derived driver heap; on a 128 GiB host 16g keeps GC
#: out of the bench numbers
DRIVER_MEMORY_MAX_MB = 16 * 1024


def default_driver_memory() -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the
    host's physical memory, capped at :data:`DRIVER_MEMORY_MAX_MB`.

    In local mode the driver heap is also the executor heap, and the
    JVM's off-heap buffers, the Python workers and the OS need the other
    half: a fixed 16g heap on a 15 GiB host grew the JVM to 15.6 GB
    resident and got it OOM-killed."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(DRIVER_MEMORY_MAX_MB, total // 2 // 2**20)}m"


def default_cpus() -> int:
    """The local cores and shuffle partitions when ``SPARK_GRAFT_CPUS``
    is unset: the CPUs this process may run on, so a session runs one
    task thread and one shuffle partition per usable core."""
    return len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "puma-matcher-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    The deployment settings are read here and nowhere else in the
    package: ``SPARK_GRAFT_CPUS`` (local cores and shuffle partitions,
    default :func:`default_cpus`) and ``SPARK_GRAFT_DRIVER_MEM`` (default
    :func:`default_driver_memory`); ``extra_conf`` overrides any conf.

    On a real cluster the same conf applies; only ``master`` changes.  AQE
    is load-bearing at scale: it coalesces small shuffle partitions, turns
    sort-merge joins into broadcast joins when the runtime size allows, and
    splits skewed partitions (the reference guarded skew manually with
    frequency caps — we keep those too, see operators.matcher).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(default_cpus())
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1024")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # planner filter pushdown into Python data sources (Spark 4.1;
        # the manifest_text source prunes files on pushed predicates)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # NOTE: ignoreCorruptFiles stays at its default (false) on purpose.
        # For a training-data engine, silently dropping unreadable inputs
        # is data loss masquerading as success — at 100 TB a corrupt
        # shard must fail the job loudly, not vanish from the corpus.
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type —
        # read as long and convert (sources.testdata.Tables.events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
