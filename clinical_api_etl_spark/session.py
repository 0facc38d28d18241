"""SparkSession factory.

Single place that encodes the engine's execution posture:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  — the 100 TB story relies on AQE instead of hand-tuned stage sizing.
* ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster this is overridden (AQE coalescing makes the initial
  number mostly a ceiling).
* Arrow enabled so any ``toPandas``/pandas-UDF boundary is vectorized.
* Session timezone pinned to UTC: the reference parses ISO-8601 ``Z``
  timestamps (reference ``etl-service/src/etl.py:210``; CSV fixtures carry
  ``Z`` suffixes) — UTC everywhere removes tz ambiguity from oracle
  comparisons as well.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Share of physical memory the default driver heap takes: the rest is
#: headroom for the JVM's off-heap memory, the Python workers and the OS.
DRIVER_MEM_SHARE = 0.5


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))


def _driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else half of physical RAM."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{int(phys_mb * DRIVER_MEM_SHARE)}m"


def get_spark(
    app_name: str = "clinical-api-etl-spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    In ``local[N]`` mode the driver is the only JVM, so ``spark.driver.memory``
    is the one memory knob; it must be set before the JVM starts (first call
    wins — subsequent calls return the running session).
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", _driver_mem())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Dims in this engine (region/nation/customer/supplier/part, clinical
        # studies/participants) are small relative to facts; be generous about
        # broadcasting so fact-side scans never shuffle for dim joins.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Hive partition values stay strings: type inference would flip a
        # numeric-looking study_id/job_id partition to int on read and break
        # schema stability of the warehouse tables.
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # List partition directories in the driver, never as a Spark job: in
        # local[N] a listing job runs on this host's threads anyway, and past
        # the default threshold (32) every read of a table partitioned by
        # job_id would pay for one.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        # Naive (isAdjustedToUTC=false) parquet timestamps read as TIMESTAMP,
        # not TIMESTAMP_NTZ: with the session pinned to UTC the values are
        # identical, every downstream temporal expression (unix_millis,
        # watermarks, windows) expects TIMESTAMP, and scan-level pushdown of
        # ts predicates survives (an NTZ→LTZ cast on top of the scan would
        # block it). Spark-written (UTC-adjusted) timestamps are unaffected.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Demote WindowExec's "No Partition Defined" warning to ERROR: every
    # partition-less window in the registry is audited and allowlisted with
    # a bounded-cardinality argument (tools/plan_audit.py:GLOBAL_WINDOW_OK
    # — any NEW global window outside that list FAILS the audit), so the
    # blanket warning is noise in gate logs. Best-effort: log4j2 internals
    # may move between Spark versions.
    try:
        jvm = spark.sparkContext._jvm  # noqa: SLF001
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # noqa: BLE001
        pass
    return spark
