"""SparkSession factory with the engine's scale posture baked in.

The conf profile is the 100 TB design stance (SURVEY §4.3 "100 TB
posture"): AQE on (skew-join splitting, partition coalescing, runtime
SMJ→broadcast), Arrow for any Python exchange, UTC session time,
size-capped output files (the reference's 16 MB Snowflake cap,
util.py:51-52, generalized as ``maxRecordsPerFile``/``maxPartitionBytes``).

On a real cluster only ``master`` and memory sizing change; every query in
this repo is declarative (DataFrame/SQL) so Catalyst re-plans physical
strategy per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime confs applied even to an externally-provided session (driver
#: harness hands us one) — everything here is settable post-startup.
RUNTIME_CONF: dict[str, str] = {
    # Determinism: all timestamp rendering pinned to UTC (SURVEY §7.4).
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime partition coalescing, skew-join
    # splitting, and SMJ→broadcast conversion. Core of the scale posture.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-batched transfer for pandas UDFs / toPandas (10-100x over
    # row-at-a-time pickling).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: engine contract is permissive casts + NULL on error,
    # matching the schemaless-JSON tolerance of the reference dataflow.
    "spark.sql.ansi.enabled": "false",
    # Shuffle width sized to the local test profile (runtime-settable,
    # so a driver-owned session gets it too — the Spark default of 200
    # made every stateful streaming probe pay 6x the task-launch
    # overhead for the same data). AQE coalesces below this at runtime;
    # a real cluster deployment overrides upward via get_spark().
    "spark.sql.shuffle.partitions": "32",
    # Historical testdata stored events.ts as TIMESTAMP(NANOS), which
    # Spark's reader rejects unless surfaced as int64 nanos; current
    # testdata is µs (NTZ). Keep the conf: it is a no-op on µs files and
    # catalog.normalize_event_timestamps handles every encoding the
    # driver has shipped (ns-long, µs-NTZ, µs-UTC).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_driver_memory() -> str:
    """Driver heap default: half the host's physical memory, capped at
    32g. A fixed 32g heap on a 16 GB host lets the JVM grow past
    physical memory until the kernel kills it; half leaves room for the
    JVM's off-heap use and the Python side. ``SPARK_GRAFT_DRIVER_MEM``
    overrides it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") \
        // (1024 * 1024)
    return f"{max(1, min(32 * 1024, phys_mb // 2))}m"


#: Startup-only confs (must be set before the JVM context exists).
STARTUP_CONF: dict[str, str] = {
    # Broadcast threshold: generous for local test scale; AQE still
    # upgrades larger joins at runtime from observed sizes.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # ~128 MB scan splits — the parquet-side analog of the reference's
    # adaptive batch sizing (util.py:59-85).
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                          default_driver_memory()),
    "spark.ui.enabled": "false",
    # The engine's own store is ``file:`` (get_spark only builds a
    # ``local[n]`` master). Hadoop's default for it is the checksummed
    # LocalFileSystem, which writes a ``.crc`` sidecar next to every
    # file. The pyspark wheel ships no libhadoop, so the local FS sets
    # the permission of each file and directory it creates with a
    # forked ``chmod``, and a sidecar is one more fork per file. Over 20
    # single-task 48-hour writes (960 data files, 4-core host), JFR
    # ``jdk.ProcessStart`` counted 3,101 forks on the checksummed FS
    # (3.2 per file, 980 of them for sidecars) and 2,121 on the raw FS
    # (2.2 per file). What is traded: parquet keeps its own page CRCs
    # (``parquet.page.write-checksum.enabled`` defaults to true in the
    # bundled parquet-mr 1.16.0; a reader checks them when
    # ``parquet.page.verify-checksum.enabled`` is set), but JSON and
    # other text outputs lose the sidecar check on read. Object stores
    # never had sidecars. The second key covers ``FileContext`` users,
    # the streaming checkpoint among them.
    "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl":
        "org.apache.hadoop.fs.local.RawLocalFs",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the settable-any-time profile to an existing session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host harness; keep going
    return spark


def get_spark(app_name: str = "data-and-analytics-etl-spark",
              cpus: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine session with the full conf profile.

    ``extra_conf`` is applied last, so its values win over the profile's.
    The builder sets every runtime conf on a session it fetches as well
    as on one it builds, so no conf is applied after it."""
    n = cpus or default_parallelism()
    b = SparkSession.builder.master(f"local[{n}]").appName(app_name)
    conf = dict(STARTUP_CONF)
    conf.update(RUNTIME_CONF)  # includes the 32-partition shuffle width
    conf.update(extra_conf or {})
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
