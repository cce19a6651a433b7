"""Hourly-partitioned, size-capped batch sink.

The reference writes each API page to an hourly S3 prefix
``{domain}/snowflake-copy/{type}/YYYY/MM/DD/HH/`` (CommCareAPIHandler.py:
71-73, 202-205) and sizes pages so no file exceeds Snowflake's 16 MB
ingestion cap (util.py:51-57, grace factor 0.5). Spark-native form:

- Hive-style ``partitionBy(year, month, day, hour)`` derived from the
  event-time column — partition pruning then makes every time-windowed
  read a directory prune, no data skipped-scan;
- ``maxRecordsPerFile`` replaces the adaptive API-limit calculator: the
  writer splits files at a record cap instead of probing sizes;
- empty inputs write no data files (ref skips empty pages, :257-258) —
  Spark does this per-partition natively;
- a pull, an ingest window or a MERGE batch is small and spans many
  hours, so nearly all of its write cost is per file. The production
  writes cluster rows on the hour columns first (:func:`_clustered`):
  each hour is one file, and the hours of a small batch spread over the
  cores instead of one task writing them all in turn.

At 100 TB: append-mode + dynamic partition overwrite keeps re-runs of a
window idempotent per partition; a large aligned write keeps AQE's
REBALANCE, which splits a hot hour across tasks, and a large partition
replace keeps the layout its caller chose (no coalesce(1) anti-pattern
anywhere).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation

PARTITION_COLS = ("year", "month", "day", "hour")
#: directory value Hive writes for a NULL partition value
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def with_time_partitions(df: DataFrame, ts_col: str) -> DataFrame:
    """Derive the hourly partition columns from an event-time column."""
    t = F.col(ts_col)
    return (df
            .withColumn("year", F.year(t))
            .withColumn("month", F.month(t))
            .withColumn("day", F.dayofmonth(t))
            .withColumn("hour", F.hour(t)))


def partition_filter(df: DataFrame, pcols, parts) -> Column:
    """Select the partitions ``parts`` (value tuples in ``pcols`` order)
    of a Hive-layout read ``df``: ``struct(pcols) IN (struct literals)``.

    One predicate over the partition columns only, so
    PruneFileSourcePartitions still turns it into a directory prune, and
    past ``spark.sql.optimizer.inSetConversionThreshold`` values the
    optimizer makes it a single ``INSET``. Each literal is cast to its
    partition column's type, which also lets a NULL value (the
    :data:`NULL_PARTITION` hour of a NULL timestamp) match: struct
    equality compares NULL fields as equal, while ``col == NULL`` never
    holds.

    The predicate is handed to the JVM as one SQL expression. Built
    from Column calls it costs several Py4J round trips per value, on a
    4-core host about 0.5 s for 48 hours, as much as the OR of
    per-partition conjunctions it replaces; the SQL text costs one.
    """
    def quote(v) -> str:
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"

    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    structs = ", ".join(
        "named_struct(" + ", ".join(
            f"{quote(c)}, CAST({'NULL' if v is None else quote(v)} "
            f"AS {types[c]})" for c, v in zip(pcols, t)) + ")"
        for t in parts)
    cols = ", ".join("`" + c.replace("`", "``") + "`" for c in pcols)
    return F.expr(f"struct({cols}) IN ({structs})")


def _clustered(df: DataFrame, pcols, rebalance: bool = True) -> DataFrame:
    """``df`` clustered on the partition columns ``pcols`` for a
    partitioned write, so that each task writes its hours' files whole.

    Without clustering every write task emits a file into every hour it
    holds rows for: a low-parallelism input spanning many hours
    serializes hundreds of per-directory writes on one task (a
    1-partition 720-hour micro-batch measured 9-12 s against ~4 s
    clustered), and a wide input fragments each hour into one file per
    task. The cost of a small write is per file, not per byte, so the
    rule sizes by the optimizer's estimate of ``df``:

    - below ``defaultParallelism`` x
      ``spark.sql.adaptive.coalescePartitions.minPartitionSize``, a
      hash ``repartition(defaultParallelism, *pcols)``: each hour stays
      whole in one task and the hours spread over the cores. AQE would
      coalesce a ``REBALANCE`` of that size to fewer tasks than cores,
      and an hourly ingest or MERGE batch (tens of KB) to one task;
    - otherwise the AQE ``REBALANCE`` hint, which splits an oversized
      hot hour across tasks (``maxRecordsPerFile`` then caps the files)
      and coalesces tiny hours together. An unknown estimate (an RDD
      source reports ``Long.MaxValue``) lands here too.

    ``rebalance=False`` (:func:`replace_partitions`) leaves a large
    frame as its caller laid it out. Compaction hash-clusters its slice
    before the checkpoint, so each hour stays whole in one task; a
    REBALANCE would let AQE split a large hour into several files, which
    the next compaction would rewrite again. A large MERGE or DELETE
    slice is written as its checkpoint holds it, with no added shuffle.

    The rule reads confs and writes none.
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    floor = spark._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize"))
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if size < n * floor:
        return df.repartition(n, *pcols)
    return df.hint("rebalance", *pcols) if rebalance else df


def write_partitioned(df: DataFrame, path: str, ts_col: str,
                      fmt: str = "parquet",
                      max_records_per_file: int = 100_000,
                      mode: str = "append",
                      align_partitions: bool = False) -> None:
    """Write hourly-partitioned, record-capped files under ``path``.

    ``align_partitions=True`` clusters rows on the hourly partition
    keys before the write (:func:`_clustered`: a hash repartition over
    the cores for a small frame, the AQE ``REBALANCE`` hint for a large
    or unsized one), so each hour is written as one file per task that
    holds it instead of one per upstream task. Default off: the plain
    form preserves upstream partitioning for callers whose batches
    already span few hours — the direct probe and test writes; the
    production ingest paths (etl/ingest.py:incremental_ingest, job.py's
    REST pull, the versioned streaming sink) all pass
    ``align_partitions=True``.
    """
    out = with_time_partitions(df, ts_col)
    if align_partitions:
        out = _clustered(out, PARTITION_COLS)
    (out
     .write.mode(mode)
     .option("maxRecordsPerFile", max_records_per_file)
     .partitionBy(*PARTITION_COLS)
     .format(fmt)
     .save(path))


def _fs_path(spark, path: str):
    """``(FileSystem, Path)`` for ``path``, resolved by its scheme.

    os.path/shutil only see a POSIX mount: on an object store (s3a://,
    gs://, abfs://) or a ``file://`` URI they report every path absent.
    ``Path.getFileSystem`` resolves whatever scheme ``path`` carries, so
    the local pytests exercise the production code path.
    """
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def path_exists(spark, path: str) -> bool:
    """Whether ``path`` exists, on any Hadoop-supported store."""
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def replace_partitions(df: DataFrame, path: str, pcols,
                       affected=(), fmt: str = "parquet",
                       max_records_per_file: int = 100_000,
                       ) -> tuple[set, int]:
    """Replace partitions of the Hive-layout table at ``path`` in place:
    every partition ``df`` has rows for is rewritten with exactly those
    rows, every other partition's files stay byte-identical.

    The write is a DYNAMIC partition overwrite requested on the writer
    itself (``partitionOverwriteMode`` option), so the session conf is
    never written and no other query in the session sees a temporary
    mode. A small ``df`` is hash-clustered on ``pcols`` first
    (:func:`_clustered`), so each partition is rewritten as one file and
    the partitions spread over the cores; a large one is written as the
    caller laid it out. Dynamic overwrite never touches a partition
    absent from the output, so each of ``affected`` (value tuples in
    ``pcols`` order) that got no rows — every row superseded into
    another hour, or deleted — would keep its stale files. Those
    directories are removed through the Hadoop FS API: on an object
    store a stale partition left visible is, for the GDPR delete path,
    a compliance failure.

    ``df`` must not read from ``path``: Spark refuses to overwrite a
    path its write plan still reads, so callers localCheckpoint the
    slice they read back. Returns ``(written, purged)``: the partitions
    ``df`` wrote and the number of affected directories removed.
    ``written`` is observed on the write pass itself, and only when
    ``affected`` is given: the observation costs a set insert per row,
    which compaction, passing none, does not pay.
    """
    if affected:
        obs = Observation()
        df = df.observe(obs, F.collect_set(F.struct(*pcols)).alias("p"))
    (_clustered(df, pcols, rebalance=False).write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .option("maxRecordsPerFile", max_records_per_file)
     .partitionBy(*pcols).format(fmt).save(path))
    if not affected:
        return set(), 0
    written = {tuple(r) for r in obs.get["p"]}
    purged = 0
    for t in set(affected) - written:
        sub = "/".join(f"{c}={NULL_PARTITION if v is None else v}"
                       for c, v in zip(pcols, t))
        fs, p = _fs_path(df.sparkSession, path.rstrip("/") + "/" + sub)
        # recursive delete; False return = already absent (benign race)
        if fs.exists(p) and fs.delete(p, True):
            purged += 1
    return written, purged


def compact_partitions(spark, path: str, fmt: str = "parquet",
                       min_files: int = 2,
                       target_records_per_file: int = 1_000_000) -> dict:
    """Partition-targeted small-file compaction: rewrite ONLY the
    fragmented partitions of an hourly-layout table, leave every other
    partition's files byte-identical.

    Rewriting the whole table is a non-starter at 100 TB, where an
    incremental sink fragments only the recent hours while years of
    cold partitions are already healthy; write amplification is bounded
    by the fragmentation instead:

    1. per-partition file counts come from a DIRECTORY LISTING (no data
       scan, the vacuum_partitions rule); a partition is fragmented
       when it holds ≥ ``min_files`` data files;
    2. only fragmented partitions are read back — the filter is one
       :func:`partition_filter` over their values, which
       PruneFileSourcePartitions folds into a directory prune;
    3. the slice is repartitioned BY the partition columns (without
       this every write task holding rows of an hour emits its own
       file there, reproducing the fragmentation) and rewritten by
       :func:`replace_partitions`, which replaces exactly the
       partitions present in the output;
    4. row content is untouched — compaction is a physical-layout
       operation; a read-back must equal the pre-compaction table.

    Returns ``{"partitions_total", "compacted", "files_before",
    "files_after"}`` (file counts over the fragmented set only).
    """
    import os as _os
    from urllib.parse import unquote

    def value(v):
        if v == NULL_PARTITION:
            return None
        # Hive escapes characters such as ':' and '=' as %XX in the
        # directory name
        v = unquote(v)
        return int(v) if v.lstrip("-").isdigit() else v

    # 1. listing-only fragmentation census over the Hive layout
    per_part: dict[str, int] = {}
    for root, dirs, files in _os.walk(path):
        data = [f for f in files
                if f.endswith(f".{fmt}") and not f.startswith(("_", "."))]
        if not data:
            continue
        rel = _os.path.relpath(root, path).replace(_os.sep, "/")
        per_part[rel] = per_part.get(rel, 0) + len(data)
    fragmented = {rel: n for rel, n in per_part.items()
                  if "=" in rel and n >= min_files}
    if not fragmented:
        return {"partitions_total": len(per_part), "compacted": 0,
                "files_before": 0, "files_after": 0}

    # 2. partition-pruned read of the fragmented slice only
    df = spark.read.format(fmt).load(path)
    segs = [[s.split("=", 1) for s in rel.split("/") if "=" in s]
            for rel in fragmented]
    pcols = [c for c, _ in segs[0]]
    parts = [tuple(value(v) for _, v in seg) for seg in segs]
    # localCheckpoint: Spark refuses to overwrite a path its write plan
    # still reads; materializing the (fragmentation-bounded) slice
    # truncates lineage back to the source files (merge.py rule).
    slice_ = (df.filter(partition_filter(df, pcols, parts))
              .repartition(*[F.col(c) for c in pcols])
              .localCheckpoint(eager=True))

    # compaction keeps every row, so no partition empties out and none
    # is passed as affected
    replace_partitions(slice_, path, pcols, fmt=fmt,
                       max_records_per_file=target_records_per_file)

    after = 0
    for rel in fragmented:
        d = _os.path.join(path, rel)
        after += sum(1 for f in _os.listdir(d)
                     if f.endswith(f".{fmt}") and not f.startswith(("_",
                                                                    ".")))
    return {"partitions_total": len(per_part),
            "compacted": len(fragmented),
            "files_before": sum(fragmented.values()),
            "files_after": after}


def vacuum_partitions(path: str, older_than, fmt: str = "parquet",
                      ) -> list[str]:
    """Retention enforcement on the hourly layout: delete every
    ``year=/month=/day=/hour=`` partition directory strictly OLDER than
    ``older_than`` (a datetime), returning the removed relative paths.

    Pure partition-path arithmetic — no data is scanned or read, so
    vacuuming a 100 TB table costs a directory listing: the hour each
    directory holds is reconstructed from its Hive path segments and
    compared to the cutoff truncated to the hour (a partition whose
    hour CONTAINS the cutoff survives; only strictly-earlier hours
    drop, the half-open convention every retention policy wants).
    Irreversible by design — callers gate it like any DDL. Empty
    parent day/month/year directories left behind are pruned too, so
    listings stay bounded by live data.
    """
    import os as _os
    import re as _re
    import shutil as _shutil

    cutoff = older_than.replace(minute=0, second=0, microsecond=0)
    pat = _re.compile(
        r"year=(\d+)/month=(\d+)/day=(\d+)/hour=(\d+)$")
    removed: list[str] = []
    for root, dirs, _files in _os.walk(path):
        rel = _os.path.relpath(root, path)
        m = pat.search(rel.replace(_os.sep, "/"))
        if not m:
            continue
        dirs.clear()  # don't descend into a partition's data files
        import datetime as _dt
        y, mo, d, h = map(int, m.groups())
        if _dt.datetime(y, mo, d, h) < cutoff:
            _shutil.rmtree(root)
            removed.append(rel)
    # prune empty ancestors (day/month/year dirs whose hours all fell);
    # listdir at visit time, not the walk snapshot — bottom-up rmdirs
    # empty parents the snapshot still showed as occupied
    for root, _dirs, _files in list(_os.walk(path, topdown=False)):
        if root != path and not _os.listdir(root):
            try:
                _os.rmdir(root)
            except OSError:
                pass
    return sorted(removed)
