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
  Spark does this per-partition natively.

At 100 TB: append-mode + dynamic partition overwrite keeps re-runs of a
window idempotent per partition; writers scale with upstream parallelism
(no coalesce(1) anti-pattern anywhere).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

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


def write_partitioned(df: DataFrame, path: str, ts_col: str,
                      fmt: str = "parquet",
                      max_records_per_file: int = 100_000,
                      mode: str = "append",
                      align_partitions: bool = False) -> None:
    """Write hourly-partitioned, record-capped files under ``path``.

    ``align_partitions=True`` shuffles rows onto the hourly partition
    keys (AQE ``REBALANCE`` hint) before the write. Without it, EVERY
    write task emits a file into EVERY hour it holds rows for — a
    low-parallelism input spanning many hours serializes hundreds of
    per-directory writes on one task (a 1-partition 720-hour
    micro-batch measured 9-12 s vs ~4 s aligned), and a wide input
    fragments each hour into one file per task. REBALANCE (not a plain
    hash repartition) keeps the write scale-safe in both directions:
    AQE splits an oversized hot hour across tasks (maxRecordsPerFile
    then caps the files) and coalesces tiny hours together. Default
    off: the plain form preserves upstream partitioning for callers
    whose batches already span few hours — the streaming merge-sink
    bootstrap (streaming/ops.py:stream_merge_to_partitioned) and the
    direct probe/test writes; the production ingest paths
    (etl/ingest.py:incremental_ingest, job.py's REST pull, the
    versioned streaming sink) all pass ``align_partitions=True``.
    """
    out = with_time_partitions(df, ts_col)
    if align_partitions:
        out = out.hint("rebalance", *PARTITION_COLS)
    (out
     .write.mode(mode)
     .option("maxRecordsPerFile", max_records_per_file)
     .partitionBy(*PARTITION_COLS)
     .format(fmt)
     .save(path))


def read_partitioned(spark, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a partitioned dataset back; partition columns come back as
    directory-derived values, so time-window filters prune directories
    (PruneFileSourcePartitions)."""
    return spark.read.format(fmt).load(path)


def compact(spark, path: str, fmt: str = "parquet",
            target_records_per_file: int = 1_000_000) -> tuple[int, int]:
    """Small-file compaction: rewrite a dataset at a healthy file size.

    Incremental sinks accumulate small files (every micro-batch/run
    writes at least one per partition); scans then pay per-file open
    cost and lose vectorized-read efficiency. Compaction = read, write
    to a sibling dir with a larger ``maxRecordsPerFile``, atomic-ish
    swap. Returns (files_before, files_after).

    The rewrite preserves the Hive partition layout when present
    (partition columns round-trip through the read), so partition
    pruning still works afterwards.
    """
    import glob as _glob
    import os as _os
    import shutil as _shutil

    def count_files(p):
        return len(_glob.glob(f"{p}/**/*.{fmt}", recursive=True))

    before = count_files(path)
    df = spark.read.format(fmt).load(path)
    part_cols = [c for c in PARTITION_COLS if c in df.columns]
    tmp = path.rstrip("/") + "__compact"
    if part_cols:
        # Partition-aligned shuffle: without it every write task that
        # holds rows of a partition emits its own file there, and the
        # rewrite reproduces the fragmentation it was meant to fix.
        df = df.repartition(*[F.col(c) for c in part_cols])
    w = (df.write.mode("overwrite")
         .option("maxRecordsPerFile", target_records_per_file))
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.format(fmt).save(tmp)
    old = path.rstrip("/") + "__old"
    _os.rename(path, old)
    _os.rename(tmp, path)
    _shutil.rmtree(old)
    return before, count_files(path)


def compact_partitions(spark, path: str, fmt: str = "parquet",
                       min_files: int = 2,
                       target_records_per_file: int = 1_000_000) -> dict:
    """Partition-targeted small-file compaction: rewrite ONLY the
    fragmented partitions of an hourly-layout table, leave every other
    partition's files byte-identical.

    :func:`compact` rewrites the whole table — fine for a one-off, a
    non-starter at 100 TB where an incremental sink fragments only the
    recent hours while years of cold partitions are already healthy.
    This variant bounds write amplification by the fragmentation:

    1. per-partition file counts come from a DIRECTORY LISTING (no data
       scan, the vacuum_partitions rule); a partition is fragmented
       when it holds ≥ ``min_files`` data files;
    2. only fragmented partitions are read back — the filter is one
       :func:`partition_filter` over their values, which
       PruneFileSourcePartitions folds into a directory prune;
    3. the slice is repartitioned BY the partition columns (without
       this every write task holding rows of an hour emits its own
       file there, reproducing the fragmentation) and rewritten via
       DYNAMIC partition overwrite, which replaces exactly the
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

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                          "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       "dynamic")
        (slice_.write.mode("overwrite")
         .option("maxRecordsPerFile", target_records_per_file)
         .partitionBy(*pcols).format(fmt).save(path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

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
