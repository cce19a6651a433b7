"""Upsert / MERGE INTO semantics as a pure DataFrame composition.

The reference pipeline is append-only (S3 objects per pull window) and
delegates merge semantics to the warehouse loader downstream. A
standalone engine needs the merge itself: new extracts both UPDATE
matched keys and INSERT unmatched ones.

Expressed Spark-first: union the two sides with a source rank and keep
the best-ranked row per key with a single `row_number` window — ONE
shuffle on the merge key, no join at all (a join-based MERGE would
shuffle both sides AND re-shuffle the result; the union form moves each
row exactly once). Ties within a side break on ``order_by`` columns so
the winner is deterministic, which keeps the operation replay-safe
(at-least-once upstream delivery, SURVEY §7.4).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def merge_upsert(existing: DataFrame, updates: DataFrame,
                 keys: list[str],
                 order_by: list[Column] | None = None,
                 allow_missing_columns: bool = False,
                 order_dominates: bool = False) -> DataFrame:
    """MERGE: update rows whose key exists in ``updates``, insert the rest.

    ``updates`` rows always beat ``existing`` rows on the same key;
    within a side, ``order_by`` (descending-preference list) breaks
    ties — pass the natural version/timestamp column. Columns must be
    union-compatible (same schema both sides) unless
    ``allow_missing_columns`` — the additive-schema-evolution mode:
    either side's missing columns NULL-fill (merge_upsert_evolving
    wraps this with the type-clash refusal).

    ``order_dominates=True`` inverts the precedence: ``order_by``
    sorts FIRST and the update-side preference becomes the final
    tiebreak. This is the CDC mode — when rows carry a total change
    order (log sequence number), an already-applied higher-seq row
    must beat a late-arriving lower-seq update, which the default
    updates-always-win rule would silently overwrite.
    """
    lhs = existing.withColumn("__src", F.lit(1))
    rhs = updates.withColumn("__src", F.lit(0))   # 0 sorts first = wins
    if order_dominates:
        order = list(order_by or []) + [F.col("__src").asc()]
    else:
        order = [F.col("__src").asc()] + list(order_by or [])
    w = Window.partitionBy(*keys).orderBy(*order)
    return (lhs.unionByName(rhs,
                            allowMissingColumns=allow_missing_columns)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src"))


def merge_upsert_partitioned(spark, path: str, updates: DataFrame,
                             keys: list[str], ts_col: str,
                             order_by: list[Column] | None = None,
                             fmt: str = "parquet",
                             max_records_per_file: int = 100_000,
                             allow_missing_columns: bool = False,
                             order_dominates: bool = False) -> dict:
    """Sink-side MERGE that rewrites ONLY partitions containing touched
    keys — the scale-critical half the pure computation above leaves to
    the caller.

    The table at ``path`` uses the hourly Hive layout from
    ``etl/sink.py`` (year/month/day/hour derived from ``ts_col``; the
    reference's hourly S3 prefix scheme, CommCareAPIHandler.py:71-73).
    At 100 TB a MERGE that rewrites the whole table per incremental
    batch is a non-starter; here the write amplification is bounded by
    the partitions the batch actually touches:

    1. affected = partitions the updates land in ∪ partitions where a
       matched key currently lives (a column-pruned LEFT SEMI scan of
       (keys, partition cols) against the broadcast update keys — the
       general case where an update moves a key across hours);
    2. only those partitions are read back (partition-pruned filter) and
       merged with :func:`merge_upsert` — one shuffle over the affected
       slice, never the table;
    3. the result lands through :func:`~.sink.replace_partitions`: a
       dynamic partition overwrite set on the writer, which replaces
       exactly the partitions present in the output and leaves every
       other directory's files byte-identical;
    4. a touched partition whose every row was superseded into another
       hour produces no output rows — dynamic overwrite would skip it,
       so the same helper removes its now-stale directory.

    A table that does not exist yet (checked through the Hadoop FS API,
    so object-store and ``file://`` paths count) merges against an
    empty frame: the first batch creates it, one row per key, by the
    same winner rule as every later batch.

    Returns ``{"affected_partitions": n, "rewritten": n, "purged": n}``.
    """
    from .sink import (PARTITION_COLS, partition_filter, path_exists,
                       replace_partitions, with_time_partitions)

    upd = with_time_partitions(updates, ts_col)
    existing = (spark.read.format(fmt).load(path)
                if path_exists(spark, path) else upd.limit(0))
    upd_keys = updates.select(*keys).distinct()

    pcols = list(PARTITION_COLS)
    # partitions receiving update rows + partitions holding matched keys
    affected = (upd.select(*pcols)
                .union(existing.join(F.broadcast(upd_keys), keys,
                                     "left_semi").select(*pcols))
                .distinct().collect())
    affected_set = {tuple(r) for r in affected}
    if not affected_set:
        return {"affected_partitions": 0, "rewritten": 0, "purged": 0}

    # one partition-only InSet over the affected values: the read-back
    # scan opens only the affected partitions' files (the NULL-hour
    # partition included)
    slice_ = existing.filter(
        partition_filter(existing, pcols, affected_set))
    # localCheckpoint before the overwrite: Spark (rightly) refuses to
    # overwrite a path its write plan still reads from; checkpointing
    # materializes the merged slice (bounded by the affected partitions,
    # not the table) and truncates the lineage back to the source files.
    merged = merge_upsert(
        slice_, upd, keys, order_by=order_by,
        allow_missing_columns=allow_missing_columns,
        order_dominates=order_dominates,
    ).localCheckpoint(eager=True)

    written, purged = replace_partitions(
        merged, path, pcols, affected_set, fmt=fmt,
        max_records_per_file=max_records_per_file)
    return {"affected_partitions": len(affected_set),
            "rewritten": len(written & affected_set), "purged": purged}


def delete_keys_partitioned(spark, path: str, keys_df: DataFrame,
                            keys: list[str], fmt: str = "parquet",
                            max_records_per_file: int = 100_000) -> dict:
    """Right-to-be-forgotten erasure: remove every row whose key appears
    in ``keys_df``, rewriting ONLY the partitions where a matched key
    actually lives — the GDPR/CCPA deletion path every persistent store
    needs, with :func:`merge_upsert_partitioned`'s write-amplification
    bound (a full-table rewrite per deletion request is a non-starter
    at 100 TB).

    1. affected = partitions holding a matched key (column-pruned
       LEFT SEMI scan of (keys, partition cols) against the broadcast
       key set — deletion requests are small by nature);
    2. those partitions alone are read back (the same
       :func:`~.sink.partition_filter` directory prune) and anti-joined
       against the keys;
    3. survivors land through :func:`~.sink.replace_partitions`, which
       also purges a partition whose every row matched (dynamic
       overwrite skips empty outputs — the merge operator's stale-hour
       rule).

    Returns ``{"affected_partitions", "rewritten", "purged",
    "deleted_rows"}`` — the deletion-audit record a compliance log
    wants.
    """
    from .sink import PARTITION_COLS, partition_filter, replace_partitions

    existing = spark.read.format(fmt).load(path)
    del_keys = keys_df.select(*keys).distinct()

    pcols = list(PARTITION_COLS)
    affected = (existing.join(F.broadcast(del_keys), keys, "left_semi")
                .select(*pcols).distinct().collect())
    affected_set = {tuple(r) for r in affected}
    if not affected_set:
        return {"affected_partitions": 0, "rewritten": 0, "purged": 0,
                "deleted_rows": 0}

    slice_ = (existing.filter(partition_filter(existing, pcols,
                                               affected_set))
              .localCheckpoint(eager=True))
    kept = (slice_.join(F.broadcast(del_keys), keys, "left_anti")
            .localCheckpoint(eager=True))
    deleted = slice_.count() - kept.count()

    written, purged = replace_partitions(
        kept, path, pcols, affected_set, fmt=fmt,
        max_records_per_file=max_records_per_file)
    return {"affected_partitions": len(affected_set),
            "rewritten": len(written & affected_set),
            "purged": purged, "deleted_rows": deleted}


def align_for_evolution(existing: DataFrame,
                        updates: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Schema evolution for MERGE: align two frames to the union of
    their columns, NULL-filling what either side lacks (Delta's
    ``mergeSchema`` semantics for the add-a-column case — existing rows
    carry NULL in new columns, update rows carry NULL in dropped-from-
    source columns; a TYPE change is refused loudly rather than
    silently cast, because 4.2 million parquet footers disagreeing
    about a column's type is how tables die).

    Returns (existing', updates') with identical schemas, column order
    = existing order + net-new update columns in update order.
    """
    e_types = {f.name: f.dataType for f in existing.schema.fields}
    u_types = {f.name: f.dataType for f in updates.schema.fields}
    clash = [c for c in e_types if c in u_types
             and e_types[c] != u_types[c]]
    if clash:
        raise ValueError(
            f"schema evolution refuses type changes: {clash} "
            f"(existing {[str(e_types[c]) for c in clash]} vs update "
            f"{[str(u_types[c]) for c in clash]})")
    order = list(e_types) + [c for c in u_types if c not in e_types]
    ex2 = existing.select(*[
        F.col(c) if c in e_types
        else F.lit(None).cast(u_types[c]).alias(c) for c in order])
    up2 = updates.select(*[
        F.col(c) if c in u_types
        else F.lit(None).cast(e_types[c]).alias(c) for c in order])
    return ex2, up2


def merge_upsert_evolving(spark, path: str, updates: DataFrame,
                          keys: list[str], ts_col: str,
                          order_by: list[Column] | None = None,
                          fmt: str = "parquet",
                          max_records_per_file: int = 100_000) -> dict:
    """:func:`merge_upsert_partitioned` with additive schema evolution:
    when the updates carry NET-NEW columns, the affected partitions are
    rewritten with the evolved (union) schema and untouched partitions
    keep their old footers — readers must set ``mergeSchema`` (or use
    the catalog's schema union) until a compaction pass homogenizes,
    which is exactly Delta/Iceberg's add-column behavior rendered onto
    plain parquet. Type changes raise (align_for_evolution).

    Same write-amplification bound as the base MERGE: only partitions
    holding touched keys rewrite, regardless of the schema delta.
    """
    existing = spark.read.format(fmt).load(path)
    data_cols = [c for c in existing.columns
                 if c not in ("year", "month", "day", "hour")]
    # validation only: raises on type clashes; NULL-filling itself is
    # unionByName(allowMissingColumns) inside the base MERGE
    align_for_evolution(existing.select(*data_cols), updates)
    return merge_upsert_partitioned(
        spark, path, updates, keys, ts_col, order_by=order_by, fmt=fmt,
        max_records_per_file=max_records_per_file,
        allow_missing_columns=True)
