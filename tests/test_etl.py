"""ETL-semantics suite (SURVEY §5.2 item 3: Tier A behaviors).

Covers the reference dataflow invariants the engine must preserve:
write-then-commit checkpoint ordering, crash-overlap replay + dedup,
hourly partition layout round-trip, record-capped files, empty-input
no-op, dual-format timestamp normalization, error budget, and the REST
source/sink contracts (with injectable transports — no network).
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import pyspark.sql.functions as F
import pytest

from data_and_analytics_etl_spark.catalog import load_table
from data_and_analytics_etl_spark.etl import (CheckpointManifest, ErrorBudget,
                                              ErrorBudgetExceeded,
                                              incremental_ingest,
                                              normalize_timestamp,
                                              write_partitioned)
from data_and_analytics_etl_spark.etl.rest import rest_sink, rest_source
from data_and_analytics_etl_spark.etl.sink import (PARTITION_COLS,
                                                   _clustered,
                                                   with_time_partitions)
from data_and_analytics_etl_spark.operators.dedup import keyed_dedup

T1 = dt.datetime(2024, 1, 10)
T2 = dt.datetime(2024, 1, 20)
NO_LAG = dt.timedelta(0)


def test_normalize_timestamp_dual_format(spark):
    rows = [("2024-03-01T12:30:45.123456Z",),
            ("2024-03-01T12:30:45.123456",),
            ("2024-03-01T12:30:45Z",),
            ("2024-03-01T12:30:45",),
            ("not a time",), (None,)]
    df = spark.createDataFrame(rows, "raw: string")
    out = df.select(normalize_timestamp(F.col("raw")).alias("ts")).collect()
    assert out[0].ts == dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
    assert out[1].ts == out[0].ts
    assert out[2].ts == dt.datetime(2024, 3, 1, 12, 30, 45)
    assert out[3].ts == out[2].ts
    assert out[4].ts is None and out[5].ts is None


def test_partitioned_sink_layout_and_record_cap(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts") < F.lit(T1))
    n = ev.count()
    dest = str(tmp_path / "sink")
    write_partitioned(ev, dest, "ts", max_records_per_file=100)
    files = glob.glob(f"{dest}/year=*/month=*/day=*/hour=*/*.parquet")
    assert files, "expected hive-style year/month/day/hour layout"
    assert len(files) >= n // 100, "maxRecordsPerFile not applied"
    back = spark.read.parquet(dest)
    assert back.count() == n
    # every physical file honors the cap
    biggest = max(spark.read.parquet(f).count() for f in files)
    assert biggest <= 100
    # partition pruning works on the layout: one hour's read misses others
    one = back.filter((F.col("year") == 2024) & (F.col("month") == 1)
                      & (F.col("day") == 3) & (F.col("hour") == 7))
    want = ev.filter(F.date_format("ts", "yyyy-MM-dd HH").eqNullSafe(
        "2024-01-03 07")).count()
    assert one.count() == want


def test_aligned_write_same_rows_one_file_per_hour(spark, sf_dir,
                                                   tmp_path):
    # align_partitions=True (r13: the versioned streaming sink's write
    # path) clusters rows on the hourly keys before the write — the
    # rows and the hive layout must be identical to the plain form,
    # and a 1-partition input spanning many hours must come out as one
    # file per hour (not one task serially writing every directory).
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("ts") < F.lit(T1)).coalesce(1))
    plain, aligned = str(tmp_path / "plain"), str(tmp_path / "aligned")
    write_partitioned(ev, plain, "ts")
    write_partitioned(ev, aligned, "ts", align_partitions=True)
    hours = glob.glob(f"{aligned}/year=*/month=*/day=*/hour=*")
    assert hours, "expected hive-style layout from the aligned write"
    files = glob.glob(f"{aligned}/year=*/month=*/day=*/hour=*/*.parquet")
    single = sum(1 for h in hours
                 if len(glob.glob(f"{h}/*.parquet")) == 1)
    if _plan_origin(_clustered(with_time_partitions(ev, "ts"),
                               PARTITION_COLS)) == "REPARTITION_BY_NUM":
        # the spread path: each hour is whole in one hash partition
        assert single == len(hours) == len(files), \
            f"{len(files)} files over {len(hours)} hours"
    else:
        # A second file in an hour comes from AQE's REBALANCE advisory
        # split: when the shuffle partition holding an hour's rows
        # outgrows spark.sql.adaptive.advisoryPartitionSizeInBytes, AQE
        # splits it across tasks, and each of those tasks writes its
        # own file into that hour. Any other source of extra files (one
        # file per upstream task x hour) is the fragmentation the
        # aligned write exists to stop, so the total stays bounded at
        # two files per hour ...
        assert len(files) <= 2 * len(hours), \
            f"aligned write fragmented hours: {len(files)} files over " \
            f"{len(hours)} hours"
        # ... and the split is the exception: most hours hold exactly
        # one.
        assert single > len(hours) / 2, \
            f"only {single} of {len(hours)} hours hold a single file"
    a = sorted(map(tuple, spark.read.parquet(aligned).collect()))
    p = sorted(map(tuple, spark.read.parquet(plain).collect()))
    assert a == p


def _plan_origin(df) -> str:
    """The shuffle origin of the clustering exchange in ``df``'s
    physical plan (no job runs)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    origins = [o for o in ("REPARTITION_BY_NUM",
                           "REBALANCE_PARTITIONS_BY_COL") if o in plan]
    assert len(origins) == 1, plan
    return origins[0]


def _group_jobs(spark, call) -> list:
    """Run ``call`` in its own job group; return the ids of the jobs it
    ran."""
    import uuid
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _last_stage_tasks(spark, call) -> int:
    """Run ``call`` in its own job group; return the task count of the
    last stage it ran — the write stage of a partitioned write."""
    tracker = spark.sparkContext.statusTracker()
    stages = {s for j in _group_jobs(spark, call)
              for s in tracker.getJobInfo(j).stageIds}
    return tracker.getStageInfo(max(stages)).numTasks


class TestClusteredWrite:
    """The aligned write and ``replace_partitions`` cluster rows on the
    hour columns. A frame whose size estimate is below
    defaultParallelism x minPartitionSize spreads its hours over the
    cores (hash repartition, one file per hour). Above it the aligned
    write keeps AQE's REBALANCE, and ``replace_partitions`` writes the
    frame as its caller laid it out."""

    BASE = dt.datetime(2024, 1, 1)

    @classmethod
    def _frame(cls, spark, hours, value=None):
        # two rows an hour; a Range source, so the estimate is known
        v = F.col("id").cast("double") if value is None else F.lit(value)
        return spark.range(2 * hours).select(
            F.col("id").alias("event_id"),
            (F.lit(cls.BASE) + F.make_dt_interval(
                mins=(F.col("id") * 30).cast("int"))).alias("ts"),
            v.alias("value")).coalesce(1)

    @staticmethod
    def _files_per_hour(dest):
        return [len(glob.glob(f"{h}/*.parquet")) for h in
                glob.glob(f"{dest}/year=*/month=*/day=*/hour=*")]

    def test_small_aligned_write_spreads_hours(self, spark, tmp_path):
        n = spark.sparkContext.defaultParallelism
        hours = max(24, 2 * n)
        df = self._frame(spark, hours)
        dest = str(tmp_path / "t")
        tasks = _last_stage_tasks(spark, lambda: write_partitioned(
            df, dest, "ts", align_partitions=True))
        assert tasks == min(n, hours)
        assert self._files_per_hour(dest) == [1] * hours
        assert sorted(map(tuple, spark.read.parquet(dest).select(
            "event_id", "ts", "value").collect())) \
            == sorted(map(tuple, df.collect()))

    def test_small_merge_spreads_hours(self, spark, tmp_path):
        from data_and_analytics_etl_spark.etl.merge import \
            merge_upsert_partitioned
        n = spark.sparkContext.defaultParallelism
        hours = max(24, 2 * n)
        dest = str(tmp_path / "t")
        write_partitioned(self._frame(spark, hours), dest, "ts")
        # every key updated in place: every hour is rewritten
        updates = self._frame(spark, hours, value=-1.0)
        stats = {}
        tasks = _last_stage_tasks(spark, lambda: stats.update(
            merge_upsert_partitioned(spark, dest, updates,
                                     keys=["event_id"], ts_col="ts")))
        assert stats == {"affected_partitions": hours,
                         "rewritten": hours, "purged": 0}
        assert tasks == min(n, hours)
        assert self._files_per_hour(dest) == [1] * hours
        back = spark.read.parquet(dest)
        assert back.count() == 2 * hours
        assert {r.value for r in back.select("value").collect()} == {-1.0}

    def test_large_or_unsized_frame_keeps_rebalance(self, spark):
        def origin(df):
            return _plan_origin(_clustered(with_time_partitions(df, "ts"),
                                           PARTITION_COLS))
        small = self._frame(spark, 24)
        # a billion-row Range: an 8+ GB estimate, and nothing runs
        large = spark.range(10 ** 9).select(
            F.col("id").alias("event_id"),
            F.lit(self.BASE).alias("ts"))
        # an RDD-backed frame reports Spark's unknown estimate
        unsized = spark.createDataFrame([(1, self.BASE)],
                                        "event_id long, ts timestamp")
        assert origin(small) == "REPARTITION_BY_NUM"
        assert origin(large) == "REBALANCE_PARTITIONS_BY_COL"
        assert origin(unsized) == "REBALANCE_PARTITIONS_BY_COL"

    def test_write_leaves_no_crc_files(self, spark, tmp_path):
        dest = str(tmp_path / "t")
        write_partitioned(self._frame(spark, 6), dest, "ts",
                          align_partitions=True)
        assert glob.glob(f"{dest}/**/*.parquet", recursive=True)
        assert glob.glob(f"{dest}/**/.*.crc", recursive=True) == []

    def test_replace_partitions_runs_no_job_after_the_write(self, spark,
                                                           tmp_path):
        # the written partitions are observed on the write pass, so
        # passing ``affected`` costs no job
        from data_and_analytics_etl_spark.etl.sink import \
            replace_partitions
        df = with_time_partitions(self._frame(spark, 6), "ts")
        pcols = list(PARTITION_COLS)
        jobs, written = [], []
        for i, affected in enumerate([(), {(2023, 12, 31, 23)}]):
            jobs.append(len(_group_jobs(spark, lambda: written.append(
                replace_partitions(df, str(tmp_path / f"t{i}"), pcols,
                                   affected)))))
        assert jobs[0] == jobs[1], jobs
        hours = {(2024, 1, 1, h) for h in range(6)}
        assert written == [(set(), 0), (hours, 0)]

    def test_checksummed_table_merges_and_compacts(self, spark, tmp_path):
        # a table first written through Hadoop's checksummed local FS
        # (a .crc sidecar per file), as every table was before the
        # engine switched its local store to the raw FS
        from data_and_analytics_etl_spark.etl.merge import \
            merge_upsert_partitioned
        from data_and_analytics_etl_spark.etl.sink import \
            compact_partitions
        dest = str(tmp_path / "t")
        hours = 12
        base = self._frame(spark, hours)
        for i in range(2):  # two files in every hour
            (with_time_partitions(base.filter(F.col("event_id") % 2 == i),
                                  "ts")
             .write.mode("append")
             .option("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
             .option("fs.file.impl.disable.cache", "true")
             .partitionBy("year", "month", "day", "hour").parquet(dest))
        assert len(glob.glob(f"{dest}/**/.*.parquet.crc",
                             recursive=True)) == 2 * hours
        # update the first half of the hours, then compact the rest
        updates = base.filter(F.col("event_id") < hours) \
            .withColumn("value", F.lit(-1.0))
        stats = merge_upsert_partitioned(spark, dest, updates,
                                         keys=["event_id"], ts_col="ts")
        assert stats["rewritten"] == hours // 2
        res = compact_partitions(spark, dest, min_files=2)
        assert res["compacted"] == hours // 2
        assert self._files_per_hour(dest) == [1] * hours
        want = {(r.event_id, -1.0 if r.event_id < hours else r.value)
                for r in base.collect()}
        got = {(r.event_id, r.value) for r in
               spark.read.parquet(dest).select("event_id", "value")
               .collect()}
        assert got == want

    def test_large_compaction_leaves_one_file_per_hour(self, spark,
                                                       tmp_path):
        # The large side of the rule, forced by a 1-byte
        # minPartitionSize. A 1 KB advisory size makes AQE split any
        # REBALANCE of the slice across tasks, one file per task in an
        # hour; compaction must still leave each hour whole.
        from data_and_analytics_etl_spark.etl.sink import \
            compact_partitions
        dest = str(tmp_path / "t")
        hours, rows = 4, 400
        base = spark.range(rows).select(
            F.col("id").alias("event_id"),
            (F.lit(self.BASE) + F.make_dt_interval(
                hours=(F.col("id") % hours).cast("int"))).alias("ts"),
            F.col("id").cast("double").alias("value"))
        for i in range(4):  # four files in every hour
            write_partitioned(base.filter(
                F.floor(F.col("event_id") / (rows // 4)) == i)
                .coalesce(1), dest, "ts")
        assert self._files_per_hour(dest) == [4] * hours
        confs = {"spark.sql.adaptive.coalescePartitions.minPartitionSize":
                 "1b",
                 "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k"}
        saved = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            assert _plan_origin(_clustered(
                with_time_partitions(base, "ts"), PARTITION_COLS)) \
                == "REBALANCE_PARTITIONS_BY_COL"
            res = compact_partitions(spark, dest, min_files=2)
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        assert res["compacted"] == hours
        assert self._files_per_hour(dest) == [1] * hours
        assert sorted(map(tuple, spark.read.parquet(dest).select(
            "event_id", "ts", "value").collect())) \
            == sorted(map(tuple, base.collect()))


def test_empty_input_writes_no_data_files(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").filter(F.lit(False))
    dest = str(tmp_path / "empty")
    write_partitioned(ev, dest, "ts")
    assert glob.glob(f"{dest}/**/*.parquet", recursive=True) == []


def test_incremental_windows_are_disjoint(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    dest, root = str(tmp_path / "data"), str(tmp_path)
    r1 = incremental_ingest(spark, ev, dest, root, "events", "ts",
                            event_time=T1, lag=NO_LAG)
    r2 = incremental_ingest(spark, ev, dest, root, "events", "ts",
                            event_time=T2, lag=NO_LAG)
    assert r1["window_start"] is None and r2["window_start"] == T1
    total = ev.filter(F.col("ts") <= F.lit(T2)).count()
    assert r1["rows"] + r2["rows"] == total
    assert spark.read.parquet(dest).count() == total
    # no duplicates when no crash happened
    assert spark.read.parquet(dest).select("event_id").distinct().count() \
        == total


def test_watermark_not_advanced_when_sink_fails(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    root = str(tmp_path)
    with pytest.raises(Exception):
        incremental_ingest(spark, ev, "/proc/forbidden/sink", root,
                           "events", "ts", event_time=T1, lag=NO_LAG)
    assert CheckpointManifest(root, "events").read_watermark() is None


def test_crash_overlap_then_dedup(spark, sf_dir, tmp_path):
    """Crash between write and commit => window replays => duplicates in
    the sink => keyed dedup restores exactly-once downstream (the
    reference's at-least-once contract, CommCareAPIHandler.py:251-262)."""
    ev = load_table(spark, sf_dir, "events")
    dest, root = str(tmp_path / "data"), str(tmp_path)
    incremental_ingest(spark, ev, dest, root, "events", "ts",
                       event_time=T1, lag=NO_LAG)
    # simulate the crash: data landed, checkpoint lost
    os.unlink(CheckpointManifest(root, "events").path)
    incremental_ingest(spark, ev, dest, root, "events", "ts",
                       event_time=T2, lag=NO_LAG)
    raw = spark.read.parquet(dest)
    total = ev.filter(F.col("ts") <= F.lit(T2)).count()
    overlap = ev.filter(F.col("ts") <= F.lit(T1)).count()
    assert raw.count() == total + overlap  # duplicates present by design
    deduped = keyed_dedup(raw, ["event_id"], [F.col("ts"), F.col("event_id")])
    assert deduped.count() == total


def test_error_budget_two_tolerated_third_fatal():
    budget = ErrorBudget(max_failures=3)

    def boom():
        raise ValueError("x")

    assert budget.run("t1", lambda: 42) == 42
    assert budget.run("t2", boom) is None
    assert budget.run("t3", boom) is None
    with pytest.raises(ErrorBudgetExceeded) as ei:
        budget.run("t4", boom)
    assert [n for n, _ in ei.value.failures] == ["t2", "t3", "t4"]


class TestRest:
    @staticmethod
    def _transport(pages):
        calls = []

        def t(params):
            calls.append(dict(params))
            i = int(params.get("cursor") or 0)
            nxt = str(i + 1) if i + 1 < len(pages) else ""
            return {"meta": {"next": nxt, "limit": len(pages[i])},
                    "objects": pages[i]}
        t.calls = calls
        return t

    def test_source_paginates_to_dataframe(self, spark):
        pages = [[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}],
                 [{"id": 3, "v": "c"}]]
        t = self._transport(pages)
        df = rest_source(spark, t)
        assert sorted(r.id for r in df.collect()) == [1, 2, 3]
        assert len(t.calls) == 2  # one request per page, stop on empty next

    def test_source_request_budget(self, spark):
        def endless(params):
            return {"meta": {"next": "more"}, "objects": [{"id": 0}]}
        with pytest.raises(RuntimeError, match="request budget"):
            rest_source(spark, endless, request_limit=5)

    def test_source_empty(self, spark):
        t = self._transport([[]])
        assert rest_source(spark, t).count() == 0

    #: nested ``properties``, both ``indexed_on`` formats, ragged keys
    PAGES = [[{"id": 1, "indexed_on": "2024-01-01T00:00:00.000000Z",
               "properties": {"name": "a", "tags": ["x", "y"],
                              "geo": {"lat": 1.5}}},
              {"id": 2, "indexed_on": "2024-01-01T01:00:00Z",
               "properties": {"name": "b", "extra": 7}}],
             [],
             [{"id": 3, "indexed_on": "2024-01-01T02:30:00Z",
               "properties": {}, "note": "only here"}]]

    @staticmethod
    def _reference(spark, pages, schema=None):
        import json
        strings = [json.dumps(o) for page in pages for o in page]
        reader = spark.read.schema(schema) if schema else spark.read
        return reader.json(spark.sparkContext.parallelize(strings))

    @pytest.mark.parametrize("schema", [
        None,
        "id long, indexed_on string, "
        "properties struct<name: string, tags: array<string>>"])
    def test_source_matches_python_json_reader(self, spark, schema):
        df = rest_source(spark, self._transport(self.PAGES), schema=schema)
        ref = self._reference(spark, self.PAGES, schema)
        assert df.schema == ref.schema
        assert sorted(map(str, df.collect())) \
            == sorted(map(str, ref.collect()))

    def test_source_all_pages_empty_matches_reader_schema(self, spark):
        df = rest_source(spark, self._transport([[]]))
        assert df.schema == self._reference(spark, [[]]).schema
        assert df.collect() == []

    def test_source_lands_without_python_worker(self, spark):
        df = rest_source(spark, self._transport(self.PAGES))
        lineage = df._jdf.queryExecution().toRdd().toDebugString()
        # an RDD of class PythonRDD is a Python-worker stage (the
        # driver's own parallelize is read "at PythonRDD.scala")
        assert "PythonRDD[" not in lineage, lineage

    def test_source_plan_is_sized(self, spark):
        # the landed frame carries a size estimate, so the aligned write
        # of a small pull spreads its hours over the cores; an
        # RDD-backed frame's unknown estimate would keep REBALANCE
        df = rest_source(spark, self._transport(self.PAGES))
        hourly = with_time_partitions(df.withColumn(
            "ts", normalize_timestamp(F.col("indexed_on"))), "ts")
        assert _plan_origin(_clustered(hourly, PARTITION_COLS)) \
            == "REPARTITION_BY_NUM"

    def test_sink_pushes_every_row(self, spark, tmp_path):
        marker = str(tmp_path / "pushed")
        os.makedirs(marker)
        df = spark.createDataFrame([(i,) for i in range(20)], "id: long")

        def push(req):
            assert req["method"] == "PATCH"
            with open(f"{marker}/{req['payload']['id']}", "w") as f:
                f.write("1")
        rest_sink(df, push, method="PATCH")
        assert len(os.listdir(marker)) == 20

    def test_sink_receipts_carry_form_ids(self, spark):
        """Push-side observability parity (ref CommCareAPIHandler.py:
        303-304 logs form_id for case pushes) — receipts return it as
        data: one row per record with the server-assigned form_id, and
        sub-budget failures become ok=false rows instead of lost logs."""
        from data_and_analytics_etl_spark.etl.rest import rest_sink_receipts
        df = spark.createDataFrame([(i,) for i in range(10)],
                                   "id: long").coalesce(1)

        def push(req):
            i = req["payload"]["id"]
            if i == 7:
                raise ConnectionError("flaky")
            return {"form_id": f"F-{i:03d}", "status": "ok"}

        out = {r["id"]: r for r in
               rest_sink_receipts(df, push, key_col="id").collect()}
        assert len(out) == 10
        assert out[3]["form_id"] == "F-003" and out[3]["ok"]
        assert not out[7]["ok"] and "ConnectionError" in out[7]["error"]
        assert out[7]["form_id"] is None

    def test_rest_writer_logs_pushed_and_aborted_counts(self, caplog):
        import logging

        from data_and_analytics_etl_spark.etl.rest_datasource import (
            RestWriter, _PushCommit)
        w = RestWriter({})
        name = "data_and_analytics_etl_spark.etl.rest_datasource"
        with caplog.at_level(logging.INFO, logger=name):
            w.commit([_PushCommit(3), None, _PushCommit(4)])
            w.abort([_PushCommit(2), None])
        committed, aborted = caplog.records
        assert committed.levelno == logging.INFO
        assert committed.pushed == 7 and "7 records pushed" \
            in committed.getMessage()
        assert aborted.levelno == logging.WARNING
        assert aborted.pushed == 2 and aborted.aborted
        assert "after 2 pushed records" in aborted.getMessage()

    def test_sink_error_budget_fails_task(self, spark):
        df = spark.createDataFrame([(i,) for i in range(10)], "id: long")
        df = df.coalesce(1)

        def always_fail(req):
            raise ConnectionError("api down")
        with pytest.raises(Exception):
            rest_sink(df, always_fail, max_failures=3)


def test_schema_evolution_merge_read(spark, sf_dir, tmp_path):
    """Incremental batches whose schema gains a column must read back as
    one dataset (mergeSchema) with NULLs for the old batches — the
    schemaless-JSON tolerance of the reference, typed."""
    o = load_table(spark, sf_dir, "orders")
    dest = str(tmp_path / "evolving")
    (o.filter(F.col("o_orderkey") < 1000)
     .select("o_orderkey", "o_totalprice")
     .write.mode("append").parquet(dest))
    (o.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000))
     .select("o_orderkey", "o_totalprice",
             F.col("o_orderpriority").alias("priority"))
     .write.mode("append").parquet(dest))
    merged = spark.read.option("mergeSchema", True).parquet(dest)
    assert set(merged.columns) == {"o_orderkey", "o_totalprice", "priority"}
    n_old = merged.filter(F.col("priority").isNull()).count()
    assert n_old == o.filter(F.col("o_orderkey") < 1000).count()


class TestMergeUpsert:
    def test_updates_beat_existing_and_insert(self, spark):
        from data_and_analytics_etl_spark.etl.merge import merge_upsert
        existing = spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string")
        updates = spark.createDataFrame(
            [(2, "B"), (3, "C")], "k long, v string")
        out = {r.k: r.v for r in
               merge_upsert(existing, updates, keys=["k"]).collect()}
        assert out == {1: "a", 2: "B", 3: "C"}

    def test_within_side_ties_break_on_order_by(self, spark):
        import pyspark.sql.functions as F
        from data_and_analytics_etl_spark.etl.merge import merge_upsert
        existing = spark.createDataFrame([(1, 0, "old")],
                                         "k long, ver long, v string")
        # two updates for the same key: highest version must win
        updates = spark.createDataFrame(
            [(1, 1, "mid"), (1, 2, "new")], "k long, ver long, v string")
        out = merge_upsert(existing, updates, keys=["k"],
                           order_by=[F.desc("ver")]).collect()
        assert len(out) == 1 and out[0].v == "new"


class TestMergePartitioned:
    """Partition-targeted sink-side MERGE: only affected hourly
    partitions are rewritten; everything else stays byte-identical."""

    @staticmethod
    def _snapshot(root):
        """{relative parquet path: file bytes} under root."""
        import glob
        import os
        out = {}
        for p in glob.glob(f"{root}/**/*.parquet", recursive=True):
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
        return out

    @staticmethod
    def _write_base(spark, dest):
        import datetime as dt
        from data_and_analytics_etl_spark.etl.sink import write_partitioned
        rows = [(1, dt.datetime(2024, 1, 1, 0, 10), 10.0),
                (2, dt.datetime(2024, 1, 1, 0, 20), 20.0),
                (3, dt.datetime(2024, 1, 1, 1, 10), 30.0),
                (4, dt.datetime(2024, 1, 1, 2, 10), 40.0)]
        base = spark.createDataFrame(rows,
                                     "event_id long, ts timestamp, "
                                     "value double")
        write_partitioned(base, dest, "ts")

    def test_untouched_partitions_byte_identical(self, spark, tmp_path):
        import datetime as dt
        from data_and_analytics_etl_spark.etl.merge import \
            merge_upsert_partitioned
        dest = str(tmp_path / "data")
        self._write_base(spark, dest)
        before = self._snapshot(dest)
        # update one hour-0 row + insert into a brand-new hour 3
        updates = spark.createDataFrame(
            [(2, dt.datetime(2024, 1, 1, 0, 20), 999.0),
             (9, dt.datetime(2024, 1, 1, 3, 5), 90.0)],
            "event_id long, ts timestamp, value double")
        stats = merge_upsert_partitioned(spark, dest, updates,
                                         keys=["event_id"], ts_col="ts")
        assert stats["affected_partitions"] == 2  # hour 0 + new hour 3
        assert stats["purged"] == 0
        after = self._snapshot(dest)
        untouched_b = {k: v for k, v in before.items() if "hour=0" not in k}
        untouched_a = {k: v for k, v in after.items()
                       if "hour=0" not in k and "hour=3" not in k}
        assert untouched_a == untouched_b  # names AND bytes unchanged
        assert any("hour=3" in k for k in after)
        got = {r.event_id: r.value
               for r in spark.read.parquet(dest).collect()}
        assert got == {1: 10.0, 2: 999.0, 3: 30.0, 4: 40.0, 9: 90.0}

    def test_key_moving_hours_purges_emptied_partition(self, spark,
                                                       tmp_path):
        import datetime as dt
        import os
        from data_and_analytics_etl_spark.etl.merge import \
            merge_upsert_partitioned
        dest = str(tmp_path / "data")
        self._write_base(spark, dest)
        # event 4 is hour 2's ONLY row; its update moves it to hour 1 —
        # hour 2 must be purged, not left holding the stale version
        updates = spark.createDataFrame(
            [(4, dt.datetime(2024, 1, 1, 1, 55), 44.0)],
            "event_id long, ts timestamp, value double")
        stats = merge_upsert_partitioned(spark, dest, updates,
                                         keys=["event_id"], ts_col="ts")
        assert stats["purged"] == 1
        assert not os.path.isdir(os.path.join(
            dest, "year=2024", "month=1", "day=1", "hour=2"))
        got = {(r.event_id): (r.hour, r.value)
               for r in spark.read.parquet(dest).collect()}
        assert got == {1: (0, 10.0), 2: (0, 20.0), 3: (1, 30.0),
                       4: (1, 44.0)}

    def test_no_op_update_set_touches_nothing(self, spark, tmp_path):
        from data_and_analytics_etl_spark.etl.merge import \
            merge_upsert_partitioned
        dest = str(tmp_path / "data")
        self._write_base(spark, dest)
        before = self._snapshot(dest)
        empty = spark.createDataFrame(
            [], "event_id long, ts timestamp, value double")
        stats = merge_upsert_partitioned(spark, dest, empty,
                                         keys=["event_id"], ts_col="ts")
        assert stats == {"affected_partitions": 0, "rewritten": 0,
                         "purged": 0}
        assert self._snapshot(dest) == before

    def test_null_hour_rows_survive_merge(self, spark, tmp_path):
        # NULL timestamps land in the __HIVE_DEFAULT_PARTITION__ hour.
        # Updating one of its rows must read the whole hour back: a
        # per-column `year == NULL` prune never matched, so the hour was
        # overwritten with the update alone and row 2 was lost.
        import datetime as dt
        from data_and_analytics_etl_spark.etl.merge import \
            merge_upsert_partitioned
        from data_and_analytics_etl_spark.etl.sink import write_partitioned
        dest = str(tmp_path / "data")
        schema = "event_id long, ts timestamp, value double"
        write_partitioned(spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 0, 10), 10.0),
             (2, None, 20.0), (3, None, 30.0)], schema), dest, "ts")
        stats = merge_upsert_partitioned(
            spark, dest, spark.createDataFrame([(3, None, 33.0)], schema),
            keys=["event_id"], ts_col="ts")
        assert stats == {"affected_partitions": 1, "rewritten": 1,
                         "purged": 0}
        got = sorted((r.event_id, r.value)
                     for r in spark.read.parquet(dest).collect())
        assert got == [(1, 10.0), (2, 20.0), (3, 33.0)]


    def test_absent_table_is_created_one_row_per_key(self, spark,
                                                     tmp_path):
        # no table at the path yet: the merge runs against an empty one
        # and elects keyed_dedup's winner per key
        from data_and_analytics_etl_spark.etl.merge import \
            merge_upsert_partitioned
        updates = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 0, 10), 10.0),
             (1, dt.datetime(2024, 1, 1, 2, 10), 11.0),   # newer ts wins
             (2, dt.datetime(2024, 1, 1, 1, 10), 22.0),
             (2, dt.datetime(2024, 1, 1, 1, 10), 20.0),   # tie: all cols
             (3, None, 30.0)],
            "event_id long, ts timestamp, value double")
        order = [F.col("ts").desc()] + [F.col(c) for c in updates.columns]
        dest = (tmp_path / "new" / "table").as_uri()
        stats = merge_upsert_partitioned(spark, dest, updates,
                                         keys=["event_id"], ts_col="ts",
                                         order_by=order)
        assert stats == {"affected_partitions": 4, "rewritten": 3,
                         "purged": 0}
        back = spark.read.parquet(dest).collect()
        want = keyed_dedup(updates, ["event_id"], order).collect()
        assert sorted((r.event_id, r.value) for r in back) \
            == sorted((r.event_id, r.value) for r in want) \
            == [(1, 11.0), (2, 20.0), (3, 30.0)]
        assert {r.event_id: r.hour for r in back} == {1: 2, 2: 1, 3: None}


class TestVacuumPartitions:
    def test_drops_only_strictly_older_hours(self, spark, tmp_path):
        import datetime as dt

        from data_and_analytics_etl_spark.etl.sink import (
            vacuum_partitions, write_partitioned)
        base = dt.datetime(2024, 3, 1, 0, 0, 0)
        rows = [(i, base + dt.timedelta(hours=i), float(i))
                for i in range(6)]
        df = spark.createDataFrame(rows, ["id", "ts", "v"])
        dest = str(tmp_path / "t")
        write_partitioned(df, dest, "ts")
        # cutoff inside hour 3: hours 0-2 drop, hour 3 (contains the
        # cutoff) and later survive
        removed = vacuum_partitions(
            dest, base + dt.timedelta(hours=3, minutes=30))
        assert len(removed) == 3
        assert all("hour=" in r for r in removed)
        back = spark.read.parquet(dest)
        assert sorted(r.id for r in back.collect()) == [3, 4, 5]
        # idempotent: nothing older remains
        assert vacuum_partitions(
            dest, base + dt.timedelta(hours=3, minutes=30)) == []

    def test_prunes_emptied_parent_dirs(self, spark, tmp_path):
        import datetime as dt
        import os

        from data_and_analytics_etl_spark.etl.sink import (
            vacuum_partitions, write_partitioned)
        d1 = dt.datetime(2024, 1, 15, 5)
        d2 = dt.datetime(2024, 2, 20, 7)
        df = spark.createDataFrame(
            [(1, d1, 1.0), (2, d2, 2.0)], ["id", "ts", "v"])
        dest = str(tmp_path / "t")
        write_partitioned(df, dest, "ts")
        vacuum_partitions(dest, dt.datetime(2024, 2, 1))
        # January's whole year=2024/month=1 subtree is gone, not just
        # its hour leaf
        assert not any("month=1" in root and "month=12" not in root
                       for root, _, _ in os.walk(dest))
        assert any("month=2" in root for root, _, _ in os.walk(dest))


class TestCompactPartitions:
    """Partition-targeted compaction: only fragmented partitions are
    rewritten; cold partitions stay byte-identical; content never
    changes; the operation is idempotent."""

    def _file_bytes(self, d):
        import glob
        import os
        out = {}
        for f in sorted(glob.glob(f"{d}/**/*.parquet", recursive=True)):
            with open(f, "rb") as fh:
                out[os.path.relpath(f, d)] = fh.read()
        return out

    def test_targets_only_fragmented_partitions(self, spark, sf_dir,
                                                tmp_path):
        from data_and_analytics_etl_spark.etl.sink import (
            compact_partitions, write_partitioned)
        ev = (load_table(spark, sf_dir, "events")
              .select("event_id", "ts", "value"))
        hot = ev.filter(F.col("ts") < F.lit(T1))
        cold = ev.filter((F.col("ts") >= F.lit(T1))
                         & (F.col("ts") < F.lit(T2)))
        dest = str(tmp_path / "tbl")
        # cold hours: single writer task -> exactly one file each
        write_partitioned(cold.repartition(1), dest, "ts")
        cold_before = self._file_bytes(dest)
        # hot hours: two interleaved appends -> >=2 files each
        for i in range(2):
            write_partitioned(hot.filter(F.col("event_id") % 2 == i),
                              dest, "ts")
        n_total = spark.read.parquet(dest).count()

        res = compact_partitions(spark, dest, min_files=2)
        assert res["compacted"] > 0
        assert res["files_after"] < res["files_before"]

        after = self._file_bytes(dest)
        # every cold file survives byte-identical at the same path
        for rel, blob in cold_before.items():
            assert after.get(rel) == blob, rel
        # content untouched
        back = spark.read.parquet(dest)
        assert back.count() == n_total
        merged = (hot.unionByName(cold)
                  .agg(F.sum(F.col("value").cast("decimal(18,2)")))
                  .collect()[0][0])
        got = back.agg(
            F.sum(F.col("value").cast("decimal(18,2)"))).collect()[0][0]
        assert got == merged
        # idempotent: nothing left to compact at min_files=2 after the
        # partition-aligned rewrite (one task per hour -> one file)
        res2 = compact_partitions(spark, dest, min_files=2)
        assert res2["compacted"] == 0

    def test_noop_on_healthy_table(self, spark, sf_dir, tmp_path):
        from data_and_analytics_etl_spark.etl.sink import (
            compact_partitions, write_partitioned)
        ev = (load_table(spark, sf_dir, "events")
              .select("event_id", "ts", "value")
              .filter(F.col("ts") < F.lit(T1)))
        dest = str(tmp_path / "tbl")
        write_partitioned(ev.repartition(1), dest, "ts")
        before = self._file_bytes(dest)
        res = compact_partitions(spark, dest, min_files=2)
        assert res["compacted"] == 0
        assert self._file_bytes(dest) == before


class TestVersioning:
    """Snapshot commit log: time travel, delta reads, and the
    append-only fence."""

    def _write(self, spark, sf_dir, dest, lo, hi):
        from data_and_analytics_etl_spark.etl.sink import \
            write_partitioned
        ev = (load_table(spark, sf_dir, "events")
              .select("event_id", "ts", "value")
              .filter((F.col("ts") >= F.lit(lo))
                      & (F.col("ts") < F.lit(hi))))
        write_partitioned(ev, dest, "ts")
        return ev.count()

    def test_travel_and_changes(self, spark, sf_dir, tmp_path):
        import datetime as dtm

        from data_and_analytics_etl_spark.etl.versioning import (
            commit_version, list_versions, read_changes, read_version)
        dest = str(tmp_path / "tbl")
        n1 = self._write(spark, sf_dir, dest,
                         dtm.datetime(2024, 1, 1), dtm.datetime(2024, 1, 3))
        v1 = commit_version(dest)
        n2 = self._write(spark, sf_dir, dest,
                         dtm.datetime(2024, 1, 3), dtm.datetime(2024, 1, 5))
        v2 = commit_version(dest)
        assert list_versions(dest) == [v1, v2] == [1, 2]
        assert read_version(spark, dest, v1).count() == n1
        assert read_version(spark, dest, v2).count() == n1 + n2
        assert read_changes(spark, dest, v1, v2).count() == n2
        # empty delta: same version twice
        assert read_changes(spark, dest, v2, v2).count() == 0
        # partition columns survive the manifest read (basePath)
        assert "hour" in read_version(spark, dest, v1).columns

    def test_mutation_fences_commit(self, spark, sf_dir, tmp_path):
        import datetime as dtm
        import glob
        import os

        from data_and_analytics_etl_spark.etl.versioning import (
            commit_version, reset_versions)
        dest = str(tmp_path / "tbl")
        self._write(spark, sf_dir, dest,
                    dtm.datetime(2024, 1, 1), dtm.datetime(2024, 1, 3))
        commit_version(dest)
        os.unlink(glob.glob(f"{dest}/**/*.parquet", recursive=True)[0])
        with pytest.raises(ValueError, match="append-only"):
            commit_version(dest)
        reset_versions(dest)
        assert commit_version(dest) == 1

    def test_concurrent_writers_get_distinct_versions(self, spark,
                                                      sf_dir, tmp_path):
        """8 writers racing commit_version must each claim a DISTINCT
        slot (the exclusive-link fence); the log stays fully readable
        with every manifest complete. Before the fence, colliding
        writers silently overwrote each other's v{N}.json."""
        import datetime as dtm
        import threading

        from data_and_analytics_etl_spark.etl.versioning import (
            _manifest, commit_version, list_versions)
        dest = str(tmp_path / "tbl")
        self._write(spark, sf_dir, dest,
                    dtm.datetime(2024, 1, 1), dtm.datetime(2024, 1, 3))
        results, errors = [], []
        gate = threading.Barrier(8)

        def writer():
            try:
                gate.wait()
                results.append(commit_version(dest))
            except Exception as ex:  # pragma: no cover - fail loudly
                errors.append(ex)

        threads = [threading.Thread(target=writer) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert sorted(results) == list(range(1, 9))
        assert list_versions(dest) == list(range(1, 9))
        # every published manifest parses and carries the full file set
        sets = [set(_manifest(dest, v)) for v in range(1, 9)]
        assert all(s == sets[0] and s for s in sets)
        # no stray tmp files left behind
        import os
        assert not [f for f in os.listdir(os.path.join(dest, "_versions"))
                    if f.endswith(".tmp")]

    def test_exhausted_retries_raise_cleanly(self, spark, sf_dir,
                                             tmp_path):
        import datetime as dtm

        from data_and_analytics_etl_spark.etl.versioning import (
            ConcurrentCommitError, commit_version, list_versions)
        dest = str(tmp_path / "tbl")
        self._write(spark, sf_dir, dest,
                    dtm.datetime(2024, 1, 1), dtm.datetime(2024, 1, 3))
        commit_version(dest)
        with pytest.raises(ConcurrentCommitError):
            commit_version(dest, max_attempts=0)
        # the failed commit left the store readable and unchanged
        assert list_versions(dest) == [1]


class TestPartitionChecksums:
    def test_layout_invariance(self, spark, sf_dir, tmp_path):
        """The checksum manifest must be identical before and after a
        physical-layout change (compaction) — that is its job."""
        from data_and_analytics_etl_spark.etl.sink import (
            compact_partitions, write_partitioned)
        from data_and_analytics_etl_spark.operators.profile import \
            partition_checksums

        def manifest(df):
            return {tuple(r)[:2]: (r["n_rows"], r["checksum"])
                    for r in partition_checksums(
                        df.withColumn("year", F.year("ts"))
                        .withColumn("day", F.dayofmonth("ts")),
                        ["year", "day"],
                        ["event_id", "user_id", "event_type"])
                    .collect()}

        ev = (load_table(spark, sf_dir, "events")
              .select("event_id", "ts", "user_id", "event_type")
              .filter(F.col("ts") < F.lit(T1)))
        before = manifest(ev)
        dest = str(tmp_path / "tbl")
        for i in range(2):
            write_partitioned(ev.filter(F.col("event_id") % 2 == i),
                              dest, "ts")
        compact_partitions(spark, dest, min_files=2)
        after = manifest(spark.read.parquet(dest)
                         .select("event_id", "ts", "user_id",
                                 "event_type"))
        assert before == after

    def test_detects_single_row_change(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.profile import \
            partition_checksums
        ev = (load_table(spark, sf_dir, "events")
              .filter(F.col("ts") < F.lit(T1))
              .withColumn("year", F.year("ts"))
              .withColumn("day", F.dayofmonth("ts")))
        tampered = ev.withColumn(
            "event_type",
            F.when(F.col("event_id") == ev.select(F.min("event_id"))
                   .collect()[0][0], F.lit("TAMPERED"))
            .otherwise(F.col("event_type")))
        a = {tuple(r)[:2]: r["checksum"] for r in partition_checksums(
            ev, ["year", "day"],
            ["event_id", "user_id", "event_type"]).collect()}
        b = {tuple(r)[:2]: r["checksum"] for r in partition_checksums(
            tampered, ["year", "day"],
            ["event_id", "user_id", "event_type"]).collect()}
        diff = [k for k in a if a[k] != b.get(k)]
        assert len(diff) == 1


class TestDeleteKeysPartitioned:
    """GDPR-style key erasure: only partitions holding a matched key
    are rewritten; a fully-emptied partition is purged; a second pass
    is a no-op."""

    @staticmethod
    def _write_base(spark, dest):
        import datetime as dt
        from data_and_analytics_etl_spark.etl.sink import write_partitioned
        rows = [(1, dt.datetime(2024, 1, 1, 0, 10), 100, 10.0),
                (2, dt.datetime(2024, 1, 1, 0, 20), 200, 20.0),
                (3, dt.datetime(2024, 1, 1, 1, 10), 100, 30.0),
                (4, dt.datetime(2024, 1, 1, 2, 10), 300, 40.0),
                (5, dt.datetime(2024, 1, 1, 3, 10), 400, 50.0)]
        base = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "value double")
        write_partitioned(base, dest, "ts")

    def test_targeted_delete_and_purge(self, spark, tmp_path):
        from data_and_analytics_etl_spark.etl.merge import \
            delete_keys_partitioned
        dest = str(tmp_path / "data")
        self._write_base(spark, dest)
        before = TestMergePartitioned._snapshot(dest)
        doomed = spark.createDataFrame([(100,), (300,)], "user_id: long")
        stats = delete_keys_partitioned(spark, dest, doomed,
                                        keys=["user_id"])
        # user 100 lives in hours 0 and 1 (hour 1's only row); user 300
        # is hour 2's only row -> hours 1 and 2 empty out entirely
        assert stats["affected_partitions"] == 3
        assert stats["deleted_rows"] == 3
        assert stats["purged"] == 2       # hours 1 and 2 emptied
        assert stats["rewritten"] == 1    # hour 0 keeps event 2
        after = TestMergePartitioned._snapshot(dest)
        # hour 3 (no matched keys) is byte-identical; 1 and 2 are gone
        assert {k: v for k, v in after.items() if "hour=3" in k} \
            == {k: v for k, v in before.items() if "hour=3" in k}
        assert not any("hour=1" in k or "hour=2" in k for k in after)
        got = {r.event_id for r in spark.read.parquet(dest).collect()}
        assert got == {2, 5}

    def test_second_pass_is_noop(self, spark, tmp_path):
        from data_and_analytics_etl_spark.etl.merge import \
            delete_keys_partitioned
        dest = str(tmp_path / "data")
        self._write_base(spark, dest)
        doomed = spark.createDataFrame([(100,)], "user_id: long")
        delete_keys_partitioned(spark, dest, doomed, keys=["user_id"])
        before = TestMergePartitioned._snapshot(dest)
        stats = delete_keys_partitioned(spark, dest, doomed,
                                        keys=["user_id"])
        assert stats == {"affected_partitions": 0, "rewritten": 0,
                         "purged": 0, "deleted_rows": 0}
        assert TestMergePartitioned._snapshot(dest) == before

    def test_unmatched_keys_touch_nothing(self, spark, tmp_path):
        from data_and_analytics_etl_spark.etl.merge import \
            delete_keys_partitioned
        dest = str(tmp_path / "data")
        self._write_base(spark, dest)
        before = TestMergePartitioned._snapshot(dest)
        ghost = spark.createDataFrame([(99999,)], "user_id: long")
        stats = delete_keys_partitioned(spark, dest, ghost,
                                        keys=["user_id"])
        assert stats["affected_partitions"] == 0
        assert TestMergePartitioned._snapshot(dest) == before

    def test_null_hour_key_is_deleted(self, spark, tmp_path):
        from data_and_analytics_etl_spark.etl.merge import \
            delete_keys_partitioned
        from data_and_analytics_etl_spark.etl.sink import write_partitioned
        dest = str(tmp_path / "data")
        write_partitioned(spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 0, 10), 10.0),
             (2, None, 20.0), (3, None, 30.0)],
            "event_id long, ts timestamp, value double"), dest, "ts")
        stats = delete_keys_partitioned(
            spark, dest, spark.createDataFrame([(3,)], "event_id long"),
            keys=["event_id"])
        assert stats == {"affected_partitions": 1, "rewritten": 1,
                         "purged": 0, "deleted_rows": 1}
        got = sorted((r.event_id, r.value)
                     for r in spark.read.parquet(dest).collect())
        assert got == [(1, 10.0), (2, 20.0)]


class TestPartitionReadBack:
    """MERGE, DELETE and compaction read the affected partitions back
    through one ``struct(partition cols) INSET`` partition filter, and
    the scan opens only those partitions' files.

    The scans are read from the SQL status store: each finished query's
    plan graph carries the scan node's description (its
    ``PartitionFilters``) and its ``number of files read`` and ``number
    of partitions read`` metrics."""

    SCHEMA = "event_id long, ts timestamp, value double"
    BASE = dt.datetime(2024, 1, 1)

    @classmethod
    def _write_table(cls, spark, dest):
        # 240 rows over 68 hours, one file per hour
        rows = [(i, cls.BASE + dt.timedelta(minutes=17 * i), float(i))
                for i in range(240)]
        write_partitioned(spark.createDataFrame(rows, cls.SCHEMA)
                          .coalesce(1), dest, "ts")

    @staticmethod
    def _pruned_scans(spark, call):
        """Run ``call``; return ``(description, files, partitions)`` for
        every file scan it ran with a partition filter."""
        store = spark._jsparkSession.sharedState().statusStore()

        def executions():
            ex = store.executionsList()
            return [ex.apply(i) for i in range(ex.size())]

        seen = {e.executionId() for e in executions()}
        call()
        out = []
        for e in executions():
            if e.executionId() in seen:
                continue
            values = store.executionMetrics(e.executionId())
            nodes = store.planGraph(e.executionId()).allNodes()
            for node in (nodes.apply(i) for i in range(nodes.size())):
                desc = node.desc()
                if "PartitionFilters: [" not in desc \
                        or "PartitionFilters: []" in desc:
                    continue
                ms = node.metrics()
                metric = {m.name(): values.get(m.accumulatorId())
                          for m in (ms.apply(i) for i in range(ms.size()))}
                out.append((desc, *(
                    int(metric[name].get())
                    for name in ("number of files read",
                                 "number of partitions read"))))
        return out

    @staticmethod
    def _assert_one_inset(desc):
        filters = desc.split("PartitionFilters: [", 1)[1]
        assert filters.startswith("struct(year, "), desc
        assert filters.count("INSET") == 1, desc
        assert " OR " not in filters and "isnotnull" not in filters, desc

    def test_filter_selects_string_and_null_partitions(self, spark,
                                                       tmp_path):
        # values that need SQL quoting, and the NULL partition
        from data_and_analytics_etl_spark.etl.sink import partition_filter
        dest = str(tmp_path / "tags")
        tags = ["a'b", "c\\d", "plain", None]
        (spark.createDataFrame([(i, t) for i, t in enumerate(tags)],
                               "id long, tag string")
         .write.partitionBy("tag").parquet(dest))
        df = spark.read.parquet(dest)
        got = df.filter(partition_filter(df, ["tag"], [("a'b",), ("c\\d",),
                                                       (None,)]))
        assert sorted(r.id for r in got.collect()) == [0, 1, 3]

    def test_compact_escaped_string_partition(self, spark, tmp_path):
        # 'a:b' lands in directory tag=a%3Ab; compaction must read it
        # back under its value, not its escaped name
        from data_and_analytics_etl_spark.etl.sink import \
            compact_partitions
        dest = str(tmp_path / "tags")
        for i in range(2):
            (spark.createDataFrame([(i, "a:b")], "id long, tag string")
             .write.mode("append").partitionBy("tag").parquet(dest))
        assert compact_partitions(spark, dest, min_files=2)[
            "files_after"] == 1
        assert sorted(map(tuple, spark.read.parquet(dest).collect())) \
            == [(0, "a:b"), (1, "a:b")]

    def test_merge_reads_back_affected_hours_only(self, spark, tmp_path):
        from data_and_analytics_etl_spark.etl.merge import \
            merge_upsert_partitioned
        dest = str(tmp_path / "data")
        self._write_table(spark, dest)
        # 20 updates, each at its row's own timestamp: 20 hours
        updates = spark.createDataFrame(
            [(i, self.BASE + dt.timedelta(minutes=17 * i), -1.0)
             for i in range(0, 240, 12)], self.SCHEMA)
        stats = {}
        scans = self._pruned_scans(spark, lambda: stats.update(
            merge_upsert_partitioned(spark, dest, updates,
                                     keys=["event_id"], ts_col="ts")))
        assert stats["affected_partitions"] == 20
        assert len(scans) == 1
        desc, files, parts = scans[0]
        self._assert_one_inset(desc)
        assert (files, parts) == (20, 20)

    def test_delete_reads_back_affected_hours_only(self, spark, tmp_path):
        from data_and_analytics_etl_spark.etl.merge import \
            delete_keys_partitioned
        dest = str(tmp_path / "data")
        self._write_table(spark, dest)
        doomed = spark.createDataFrame([(i,) for i in range(0, 240, 12)],
                                       "event_id long")
        stats = {}
        scans = self._pruned_scans(spark, lambda: stats.update(
            delete_keys_partitioned(spark, dest, doomed,
                                    keys=["event_id"])))
        assert stats["affected_partitions"] == 20
        assert stats["deleted_rows"] == 20
        assert len(scans) == 1
        desc, files, parts = scans[0]
        self._assert_one_inset(desc)
        assert (files, parts) == (20, 20)

    def test_compact_reads_back_fragmented_hours_only(self, spark,
                                                     tmp_path):
        from data_and_analytics_etl_spark.etl.sink import \
            compact_partitions
        dest = str(tmp_path / "data")
        self._write_table(spark, dest)
        # a second file in each of the first 12 hours
        extra = [(1000 + h, self.BASE + dt.timedelta(hours=h, minutes=59),
                  0.0) for h in range(12)]
        write_partitioned(spark.createDataFrame(extra, self.SCHEMA)
                          .coalesce(1), dest, "ts")
        stats = {}
        scans = self._pruned_scans(spark, lambda: stats.update(
            compact_partitions(spark, dest, min_files=2)))
        assert stats["compacted"] == 12
        assert len(scans) == 1
        desc, files, parts = scans[0]
        self._assert_one_inset(desc)
        assert (files, parts) == (24, 12)


class TestWriteAuditPublish:
    """WAP gate: publish on pass, byte-identical rollback on fail."""

    @staticmethod
    def _df(spark, vals):
        return spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "id long, value double")

    def test_clean_batch_publishes(self, spark, tmp_path):
        import pyspark.sql.functions as F
        from data_and_analytics_etl_spark.etl.publish import \
            write_audit_publish
        from data_and_analytics_etl_spark.etl.versioning import read_version
        dest = str(tmp_path / "t")
        v, audit = write_audit_publish(
            spark, self._df(spark, [1.0, 2.0]), dest,
            {"value_present": F.col("value").isNotNull()})
        assert v == 1
        arow = audit.collect()[0]
        assert arow.n_violations == 0
        assert read_version(spark, dest).count() == 2

    def test_failed_audit_rolls_back(self, spark, tmp_path):
        import os
        import pyspark.sql.functions as F
        from data_and_analytics_etl_spark.etl.publish import (
            QualityGateError, write_audit_publish)
        from data_and_analytics_etl_spark.etl.versioning import (
            _data_files, _manifest, read_version)
        import pytest
        dest = str(tmp_path / "t")
        checks = {"value_present": F.col("value").isNotNull()}
        write_audit_publish(spark, self._df(spark, [1.0]), dest, checks)
        files_v1 = _manifest(dest, 1)
        with pytest.raises(QualityGateError) as ei:
            write_audit_publish(
                spark, self._df(spark, [2.0, None]), dest, checks)
        # audit rows travel with the error
        assert ei.value.audit[0].n_violations == 1
        # store byte-identical: same file set on disk, still readable v1
        assert _data_files(dest, "parquet") == files_v1
        assert [r.value for r in read_version(spark, dest).collect()] \
            == [1.0]

    def test_violation_rate_threshold(self, spark, tmp_path):
        import pyspark.sql.functions as F
        from data_and_analytics_etl_spark.etl.publish import \
            write_audit_publish
        dest = str(tmp_path / "t")
        # 1 null in 4 rows = 25% violation; 0.5 tolerance publishes
        v, _ = write_audit_publish(
            spark, self._df(spark, [1.0, 2.0, 3.0, None]), dest,
            {"value_present": F.col("value").isNotNull()},
            max_violation_rate=0.5)
        assert v == 1


class TestVacuumUnreferenced:
    def test_orphans_deleted_referenced_kept(self, spark, tmp_path):
        import os
        from data_and_analytics_etl_spark.etl.versioning import (
            commit_version, read_version, vacuum_unreferenced)
        dest = str(tmp_path / "t")
        spark.range(5).write.mode("append").parquet(dest)
        commit_version(dest)
        # a crashed writer's staging: written but never committed
        spark.range(100, 103).write.mode("append").parquet(dest)
        n = vacuum_unreferenced(spark, dest)
        assert n >= 1
        # v1 still fully readable; the orphan rows are really gone
        assert sorted(r.id for r in
                      read_version(spark, dest).collect()) == list(range(5))
        assert sorted(
            r.id for r in spark.read.parquet(dest).collect()
        ) == list(range(5))
        # idempotent
        assert vacuum_unreferenced(spark, dest) == 0

    def test_vacuum_before_any_commit_clears_all(self, spark, tmp_path):
        from data_and_analytics_etl_spark.etl.versioning import \
            vacuum_unreferenced
        dest = str(tmp_path / "t")
        spark.range(3).write.mode("append").parquet(dest)
        assert vacuum_unreferenced(spark, dest) >= 1


class TestMergeSchemaEvolution:
    def test_new_column_evolves_and_bound_holds(self, spark, tmp_path):
        import datetime as dt
        import pyspark.sql.functions as F
        from data_and_analytics_etl_spark.etl.merge import \
            merge_upsert_evolving
        from data_and_analytics_etl_spark.etl.sink import write_partitioned
        dest = str(tmp_path / "t")
        t1 = dt.datetime(2024, 1, 1, 10)
        t2 = dt.datetime(2024, 1, 2, 10)
        base = spark.createDataFrame(
            [(1, t1, 10.0), (2, t2, 20.0)],
            "k long, ts timestamp, v double")
        write_partitioned(base, dest, "ts")
        upd = spark.createDataFrame(
            [(2, t2, 21.0, "tag-b"), (3, t2, 30.0, "tag-c")],
            "k long, ts timestamp, v double, tag string")
        stats = merge_upsert_evolving(spark, dest, upd, ["k"], "ts")
        # day-1 partition untouched (key 1 not in the update batch)
        assert stats["affected_partitions"] == 1
        back = (spark.read.option("mergeSchema", "true").parquet(dest)
                .select("k", "v", "tag").orderBy("k").collect())
        got = [(r.k, r.v, r.tag) for r in back]
        assert got == [(1, 10.0, None), (2, 21.0, "tag-b"),
                       (3, 30.0, "tag-c")]

    def test_type_change_refused(self, spark, tmp_path):
        import datetime as dt
        import pytest
        from data_and_analytics_etl_spark.etl.merge import \
            merge_upsert_evolving
        from data_and_analytics_etl_spark.etl.sink import write_partitioned
        dest = str(tmp_path / "t")
        t1 = dt.datetime(2024, 1, 1, 10)
        base = spark.createDataFrame([(1, t1, 10.0)],
                                     "k long, ts timestamp, v double")
        write_partitioned(base, dest, "ts")
        bad = spark.createDataFrame([(1, t1, "oops")],
                                    "k long, ts timestamp, v string")
        with pytest.raises(ValueError, match="type changes"):
            merge_upsert_evolving(spark, dest, bad, ["k"], "ts")
