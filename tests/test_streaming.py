"""Stream-batch equivalence suite (SURVEY §5.2 item 2).

Every streaming operator replayed with trigger(availableNow=True) over
the events corpus must equal its batch formulation; plus a two-batch
late-data test proving the watermark actually drops late rows (the
bounded-state contract that matters at scale).
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pyspark.sql.functions as F
import pytest

from data_and_analytics_etl_spark.catalog import load_table
from data_and_analytics_etl_spark.operators.sessionize import session_stats
from data_and_analytics_etl_spark.streaming import (events_stream,
                                                    run_stream_to_table,
                                                    session_window_agg,
                                                    streaming_dedup,
                                                    tumbling_window_agg)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_equals_batch_window_agg(spark, sf_dir):
    stream = run_stream_to_table(
        tumbling_window_agg(events_stream(spark, sf_dir)),
        output_mode="complete")
    batch = tumbling_window_agg(load_table(spark, sf_dir, "events"))
    assert _rows(stream, "window_start", "n", "sum_value") == \
        _rows(batch, "window_start", "n", "sum_value")


def test_session_window_equals_batch_sessionize(spark, sf_dir):
    stream = run_stream_to_table(
        session_window_agg(events_stream(spark, sf_dir), gap="30 minutes"),
        output_mode="complete")
    batch = session_stats(load_table(spark, sf_dir, "events"),
                          key="user_id", ts="ts", gap_seconds=1800,
                          agg_value="value")
    # session_window end = last_ts + gap; sessionize end = last_ts.
    # Compare on (user, start, size): identical session boundaries.
    got = _rows(stream, "user_id", "session_start", "n_events")
    want = _rows(batch.select("user_id",
                              F.col("session_start"),
                              F.col("n_events")),
                 "user_id", "session_start", "n_events")
    assert got == want


def test_streaming_dedup_equals_batch_distinct(spark, sf_dir):
    st = events_stream(spark, sf_dir).select("user_id", "event_type")
    stream = run_stream_to_table(
        streaming_dedup(st, ["user_id", "event_type"]), output_mode="append")
    batch = load_table(spark, sf_dir, "events") \
        .select("user_id", "event_type").distinct()
    assert _rows(stream, "user_id", "event_type") == \
        _rows(batch, "user_id", "event_type")


def test_watermark_drops_late_data_across_runs(spark, tmp_path):
    """Incremental replay with a shared checkpoint (the reference's run
    model: one invocation per window, watermark restored from state,
    CommCareAPIHandler.py:87-94): run 1 closes window W and advances the
    watermark past it; a late row inside W arrives before run 2 — it
    must be dropped, and unfinalized trailing windows must not emit."""
    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)

    def write_file(name, rows):
        df = spark.createDataFrame(rows, "event_id: long, ts: timestamp, "
                                         "value: double")
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stage" / name))
        part = [p for p in os.listdir(tmp_path / "stage" / name)
                if p.endswith(".parquet")][0]
        os.rename(tmp_path / "stage" / name / part,
                  tmp_path / "stream" / f"{name}.parquet")

    def run():
        schema = "event_id long, ts timestamp, value double"
        st = spark.readStream.schema(schema).parquet(str(tmp_path / "stream"))
        q = (tumbling_window_agg(st, watermark="5 minutes")
             .writeStream.format("parquet")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.read.parquet(str(tmp_path / "out"))

    os.makedirs(tmp_path / "stream")
    write_file("a", [(1, t0, 1.0), (2, t0 + dt.timedelta(minutes=2), 1.0),
                     (3, t0 + dt.timedelta(minutes=25), 1.0)])
    r1 = {(r.window_start, r.n, r.sum_value) for r in run().collect()}
    # run 1: watermark 12:20 closed window [12:00,12:10) with events 1,2
    assert r1 == {(t0, 2, 2.0)}

    time.sleep(1.1)
    # late row (event 4) falls in the already-closed first window
    write_file("b", [(4, t0 + dt.timedelta(minutes=1), 100.0),
                     (5, t0 + dt.timedelta(minutes=45), 1.0)])
    got = {(r.window_start, r.n, r.sum_value) for r in run().collect()}
    # late event 4 dropped: the closed window is never re-emitted/amended
    assert (t0, 2, 2.0) in got
    assert not any(s == 102.0 for _, _, s in got)
    # run 2's watermark (12:40) closes [12:20,12:30)
    assert (t0 + dt.timedelta(minutes=20), 1, 1.0) in got
    # trailing window [12:40,12:50) unfinalized -> not emitted
    assert not any(w == t0 + dt.timedelta(minutes=40) for w, _, _ in got)


def test_events_stream_reads_directory_layout(spark, sf_dir, tmp_path):
    # r14: spark-written decades (sf1-synthetic) ship events.parquet as
    # a DIRECTORY of part files, not the single-file fixture layout —
    # the stream source must read both and agree with the batch table.
    src = load_table(spark, sf_dir, "events")
    alt = str(tmp_path / "sfalt")
    os.makedirs(alt)
    src.repartition(4).write.parquet(f"{alt}/events.parquet")
    stream = run_stream_to_table(
        tumbling_window_agg(events_stream(spark, alt)),
        output_mode="complete")
    batch = tumbling_window_agg(load_table(spark, alt, "events"))
    assert _rows(stream, "window_start", "n", "sum_value") == \
        _rows(batch, "window_start", "n", "sum_value")
    # and the multi-file directory really was multi-file
    parts = [f for f in os.listdir(f"{alt}/events.parquet")
             if f.endswith(".parquet")]
    assert len(parts) >= 2


def test_stream_batch_schema_identity(spark, sf_dir):
    st = events_stream(spark, sf_dir)
    batch = load_table(spark, sf_dir, "events")
    assert st.schema == batch.schema


def test_foreachbatch_push_sink(spark, sf_dir, tmp_path):
    """Streaming push path: micro-batches fan out through the REST sink
    via foreachBatch — the streaming twin of the batch rest_sink, with
    a checkpoint so restarts don't re-push committed batches."""
    from data_and_analytics_etl_spark.etl.rest import rest_sink
    from data_and_analytics_etl_spark.streaming import events_stream

    marker = tmp_path / "pushed"
    os.makedirs(marker)

    def push(req):
        with open(marker / str(req["payload"]["event_id"]), "w") as f:
            f.write("1")

    st = (events_stream(spark, sf_dir)
          .filter(F.col("user_id") == 1)
          .select("event_id"))
    q = (st.writeStream
         .foreachBatch(lambda batch_df, _id: rest_sink(batch_df, push))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    from data_and_analytics_etl_spark.catalog import load_table
    want = load_table(spark, sf_dir, "events") \
        .filter(F.col("user_id") == 1).count()
    assert len(os.listdir(marker)) == want


def test_rate_source_smoke(spark):
    """Declared rate source (wall-clock synthetic stream): runs and
    produces monotonically-valued rows; content is time-dependent so
    only plumbing is asserted."""
    st = (spark.readStream.format("rate")
          .option("rowsPerSecond", 100).load())
    q = (st.writeStream.format("memory").queryName("rate_smoke")
         .outputMode("append").start())
    try:
        import time
        time.sleep(2.5)
    finally:
        q.stop()
    rows = spark.table("rate_smoke").collect()
    assert len(rows) > 0
    assert {c for c in spark.table("rate_smoke").columns} == \
        {"timestamp", "value"}


class TestStreamMergeSink:
    """foreachBatch partition-targeted MERGE: the streaming completion
    of the incremental upsert story (etl/merge.py) — per-micro-batch
    upsert that rewrites only touched partitions."""

    def _mk_src(self, spark, d):
        base = dt.datetime(2024, 3, 1, 10, 0, 0)
        rows = [(i, 1 + i % 3, "view",
                 base + dt.timedelta(hours=i % 4, minutes=i % 7),
                 float(i)) for i in range(120)]
        cols = ["event_id", "user_id", "event_type", "ts", "value"]
        df = spark.createDataFrame(rows, cols)
        df.coalesce(1).write.parquet(str(d / "f1"))
        return df, cols, base

    def _stream(self, spark, src_glob, schema):
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(src_glob))

    def test_updates_and_partition_moves_apply(self, spark, tmp_path):
        from data_and_analytics_etl_spark.streaming.ops import (
            stream_merge_to_partitioned)
        src = tmp_path / "src"
        src.mkdir()
        df, cols, base = self._mk_src(spark, src)
        table = str(tmp_path / "table")
        ckpt = str(tmp_path / "ckpt")

        q = stream_merge_to_partitioned(
            self._stream(spark, str(src / "*" / "*.parquet"), df.schema),
            table, keys=["event_id"], ts_col="ts", checkpoint_dir=ckpt)
        q.awaitTermination()
        got1 = spark.read.parquet(table)
        assert got1.count() == 120

        # batch 2: 30 value updates in place + 5 rows moved to a new hour
        upd_rows = [(i, 1 + i % 3, "view",
                     base + dt.timedelta(hours=i % 4, minutes=i % 7),
                     1000.0 + i) for i in range(30)]
        upd_rows += [(100 + j, 1, "view",
                      base + dt.timedelta(days=1), 2000.0 + j)
                     for j in range(5)]
        spark.createDataFrame(upd_rows, cols) \
            .coalesce(1).write.parquet(str(src / "f2"))

        q = stream_merge_to_partitioned(
            self._stream(spark, str(src / "*" / "*.parquet"), df.schema),
            table, keys=["event_id"], ts_col="ts", checkpoint_dir=ckpt)
        q.awaitTermination()

        got = spark.read.parquet(table)
        assert got.count() == 120  # pure upsert: no row count change
        vals = {r.event_id: r.value for r in got.collect()}
        assert vals[0] == 1000.0 and vals[29] == 1029.0
        assert vals[30] == 30.0          # untouched key keeps old value
        assert vals[100] == 2000.0       # moved row carries new value
        moved = got.filter(F.col("event_id") == 100).collect()[0]
        assert (moved.day, moved.hour) == (2, 10)  # re-landed next day
        # the moved keys left their original hour
        old_hour = got.filter((F.col("day") == 1)
                              & F.col("event_id").isin([100, 101]))
        assert old_hour.count() == 0

    def test_rerun_same_checkpoint_is_noop(self, spark, tmp_path):
        from data_and_analytics_etl_spark.streaming.ops import (
            stream_merge_to_partitioned)
        src = tmp_path / "src"
        src.mkdir()
        df, cols, base = self._mk_src(spark, src)
        table = str(tmp_path / "table")
        ckpt = str(tmp_path / "ckpt")
        for _ in range(2):
            q = stream_merge_to_partitioned(
                self._stream(spark, str(src / "*" / "*.parquet"),
                             df.schema),
                table, keys=["event_id"], ts_col="ts",
                checkpoint_dir=ckpt)
            q.awaitTermination()
        import glob
        files1 = sorted(glob.glob(f"{table}/**/*.parquet", recursive=True))
        mtimes = [os.path.getmtime(f) for f in files1]
        # a third run with the same checkpoint sees no new files: no new
        # batch, no writes, files untouched
        q = stream_merge_to_partitioned(
            self._stream(spark, str(src / "*" / "*.parquet"), df.schema),
            table, keys=["event_id"], ts_col="ts", checkpoint_dir=ckpt)
        q.awaitTermination()
        files2 = sorted(glob.glob(f"{table}/**/*.parquet", recursive=True))
        assert files2 == files1
        assert [os.path.getmtime(f) for f in files2] == mtimes


    def test_file_uri_table_one_row_per_key(self, spark, tmp_path):
        # a file:// table is no local directory to os.path, which made
        # every micro-batch "bootstrap" again and append its rows
        from data_and_analytics_etl_spark.streaming.ops import (
            stream_merge_to_partitioned)
        src = tmp_path / "src"
        base = dt.datetime(2024, 3, 1, 10, 0, 0)
        cols = "event_id long, ts timestamp, value double"
        spark.createDataFrame(
            [(i, base + dt.timedelta(minutes=7 * i), float(i))
             for i in range(10)], cols) \
            .coalesce(1).write.parquet(str(src / "f1"))
        spark.createDataFrame(
            [(i, base + dt.timedelta(minutes=7 * i), 100.0 + i)
             for i in range(5)], cols) \
            .coalesce(1).write.parquet(str(src / "f2"))
        table = (tmp_path / "table").as_uri()
        schema = spark.read.parquet(str(src / "f1")).schema
        q = stream_merge_to_partitioned(
            self._stream(spark, str(src / "*" / "*.parquet"), schema),
            table, keys=["event_id"], ts_col="ts",
            checkpoint_dir=str(tmp_path / "ckpt"))
        q.awaitTermination()
        assert len(q.recentProgress) == 2   # two micro-batches
        got = {r.event_id: r.value
               for r in spark.read.parquet(table).collect()}
        assert spark.read.parquet(table).count() == 10
        assert got == {i: (100.0 + i if i < 5 else float(i))
                       for i in range(10)}


class TestStreamSketchSink:
    """foreachBatch incremental count-min maintenance: the streamed
    sketch must equal a batch build over everything streamed, exactly
    (counters are sums), across multiple micro-batches."""

    def test_streamed_sketch_equals_batch_build(self, spark, tmp_path):
        from data_and_analytics_etl_spark.operators.sketch import cms_build
        from data_and_analytics_etl_spark.streaming.ops import (
            stream_sketch_to_table)
        rows = [(i, i % 37) for i in range(3000)]
        df = spark.createDataFrame(rows, ["event_id", "key"])
        src = tmp_path / "src"
        # three files -> three micro-batches at maxFilesPerTrigger=1
        for part in range(3):
            (df.filter(F.col("event_id") % 3 == part).coalesce(1)
             .write.parquet(str(src / f"f{part}")))
        stream = (spark.readStream.schema("event_id long, key long")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(src / "*")))
        q = stream_sketch_to_table(
            stream, "key", str(tmp_path / "sketch"),
            str(tmp_path / "ckpt"), depth=4, width=512)
        q.awaitTermination(120)
        got = {(r.d, r.bucket): r.cnt for r in spark.read.parquet(
            str(tmp_path / "sketch" / "committed")).collect()}
        want = {(r.d, r.bucket): r.cnt
                for r in cms_build(df, "key", depth=4,
                                   width=512).collect()}
        assert got == want and sum(got.values()) == 4 * 3000

    def test_replayed_batch_is_skipped(self, spark, tmp_path):
        # simulate a post-commit replay: calling the already-committed
        # batch id again must not double-count
        import os

        from data_and_analytics_etl_spark.operators.sketch import cms_build
        from data_and_analytics_etl_spark.streaming.ops import (
            stream_sketch_to_table)
        rows = [(i, i % 11) for i in range(500)]
        df = spark.createDataFrame(rows, ["event_id", "key"])
        src = tmp_path / "src"
        df.coalesce(1).write.parquet(str(src / "f0"))
        stream = (spark.readStream.schema("event_id long, key long")
                  .parquet(str(src / "*")))
        q = stream_sketch_to_table(
            stream, "key", str(tmp_path / "sketch"),
            str(tmp_path / "ckpt"), depth=2, width=256)
        q.awaitTermination(120)
        marker = os.path.join(str(tmp_path / "sketch"), "_last_batch")
        assert os.path.isfile(marker)
        # second availableNow run over the same source: engine replays
        # nothing new; even a forced re-run of batch 0 short-circuits on
        # the marker
        q2 = stream_sketch_to_table(
            stream, "key", str(tmp_path / "sketch"),
            str(tmp_path / "ckpt"), depth=2, width=256)
        q2.awaitTermination(120)
        got = {(r.d, r.bucket): r.cnt for r in spark.read.parquet(
            str(tmp_path / "sketch" / "committed")).collect()}
        want = {(r.d, r.bucket): r.cnt
                for r in cms_build(df, "key", depth=2,
                                   width=256).collect()}
        assert got == want


class TestTransformWithStateTwin:
    def test_tws_equals_batch_aggregate_or_skips(self, spark, sf_dir):
        """transformWithState twin == batch aggregate — runnable only
        where protobuf (Spark's TWS worker protocol) is installed; the
        operator itself must always construct."""
        import pytest

        from data_and_analytics_etl_spark.streaming.ops import (
            events_stream, run_stream_to_table, stateful_user_stats_tws)
        stream = stateful_user_stats_tws(events_stream(spark, sf_dir))
        assert stream.isStreaming  # construction is dependency-free
        pytest.importorskip(
            "google.protobuf",
            reason="transformWithState worker protocol needs protobuf")
        out = run_stream_to_table(stream, output_mode="update")
        got = {r.user_id: (r.n_events, r.sum_value)
               for r in out.collect()}
        ev = load_table(spark, sf_dir, "events")
        want = {r.user_id: (r.n, r.s) for r in
                ev.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("value").cast("decimal(18,2)"))
                     .cast("double").alias("s")).collect()}
        assert got == want


class TestRestStreamSource:
    """spark.readStream.format('rest'): the reference's checkpointed
    poll loop on Structured Streaming's native offset contract."""

    def test_drains_window_exactly_once(self, spark, tmp_path):
        import time

        from data_and_analytics_etl_spark.etl.rest_datasource import (
            register)
        register(spark)
        df = (spark.readStream.format("rest")
              .option("transport", "synthetic")
              .option("start", 0).option("end", 2500)
              .option("rows_per_batch", 900).load())
        q = (df.writeStream.format("parquet")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(processingTime="1 second").start())
        deadline = time.time() + 90
        while time.time() < deadline:
            time.sleep(1)
            try:
                if (spark.read.parquet(str(tmp_path / "out"))
                        .count() >= 2500):
                    break
            except Exception:  # noqa: BLE001 — sink dir not created yet
                continue
        q.stop()
        got = spark.read.parquet(str(tmp_path / "out"))
        assert got.count() == 2500
        assert got.select("id").distinct().count() == 2500
        # values match the batch scan of the same window (same transport)
        batch = (spark.read.format("rest")
                 .option("transport", "synthetic")
                 .option("start", 0).option("end", 2500).load())
        assert (got.exceptAll(batch).count() == 0
                and batch.exceptAll(got).count() == 0)

    def test_request_budget(self):
        # driver-side: a transport that always returns a cursor must
        # stop at request_limit calls, as the batch reader does
        from data_and_analytics_etl_spark.etl.rest_datasource import (
            RestStreamReader)
        calls = []

        def endless(params):
            calls.append(params)
            return {"meta": {"next": "more"},
                    "objects": [{"id": params["lo"], "k": "v"}]}
        reader = RestStreamReader({"request_limit": "5"})
        reader._transport = endless
        with pytest.raises(RuntimeError, match="request budget"):
            reader.read({"pos": 0})
        assert len(calls) == 5

    def test_offset_resume_pulls_only_the_delta(self, spark, tmp_path):
        from data_and_analytics_etl_spark.etl.rest_datasource import (
            register)
        register(spark)

        def run(end):
            df = (spark.readStream.format("rest")
                  .option("transport", "synthetic")
                  .option("start", 0).option("end", end)
                  .option("rows_per_batch", 1000).load())
            q = (df.writeStream.format("parquet")
                 .option("path", str(tmp_path / "out"))
                 .option("checkpointLocation", str(tmp_path / "ck"))
                 .trigger(availableNow=True).start())
            q.awaitTermination(90)

        run(1000)   # first run drains its prefetched batch: [0, 1000)
        n1 = spark.read.parquet(str(tmp_path / "out")).count()
        assert n1 == 1000
        # the feed grows; the SAME checkpoint resumes past the committed
        # offset — the reference's read-manifest -> pull-delta semantics
        run(1800)
        got = spark.read.parquet(str(tmp_path / "out"))
        assert got.count() == 1800
        assert got.select("id").distinct().count() == 1800


class TestStreamQualityGate:
    def test_splits_good_and_quarantine_exactly(self, spark, tmp_path):
        from data_and_analytics_etl_spark.streaming.ops import (
            events_stream, stream_quality_gate)
        stream = events_stream(spark, os.environ.get(
            "TEST_SF_DIR", "/root/testdata/sf0.001"))
        checks = {
            "value_nonneg": F.col("value") >= 0,
            "known_type": F.col("event_type").isin(
                "view", "click", "purchase", "error", "signup"),
            "has_user": F.col("user_id").isNotNull(),
        }
        q = stream_quality_gate(
            stream, checks, str(tmp_path / "good"),
            str(tmp_path / "bad"), str(tmp_path / "ck"))
        q.awaitTermination(120)
        ev = load_table(spark, os.environ.get(
            "TEST_SF_DIR", "/root/testdata/sf0.001"), "events")
        good = spark.read.parquet(str(tmp_path / "good"))
        n_expected_good = ev.filter(
            (F.col("value") >= 0) & F.col("event_type").isin(
                "view", "click", "purchase", "error", "signup")
            & F.col("user_id").isNotNull()).count()
        assert good.count() == n_expected_good
        try:
            bad = spark.read.parquet(str(tmp_path / "bad"))
            n_bad = bad.count()
            # every quarantined row names at least one failed check
            assert bad.filter(F.length("__violated") == 0).count() == 0
        except Exception:  # noqa: BLE001 — no violations: dir absent
            n_bad = 0
        assert good.count() + n_bad == ev.count()

    def test_violation_labels_are_accurate(self, spark, tmp_path):
        import datetime as dt2

        from data_and_analytics_etl_spark.streaming.ops import (
            stream_quality_gate)
        t0 = dt2.datetime(2024, 1, 1)
        rows = [(1, t0, 1, "view", 5.0, "{}"),
                (2, t0, None, "view", -3.0, "{}"),
                (3, t0, 2, "bogus", 1.0, "{}")]
        src = tmp_path / "src"
        (spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
         .coalesce(1).write.parquet(str(src)))
        stream = (spark.readStream
                  .schema("event_id long, ts timestamp, user_id long, "
                          "event_type string, value double, props string")
                  .parquet(str(src)))
        checks = {"nonneg": F.col("value") >= 0,
                  "known": F.col("event_type").isin("view"),
                  "user": F.col("user_id").isNotNull()}
        q = stream_quality_gate(stream, checks, str(tmp_path / "g"),
                                str(tmp_path / "b"), str(tmp_path / "c"))
        q.awaitTermination(120)
        good = [r.event_id for r in
                spark.read.parquet(str(tmp_path / "g")).collect()]
        bad = {r.event_id: r["__violated"] for r in
               spark.read.parquet(str(tmp_path / "b"))
               .select("event_id", F.col("__violated")).collect()}
        assert good == [1]
        assert set(bad[2].split(",")) == {"nonneg", "user"}
        assert bad[3] == "known"


class TestStreamStreamOuterJoin:
    def test_unmatched_views_emit_nulls_after_watermark(self, spark,
                                                        tmp_path):
        import time

        from data_and_analytics_etl_spark.streaming.ops import (
            run_stream_to_table, stream_stream_interval_join)
        cols = ("event_id long, ts timestamp, user_id long, "
                "event_type string")
        t0 = dt.datetime(2024, 1, 1)
        views = [(i, t0 + dt.timedelta(minutes=i), 1, "view")
                 for i in range(5)]
        buys = [(100, t0 + dt.timedelta(seconds=30), 1, "purchase"),
                (102, t0 + dt.timedelta(minutes=2, seconds=30), 1,
                 "purchase")]
        (spark.createDataFrame(views + buys, cols).coalesce(1)
         .write.parquet(str(tmp_path / "data" / "f1")))
        for i, day in enumerate((dt.datetime(2024, 1, 1, 6),
                                 dt.datetime(2024, 1, 1, 12)), start=1):
            time.sleep(0.05)
            sent = [(-(2 * i - 1), day, -1, "view"),
                    (-(2 * i), day, -1, "purchase")]
            (spark.createDataFrame(sent, cols).coalesce(1)
             .write.parquet(str(tmp_path / "data" / f"f{i + 1}")))

        def src():
            return (spark.readStream.schema(cols)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(str(tmp_path / "data" / "*")))

        out = run_stream_to_table(
            stream_stream_interval_join(
                src().filter(F.col("event_type") == "view"),
                src().filter(F.col("event_type") == "purchase"),
                how="left_outer"),
            output_mode="append")
        rows = sorted((r.view_id, r.purchase_id)
                      for r in out.filter("user_id >= 0").collect())
        # views 0-2 match inside 10 min (0 matches both purchases);
        # views 3-4 have no later purchase and MUST still emit
        assert rows == [(0, 100), (0, 102), (1, 102), (2, 102),
                        (3, None), (4, None)]

    def test_state_partitions_sizes_stores_and_restores_conf(
            self, spark, tmp_path):
        # run_stream_to_table(state_partitions=) pins the streaming
        # query's state store instance count (shuffle partitions at
        # first start) — results must be partitioning-invariant and
        # the session conf must come back restored (r13 state-sizing
        # hook for the stream-stream join replay probes).
        from data_and_analytics_etl_spark.streaming.ops import (
            run_stream_to_table, stream_stream_interval_join)
        cols = ("event_id long, ts timestamp, user_id long, "
                "event_type string")
        t0 = dt.datetime(2024, 1, 1)
        rows = ([(i, t0 + dt.timedelta(minutes=i), 1 + i % 3, "view")
                 for i in range(12)]
                + [(100 + i, t0 + dt.timedelta(minutes=i, seconds=30),
                    1 + i % 3, "purchase") for i in range(12)])
        (spark.createDataFrame(
            spark.sparkContext.parallelize(rows, numSlices=1), cols)
         .write.parquet(str(tmp_path / "data" / "f1")))

        def run(sp):
            src = (spark.readStream.schema(cols)
                   .parquet(str(tmp_path / "data" / "*")))
            out = run_stream_to_table(
                stream_stream_interval_join(
                    src.filter(F.col("event_type") == "view"),
                    src.filter(F.col("event_type") == "purchase")),
                output_mode="append", state_partitions=sp)
            return sorted((r.view_id, r.purchase_id)
                          for r in out.collect())

        before = spark.conf.get("spark.sql.shuffle.partitions")
        got_sized = run(2)
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        assert got_sized == run(None)
        assert got_sized  # non-vacuous: the join matched something

    def test_derived_state_partitions_same_result(self, spark, tmp_path):
        # r14: est_state_rows derives the store count via the documented
        # formula (ceil(rows / STATE_ROWS_PER_STORE), clamped to the
        # session conf) — derived sizing must be output-identical to an
        # explicit count and to the session default, and the formula
        # itself must hit its clamps.
        from data_and_analytics_etl_spark.streaming import ops
        assert ops.derive_state_partitions(spark, 1) == 1
        assert ops.derive_state_partitions(
            spark, 25_000) == 3  # ceil(25k/10k)
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert ops.derive_state_partitions(spark, 10**9) == cap

        cols = ("event_id long, ts timestamp, user_id long, "
                "event_type string")
        t0 = dt.datetime(2024, 1, 1)
        rows = ([(i, t0 + dt.timedelta(minutes=i), 1 + i % 3, "view")
                 for i in range(12)]
                + [(100 + i, t0 + dt.timedelta(minutes=i, seconds=30),
                    1 + i % 3, "purchase") for i in range(12)])
        (spark.createDataFrame(
            spark.sparkContext.parallelize(rows, numSlices=1), cols)
         .write.parquet(str(tmp_path / "data" / "f1")))

        def run(**kw):
            src = (spark.readStream.schema(cols)
                   .parquet(str(tmp_path / "data" / "*")))
            out = ops.run_stream_to_table(
                ops.stream_stream_interval_join(
                    src.filter(F.col("event_type") == "view"),
                    src.filter(F.col("event_type") == "purchase")),
                output_mode="append", **kw)
            return sorted((r.view_id, r.purchase_id)
                          for r in out.collect())

        derived = run(est_state_rows=24)   # -> 1 store/partition group
        assert derived == run(state_partitions=8)
        assert derived == run()
        assert derived

    def test_rejects_unknown_join_type(self, spark, sf_dir):
        # full_outer graduated to a supported type in r13; right_outer
        # (and anything else) must still refuse loudly
        import pytest

        from data_and_analytics_etl_spark.streaming.ops import (
            events_stream, stream_stream_interval_join)
        s = events_stream(spark, sf_dir)
        for bad in ("right_outer", "left_semi", "cross"):
            with pytest.raises(ValueError, match="unsupported"):
                stream_stream_interval_join(s, s, how=bad)

    def test_full_outer_emits_both_sides_unmatched(self, spark,
                                                   tmp_path):
        """r13 (r12 verdict task 4d): unmatched VIEWS emit with NULL
        purchase columns AND unmatched PURCHASES emit with NULL view
        columns once the watermark passes their windows — the
        left_outer scenario plus an early purchase no view precedes."""
        import time

        from data_and_analytics_etl_spark.streaming.ops import (
            run_stream_to_table, stream_stream_interval_join)
        cols = ("event_id long, ts timestamp, user_id long, "
                "event_type string")
        t0 = dt.datetime(2024, 1, 1)
        views = [(i, t0 + dt.timedelta(hours=1, minutes=i), 1, "view")
                 for i in range(3)]
        buys = [
            # BEFORE every view — matches nothing, must still emit
            (100, t0, 1, "purchase"),
            # inside view 0-2's 10-minute windows
            (102, t0 + dt.timedelta(hours=1, minutes=2, seconds=30), 1,
             "purchase")]
        (spark.createDataFrame(views + buys, cols).coalesce(1)
         .write.parquet(str(tmp_path / "data" / "f1")))
        for i, day in enumerate((dt.datetime(2024, 1, 1, 6),
                                 dt.datetime(2024, 1, 1, 12)), start=1):
            time.sleep(0.05)
            sent = [(-(2 * i - 1), day, -1, "view"),
                    (-(2 * i), day, -1, "purchase")]
            (spark.createDataFrame(sent, cols).coalesce(1)
             .write.parquet(str(tmp_path / "data" / f"f{i + 1}")))

        def src():
            return (spark.readStream.schema(cols)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(str(tmp_path / "data" / "*")))

        out = run_stream_to_table(
            stream_stream_interval_join(
                src().filter(F.col("event_type") == "view"),
                src().filter(F.col("event_type") == "purchase"),
                how="full_outer"),
            output_mode="append")
        rows = sorted(((r.view_id if r.view_id is not None else -99),
                       (r.purchase_id if r.purchase_id is not None
                        else -99))
                      for r in out.filter("user_id >= 0").collect())
        # purchase 100 unmatched (view side NULL); views 0-2 match
        # 102... view 0,1,2 all within 10 min BEFORE 102? 102 is at
        # +2.5 min after view 0 (rank: views at +0,+1,+2 min): all 3
        # match. No unmatched views here; the left_outer test covers
        # that side.
        assert rows == [(-99, 100), (0, 102), (1, 102), (2, 102)]


class TestWindowedDistinctUsers:
    def test_equals_batch_count_distinct_any_arrival_order(self, spark,
                                                           tmp_path):
        from data_and_analytics_etl_spark.streaming.ops import (
            run_stream_to_table, windowed_distinct_users)
        cols = ("event_id long, ts timestamp, user_id long, "
                "event_type string")
        t0 = dt.datetime(2024, 1, 1)
        # duplicates across buckets and shuffled arrival order
        rows = [(i, t0 + dt.timedelta(minutes=m), u, e)
                for i, (m, u, e) in enumerate(
                    [(5, 1, "view"), (10, 1, "view"), (70, 1, "view"),
                     (15, 2, "view"), (20, 2, "click"), (75, 2, "view"),
                     (25, 1, "click"), (30, 1, "click")])]
        import random
        random.Random(3).shuffle(rows)
        half = len(rows) // 2
        (spark.createDataFrame(rows[:half], cols).coalesce(1)
         .write.parquet(str(tmp_path / "d" / "f1")))
        (spark.createDataFrame(rows[half:], cols).coalesce(1)
         .write.parquet(str(tmp_path / "d" / "f2")))
        stream = (spark.readStream.schema(cols)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(tmp_path / "d" / "*")))
        out = run_stream_to_table(windowed_distinct_users(stream),
                                  output_mode="complete")
        got = {(r.window.start.hour, r.event_type): r.n_distinct
               for r in out.collect()}
        assert got == {(0, "view"): 2, (0, "click"): 2,
                       (1, "view"): 2}


class TestStreamingEndToEnd:
    """Round-6 streaming pieces composed: the REST streaming source
    feeds the quality gate, whose good/quarantine parquet sinks must
    reconcile exactly against the batch REST scan of the same window."""

    def test_rest_stream_through_quality_gate(self, spark, tmp_path):
        import time

        from data_and_analytics_etl_spark.etl.rest_datasource import (
            register)
        from data_and_analytics_etl_spark.streaming.ops import (
            stream_quality_gate)
        register(spark)
        stream = (spark.readStream.format("rest")
                  .option("transport", "synthetic")
                  .option("start", 0).option("end", 2400)
                  .option("rows_per_batch", 800).load())
        checks = {"k_under_90": F.col("k") < 90,
                  "id_nonneg": F.col("id") >= 0}
        q = stream_quality_gate(
            stream, checks, str(tmp_path / "good"),
            str(tmp_path / "bad"), str(tmp_path / "ck"))
        q.awaitTermination(120)
        # availableNow drains one prefetched batch per run (the simple
        # stream-reader contract) — run until the offset catches up
        deadline = time.time() + 120
        while time.time() < deadline:
            got = 0
            for p in ("good", "bad"):
                try:
                    got += spark.read.parquet(
                        str(tmp_path / p)).count()
                except Exception:  # noqa: BLE001 — sink not created yet
                    pass
            if got >= 2400:
                break
            q = stream_quality_gate(
                stream, checks, str(tmp_path / "good"),
                str(tmp_path / "bad"), str(tmp_path / "ck"))
            q.awaitTermination(120)
        batch = (spark.read.format("rest")
                 .option("transport", "synthetic")
                 .option("start", 0).option("end", 2400).load()
                 .cache())
        good = spark.read.parquet(str(tmp_path / "good"))
        bad = spark.read.parquet(str(tmp_path / "bad"))
        want_good = batch.filter("k < 90")
        assert good.count() == want_good.count()
        assert good.select("id", "k").exceptAll(
            want_good.select("id", "k")).count() == 0
        assert bad.count() == batch.count() - want_good.count()
        # every quarantined row names exactly the failed check
        labels = {r["__violated"] for r in bad.collect()}
        assert labels == {"k_under_90"}


class TestVersionedStreamSink:
    def test_each_batch_is_a_version_and_deltas_reconstruct(
            self, spark, sf_dir, tmp_path):
        from data_and_analytics_etl_spark.etl.versioning import (
            list_versions, read_changes, read_version)
        from data_and_analytics_etl_spark.streaming.ops import (
            events_stream, stream_to_versioned_sink)
        dest = str(tmp_path / "tbl")
        ckpt = str(tmp_path / "ckpt")
        stream = events_stream(spark, sf_dir)
        q = stream_to_versioned_sink(stream, dest, "ts", ckpt)
        q.awaitTermination()
        versions = list_versions(dest)
        assert versions, "no version committed"
        total = read_version(spark, dest, versions[-1]).count()
        batch = load_table(spark, sf_dir, "events")
        assert total == batch.count()
        # deltas between consecutive versions partition the table
        n = read_version(spark, dest, versions[0]).count()
        for a, b in zip(versions, versions[1:]):
            n += read_changes(spark, dest, a, b).count()
        assert n == total
        # re-running against the same checkpoint adds no version
        q2 = stream_to_versioned_sink(
            events_stream(spark, sf_dir), dest, "ts", ckpt)
        q2.awaitTermination()
        assert list_versions(dest) == versions


class TestStreamCdcApply:
    """Cross-batch CDC semantics through the partitioned sink."""

    @staticmethod
    def _write_batch(spark, src_dir, name, rows):
        import pyspark.sql.functions as F
        df = spark.createDataFrame(
            rows, "user_id long, seq long, op string, value double, "
                  "ts timestamp")
        df.coalesce(1).write.mode("overwrite").parquet(
            f"{src_dir}/.tmp_{name}")
        # move the single part file in as one stable-named file so each
        # call lands exactly one new file for the stream to pick up
        import glob
        import shutil
        part = glob.glob(f"{src_dir}/.tmp_{name}/part-*.parquet")[0]
        shutil.move(part, f"{src_dir}/{name}.parquet")
        shutil.rmtree(f"{src_dir}/.tmp_{name}")

    def _run(self, spark, src_dir, dest, ckpt, schema):
        from data_and_analytics_etl_spark.streaming.ops import \
            stream_cdc_to_partitioned
        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = stream_cdc_to_partitioned(stream, dest, ["user_id"], "ts",
                                      ckpt)
        q.awaitTermination()

    @staticmethod
    def _live(spark, dest):
        from data_and_analytics_etl_spark.streaming.ops import \
            read_cdc_table
        return {r.user_id: r.value
                for r in read_cdc_table(spark, dest).collect()}

    def test_cross_batch_delete_and_reinsert(self, spark, tmp_path):
        import datetime as dt
        src = str(tmp_path / "src"); dest = str(tmp_path / "tbl")
        ckpt = str(tmp_path / "ckpt")
        import os
        os.makedirs(src)
        t = dt.datetime(2024, 1, 1, 12)
        # batch 1: users 1..3 upsert; user 4 delete (tombstone on empty)
        self._write_batch(spark, src, "b1", [
            (1, 10, "upsert", 1.0, t), (2, 11, "upsert", 2.0, t),
            (3, 12, "upsert", 3.0, t), (4, 13, "delete", None, t)])
        schema = spark.read.parquet(f"{src}/b1.parquet").schema
        self._run(spark, src, dest, ckpt, schema)
        assert self._live(spark, dest) == {1: 1.0, 2: 2.0, 3: 3.0}
        # batch 2: delete user 2; update user 3; re-insert user 4;
        # within-batch delete-then-upsert for user 5 (upsert wins by seq)
        self._write_batch(spark, src, "b2", [
            (2, 20, "delete", None, t), (3, 21, "upsert", 33.0, t),
            (4, 22, "upsert", 4.0, t),
            (5, 23, "delete", None, t), (5, 24, "upsert", 5.0, t)])
        self._run(spark, src, dest, ckpt, schema)
        assert self._live(spark, dest) == {1: 1.0, 3: 33.0, 4: 4.0,
                                           5: 5.0}

    def test_seq_tie_upsert_beats_delete(self, spark, tmp_path):
        import datetime as dt
        import os
        src = str(tmp_path / "src"); dest = str(tmp_path / "tbl")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        t = dt.datetime(2024, 1, 1, 12)
        self._write_batch(spark, src, "b1", [
            (1, 10, "delete", None, t), (1, 10, "upsert", 1.5, t)])
        schema = spark.read.parquet(f"{src}/b1.parquet").schema
        self._run(spark, src, dest, ckpt, schema)
        assert self._live(spark, dest) == {1: 1.5}

    def test_out_of_order_cross_batch_update_loses(self, spark, tmp_path):
        """A later BATCH carrying a lower seq must not overwrite the
        higher-seq row already applied: the stored __seq, not the
        micro-batch boundary, is the change order (the r7 advice's
        silent-overwrite scenario)."""
        import datetime as dt
        import os
        src = str(tmp_path / "src"); dest = str(tmp_path / "tbl")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        t = dt.datetime(2024, 1, 1, 12)
        self._write_batch(spark, src, "b1", [(1, 50, "upsert", 5.0, t)])
        schema = spark.read.parquet(f"{src}/b1.parquet").schema
        self._run(spark, src, dest, ckpt, schema)
        # seq 40 arrives after seq 50 was applied -> must lose
        self._write_batch(spark, src, "b2", [(1, 40, "upsert", 4.0, t)])
        self._run(spark, src, dest, ckpt, schema)
        assert self._live(spark, dest) == {1: 5.0}

    def test_out_of_order_upsert_does_not_resurrect(self, spark,
                                                    tmp_path):
        """A deleted key must stay deleted when a LOWER-seq upsert for
        it arrives in a later batch: the tombstone carries the delete's
        seq and wins the merge."""
        import datetime as dt
        import os
        src = str(tmp_path / "src"); dest = str(tmp_path / "tbl")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        t = dt.datetime(2024, 1, 1, 12)
        self._write_batch(spark, src, "b1", [
            (1, 10, "upsert", 1.0, t), (2, 30, "delete", None, t)])
        schema = spark.read.parquet(f"{src}/b1.parquet").schema
        self._run(spark, src, dest, ckpt, schema)
        assert self._live(spark, dest) == {1: 1.0}
        # late replay: seq 20 upsert for the key deleted at seq 30
        self._write_batch(spark, src, "b2", [(2, 20, "upsert", 2.0, t)])
        self._run(spark, src, dest, ckpt, schema)
        assert self._live(spark, dest) == {1: 1.0}
        # but a HIGHER-seq upsert legitimately re-inserts
        self._write_batch(spark, src, "b3", [(2, 40, "upsert", 9.0, t)])
        self._run(spark, src, dest, ckpt, schema)
        assert self._live(spark, dest) == {1: 1.0, 2: 9.0}

    def test_tombstone_payload_is_nulled(self, spark, tmp_path):
        """GDPR posture: the tombstone row retains key/ts/seq only —
        the deleted payload must not survive in the raw files."""
        import datetime as dt
        import os
        src = str(tmp_path / "src"); dest = str(tmp_path / "tbl")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        t = dt.datetime(2024, 1, 1, 12)
        self._write_batch(spark, src, "b1", [(1, 10, "upsert", 1.0, t)])
        schema = spark.read.parquet(f"{src}/b1.parquet").schema
        self._run(spark, src, dest, ckpt, schema)
        self._write_batch(spark, src, "b2", [(1, 20, "delete", 7.7, t)])
        self._run(spark, src, dest, ckpt, schema)
        raw = spark.read.parquet(dest).collect()
        assert len(raw) == 1 and raw[0]["__deleted"] is True
        assert raw[0]["value"] is None
        assert self._live(spark, dest) == {}


    def test_file_uri_table_one_row_per_key(self, spark, tmp_path):
        # two micro-batches into a file:// table: the second must merge,
        # not append a second row per updated key
        src = str(tmp_path / "src")
        dest = (tmp_path / "tbl").as_uri()
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        t = dt.datetime(2024, 1, 1, 12)
        self._write_batch(spark, src, "b1", [
            (i, 10, "upsert", float(i), t) for i in range(10)])
        schema = spark.read.parquet(f"{src}/b1.parquet").schema
        self._run(spark, src, dest, ckpt, schema)
        self._write_batch(spark, src, "b2", [
            (i, 20, "upsert", 100.0 + i, t) for i in range(5)])
        self._run(spark, src, dest, ckpt, schema)
        assert spark.read.parquet(dest).count() == 10
        assert self._live(spark, dest) == {
            i: (100.0 + i if i < 5 else float(i)) for i in range(10)}


class TestNoveltyFilter:
    def test_exact_dup_across_horizon_filtered(self, spark):
        # doc 10 repeats historical doc 1's content with different
        # punctuation/case -> same normalized fingerprint -> filtered
        import pyspark.sql.functions as F
        from data_and_analytics_etl_spark.operators.text import fingerprint
        from data_and_analytics_etl_spark.streaming.ops import \
            novelty_filter
        hist_docs = spark.createDataFrame(
            [(1, "Hello world, again!")], "doc_id long, text string")
        hist = hist_docs.select(
            fingerprint(F.col("text")).alias("fingerprint")).distinct()
        new = spark.createDataFrame(
            [(10, "hello   WORLD again"), (11, "genuinely new text")],
            "doc_id long, text string")
        got = [r.doc_id for r in novelty_filter(new, hist).collect()]
        assert got == [11]


def test_trending_topk_multibatch_late_data_sf01(spark, tmp_path):
    """r8 verdict task 7: the trending-top-k execution twin at sf0.1 —
    the streamable half (hourly tumbling counts, complete mode) run
    over >=2 micro-batches with genuinely LATE arrivals (the earliest
    half of the corpus lands in the SECOND batch), then the bounded
    batch rank window — must equal the all-at-once batch computation.
    Complete-mode counts hold all window state, so out-of-order
    arrival must not change a single rank."""
    import uuid

    sf01 = "/root/testdata/sf0.1"
    ev = (load_table(spark, sf01, "events")
          .select("event_id", "ts", "event_type"))
    median_ts = ev.agg(
        F.expr("percentile_approx(ts, 0.5)").alias("m")).collect()[0]["m"]
    stream_dir = tmp_path / "stream"
    os.makedirs(stream_dir)

    def land(name, frame):
        stage = tmp_path / "stage" / name
        frame.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = [p for p in os.listdir(stage) if p.endswith(".parquet")][0]
        os.rename(stage / part, stream_dir / f"{name}.parquet")
        time.sleep(1.1)  # distinct mtimes: deterministic file order

    # batch 1 = the LATER half; batch 2 = the earlier half arriving
    # late; batch 3 = a replay-tail slice (also late)
    land("b1", ev.filter(F.col("ts") >= median_ts))
    land("b2", ev.filter((F.col("ts") < median_ts)
                         & (F.col("event_id") % 7 != 0)))
    land("b3", ev.filter((F.col("ts") < median_ts)
                         & (F.col("event_id") % 7 == 0)))

    st = (spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(str(stream_dir)))
    counts = (st.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
              .agg(F.count(F.lit(1)).alias("n"))
              .select(F.col("w.start").alias("window_start"),
                      "event_type", "n"))
    name = f"trend_{uuid.uuid4().hex[:8]}"
    q = (counts.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches >= 2, f"expected >=2 micro-batches, got {n_batches}"

    from pyspark.sql import Window
    rk = Window.partitionBy("window_start").orderBy(F.desc("n"),
                                                    F.asc("event_type"))

    def topk(frame):
        return _rows(frame.withColumn("rank", F.row_number().over(rk))
                     .filter(F.col("rank") <= 3),
                     "window_start", "rank", "event_type", "n")

    got = topk(spark.table(name))
    want = topk(ev.groupBy(F.window("ts", "1 hour").alias("w"),
                           "event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.col("w.start").alias("window_start"),
                        "event_type", "n"))
    assert got == want and len(got) > 0
