"""Analytics-operator invariants (funnel, binning, rebalance, gap fill,
outliers) at sf0.001 — exact-value parity is covered by the DuckDB
oracles in queries/analytics.py; these pin the semantic contracts the
oracle can't see (monotonicity, approx-path agreement, bounds).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from data_and_analytics_etl_spark.catalog import load_table
from data_and_analytics_etl_spark.operators.binning import (
    fixed_histogram, quantile_bucket, quantile_bucket_approx)
from data_and_analytics_etl_spark.operators.funnel import (
    funnel_counts, funnel_stages)
from data_and_analytics_etl_spark.operators.profile import outliers_zscore
from data_and_analytics_etl_spark.operators.sampling import rebalance_sample
from data_and_analytics_etl_spark.operators.timeseries import (
    gap_fill, resample)


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


class TestFunnel:
    def test_stage_timestamps_strictly_increase(self, spark, sf_dir):
        out = funnel_stages(_events(spark, sf_dir), "user_id", "ts",
                            "event_type",
                            ["view", "click", "purchase"]).cache()
        bad = out.filter(
            (F.col("t2").isNotNull() & (F.col("t2") <= F.col("t1")))
            | (F.col("t3").isNotNull() & (F.col("t3") <= F.col("t2"))))
        assert bad.count() == 0
        # stage k reached implies stage k-1 reached (no gaps)
        holes = out.filter(F.col("t3").isNotNull() & F.col("t2").isNull())
        assert holes.count() == 0

    def test_counts_monotone_decreasing(self, spark, sf_dir):
        per_user = funnel_stages(_events(spark, sf_dir), "user_id", "ts",
                                 "event_type",
                                 ["view", "click", "purchase"])
        row = funnel_counts(per_user, 3).collect()[0]
        assert row["reached_1"] >= row["reached_2"] >= row["reached_3"]
        assert row["reached_1"] == per_user.count()

    def test_rejects_single_stage(self, spark, sf_dir):
        import pytest
        with pytest.raises(ValueError):
            funnel_stages(_events(spark, sf_dir), "user_id", "ts",
                          "event_type", ["view"])


class TestBinning:
    def test_ntile_buckets_are_balanced_and_ordered(self, spark, sf_dir):
        o = load_table(spark, sf_dir, "orders")
        b = quantile_bucket(o, "o_totalprice", 10, "o_orderkey")
        sizes = {r["bucket"]: r["n"] for r in
                 b.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
        assert set(sizes) == set(range(1, 11))
        assert max(sizes.values()) - min(sizes.values()) <= 1
        # bucket ranges must not overlap: max(bucket k) <= min(bucket k+1)
        edges = (b.groupBy("bucket")
                 .agg(F.min("o_totalprice").alias("lo"),
                      F.max("o_totalprice").alias("hi"))
                 .orderBy("bucket").collect())
        for prev, nxt in zip(edges, edges[1:]):
            assert prev["hi"] <= nxt["lo"]

    def test_approx_agrees_with_exact_within_one_bucket(self, spark, sf_dir):
        o = load_table(spark, sf_dir, "orders")
        exact = quantile_bucket(o, "o_totalprice", 10, "o_orderkey") \
            .select("o_orderkey", F.col("bucket").alias("eb"))
        approx = quantile_bucket_approx(o, "o_totalprice", 10) \
            .select("o_orderkey", F.col("bucket").alias("ab"))
        joined = exact.join(approx, "o_orderkey")
        off = joined.filter(F.abs(F.col("eb") - F.col("ab")) > 1).count()
        assert off == 0, "approx bucket deviates >1 from exact"

    def test_histogram_covers_all_rows_and_clamps(self, spark, sf_dir):
        o = load_table(spark, sf_dir, "orders")
        h = fixed_histogram(o, "o_totalprice", 100000.0, 200000.0, 4)
        rows = h.collect()
        assert sum(r["n"] for r in rows) == o.count()
        assert all(0 <= r["bucket"] <= 3 for r in rows)


class TestRebalance:
    def test_strata_shrink_toward_smallest(self, spark, sf_dir):
        d = load_table(spark, sf_dir, "documents")
        before = {r["lang"]: r["n"] for r in
                  d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        after = {r["lang"]: r["n"] for r in
                 rebalance_sample(d, "doc_id", "lang")
                 .groupBy("lang").agg(F.count("*").alias("n")).collect()}
        mn = min(before.values())
        for lang, n_before in before.items():
            n_after = after.get(lang, 0)
            assert n_after <= n_before
            if n_before == mn:  # smallest stratum is kept whole
                assert n_after == n_before
        # spread after is tighter than before (or was already equal)
        if max(before.values()) > mn:
            assert (max(after.values()) - min(after.values())
                    < max(before.values()) - mn)

    def test_membership_is_deterministic(self, spark, sf_dir):
        d = load_table(spark, sf_dir, "documents")
        a = {r["doc_id"] for r in
             rebalance_sample(d, "doc_id", "lang").collect()}
        b = {r["doc_id"] for r in
             rebalance_sample(d.repartition(7), "doc_id", "lang").collect()}
        assert a == b


class TestGapFill:
    def test_fill_carries_last_observation(self, spark, sf_dir):
        ev = _events(spark, sf_dir)
        r = resample(ev, key="event_type", ts_col="ts",
                     interval="15 minutes", value_col="value")
        out = gap_fill(r, key="event_type").cache()
        # every non-gap bucket: filled == raw
        mism = out.filter(F.col("sum_value").isNotNull()
                          & (F.col("sum_value_filled")
                             != F.col("sum_value"))).count()
        assert mism == 0
        # gap buckets after the first observation are filled
        from pyspark.sql import Window
        w = (Window.partitionBy("event_type").orderBy("bucket")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        seen = out.withColumn(
            "__any", F.count("sum_value").over(w))
        unfilled = seen.filter((F.col("__any") > 0)
                               & F.col("sum_value_filled").isNull())
        assert unfilled.count() == 0


class TestOutliers:
    def test_flagged_rows_are_beyond_threshold(self, spark, sf_dir):
        ev = _events(spark, sf_dir)
        out = outliers_zscore(ev, "value", "event_type", z=2.0).cache()
        assert out.count() > 0  # heavy-tailed values guarantee outliers
        assert out.filter(F.abs(F.col("zscore")) < 2.0).count() == 0

    def test_tighter_threshold_flags_fewer(self, spark, sf_dir):
        ev = _events(spark, sf_dir)
        n2 = outliers_zscore(ev, "value", "event_type", z=2.0).count()
        n3 = outliers_zscore(ev, "value", "event_type", z=3.0).count()
        assert n3 <= n2


class TestLinkage:
    def test_pairs_are_ordered_and_within_distance(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.linkage import (
            blocked_fuzzy_pairs, first_token)
        p = load_table(spark, sf_dir, "part")
        pairs = blocked_fuzzy_pairs(p, "p_name", first_token("value"),
                                    3).cache()
        assert pairs.filter(F.col("value_a") >= F.col("value_b")).count() == 0
        assert pairs.filter((F.col("dist") <= 0)
                            | (F.col("dist") > 3)).count() == 0

    def test_planted_near_duplicate_is_found(self, spark):
        from data_and_analytics_etl_spark.operators.linkage import (
            blocked_fuzzy_pairs, first_token)
        df = spark.createDataFrame(
            [("acme corp",), ("acme corp.",), ("acme korp",),
             ("globex inc",), ("initech llc",)], ["name"])
        got = {(r["value_a"], r["value_b"]) for r in
               blocked_fuzzy_pairs(df, "name", first_token("value"),
                                   2).collect()}
        assert ("acme corp", "acme corp.") in got
        assert ("acme corp", "acme korp") in got
        assert not any("globex" in a or "globex" in b for a, b in got)


class TestLosslessBandLinkage:
    def test_equals_brute_force_on_dictionary(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.linkage import (
            blocked_fuzzy_pairs, edit_distance_pairs_banded)
        p = load_table(spark, sf_dir, "part")
        # constant block == all-pairs brute force over the dictionary
        brute = {(r.value_a, r.value_b, r.dist) for r in
                 blocked_fuzzy_pairs(p, "p_name", F.lit(1), 3).collect()}
        band = {(r.value_a, r.value_b, r.dist) for r in
                edit_distance_pairs_banded(p, "p_name", 3).collect()}
        assert band == brute
        assert band  # non-vacuous on this dictionary

    def test_bucket_boundary_straddle_found_exactly_once(self, spark):
        from data_and_analytics_etl_spark.operators.linkage import (
            edit_distance_pairs_banded)
        # k=2 -> bucket width 3; lengths 5 and 7 land in buckets 1 and 2:
        # the pair straddles a band boundary and MUST still be found,
        # exactly once (A emits one bucket row, B probes 3 neighbors).
        df = spark.createDataFrame(
            [("abcde",), ("abcdexy",), ("zzzzzzzzzz",)], ["name"])
        rows = edit_distance_pairs_banded(df, "name", 2).collect()
        assert [(r.value_a, r.value_b, r.dist) for r in rows] \
            == [("abcde", "abcdexy", 2)]


class TestInterpolateLinear:
    def test_interior_gap_linear_edges_null(self, spark):
        import datetime as dt
        from data_and_analytics_etl_spark.operators.timeseries import (
            interpolate_linear)
        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("k", t0 + dt.timedelta(hours=h), v)
            for h, v in [(0, None), (1, 10.0), (2, None), (3, None),
                         (4, 40.0), (5, None)]
        ]
        r = spark.createDataFrame(rows, ["k", "bucket", "sum_value"])
        out = {r.bucket.hour: r.sum_value_interp
               for r in interpolate_linear(r, key="k").collect()}
        assert out[0] is None and out[5] is None  # nothing to bracket
        assert out[1] == 10.0 and out[4] == 40.0  # observed pass through
        assert abs(out[2] - 20.0) < 1e-9          # 1/3 of the way
        assert abs(out[3] - 30.0) < 1e-9          # 2/3 of the way

    def test_probe_interpolates_nonvacuously(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.timeseries import (
            interpolate_linear, resample)
        ev = load_table(spark, sf_dir, "events")
        r = resample(ev, key="event_type", ts_col="ts",
                     interval="15 minutes", value_col="value")
        out = interpolate_linear(r, key="event_type")
        filled = out.filter(F.col("sum_value").isNull()
                            & F.col("sum_value_interp").isNotNull())
        assert filled.count() > 0


class TestDriftChisq:
    def test_identical_samples_give_zero(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.profile import (
            drift_chisq)
        ev = load_table(spark, sf_dir, "events")
        out = drift_chisq(ev, ev, "event_type").collect()
        assert out and all(abs(r.chisq_contrib) < 1e-9 for r in out)
        assert all(r.dof == len(out) - 1 for r in out)

    def test_hand_computed_two_by_two(self, spark):
        from data_and_analytics_etl_spark.operators.profile import (
            drift_chisq)
        # A: 30 x, 10 y; B: 10 x, 30 y. Expected per cell = 20.
        # chisq = 4 * (10^2 / 20) = 20, split 10/10 across categories.
        a = spark.createDataFrame([("x",)] * 30 + [("y",)] * 10, ["c"])
        b = spark.createDataFrame([("x",)] * 10 + [("y",)] * 30, ["c"])
        rows = {r.category: r for r in drift_chisq(a, b, "c").collect()}
        assert abs(rows["x"].chisq_contrib - 10.0) < 1e-9
        assert abs(rows["y"].chisq_contrib - 10.0) < 1e-9
        assert rows["x"].dof == 1


class TestWelchTTest:
    def test_against_numpy_reference(self, spark, sf_dir):
        import numpy as np
        from data_and_analytics_etl_spark.operators.profile import (
            welch_ttest)
        ev = load_table(spark, sf_dir, "events").filter(
            F.col("value").isNotNull())
        cut = "2024-01-16"
        a, b = ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)
        got = {r.group: r for r in
               welch_ttest(a, b, "value", "event_type").collect()}
        pa = a.select("event_type", "value").toPandas()
        pb = b.select("event_type", "value").toPandas()
        for g, r in got.items():
            xa = np.round(pa[pa.event_type == g].value.to_numpy() * 100)
            xb = np.round(pb[pb.event_type == g].value.to_numpy() * 100)
            va, vb = xa.var(ddof=1), xb.var(ddof=1)
            t = (xa.mean() - xb.mean()) / np.sqrt(va / len(xa) + vb / len(xb))
            assert abs(r.t_stat - t) < 1e-4, (g, r.t_stat, t)
            assert abs(r.mean_a - xa.mean() / 100) < 1e-4

    def test_swap_negates_t(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.profile import (
            welch_ttest)
        ev = load_table(spark, sf_dir, "events").filter(
            F.col("value").isNotNull())
        cut = "2024-01-16"
        a, b = ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)
        ab = {r.group: r.t_stat
              for r in welch_ttest(a, b, "value", "event_type").collect()}
        ba = {r.group: r.t_stat
              for r in welch_ttest(b, a, "value", "event_type").collect()}
        assert ab and all(abs(ab[g] + ba[g]) < 1e-9 for g in ab)


class TestSnapshotDiff:
    def test_classification_and_upsert_roundtrip(self, spark):
        from data_and_analytics_etl_spark.etl.merge import merge_upsert
        from data_and_analytics_etl_spark.operators.incremental import (
            snapshot_diff)
        old = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
            ["k", "s", "v"])
        new = spark.createDataFrame(
            [(2, "b", 25.0), (3, "c", None), (4, "d", 40.0)],
            ["k", "s", "v"])
        diff = {r.k: r.change
                for r in snapshot_diff(old, new, ["k"]).collect()}
        # null-safe compare: (3, c, None) unchanged, absent from diff
        assert diff == {1: "delete", 2: "update", 4: "insert"}
        # applying new rows for changed keys via MERGE + dropping
        # deletes reproduces the new snapshot exactly
        changed = new.join(
            snapshot_diff(old, new, ["k"]).filter(
                F.col("change") != "delete").select("k"), "k")
        merged = merge_upsert(old, changed, ["k"]).join(
            snapshot_diff(old, new, ["k"]).filter(
                F.col("change") == "delete").select("k"),
            "k", "left_anti")
        assert sorted(map(tuple, merged.collect())) \
            == sorted(map(tuple, new.collect()))


class TestWeightedPercentiles:
    def test_unit_weights_match_group_percentiles(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.binning import (
            group_percentiles, weighted_percentiles)
        ev = (load_table(spark, sf_dir, "events")
              .filter(F.col("value").isNotNull())
              .withColumn("w", F.lit(1)))
        wp = {r.event_type: r for r in weighted_percentiles(
            ev, "event_type", "value", "w", (0.5, 0.9)).collect()}
        gp = {r.event_type: r for r in group_percentiles(
            ev, "event_type", "value", (0.5, 0.9)).collect()}
        for g in gp:
            assert wp[g].wp50 == gp[g].p50
            assert wp[g].wp90 == gp[g].p90

    def test_weight_w_equals_w_repeats(self, spark):
        from data_and_analytics_etl_spark.operators.binning import (
            weighted_percentiles)
        rows = [("g", float(v), w) for v, w in
                [(1, 5), (2, 1), (3, 1), (10, 3)]]
        df = spark.createDataFrame(rows, ["g", "v", "w"])
        exploded = df.withColumn(
            "v", F.explode(F.array_repeat(F.col("v"),
                                          F.col("w").cast("int")))
        ).withColumn("w", F.lit(1))
        a = weighted_percentiles(df, "g", "v", "w", (0.5, 0.9)).collect()[0]
        b = weighted_percentiles(exploded, "g", "v", "w",
                                 (0.5, 0.9)).collect()[0]
        assert (a.wp50, a.wp90, a.w_total) == (b.wp50, b.wp90, b.w_total)


class TestIncremental:
    def test_merge_equals_full_recompute_any_split(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.incremental import (
            agg_state, finalize, merge_states)
        o = load_table(spark, sf_dir, "orders")
        full = finalize(agg_state(o, ["o_orderpriority"], "o_totalprice"))
        # three-way split on an arbitrary hash — batch boundaries must
        # not matter
        h = F.abs(F.hash("o_orderkey")) % 3
        parts = [o.filter(h == i) for i in range(3)]
        states = [agg_state(b, ["o_orderpriority"], "o_totalprice")
                  for b in parts]
        merged = finalize(merge_states(*states))
        a = {tuple(r) for r in full.collect()}
        b = {tuple(r) for r in merged.collect()}
        assert a == b

    def test_merge_is_order_insensitive(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.incremental import (
            agg_state, finalize, merge_states)
        o = load_table(spark, sf_dir, "orders")
        cut = F.lit("1996-01-01").cast("date")
        s1 = agg_state(o.filter(F.col("o_orderdate") < cut),
                       ["o_orderpriority"], "o_totalprice")
        s2 = agg_state(o.filter(F.col("o_orderdate") >= cut),
                       ["o_orderpriority"], "o_totalprice")
        ab = {tuple(r) for r in finalize(merge_states(s1, s2)).collect()}
        ba = {tuple(r) for r in finalize(merge_states(s2, s1)).collect()}
        assert ab == ba


class TestWeightedSample:
    def test_keep_rate_increases_with_weight(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.sampling import (
            weighted_sample)
        o = load_table(spark, sf_dir, "orders").cache()
        kept = weighted_sample(o, "o_orderkey", F.col("o_totalprice"),
                               1.0 / 262144.0).cache()
        mid = 150000.0
        lo_rate = (kept.filter(F.col("o_totalprice") < mid).count()
                   / max(1, o.filter(F.col("o_totalprice") < mid).count()))
        hi_rate = (kept.filter(F.col("o_totalprice") >= mid).count()
                   / max(1, o.filter(F.col("o_totalprice") >= mid).count()))
        assert hi_rate > lo_rate

    def test_saturated_weight_keeps_everything(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.sampling import (
            weighted_sample)
        o = load_table(spark, sf_dir, "orders")
        kept = weighted_sample(o, "o_orderkey", F.lit(2.0), 1.0)
        assert kept.count() == o.count()


class TestZorder:
    def test_key_matches_reference_interleave(self, spark):
        from data_and_analytics_etl_spark.operators.layout import zorder_key
        df = spark.createDataFrame([(3, 5)], ["x", "y"])
        # x=0b011, y=0b101 -> bits: y2 x2 y1 x1 y0 x0 = 1 0 0 1 1 1
        got = df.select(zorder_key([F.col("x"), F.col("y")],
                                   bits=3).alias("z")).collect()[0]["z"]
        assert got == 0b100111

    def test_zorder_files_are_tighter_on_second_dim(self, spark, sf_dir,
                                                    tmp_path):
        import glob
        from data_and_analytics_etl_spark.operators.layout import (
            normalize_to_bits, zorder_write)
        o = (load_table(spark, sf_dir, "orders")
             .select("o_orderkey", "o_custkey", "o_totalprice"))
        bounds = o.agg(F.max("o_custkey").alias("ck"),
                       F.max("o_totalprice").alias("tp")).collect()[0]
        zcols = [normalize_to_bits(F.col("o_custkey"), 0.0,
                                   float(bounds["ck"]), 8),
                 normalize_to_bits(F.col("o_totalprice"), 0.0,
                                   float(bounds["tp"]), 8)]
        zpath, lpath = str(tmp_path / "z"), str(tmp_path / "lin")
        zorder_write(o, zcols, zpath, num_files=8, bits=8)
        (o.repartitionByRange(8, "o_custkey")
         .sortWithinPartitions("o_custkey")
         .write.mode("overwrite").parquet(lpath))

        def avg_range(path, col):
            widths = []
            for f in sorted(glob.glob(f"{path}/part-*.parquet")):
                r = (spark.read.parquet(f)
                     .agg((F.max(col) - F.min(col)).alias("w"))
                     .collect()[0]["w"])
                widths.append(float(r))
            return sum(widths) / len(widths)

        # linear layout clusters custkey perfectly but leaves totalprice
        # spanning ~the full domain per file; z-order must tighten the
        # second dimension substantially (and still help the first)
        z_tp = avg_range(zpath, "o_totalprice")
        lin_tp = avg_range(lpath, "o_totalprice")
        assert z_tp < 0.8 * lin_tp, (z_tp, lin_tp)
        z_ck = avg_range(zpath, "o_custkey")
        full_ck = float(bounds["ck"])
        assert z_ck < full_ck  # still partially clustered on dim 1


class TestIncrementalStreaming:
    def test_foreachbatch_state_maintenance_equals_batch(self, spark,
                                                         sf_dir, tmp_path):
        """Incremental agg as a STREAM consumer: each micro-batch folds
        into a persisted per-key state table via merge_states (state is
        re-written per batch — at scale this is a MERGE upsert, see
        etl/merge.py); the finalized state after the run must equal the
        batch aggregate over the same rows. Stream-side twin of the
        incremental_agg_merge oracle probe.
        """
        from data_and_analytics_etl_spark.operators.incremental import (
            agg_state, finalize, merge_states)
        from data_and_analytics_etl_spark.streaming.ops import events_stream

        state_root = tmp_path / "state"
        versions = []  # state table versions (parquet dirs)

        def fold(batch_df, batch_id):
            s = agg_state(batch_df, ["event_type"], "value")
            if versions:
                prev = spark.read.parquet(versions[-1])
                s = merge_states(prev, s)
            out = str(state_root / f"v{batch_id}")
            s.write.mode("overwrite").parquet(out)
            versions.append(out)

        q = (events_stream(spark, sf_dir)
             .writeStream.foreachBatch(fold)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert versions, "stream produced no batches"

        got = {tuple(r) for r in
               finalize(spark.read.parquet(versions[-1])).collect()}
        batch = load_table(spark, sf_dir, "events")
        want = {tuple(r) for r in
                finalize(agg_state(batch, ["event_type"],
                                   "value")).collect()}
        assert got == want


class TestCohort:
    def test_retention_never_exceeds_cohort_size(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.cohort import (
            cohort_retention)
        out = cohort_retention(_events(spark, sf_dir), "user_id", "ts",
                               period="day").cache()
        from pyspark.sql import Window
        w = Window.partitionBy("cohort_period")
        sized = out.withColumn(
            "__size", F.max(F.when(F.col("period_offset") == 0,
                                   F.col("n_users"))).over(w))
        assert sized.filter(F.col("n_users") > F.col("__size")).count() == 0
        # offset 0 exists for every cohort and offsets are non-negative
        assert out.filter(F.col("period_offset") < 0).count() == 0
        cohorts = out.select("cohort_period").distinct().count()
        zeros = out.filter(F.col("period_offset") == 0).count()
        assert cohorts == zeros

    def test_week_and_month_periods(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.cohort import (
            cohort_retention)
        for period in ("week", "month"):
            out = cohort_retention(_events(spark, sf_dir), "user_id",
                                   "ts", period=period)
            assert out.filter(F.col("period_offset") < 0).count() == 0
            assert out.count() > 0

    def test_rejects_unknown_period(self, spark, sf_dir):
        import pytest
        from data_and_analytics_etl_spark.operators.cohort import (
            cohort_retention)
        with pytest.raises(ValueError):
            cohort_retention(_events(spark, sf_dir), "user_id", "ts",
                             period="fortnight").count()


class TestDriftPsi:
    def test_identical_snapshots_have_zero_psi(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.profile import drift_psi
        ev = _events(spark, sf_dir)
        out = drift_psi(ev, ev, "value", 0.0, 500.0, 10)
        total = out.agg(F.sum(F.abs("psi_contrib"))).collect()[0][0]
        assert abs(total) < 1e-9

    def test_shifted_snapshot_drifts_more_than_resample(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.profile import drift_psi
        ev = _events(spark, sf_dir).cache()
        half = ev.filter(F.col("event_id") % 2 == 0)
        shifted = ev.withColumn("value", F.col("value") + F.lit(100.0))
        psi_same = (drift_psi(ev, half, "value", 0.0, 500.0, 10)
                    .agg(F.sum("psi_contrib")).collect()[0][0])
        psi_shift = (drift_psi(ev, shifted, "value", 0.0, 500.0, 10)
                     .agg(F.sum("psi_contrib")).collect()[0][0])
        assert psi_shift > 0.25  # standard "shifted" gate
        assert abs(psi_same) < 0.1  # a thinned resample stays "stable"


class TestDenseIds:
    def test_ids_are_exactly_zero_to_n_minus_one(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.ids import (
            assign_dense_ids)
        o = load_table(spark, sf_dir, "orders").select("o_orderkey")
        out = assign_dense_ids(o, "o_orderkey", buckets=16).cache()
        n = out.count()
        stats = out.agg(F.min("row_id"), F.max("row_id"),
                        F.countDistinct("row_id")).collect()[0]
        assert tuple(stats) == (0, n - 1, n)
        # order-preserving: id rank == key rank
        from pyspark.sql import Window
        bad = (out.withColumn(
            "__nk", F.lead("o_orderkey").over(Window.orderBy("row_id")))
            .filter(F.col("__nk").isNotNull()
                    & (F.col("__nk") <= F.col("o_orderkey"))).count())
        assert bad == 0

    def test_stable_under_repartition(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.ids import (
            assign_dense_ids)
        o = load_table(spark, sf_dir, "orders").select("o_orderkey")
        a = {(r["o_orderkey"], r["row_id"]) for r in
             assign_dense_ids(o, "o_orderkey", buckets=16).collect()}
        b = {(r["o_orderkey"], r["row_id"]) for r in
             assign_dense_ids(o.repartition(13), "o_orderkey",
                              buckets=16).collect()}
        assert a == b


class TestEwmaBounded:
    def test_constant_series_is_identity(self, spark):
        import datetime as dt
        from data_and_analytics_etl_spark.operators.timeseries import (
            ewma_bounded)
        t0 = dt.datetime(2024, 1, 1)
        rows = [("k", t0 + dt.timedelta(hours=h), i, 7.5)
                for h, i in [(h, h) for h in range(12)]]
        df = spark.createDataFrame(rows, ["k", "ts", "i", "v"])
        out = ewma_bounded(df, key="k", order_cols=["ts", "i"],
                           value_col="v", lags=8)
        vals = [r.ewma for r in out.collect()]
        assert all(abs(v - 7.5) < 1e-12 for v in vals)

    def test_first_row_equals_value_and_weights_decay(self, spark):
        import datetime as dt
        from data_and_analytics_etl_spark.operators.timeseries import (
            ewma_bounded)
        t0 = dt.datetime(2024, 1, 1)
        rows = [("k", t0 + dt.timedelta(hours=0), 0, 10.0),
                ("k", t0 + dt.timedelta(hours=1), 1, 20.0)]
        df = spark.createDataFrame(rows, ["k", "ts", "i", "v"])
        out = {r.i: r.ewma for r in
               ewma_bounded(df, key="k", order_cols=["ts", "i"],
                            value_col="v", lags=8).collect()}
        assert out[0] == 10.0                     # no history: identity
        # adjust=True normalization: (128*20 + 64*10) / (128 + 64)
        assert abs(out[1] - (128 * 20 + 64 * 10) / 192) < 1e-12

    def test_matches_pandas_ewm_truncated(self, spark):
        import datetime as dt
        import pandas as pd
        from data_and_analytics_etl_spark.operators.timeseries import (
            ewma_bounded)
        vals = [3.0, 9.5, 1.25, 7.0, 4.75, 8.0, 2.5, 6.0, 0.5, 5.25]
        t0 = dt.datetime(2024, 1, 1)
        rows = [("k", t0 + dt.timedelta(hours=h), h, v)
                for h, v in enumerate(vals)]
        df = spark.createDataFrame(rows, ["k", "ts", "i", "v"])
        got = {r.i: r.ewma for r in
               ewma_bounded(df, key="k", order_cols=["ts", "i"],
                            value_col="v", lags=8).collect()}
        # reference: pandas ewm(alpha=.5, adjust=True) over a sliding
        # 8-row truncation — recompute per position
        for i in range(len(vals)):
            lo = max(0, i - 7)
            ref = pd.Series(vals[lo:i + 1]).ewm(alpha=0.5,
                                                adjust=True).mean().iloc[-1]
            assert abs(got[i] - ref) < 1e-9, (i, got[i], ref)


class TestLinearFit:
    def test_exact_line_recovered(self, spark):
        from data_and_analytics_etl_spark.operators.profile import (
            linear_fit)
        rows = [("g", x, 3 * x + 40) for x in range(1, 21)]
        df = spark.createDataFrame(rows, ["g", "x", "y"])
        out = linear_fit(df, ["g"], F.col("x").cast("long"),
                         F.col("y").cast("long")).collect()[0]
        assert out.slope == 3.0 and out.intercept == 40.0
        assert out.r2 == 1.0

    def test_constant_x_yields_nulls(self, spark):
        from data_and_analytics_etl_spark.operators.profile import (
            linear_fit)
        df = spark.createDataFrame([("g", 5, 1), ("g", 5, 9)],
                                   ["g", "x", "y"])
        out = linear_fit(df, ["g"], F.col("x").cast("long"),
                         F.col("y").cast("long")).collect()[0]
        assert out.slope is None and out.r2 is None

    def test_matches_numpy_polyfit(self, spark, sf_dir):
        import numpy as np
        from data_and_analytics_etl_spark.operators.profile import (
            linear_fit)
        li = load_table(spark, sf_dir, "lineitem").limit(2000).cache()
        out = linear_fit(
            li, ["l_returnflag"],
            F.col("l_quantity").cast("long"),
            F.round(F.col("l_extendedprice") * 100).cast("long"))
        pdf = li.select("l_returnflag", "l_quantity",
                        (F.round(F.col("l_extendedprice") * 100)
                         .cast("long")).alias("yc")).toPandas()
        for r in out.collect():
            sub = pdf[pdf.l_returnflag == r.group] \
                if "group" in out.columns else \
                pdf[pdf.l_returnflag == r.l_returnflag]
            coef = np.polyfit(sub.l_quantity, sub.yc, 1)
            assert abs(r.slope - coef[0]) < 1e-6 * max(1, abs(coef[0]))
            assert abs(r.intercept - coef[1]) < 1e-4 * max(1, abs(coef[1]))


class TestKAnonymity:
    def test_flags_exactly_small_classes(self, spark):
        from data_and_analytics_etl_spark.operators.profile import (
            k_anonymity)
        rows = [("a", 1)] * 6 + [("b", 2)] * 3
        df = spark.createDataFrame(rows, ["q1", "q2"])
        out = {(r.q1, r.q2): (r.class_size, r.violates_k)
               for r in k_anonymity(df, ["q1", "q2"], k=5).collect()}
        assert out[("a", 1)] == (6, False)
        assert out[("b", 2)] == (3, True)


class TestGopherRules:
    def test_keep_is_conjunction_and_rules_fire(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.text import (
            gopher_rules)
        d = load_table(spark, sf_dir, "documents")
        g = gopher_rules(F.col("text"))
        out = d.select(*[g[k].alias(k) for k in g]).cache()
        flags = ["r_word_count", "r_mean_word_len", "r_stopwords",
                 "r_dup_word", "r_top_bigram"]
        # keep == AND of the flags, row by row
        recon = out.filter(
            F.col("keep") != (F.col(flags[0]) & F.col(flags[1])
                              & F.col(flags[2]) & F.col(flags[3])
                              & F.col(flags[4])))
        assert recon.count() == 0
        # the gate is non-vacuous both ways on the corpus
        kept = out.filter("keep").count()
        assert 0 < kept < out.count()

    def test_short_doc_fails_word_count(self, spark):
        from data_and_analytics_etl_spark.operators.text import (
            gopher_rules)
        df = spark.createDataFrame([("tiny doc",)], ["text"])
        g = gopher_rules(F.col("text"))
        r = df.select(g["r_word_count"].alias("f"),
                      g["keep"].alias("k")).collect()[0]
        assert r.f is False and r.k is False


class TestCountMinSketch:
    def test_estimate_never_undercounts_and_merge_identity(self, spark,
                                                           sf_dir):
        from data_and_analytics_etl_spark.operators.sketch import (
            cms_build, cms_merge, cms_query)
        o = load_table(spark, sf_dir, "orders").cache()
        counters = cms_build(o, "o_custkey", depth=4, width=1024)
        exact = (o.groupBy(F.col("o_custkey").alias("key"))
                 .agg(F.count(F.lit(1)).alias("n")))
        est = cms_query(counters, o.select("o_custkey").distinct(),
                        "o_custkey", depth=4, width=1024)
        joined = est.join(exact, "key").collect()
        assert joined and all(r.est >= r.n for r in joined)
        # overestimate bounded in practice: e*N/w with slack 4
        n_total = o.count()
        assert all(r.est - r.n <= 4 * 2.718 * n_total / 1024
                   for r in joined)
        # merge of disjoint halves == build on the whole (counters are
        # exact sums, so this is exact equality, not approximate)
        h1 = cms_build(o.filter("o_orderkey % 2 = 0"), "o_custkey",
                       depth=4, width=1024)
        h2 = cms_build(o.filter("o_orderkey % 2 = 1"), "o_custkey",
                       depth=4, width=1024)
        merged = {(r.d, r.bucket): r.cnt
                  for r in cms_merge(h1, h2).collect()}
        whole = {(r.d, r.bucket): r.cnt for r in counters.collect()}
        assert merged == whole

    def test_unseen_key_estimates_small(self, spark):
        from data_and_analytics_etl_spark.operators.sketch import (
            cms_build, cms_query)
        df = spark.range(0, 1000).withColumnRenamed("id", "k")
        counters = cms_build(df, "k", depth=4, width=2048)
        probe = spark.createDataFrame([(10**9,)], ["k"])
        est = cms_query(counters, probe, "k", depth=4,
                        width=2048).collect()[0]
        assert est.est <= 4  # collisions only; never negative
        assert est.est >= 0


class TestWeightedReservoir:
    def test_deterministic_fixed_size(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.sampling import (
            weighted_reservoir_sample)
        d = load_table(spark, sf_dir, "documents")
        w = F.col("n_chars").cast("double")
        a = sorted(r.doc_id for r in weighted_reservoir_sample(
            d, "doc_id", w, k=20, seed=3).collect())
        b = sorted(r.doc_id for r in weighted_reservoir_sample(
            d.repartition(7), "doc_id", w, k=20, seed=3).collect())
        assert a == b and len(a) == 20

    def test_inclusion_tracks_weight(self, spark):
        from data_and_analytics_etl_spark.operators.sampling import (
            weighted_reservoir_sample)
        # two strata: ids 0-49 weight 10, ids 50-99 weight 1 — across
        # seeds the heavy stratum must dominate the k=20 sample
        rows = [(i, 10.0 if i < 50 else 1.0) for i in range(100)]
        df = spark.createDataFrame(rows, ["id", "w"]).cache()
        heavy = 0
        for seed in range(10):
            got = weighted_reservoir_sample(df, "id", F.col("w"), k=20,
                                            seed=seed).collect()
            assert len(got) == 20
            heavy += sum(1 for r in got if r.id < 50)
        # E[heavy per draw] ≈ 18/20 with w-ratio 10; even loosely, the
        # heavy stratum must take well over half across 200 draws
        assert heavy > 130

    def test_nonpositive_weights_excluded(self, spark):
        from data_and_analytics_etl_spark.operators.sampling import (
            weighted_reservoir_sample)
        df = spark.createDataFrame(
            [(1, 5.0), (2, 0.0), (3, -1.0)], ["id", "w"])
        got = weighted_reservoir_sample(df, "id", F.col("w"),
                                        k=3).collect()
        assert [r.id for r in got] == [1]


class TestTriangleCount:
    def test_known_graphs(self, spark):
        from data_and_analytics_etl_spark.operators.graph import (
            triangle_count)

        def tc(pairs):
            df = spark.createDataFrame(pairs, ["src", "dst"])
            return triangle_count(df).collect()[0]

        # K4: 4 triangles, 6 edges
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        r = tc(k4)
        assert (r.n_nodes, r.n_edges, r.triangles) == (4, 6, 4)
        # path graph: none
        r = tc([(0, 1), (1, 2), (2, 3)])
        assert r.triangles == 0
        # one triangle + pendant, duplicate/reversed/self edges ignored
        r = tc([(0, 1), (1, 0), (1, 2), (2, 0), (2, 2), (2, 3)])
        assert (r.n_nodes, r.n_edges, r.triangles) == (4, 4, 1)

    def test_hub_graph_matches_combinatorics(self, spark):
        from data_and_analytics_etl_spark.operators.graph import (
            triangle_count)
        # wheel graph: hub 0 + cycle 1..10 — triangles = cycle length
        n = 10
        edges = [(0, i) for i in range(1, n + 1)]
        edges += [(i, i % n + 1) for i in range(1, n + 1)]
        df = spark.createDataFrame(edges, ["src", "dst"])
        r = triangle_count(df).collect()[0]
        assert (r.n_nodes, r.n_edges, r.triangles) == (n + 1, 2 * n, n)


class TestKCore:
    def _core(self, spark, pairs, k, **kw):
        from data_and_analytics_etl_spark.operators.graph import k_core
        df = spark.createDataFrame(pairs, ["src", "dst"])
        return sorted((r.node, r.degree)
                      for r in k_core(df, k, **kw).collect())

    def test_triangle_with_pendant_peels_to_triangle(self, spark):
        # 2-core of triangle+pendant is the triangle; peeling node 3
        # drops node 2's degree from 3 to 2 but not below k
        got = self._core(spark, [(0, 1), (1, 2), (2, 0), (2, 3)], k=2)
        assert got == [(0, 2), (1, 2), (2, 2)]

    def test_k4_is_its_own_3_core(self, spark):
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        assert self._core(spark, k4, k=3) == [(i, 3) for i in range(4)]

    def test_path_graph_peels_from_the_ends_to_empty(self, spark):
        # a path has no 2-core; the peel removes one node per end per
        # round — the data-dependent-depth case the max_rounds guard
        # exists for
        path = [(i, i + 1) for i in range(8)]
        assert self._core(spark, path, k=2) == []

    def test_cycle_survives_2_core_intact(self, spark):
        n = 6
        cyc = [(i, (i + 1) % n) for i in range(n)]
        assert self._core(spark, cyc, k=2) == [(i, 2) for i in range(n)]

    def test_dup_reversed_self_edges_ignored(self, spark):
        got = self._core(
            spark, [(0, 1), (1, 0), (1, 2), (2, 0), (1, 1)], k=2)
        assert got == [(0, 2), (1, 2), (2, 2)]

    def test_max_rounds_raises_instead_of_returning_non_core(self, spark):
        import pytest as _pytest
        path = [(i, i + 1) for i in range(10)]
        spark.catalog.clearCache()
        with _pytest.raises(RuntimeError, match="max_rounds"):
            self._core(spark, path, k=2, max_rounds=2)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_min_degree_invariant(self, spark):
        # every survivor's degree within the core is >= k (the k-core
        # definition), on a mixed graph: K4 glued to a path tail
        pairs = [(a, b) for a in range(4) for b in range(4) if a < b]
        pairs += [(3, 4), (4, 5), (5, 6)]
        got = self._core(spark, pairs, k=3)
        assert got and all(d >= 3 for _, d in got)
        assert [n for n, _ in got] == [0, 1, 2, 3]


class TestCmsJoinCardinality:
    def test_overestimates_only_and_tightens_with_width(self, spark):
        from data_and_analytics_etl_spark.operators.sketch import (
            cms_build, cms_join_cardinality)
        a = spark.createDataFrame([(i % 50,) for i in range(2000)], ["k"])
        b = spark.createDataFrame([(i % 80,) for i in range(1600)], ["k"])
        exact = (a.groupBy("k").count().withColumnRenamed("count", "na")
                 .join(b.groupBy("k").count()
                       .withColumnRenamed("count", "nb"), "k")
                 .agg(F.sum(F.col("na") * F.col("nb")))
                 .collect()[0][0])
        ests = {}
        for width in (64, 2048):
            est = cms_join_cardinality(
                cms_build(a, "k", depth=4, width=width),
                cms_build(b, "k", depth=4, width=width),
            ).collect()[0].est_join_rows
            assert est >= exact
            ests[width] = est
        assert ests[2048] <= ests[64]
        # at w=2048 with ~100 keys, collisions are rare: near-exact
        assert ests[2048] <= exact * 1.05


class TestIntervalUnionLength:
    def test_overlap_nesting_and_gaps(self, spark):
        import datetime as dt
        from data_and_analytics_etl_spark.operators.timeseries import (
            interval_union_length)
        t0 = dt.datetime(2024, 1, 1)

        def iv(lo_min, hi_min):
            return ("k", t0 + dt.timedelta(minutes=lo_min),
                    t0 + dt.timedelta(minutes=hi_min))

        # [0,10) ∪ [5,12) ∪ [11,20) chain -> one island [0,20)
        # [30,40) nested [32,35) -> island [30,40)
        # [50,50) zero-length joins nothing -> its own island, length 0
        df = spark.createDataFrame(
            [iv(0, 10), iv(5, 12), iv(11, 20), iv(30, 40), iv(32, 35),
             iv(50, 50)],
            ["k", "s", "e"])
        r = interval_union_length(df, "k", "s", "e").collect()[0]
        assert r.n_islands == 3
        assert r.covered_us == (20 + 10 + 0) * 60 * 1_000_000

    def test_disjoint_keys_independent(self, spark):
        import datetime as dt
        from data_and_analytics_etl_spark.operators.timeseries import (
            interval_union_length)
        t0 = dt.datetime(2024, 1, 1)
        rows = [("a", t0, t0 + dt.timedelta(minutes=5)),
                ("b", t0, t0 + dt.timedelta(minutes=7))]
        df = spark.createDataFrame(rows, ["k", "s", "e"])
        out = {r.k: (r.covered_us, r.n_islands)
               for r in interval_union_length(df, "k", "s", "e").collect()}
        assert out == {"a": (5 * 60 * 1_000_000, 1),
                       "b": (7 * 60 * 1_000_000, 1)}


class TestEvaluation:
    def test_classification_report_null_honesty(self, spark):
        from data_and_analytics_etl_spark.operators.evaluation import (
            classification_report)
        # truth a: 2 right, 1 wrong->b; truth b: never predicted right,
        # predicted only via a's mistake; truth c: never predicted AT ALL
        rows = [("a", "a"), ("a", "a"), ("a", "b"),
                ("b", "b"), ("b", "a"),
                ("c", "a")]
        df = spark.createDataFrame(rows, ["t", "p"])
        rep = {r.cls: r for r in classification_report(
            df, F.col("t"), F.col("p")).collect()}
        assert rep["a"].support == 3 and rep["a"].tp == 2
        assert abs(rep["a"].precision - 2 / 4) < 1e-12  # a predicted 4x
        assert abs(rep["a"].recall - 2 / 3) < 1e-12
        assert rep["b"].tp == 1 and abs(rep["b"].precision - 1 / 2) < 1e-12
        # c: never predicted -> precision NULL, recall 0, f1 NULL
        assert rep["c"].precision is None
        assert rep["c"].recall == 0.0 and rep["c"].f1 is None

    def test_auc_matches_sklearn_style_reference(self, spark):
        import random

        from data_and_analytics_etl_spark.operators.evaluation import (
            binary_auc)
        rng = random.Random(7)
        # ties included: scores quantized to one decimal
        rows = [(rng.randint(0, 1), round(rng.random(), 1))
                for _ in range(400)]
        df = spark.createDataFrame(rows, ["y", "s"])
        got = binary_auc(df, F.col("y"), F.col("s")).collect()[0]
        # direct reference: P(s+ > s-) + 0.5 P(s+ == s-)
        pos = [s for y, s in rows if y == 1]
        neg = [s for y, s in rows if y == 0]
        num = sum((p > n) + 0.5 * (p == n) for p in pos for n in neg)
        assert got.n_pos == len(pos) and got.n_neg == len(neg)
        assert abs(got.auc - num / (len(pos) * len(neg))) < 1e-12

    def test_auc_degenerate_single_class_is_null(self, spark):
        from data_and_analytics_etl_spark.operators.evaluation import (
            binary_auc)
        df = spark.createDataFrame([(1, 0.5), (1, 0.7)], ["y", "s"])
        assert binary_auc(df, F.col("y"), F.col("s")).collect()[0].auc \
            is None

    def test_perfect_and_inverted_rankings(self, spark):
        from data_and_analytics_etl_spark.operators.evaluation import (
            binary_auc)
        rows = [(1, float(10 + i)) for i in range(5)] + \
               [(0, float(i)) for i in range(5)]
        df = spark.createDataFrame(rows, ["y", "s"])
        assert binary_auc(df, F.col("y"), F.col("s")).collect()[0].auc \
            == 1.0
        inv = df.withColumn("s", -F.col("s"))
        assert binary_auc(inv, F.col("y"), F.col("s")).collect()[0].auc \
            == 0.0

    def test_calibration_lift_hand_case_and_clamping(self, spark):
        from data_and_analytics_etl_spark.operators.evaluation import (
            calibration_lift)
        # 2 buckets over [0,1): high bucket 3 pos / 4, low 1 pos / 4;
        # scores 1.7 and -0.3 clamp into the edge buckets
        rows = [(1, 0.9), (1, 0.8), (1, 1.7), (0, 0.6),
                (1, 0.1), (0, 0.2), (0, -0.3), (0, 0.4)]
        df = spark.createDataFrame(rows, ["y", "s"])
        out = {r.bucket: r for r in calibration_lift(
            df, F.col("y"), F.col("s"), n_buckets=2).collect()}
        hi, lo = out[1], out[0]
        assert (hi.n, hi.n_pos) == (4, 3) and (lo.n, lo.n_pos) == (4, 1)
        assert abs(hi.pos_rate - 0.75) < 1e-12
        assert hi.cum_pos == 3 and lo.cum_pos == 4
        assert abs(hi.capture - 0.75) < 1e-12 and lo.capture == 1.0
        # base rate 0.5 -> lift of the high bucket = 1.5
        assert abs(hi.lift - 1.5) < 1e-12


class TestRollingAnomalyZ:
    def test_spike_flagged_stable_not(self, spark):
        import datetime as dt
        from data_and_analytics_etl_spark.operators.timeseries import (
            rolling_anomaly_z)
        t0 = dt.datetime(2024, 1, 1)
        # flat-ish series 10.0 ± 0.02 then a 50.0 spike at hour 10
        vals = [10.0, 10.02, 9.98, 10.0, 10.02, 9.98, 10.0, 10.02,
                9.98, 10.0, 50.0, 10.0]
        rows = [("k", t0 + dt.timedelta(hours=h), 1, v)
                for h, v in enumerate(vals)]
        df = spark.createDataFrame(rows, ["k", "bucket", "n",
                                          "sum_value"])
        out = {r.bucket.hour: (r.zscore, r.is_anomaly) for r in
               rolling_anomaly_z(df, key="k", lookback=24,
                                 threshold=3.0).collect()}
        # first two rows: under 3 trailing observations -> NULL
        assert out[0] == (None, None) and out[1] == (None, None)
        z10, flag10 = out[10]
        assert flag10 is True and z10 > 100     # massive spike
        z9, flag9 = out[9]
        assert flag9 is False and abs(z9) < 3
        # the bucket AFTER the spike is judged against a window that
        # now contains it -> inflated std, still not anomalous
        assert out[11][1] is False

    def test_zero_variance_history_gives_null(self, spark):
        import datetime as dt
        from data_and_analytics_etl_spark.operators.timeseries import (
            rolling_anomaly_z)
        t0 = dt.datetime(2024, 1, 1)
        rows = [("k", t0 + dt.timedelta(hours=h), 1, 5.0)
                for h in range(6)]
        df = spark.createDataFrame(rows, ["k", "bucket", "n",
                                          "sum_value"])
        out = rolling_anomaly_z(df, key="k").collect()
        assert all(r.zscore is None for r in out)  # honest can't-score


class TestHllIncrementalDistinct:
    """Mergeable HLL partials: the merge identity is exact, the
    estimate is close, and rollups never need raw history."""

    def test_union_of_sketches_equals_sketch_of_union(self, spark,
                                                      sf_dir):
        from data_and_analytics_etl_spark.operators.sketch import (
            hll_build, hll_rollup)
        ev = load_table(spark, sf_dir, "events") \
            .withColumn("day", F.to_date("ts"))
        # increment grain -> rollup
        daily = hll_build(ev, ["event_type", "day"], "user_id")
        merged = {r["event_type"]: r["distinct_est"]
                  for r in hll_rollup(daily, ["event_type"]).collect()}
        # one-shot sketch over the union of all increments
        direct = {r["event_type"]: r["distinct_est"]
                  for r in hll_rollup(
                      hll_build(ev, ["event_type"], "user_id"),
                      ["event_type"]).collect()}
        assert merged == direct

    def test_estimate_within_5pct_of_exact(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.sketch import (
            hll_build, hll_rollup)
        ev = load_table(spark, sf_dir, "events") \
            .withColumn("day", F.to_date("ts"))
        est = {r["event_type"]: r["distinct_est"]
               for r in hll_rollup(
                   hll_build(ev, ["event_type", "day"], "user_id"),
                   ["event_type"]).collect()}
        exact = {r["event_type"]: r["n"]
                 for r in ev.groupBy("event_type")
                 .agg(F.countDistinct("user_id").alias("n")).collect()}
        for k, n in exact.items():
            assert abs(est[k] - n) <= max(1, 0.05 * n), (k, est[k], n)

    def test_new_increment_merges_without_history(self, spark, sf_dir):
        """Appending a day = build ONE new daily sketch and re-run the
        rollup over the sketch table — the old days' sketches are
        reused as stored."""
        import datetime as dt

        from data_and_analytics_etl_spark.operators.sketch import (
            hll_build, hll_rollup)
        ev = load_table(spark, sf_dir, "events") \
            .withColumn("day", F.to_date("ts"))
        cut = dt.date(2024, 1, 10)
        old = hll_build(ev.filter(F.col("day") < F.lit(cut)),
                        ["event_type", "day"], "user_id")
        new = hll_build(ev.filter(F.col("day") >= F.lit(cut)),
                        ["event_type", "day"], "user_id")
        inc = {r["event_type"]: r["distinct_est"]
               for r in hll_rollup(old.unionByName(new),
                                   ["event_type"]).collect()}
        full = {r["event_type"]: r["distinct_est"]
                for r in hll_rollup(
                    hll_build(ev, ["event_type", "day"], "user_id"),
                    ["event_type"]).collect()}
        assert inc == full


class TestFeatureRepair:
    def test_all_null_group_stays_null(self, spark):
        from data_and_analytics_etl_spark.operators.features import \
            impute_group_median
        df = spark.createDataFrame(
            [("a", 1.0), ("a", None), ("b", None)],
            "g: string, v: double")
        out = {(r["g"], r["v"]): r["v_imputed"]
               for r in impute_group_median(df, "v", "g").collect()}
        assert out[("a", None)] == 1.0
        assert out[("b", None)] is None   # nothing to impute from

    def test_even_count_uses_lower_median(self, spark):
        from data_and_analytics_etl_spark.operators.features import \
            group_lower_median
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0)],
            "g: string, v: double")
        assert group_lower_median(df, "v", "g").collect()[0][
            "median"] == 2.0

    def test_minmax_bounds_and_constant_group(self, spark):
        from data_and_analytics_etl_spark.operators.features import \
            scale_minmax
        df = spark.createDataFrame(
            [("a", 10.0), ("a", 20.0), ("a", 15.0),
             ("c", 7.0), ("c", 7.0)], "g: string, v: double")
        rows = scale_minmax(df, "v", "g").collect()
        vals = {(r["g"], r["v"]): r["v_scaled"] for r in rows}
        assert vals[("a", 10.0)] == 0.0 and vals[("a", 20.0)] == 1.0
        assert vals[("a", 15.0)] == 0.5
        assert vals[("c", 7.0)] is None


class TestIncrementalQuantileMerge:
    def test_estimate_within_one_binwidth_of_exact(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.binning import (
            fixed_histogram, merged_histogram_quantiles)
        ev = load_table(spark, sf_dir, "events")
        h = fixed_histogram(ev, "value", 0.0, 500.0, 200)
        est = {r["q"]: r["estimate"] for r in
               merged_histogram_quantiles(h, [0.5, 0.9], 0.0, 500.0,
                                          200).collect()}
        exact = ev.agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90")).collect()[0]
        width = 500.0 / 200
        assert abs(est[0.5] - exact["p50"]) <= width
        assert abs(est[0.9] - exact["p90"]) <= width

    def test_merge_equals_oneshot(self, spark, sf_dir):
        """Histograms summed across increments must answer identically
        to one histogram of everything — the mergeability contract."""
        from data_and_analytics_etl_spark.operators.binning import (
            fixed_histogram, merged_histogram_quantiles)
        ev = load_table(spark, sf_dir, "events")
        a = fixed_histogram(ev.filter(F.col("event_id") % 2 == 0),
                            "value", 0.0, 500.0, 200)
        b = fixed_histogram(ev.filter(F.col("event_id") % 2 == 1),
                            "value", 0.0, 500.0, 200)
        inc = merged_histogram_quantiles(a.unionByName(b), [0.5, 0.99],
                                         0.0, 500.0, 200).collect()
        one = merged_histogram_quantiles(
            fixed_histogram(ev, "value", 0.0, 500.0, 200),
            [0.5, 0.99], 0.0, 500.0, 200).collect()
        assert sorted(map(tuple, inc)) == sorted(map(tuple, one))


class TestQuantileRankSemantics:
    def test_fractional_spacing_and_ties(self, spark):
        """Values within 1.0 of each other must still rank strictly —
        the numeric-offset RANGE-window trap this operator explicitly
        avoids — and ties must share the averaged rank."""
        from data_and_analytics_etl_spark.operators.features import \
            quantile_rank
        df = spark.createDataFrame(
            [("g", 1.0), ("g", 1.4), ("g", 1.4), ("g", 1.9),
             ("g", 2.0)], "grp: string, v: double")
        out = {}
        for r in quantile_rank(df, "v", "grp").collect():
            out.setdefault(r["v"], set()).add(r["v_qrank"])
        # n=5: qrank = (avg_rank - 1) / 4
        assert out[1.0] == {0.0}
        assert out[1.4] == {(2.5 - 1) / 4}    # tie-averaged rank 2.5
        assert out[1.9] == {(4 - 1) / 4}
        assert out[2.0] == {1.0}

    def test_rel_free_ranking_group_yields_nulls(self, spark):
        """ranking_metrics must not crash on a query with zero
        relevant items (element_at index-0 trap): rr/recall/ndcg NULL,
        counts zero."""
        from data_and_analytics_etl_spark.operators.evaluation import \
            ranking_metrics
        df = spark.createDataFrame(
            [(1, 0.9, False, 10), (1, 0.5, False, 11)],
            "q: long, s: double, rel: boolean, t: long")
        r = ranking_metrics(df, F.col("q"), F.col("s"), F.col("rel"),
                            F.col("t"), k=10).collect()[0]
        assert r["n_rel"] == 0 and r["hits_at_k"] == 0
        assert r["rr"] is None and r["ndcg_at_k"] is None
        assert r["recall_at_k"] is None


class TestSeasonalDecompose:
    def test_edges_and_reconstruction(self, spark):
        import datetime as dtm

        from data_and_analytics_etl_spark.operators.timeseries import \
            decompose_seasonal
        rows = [("k", dtm.datetime(2024, 1, 1, h), h % 3,
                 float(10 + h)) for h in range(9)]
        df = spark.createDataFrame(
            rows, "key: string, bucket: timestamp, phase: int, "
                  "sum_value: double")
        out = {r["bucket"].hour: r for r in
               decompose_seasonal(df, "key", ma_window=5).collect()}
        # honest edges: first/last two buckets have no full window
        for h in (0, 1, 7, 8):
            assert out[h]["trend"] is None
            assert out[h]["residual"] is None
        # interior: value reconstructs exactly from the components
        for h in (2, 3, 4, 5, 6):
            r = out[h]
            assert r["trend"] == 10.0 + h  # linear series: CMA = value
            assert abs(r["trend"] + r["seasonal"] + r["residual"]
                       - r["sum_value"]) < 1e-9

    def test_even_window_rejected(self, spark):
        import pytest as _pytest

        from data_and_analytics_etl_spark.operators.timeseries import \
            decompose_seasonal
        df = spark.createDataFrame(
            [("k", None, 0, 1.0)],
            "key: string, bucket: timestamp, phase: int, "
            "sum_value: double")
        with _pytest.raises(ValueError, match="odd"):
            decompose_seasonal(df, "key", ma_window=4)


class TestMarketBasket:
    def test_known_rule_arithmetic(self, spark):
        from data_and_analytics_etl_spark.operators.basket import \
            association_rules
        rows = [(1, "x"), (1, "y"), (1, "z"), (2, "x"), (2, "y"),
                (3, "x"), (4, "y"), (4, "w")]
        df = spark.createDataFrame(rows, "basket: int, item: string")
        out = {(r["item_a"], r["item_b"]): r for r in
               association_rules(df, "basket", "item",
                                 min_item_count=1,
                                 min_pair_count=1).collect()}
        r = out[("x", "y")]
        assert (r["n_a"], r["n_b"], r["n_ab"], r["n_baskets"]) \
            == (3, 3, 2, 4)
        assert r["support"] == 2 / 4
        assert r["conf_ab"] == 2 / 3
        assert r["lift"] == (2.0 * 4.0) / (3.0 * 3.0)

    def test_apriori_prune_drops_rare_items(self, spark):
        from data_and_analytics_etl_spark.operators.basket import \
            association_rules
        rows = [(1, "x"), (1, "y"), (1, "z"), (2, "x"), (2, "y")]
        df = spark.createDataFrame(rows, "basket: int, item: string")
        out = association_rules(df, "basket", "item",
                                min_item_count=2,
                                min_pair_count=1).collect()
        # z appears once -> pruned before pairing; only (x, y) survives
        assert {(r["item_a"], r["item_b"]) for r in out} == {("x", "y")}

    def test_duplicate_lines_count_once_per_basket(self, spark):
        from data_and_analytics_etl_spark.operators.basket import \
            association_rules
        rows = [(1, "x"), (1, "x"), (1, "y"), (2, "x"), (2, "y")]
        df = spark.createDataFrame(rows, "basket: int, item: string")
        r = association_rules(df, "basket", "item", min_item_count=1,
                              min_pair_count=1).collect()[0]
        assert r["n_ab"] == 2 and r["n_a"] == 2


class TestParetoAbc:
    def test_boundary_classes(self, spark):
        from data_and_analytics_etl_spark.operators.basket import pareto_abc
        rows = [("a", 0.80), ("b", 0.15), ("c", 0.05)]
        df = spark.createDataFrame(rows, "k: string, amt: double")
        out = {r["key"]: r for r in
               pareto_abc(df, "k", "amt").collect()}
        # cum shares 80% / 95% / 100%: boundaries are INCLUSIVE
        assert out["a"]["abc_class"] == "A" and out["a"]["rank"] == 1
        assert out["b"]["abc_class"] == "B" and out["b"]["rank"] == 2
        assert out["c"]["abc_class"] == "C" and out["c"]["rank"] == 3

    def test_classes_partition_and_order(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.basket import pareto_abc
        li = load_table(spark, sf_dir, "lineitem")
        out = pareto_abc(li, "l_partkey", "l_extendedprice").collect()
        seen = [r["abc_class"] for r in sorted(out, key=lambda r: r["rank"])]
        # classes are contiguous runs A..B..C down the ranking
        assert seen == sorted(seen)
        assert {r["rank"] for r in out} == set(range(1, len(out) + 1))


class TestRfmScores:
    def test_extremes_score_five(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.cohort import rfm_scores
        o = load_table(spark, sf_dir, "orders")
        s = rfm_scores(o, "o_custkey", "o_orderdate",
                       "o_totalprice").cache()
        rows = s.collect()
        assert all(1 <= r[c] <= 5 for r in rows
                   for c in ("r_score", "f_score", "m_score"))
        top_m = max(rows, key=lambda r: r["monetary_cents"])
        assert top_m["m_score"] == 5
        most_recent = min(rows, key=lambda r: r["recency_days"])
        assert most_recent["r_score"] == 5
        # quintile thresholds: each score bucket holds >0 customers at
        # this cardinality and the 5-bucket split roughly balances
        from collections import Counter
        c = Counter(r["m_score"] for r in rows)
        assert set(c) == {1, 2, 3, 4, 5}
        s.unpersist()


class TestAcf:
    def test_matches_pearson_reference(self, spark):
        import datetime as dtm
        import math
        rows = []
        vals = [10.0, 12.0, 9.0, 14.0, 11.0, 13.0, 8.0, 15.0, 10.5,
                12.5, 9.5, 13.5]
        for h, v in enumerate(vals):
            rows.append(("k", dtm.datetime(2024, 1, 1, h), 1, v))
        df = spark.createDataFrame(
            rows, "event_type: string, bucket: timestamp, n: long, "
                  "sum_value: double")
        from data_and_analytics_etl_spark.operators.timeseries import acf
        out = {r["lag"]: r for r in
               acf(df, "event_type", max_lag=3).collect()}

        def pearson(xs, ys):
            n = len(xs)
            sx, sy = sum(xs), sum(ys)
            sxy = sum(a * b for a, b in zip(xs, ys))
            sx2 = sum(a * a for a in xs)
            sy2 = sum(b * b for b in ys)
            return ((n * sxy - sx * sy)
                    / (math.sqrt(n * sx2 - sx * sx)
                       * math.sqrt(n * sy2 - sy * sy)))
        cents = [round(v * 100) for v in vals]
        for lag in (1, 2, 3):
            xs = cents[lag:]
            ys = cents[:-lag]
            assert out[lag]["n"] == len(xs)
            assert abs(out[lag]["acf"] - pearson(xs, ys)) < 1e-12

    def test_degenerate_null(self, spark):
        import datetime as dtm
        rows = [("k", dtm.datetime(2024, 1, 1, h), 1, 5.0)
                for h in range(6)]
        df = spark.createDataFrame(
            rows, "event_type: string, bucket: timestamp, n: long, "
                  "sum_value: double")
        from data_and_analytics_etl_spark.operators.timeseries import acf
        out = acf(df, "event_type", max_lag=2).collect()
        # constant series: zero variance -> NULL, never NaN or 1.0
        assert all(r["acf"] is None for r in out)


class TestCusum:
    def _series(self, spark, vals):
        import datetime as dtm
        rows = [("k", dtm.datetime(2024, 1, 1, h), 1, float(v))
                for h, v in enumerate(vals)]
        return spark.createDataFrame(
            rows, "event_type: string, bucket: timestamp, n: long, "
                  "sum_value: double")

    def test_drawdown_identity_matches_recursion(self, spark):
        from data_and_analytics_etl_spark.operators.timeseries import \
            cusum_changepoints
        vals = [10, 11, 9, 10, 30, 31, 29, 30, 10, 9]
        df = self._series(spark, vals)
        out = [r["cusum"] for r in
               cusum_changepoints(df, "event_type", slack=1.0,
                                  threshold=20.0)
               .orderBy("bucket").collect()]
        # sequential reference: S_t = max(0, S_{t-1} + x - mean - slack)
        n = len(vals)
        cents = [v * 100 for v in vals]
        s_tot = sum(cents)
        s, ref = 0, []
        for c in cents:
            s = max(0, s + (n * c - s_tot - n * 100))
            ref.append(s / n / 100.0)
        assert all(abs(a - b) < 1e-9 for a, b in zip(out, ref))

    def test_level_shift_flags_after_changepoint(self, spark):
        from data_and_analytics_etl_spark.operators.timeseries import \
            cusum_changepoints
        vals = [10] * 10 + [40] * 10
        df = self._series(spark, vals)
        rows = (cusum_changepoints(df, "event_type", slack=2.0,
                                   threshold=30.0)
                .orderBy("bucket").collect())
        flags = [r["is_change"] for r in rows]
        # no alarm inside the stable prefix, alarm raised in the
        # shifted regime and latched while the level stays high
        assert not any(flags[:10])
        assert any(flags[10:])
        first = flags.index(True)
        assert first >= 10


class TestTargetEncodeLoo:
    def test_hand_case_and_singleton(self, spark):
        from data_and_analytics_etl_spark.operators.features import \
            target_encode_loo
        rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 7.0)]
        df = spark.createDataFrame(rows, "cat: string, t: double")
        out = target_encode_loo(df, "cat", "t", out_col="enc").collect()
        by_t = {(r["cat"], r["t"]): r["enc"] for r in out}
        assert by_t[("a", 1.0)] == 2.5   # (2+3)/2
        assert by_t[("a", 2.0)] == 2.0   # (1+3)/2
        assert by_t[("a", 3.0)] == 1.5   # (1+2)/2
        assert by_t[("b", 7.0)] is None  # singleton: nothing to encode

    def test_never_leaks_own_row(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.features import \
            target_encode_loo
        o = load_table(spark, sf_dir, "orders")
        out = target_encode_loo(o, "o_orderpriority", "o_totalprice",
                                out_col="enc")
        # plain (leaky) mean for comparison
        leaky = (o.groupBy("o_orderpriority")
                 .agg((F.sum(F.round(F.col("o_totalprice") * 100)
                             .cast("long")).cast("double")
                       / (F.count(F.lit(1)) * 100).cast("double"))
                      .alias("mean")))
        j = out.join(leaky, "o_orderpriority")
        # LOO differs from the leaky mean on every non-degenerate row
        same = j.filter(F.col("enc") == F.col("mean")).count()
        assert same == 0


class TestRegressionMetrics:
    def test_matches_numpy(self, spark):
        import numpy as np
        from data_and_analytics_etl_spark.operators.evaluation import \
            regression_metrics
        rng = np.random.default_rng(7)
        y = np.round(rng.normal(50, 10, 200), 2)
        p = np.round(y + rng.normal(0, 3, 200), 2)
        rows = [("g", float(a), float(b)) for a, b in zip(y, p)]
        df = spark.createDataFrame(rows, "g: string, y: double, p: double")
        r = regression_metrics(df, "g", "y", "p").collect()[0]
        yc = np.round(y * 100)
        pc = np.round(p * 100)
        res = yc - pc
        assert r["n"] == 200
        assert abs(r["mae"] - np.abs(res).mean() / 100) < 1e-9
        assert abs(r["rmse"] - np.sqrt((res ** 2).mean()) / 100) < 1e-9
        sst = ((yc - yc.mean()) ** 2).sum()
        assert abs(r["r2"] - (1 - (res ** 2).sum() / sst)) < 1e-9

    def test_perfect_and_constant(self, spark):
        from data_and_analytics_etl_spark.operators.evaluation import \
            regression_metrics
        rows = [("perfect", 3.0, 3.0), ("perfect", 4.0, 4.0),
                ("const", 5.0, 4.0), ("const", 5.0, 6.0)]
        df = spark.createDataFrame(rows, "g: string, y: double, p: double")
        out = {r["g"]: r for r in
               regression_metrics(df, "g", "y", "p").collect()}
        assert out["perfect"]["mae"] == 0.0
        assert out["perfect"]["rmse"] == 0.0
        assert out["perfect"]["r2"] == 1.0
        assert out["const"]["r2"] is None  # zero SST: honest NULL


class TestTCloseness:
    def test_hand_computed_emd(self, spark):
        from data_and_analytics_etl_spark.operators.profile import \
            t_closeness
        # global: bands 0/1 with 4+4 rows; class "a" all band 0 (max
        # skew), class "b" mirrors the global split exactly
        rows = ([("a", 0)] * 4 + [("b", 0)] * 0
                + [("b", 0), ("b", 0)] + [("b", 1)] * 2 + [("c", 1)] * 2)
        df = spark.createDataFrame(rows, "cls: string, band: int")
        out = {r["cls"]: r for r in
               t_closeness(df, ["cls"], "band", t=0.2).collect()}
        # m=2 bands, N=10, g=(6,4)
        # class a: n=4, cells (4,0): prefix |10*4-4*6|=16 -> emd 16/(4*10*1)=0.4
        assert abs(out["a"]["emd"] - 0.4) < 1e-12
        assert out["a"]["violates_t"]
        # class b: n=4, cells (2,2): prefix |10*2-4*6|=4 -> 4/40=0.1
        assert abs(out["b"]["emd"] - 0.1) < 1e-12
        assert not out["b"]["violates_t"]
        # class c: n=2, cells (0,2): prefix |0-2*6|=12 -> 12/(2*10)=0.6
        assert abs(out["c"]["emd"] - 0.6) < 1e-12
        assert out["c"]["violates_t"]

    def test_global_distribution_scores_zero(self, spark):
        from data_and_analytics_etl_spark.operators.profile import \
            t_closeness
        rows = [("a", b) for b in (0, 1, 2)] * 3 \
            + [("b", b) for b in (0, 1, 2)]
        df = spark.createDataFrame(rows, "cls: string, band: int")
        out = {r["cls"]: r["emd"] for r in
               t_closeness(df, ["cls"], "band").collect()}
        assert out["a"] == 0.0 and out["b"] == 0.0


class TestAttribution:
    def _events(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id: long, ts: timestamp, user_id: long, "
                  "event_type: string")

    def test_hand_computed_credits(self, spark):
        import datetime as dtm

        from data_and_analytics_etl_spark.operators.attribution import \
            multitouch_attribution
        t0 = dtm.datetime(2024, 1, 1)

        def at(mins):
            return t0 + dtm.timedelta(minutes=mins)

        # user 1: view(0) -> click(10) -> purchase(20)
        # user 2: click(0) -> view(5) -> purchase(10)
        # user 3: purchase with no prior touch
        rows = [(1, at(0), 1, "view"), (2, at(10), 1, "click"),
                (3, at(20), 1, "purchase"),
                (4, at(0), 2, "click"), (5, at(5), 2, "view"),
                (6, at(10), 2, "purchase"),
                (7, at(0), 3, "purchase")]
        got = {r["channel"]: r for r in multitouch_attribution(
            self._events(spark, rows), "user_id", "ts", "event_type",
            "event_id", "purchase", ["view", "click"],
            lookback_seconds=3600).collect()}
        assert got["view"]["first_touch"] == 1   # user 1
        assert got["click"]["first_touch"] == 1  # user 2
        assert got["view"]["last_touch"] == 1    # user 2
        assert got["click"]["last_touch"] == 1   # user 1
        assert got["view"]["participation"] == 2
        assert got["click"]["participation"] == 2
        assert got["view"]["touches"] == 2

    def test_lookback_and_strictly_before(self, spark):
        import datetime as dtm

        from data_and_analytics_etl_spark.operators.attribution import \
            multitouch_attribution
        t0 = dtm.datetime(2024, 1, 1)
        rows = [
            # touch outside the 60s lookback
            (1, t0 - dtm.timedelta(seconds=120), 1, "view"),
            # touch exactly AT the conversion ts: not strictly before
            (2, t0, 1, "click"),
            (3, t0, 1, "purchase"),
        ]
        out = multitouch_attribution(
            self._events(spark, rows), "user_id", "ts", "event_type",
            "event_id", "purchase", ["view", "click"],
            lookback_seconds=60).collect()
        assert out == []

    def test_tie_breaks_on_id(self, spark):
        import datetime as dtm

        from data_and_analytics_etl_spark.operators.attribution import \
            multitouch_attribution
        t0 = dtm.datetime(2024, 1, 1)
        rows = [(1, t0, 1, "view"), (2, t0, 1, "click"),  # same ts
                (9, t0 + dtm.timedelta(seconds=30), 1, "purchase")]
        got = {r["channel"]: r for r in multitouch_attribution(
            self._events(spark, rows), "user_id", "ts", "event_type",
            "event_id", "purchase", ["view", "click"],
            lookback_seconds=3600).collect()}
        assert got["view"]["first_touch"] == 1   # lower event_id wins
        assert got["click"]["last_touch"] == 1


class TestBenford:
    def test_digits_and_exclusions(self, spark):
        from data_and_analytics_etl_spark.operators.profile import \
            benford_digit_audit
        # 19.99 -> digit 1, 2.50 -> 2, 0.91 -> 9 (cents 91), zero and
        # negative excluded
        df = spark.createDataFrame(
            [(19.99,), (2.50,), (0.91,), (0.0,), (-5.0,)], "v: double")
        rows = {r["digit"]: r for r in
                benford_digit_audit(df, "v").collect()}
        assert len(rows) == 9
        assert [rows[d]["n"] for d in range(1, 10)] == [
            1, 1, 0, 0, 0, 0, 0, 0, 1]
        assert abs(rows[1]["obs_p"] - 1 / 3) < 1e-12
        assert rows[3]["n"] == 0 and rows[3]["obs_p"] == 0.0

    def test_subcent_positive_excluded_from_total(self, spark):
        """An amount in (0, 0.005) rounds to 0 cents — it must be
        excluded from BOTH the digit counts and the total, or every
        obs_p silently deflates and no longer sums to 1 (r7 advice)."""
        from data_and_analytics_etl_spark.operators.profile import \
            benford_digit_audit
        df = spark.createDataFrame(
            [(0.004,), (1.00,), (2.00,)], "v: double")
        rows = {r["digit"]: r for r in
                benford_digit_audit(df, "v").collect()}
        # total is 2 (the sub-cent positive dropped), not 3
        assert rows[1]["n"] == 1 and rows[2]["n"] == 1
        assert abs(rows[1]["obs_p"] - 0.5) < 1e-15
        assert abs(sum(rows[d]["obs_p"] for d in range(1, 10))
                   - 1.0) < 1e-12

    def test_benford_sample_within_tolerance(self, spark):
        import math

        from data_and_analytics_etl_spark.operators.profile import \
            benford_digit_audit
        # powers of a constant are the canonical Benford-conformant
        # sequence (equidistribution of fractional log10)
        vals = [(1.017 ** i,) for i in range(1, 1201)]
        df = spark.createDataFrame(vals, "v: double")
        rows = benford_digit_audit(df, "v", tolerance=0.03).collect()
        assert all(not r["outside_tolerance"] for r in rows)
        assert abs(sum(r["obs_p"] for r in rows) - 1.0) < 1e-9
        assert abs(sum(math.log10(1 + 1 / d)
                       for d in range(1, 10)) - 1.0) < 1e-12


class TestGini:
    def _gini(self, spark, amounts):
        from data_and_analytics_etl_spark.operators.profile import \
            gini_concentration
        df = spark.createDataFrame(
            [(1, i, float(a)) for i, a in enumerate(amounts)],
            "g: long, k: long, v: double")
        return gini_concentration(df, ["g"], "k", "v").collect()[0]

    def test_perfect_equality_is_zero(self, spark):
        assert self._gini(spark, [5.0] * 8)["gini"] == 0.0

    def test_total_concentration_approaches_one(self, spark):
        r = self._gini(spark, [0.0] * 9 + [100.0])
        # exact formula: (n-1)/n = 0.9 when one unit holds everything
        assert abs(r["gini"] - 0.9) < 1e-12

    def test_known_two_value_case(self, spark):
        # x = [1, 3]: gini = (2*(1*1+2*3) - 3*4) / (2*4) = 2/8 = 0.25
        r = self._gini(spark, [1.0, 3.0])
        assert abs(r["gini"] - 0.25) < 1e-12
        assert r["n_units"] == 2 and r["total_cents"] == 400

    def test_zero_total_emits_null(self, spark):
        assert self._gini(spark, [0.0, 0.0])["gini"] is None


class TestItemNeighbors:
    def test_hand_computed_cosine(self, spark):
        import math

        from data_and_analytics_etl_spark.operators.basket import \
            item_neighbors
        # baskets: {a,b}, {a,b}, {a,c} -> n_a=3, n_b=2, n_c=1(pruned)
        df = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"),
             (3, "c")], "b: long, i: string")
        rows = item_neighbors(df, "b", "i", k=5, min_item_count=2,
                              min_pair_count=2).collect()
        got = {(r["item"], r["neighbor"]): r for r in rows}
        assert set(got) == {("a", "b"), ("b", "a")}  # c pruned
        r = got[("a", "b")]
        assert (r["n_item"], r["n_neighbor"], r["n_both"]) == (3, 2, 2)
        assert abs(r["cosine"] - 2 / math.sqrt(6)) < 1e-12
        assert abs(r["jaccard"] - 2 / 3) < 1e-12
        # symmetric counts swap
        assert got[("b", "a")]["n_item"] == 2

    def test_k_truncates_with_total_ties(self, spark):
        from data_and_analytics_etl_spark.operators.basket import \
            item_neighbors
        # x co-occurs equally with y and z -> tie broken by neighbor id
        df = spark.createDataFrame(
            [(1, "x"), (1, "y"), (2, "x"), (2, "y"),
             (3, "x"), (3, "z"), (4, "x"), (4, "z")],
            "b: long, i: string")
        rows = [r for r in item_neighbors(df, "b", "i", k=1).collect()
                if r["item"] == "x"]
        assert len(rows) == 1 and rows[0]["neighbor"] == "y"


class TestTopPaths:
    def test_sessions_split_and_truncate(self, spark):
        import datetime as dtm

        from data_and_analytics_etl_spark.operators.sequence import \
            top_paths
        t0 = dtm.datetime(2024, 1, 1)

        def at(secs):
            return t0 + dtm.timedelta(seconds=secs)

        rows = [
            # user 1 session 1: a>b ; session 2 (gap > 60): a>b
            (1, at(0), 1, "a"), (2, at(10), 1, "b"),
            (3, at(100), 1, "a"), (4, at(110), 1, "b"),
            # user 2: one long session truncated at max_len=2: a>b(, c)
            (5, at(0), 2, "a"), (6, at(10), 2, "b"), (7, at(20), 2, "c"),
        ]
        df = spark.createDataFrame(
            rows, "event_id: long, ts: timestamp, user_id: long, "
                  "event_type: string")
        got = top_paths(df, "user_id", "ts", "event_type",
                        gap_seconds=60, tiebreak_col="event_id",
                        max_len=2, k=10).collect()
        assert [(r["path"], r["n_sessions"], r["rank"])
                for r in sorted(got, key=lambda r: r["rank"])] == [
            ("a>b", 3, 1)]

    def test_rank_tie_breaks_on_path(self, spark):
        import datetime as dtm

        from data_and_analytics_etl_spark.operators.sequence import \
            top_paths
        t0 = dtm.datetime(2024, 1, 1)
        rows = [(1, t0, 1, "a"), (2, t0 + dtm.timedelta(seconds=300),
                                  2, "b")]
        df = spark.createDataFrame(
            rows, "event_id: long, ts: timestamp, user_id: long, "
                  "event_type: string")
        got = top_paths(df, "user_id", "ts", "event_type",
                        gap_seconds=60, tiebreak_col="event_id",
                        max_len=8, k=10).collect()
        assert [(r["path"], r["rank"]) for r in
                sorted(got, key=lambda r: r["rank"])] == [
            ("a", 1), ("b", 2)]


class TestApplyChangelog:
    def _run(self, spark):
        from data_and_analytics_etl_spark.operators.incremental import (
            apply_changelog)
        base = spark.createDataFrame(
            [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
            "k long, name string, bal double")
        # key 1: updated twice (seq 5 wins); key 2: deleted; key 3:
        # untouched; key 4: insert-then-delete-then-reinsert (seq 9
        # upsert wins); key 5: delete of a key the base never had
        changes = spark.createDataFrame(
            [(1, "a2", 11.0, 3, "U"), (1, "a3", 12.0, 5, "U"),
             (2, None, None, 4, "D"),
             (4, "dave", 40.0, 7, "U"), (4, None, None, 8, "D"),
             (4, "dave2", 41.0, 9, "U"),
             (5, None, None, 2, "D")],
            "k long, name string, bal double, seq long, op string")
        out = apply_changelog(base, changes, ["k"], "seq", "op")
        return {r["k"]: (r["name"], r["bal"]) for r in out.collect()}

    def test_latest_sequence_wins_and_deletes_erase(self, spark):
        got = self._run(spark)
        assert got == {1: ("a3", 12.0), 3: ("carol", 30.0),
                       4: ("dave2", 41.0)}

    def test_same_seq_tie_prefers_upsert(self, spark):
        from data_and_analytics_etl_spark.operators.incremental import (
            apply_changelog)
        base = spark.createDataFrame([(1, "x")], "k long, v string")
        changes = spark.createDataFrame(
            [(1, "up", 3, "U"), (1, None, 3, "D")],
            "k long, v string, seq long, op string")
        out = apply_changelog(base, changes, ["k"], "seq", "op").collect()
        assert [(r["k"], r["v"]) for r in out] == [(1, "up")]

    def test_tie_rule_independent_of_op_literals(self, spark):
        """With delete_op='delete' and upsert op 'U', 'delete' sorts
        AFTER 'U' lexicographically — a string-ordered tie rule would
        let the delete win. The rule must be the boolean
        op == delete_op, never the literals (r7 advice)."""
        from data_and_analytics_etl_spark.operators.incremental import (
            apply_changelog)
        base = spark.createDataFrame([(1, "x")], "k long, v string")
        changes = spark.createDataFrame(
            [(1, "up", 3, "U"), (1, None, 3, "delete")],
            "k long, v string, seq long, op string")
        out = apply_changelog(base, changes, ["k"], "seq", "op",
                              delete_op="delete").collect()
        assert [(r["k"], r["v"]) for r in out] == [(1, "up")]


class TestJoinDelta:
    def test_maintained_equals_recompute(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.incremental import (
            join_delta)
        o = (load_table(spark, sf_dir, "orders")
             .select(F.col("o_custkey").alias("ck"), "o_orderkey"))
        c = (load_table(spark, sf_dir, "customer")
             .select(F.col("c_custkey").alias("ck"), "c_nationkey"))
        a_old = o.filter(F.col("o_orderkey") % 3 != 0)
        a_delta = o.filter(F.col("o_orderkey") % 3 == 0)
        b_old = c.filter(F.col("ck") % 4 != 0)
        b_delta = c.filter(F.col("ck") % 4 == 0)
        maintained = (a_old.join(b_old, "ck")
                      .unionByName(join_delta(a_old, a_delta,
                                              b_old, b_delta, ["ck"])))
        full = o.join(c, "ck")
        assert maintained.exceptAll(full).count() == 0
        assert full.exceptAll(maintained).count() == 0


class TestCuped:
    def test_matches_hand_computation(self, spark):
        from data_and_analytics_etl_spark.operators.profile import (
            cuped_adjust)
        rows = [("a", 10.0, 1.0), ("a", 20.0, 3.0),
                ("b", 30.0, 2.0), ("b", 40.0, 4.0)]
        df = spark.createDataFrame(rows, "arm string, y double, x double")
        out = {r["arm"]: r for r in
               cuped_adjust(df, "arm", "y", "x").collect()}
        xs = [100, 300, 200, 400]   # cents
        ys = [1000, 2000, 3000, 4000]
        n = 4.0
        sx, sy = float(sum(xs)), float(sum(ys))
        sxy = float(sum(a * b for a, b in zip(xs, ys)))
        sxx = float(sum(a * a for a in xs))
        syy = float(sum(b * b for b in ys))
        theta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
        for arm, (xa, ya) in {"a": ([100, 300], [1000, 2000]),
                              "b": ([200, 400], [3000, 4000])}.items():
            my = sum(ya) / 2.0
            mx = sum(xa) / 2.0
            adj = my - theta * (mx - sx / n)
            assert out[arm]["n"] == 2
            assert out[arm]["mean_metric"] == round(my / 100.0, 6)
            assert out[arm]["mean_adjusted"] == round(adj / 100.0, 6)
            assert out[arm]["theta"] == round(theta, 6)

    def test_perfect_covariate_removes_all_variance(self, spark):
        from data_and_analytics_etl_spark.operators.profile import (
            cuped_adjust)
        # y = 2x exactly -> theta = 2, var_reduction = 1
        rows = [("a", 2.0 * v, v) for v in (1.0, 2.0, 3.0, 5.0)]
        df = spark.createDataFrame(rows, "arm string, y double, x double")
        r = cuped_adjust(df, "arm", "y", "x").collect()[0]
        assert r["theta"] == 2.0
        assert r["var_reduction"] == 1.0


class TestHoltLinear:
    def test_matches_python_fold(self, spark):
        from data_and_analytics_etl_spark.operators.timeseries import (
            holt_linear)
        vals = [1.0, 2.0, 4.0, 3.0, 8.0]
        rows = [("k", i, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "key string, t long, v double")
        out = holt_linear(df, "key", "t", "v").collect()[0]
        l, b = vals[0], 0.0
        for v in vals[1:]:
            lp = 0.5 * v + 0.5 * (l + b)
            b = 0.25 * (lp - l) + 0.75 * b
            l = lp
        assert out["n_obs"] == len(vals)
        assert out["level"] == l
        assert out["trend"] == b
        assert out["forecast_1"] == l + b

    def test_linear_ramp_trend_converges_positive(self, spark):
        from data_and_analytics_etl_spark.operators.timeseries import (
            holt_linear)
        rows = [("k", i, float(10 + 2 * i)) for i in range(40)]
        df = spark.createDataFrame(rows, "key string, t long, v double")
        out = holt_linear(df, "key", "t", "v").collect()[0]
        # on a clean slope-2 ramp the trend estimate approaches 2
        assert abs(out["trend"] - 2.0) < 0.05
        assert out["forecast_1"] > out["level"]

    def test_single_point_series(self, spark):
        from data_and_analytics_etl_spark.operators.timeseries import (
            holt_linear)
        df = spark.createDataFrame([("k", 1, 7.0)],
                                   "key string, t long, v double")
        out = holt_linear(df, "key", "t", "v").collect()[0]
        assert (out["n_obs"], out["level"], out["trend"]) == (1, 7.0, 0.0)


class TestMutualInfo:
    def test_matches_hand_computation(self, spark):
        import math
        from data_and_analytics_etl_spark.operators.features import (
            mutual_info_cells)
        rows = ([("p", "t")] * 4 + [("p", "f")] * 1
                + [("q", "t")] * 2 + [("q", "f")] * 3)
        df = spark.createDataFrame(rows, "x string, y string")
        out = {(r["x"], r["y"]): r for r in
               mutual_info_cells(df, "x", "y").collect()}
        N = 10
        marg_x = {"p": 5, "q": 5}
        marg_y = {"t": 6, "f": 4}
        cells = {("p", "t"): 4, ("p", "f"): 1,
                 ("q", "t"): 2, ("q", "f"): 3}
        for k, nxy in cells.items():
            r = out[k]
            assert (r["n_xy"], r["n_x"], r["n_y"], r["n_total"]) == \
                (nxy, marg_x[k[0]], marg_y[k[1]], N)
            want = round((nxy / N) * math.log(
                (nxy * N) / (marg_x[k[0]] * marg_y[k[1]])), 6)
            assert r["mi_contrib"] == want

    def test_independent_columns_zero_mi(self, spark):
        from data_and_analytics_etl_spark.operators.features import (
            mutual_info_cells)
        rows = [(x, y) for x in ("a", "b") for y in ("c", "d")] * 3
        df = spark.createDataFrame(rows, "x string, y string")
        out = mutual_info_cells(df, "x", "y").collect()
        assert all(r["mi_contrib"] == 0.0 for r in out)


class TestRankBiasedOverlap:
    def _ranks(self, spark, pairs):
        return spark.createDataFrame(pairs, "ra int, rb int")

    def test_identical_rankings_sum_to_truncated_mass(self, spark):
        from data_and_analytics_etl_spark.operators.evaluation import (
            rank_biased_overlap, rbo_weights)
        ranks = self._ranks(spark, [(i, i) for i in range(1, 30)])
        out = rank_biased_overlap(ranks, "ra", "rb", p=0.9, depth=20)
        rows = sorted(out.collect(), key=lambda r: r["k"])
        assert all(r["agreement"] == 1.0 for r in rows)
        # identical lists: RBO@d == sum of the weight table exactly
        assert sum(r["rbo_contrib"] for r in rows) == \
            sum(rbo_weights(0.9, 20))

    def test_disjoint_prefixes_zero(self, spark):
        from data_and_analytics_etl_spark.operators.evaluation import (
            rank_biased_overlap)
        # every item is top-20 in exactly one list (rank 21+ in the other)
        pairs = [(i, 21) for i in range(1, 21)] + \
                [(21, i) for i in range(1, 21)]
        out = rank_biased_overlap(self._ranks(spark, pairs),
                                  "ra", "rb", depth=20)
        assert all(r["x_k"] == 0 and r["rbo_contrib"] == 0.0
                   for r in out.collect())

    def test_prefix_intersection_counts(self, spark):
        from data_and_analytics_etl_spark.operators.evaluation import (
            rank_biased_overlap)
        # swap ranks 1 and 2 between lists; agree from depth 2 onward
        pairs = [(1, 2), (2, 1)] + [(i, i) for i in range(3, 25)]
        out = {r["k"]: r for r in rank_biased_overlap(
            self._ranks(spark, pairs), "ra", "rb", depth=5).collect()}
        assert out[1]["x_k"] == 0
        assert [out[k]["x_k"] for k in range(2, 6)] == [2, 3, 4, 5]


class TestSplitLeakage:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_counts_and_zero_leak_rows(self, spark):
        from data_and_analytics_etl_spark.operators.corpus import (
            split_leakage)
        train = self._docs(spark, [
            (1, "a b c d e"),          # shares 3 grams with doc 10
            (2, "a b c d x"),          # shares 2 grams -> below cutoff
            (3, "p q r s t")])         # unrelated
        holdout = self._docs(spark, [
            (10, "a b c d e f"),       # leaks from doc 1 only
            (11, "z z z z")])          # clean
        out = {r["doc_id"]: r for r in split_leakage(
            train, holdout, n=3, min_overlap=3).collect()}
        assert out[10]["n_leaky_train_docs"] == 1
        assert out[10]["max_overlap"] == 3
        assert out[10]["leaked"] is True
        assert out[11]["n_leaky_train_docs"] == 0
        assert out[11]["leaked"] is False

    def test_hot_gram_cap_prunes_fanout(self, spark):
        from data_and_analytics_etl_spark.operators.corpus import (
            split_leakage)
        # "the cat sat" appears in EVERY train doc (hot gram); the
        # unique tail grams only in doc 1
        train = self._docs(spark, [
            (i, "the cat sat") for i in range(1, 6)] + [
            (6, "the cat sat on rare mats here")])
        holdout = self._docs(spark, [(10, "the cat sat on rare mats")])
        uncapped = split_leakage(train, holdout, n=3,
                                 min_overlap=1).collect()[0]
        capped = split_leakage(train, holdout, n=3, min_overlap=1,
                               max_gram_df=1).collect()[0]
        assert uncapped["n_leaky_train_docs"] == 6
        # cap=1 drops the everywhere-gram; only doc 6's rare grams match
        assert capped["n_leaky_train_docs"] == 1
        assert capped["max_overlap"] == 3
