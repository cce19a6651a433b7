"""Product/ops-analytics probes: funnel, binning, rebalance sampling,
gap-fill, exact-moment outliers (round-4 surface widening).

Determinism notes follow SURVEY §7.5: decimal sums for doubles that
cross an aggregate, BIGINT casts on oracle-side integer sums, UTC
string timestamps, total ORDER BY everywhere.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from .registry import query


@query(
    "funnel_conversion",
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e
  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e
  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT s1.user_id,
       strftime(s1.t1, '%Y-%m-%d %H:%M:%S.%f') AS t1,
       strftime(s2.t2, '%Y-%m-%d %H:%M:%S.%f') AS t2,
       strftime(s3.t3, '%Y-%m-%d %H:%M:%S.%f') AS t3,
       CAST(1 + CAST(s2.t2 IS NOT NULL AS INTEGER)
              + CAST(s3.t3 IS NOT NULL AS INTEGER) AS INTEGER) AS stage
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s2.user_id = s3.user_id
ORDER BY s1.user_id
""",
    tags=("analytics", "funnel"),
    doc="Ordered-stage conversion funnel (operators/funnel.py): per "
        "user, earliest view, earliest click strictly after it, "
        "earliest purchase strictly after that; `stage` = deepest "
        "stage reached. Spark side is ONE shuffle (chained conditional "
        "window-mins over the same user partitioning); the oracle "
        "spells the same semantics as three staged joins.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel_stages
    ev = load_table(spark, sf_dir, "events")
    out = funnel_stages(ev, "user_id", "ts", "event_type",
                        ["view", "click", "purchase"])
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (out.select(
        "user_id",
        F.date_format("t1", fmt).alias("t1"),
        F.date_format("t2", fmt).alias("t2"),
        F.date_format("t3", fmt).alias("t3"),
        F.col("stage").cast("int").alias("stage"))
        .orderBy("user_id"))


@query(
    "quantile_bucket_ntile",
    oracle="""
WITH b AS (
  SELECT o_orderkey, o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders WHERE o_orderkey < 4000
)
SELECT bucket, count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM b GROUP BY bucket ORDER BY bucket
""",
    tags=("analytics", "binning"),
    doc="Exact decile bucketing (operators/binning.py quantile_bucket):"
        " ntile(10) over the total order (value, key) then per-bucket "
        "count/min/max. The exact path is the oracle-checkable "
        "baseline; quantile_bucket_approx (sketch cutpoints, no global "
        "sort) is the 100 TB path, recall-tested in pytest.",
)
def quantile_bucket_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.binning import quantile_bucket
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderkey") < 4000))
    b = quantile_bucket(o, "o_totalprice", 10, "o_orderkey")
    return (b.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("o_totalprice"), 2).alias("lo"),
                 F.round(F.max("o_totalprice"), 2).alias("hi"))
            .orderBy("bucket"))


@query(
    "histogram_fixed_width",
    oracle="""
SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 25000.0), 0),
                  23) AS BIGINT) AS bucket,
       count(*) AS n
FROM orders
GROUP BY bucket ORDER BY bucket
""",
    tags=("analytics", "binning"),
    doc="Fixed-width histogram (operators/binning.py fixed_histogram): "
        "24 buckets of 25k over o_totalprice, edge-clamped. Pure "
        "arithmetic bucketing (no width_bucket dependency), one "
        "groupBy shuffle of (bucket, partial count).",
)
def histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.binning import fixed_histogram
    o = load_table(spark, sf_dir, "orders")
    return fixed_histogram(o, "o_totalprice", 0.0, 600000.0, 24) \
        .orderBy("bucket")


@query(
    "sample_rebalance",
    oracle="""
WITH cnt AS (
  SELECT lang, count(*) AS c FROM documents GROUP BY 1
), th AS (
  SELECT lang,
         CAST(floor(256.0 * (SELECT min(c) FROM cnt) / c) AS INTEGER)
           AS k
  FROM cnt
)
SELECT d.doc_id, d.lang
FROM documents d JOIN th ON d.lang = th.lang
WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2)
      < CASE WHEN th.k >= 256 THEN 'g0'
             ELSE lpad(lower(hex(th.k)), 2, '0') END
ORDER BY d.doc_id
""",
    tags=("analytics", "sample"),
    doc="Stratum-rebalancing sampler (operators/sampling.py "
        "rebalance_sample): every language downsampled toward the "
        "smallest stratum via per-stratum hash thresholds "
        "floor(256*min/c)/256 — deterministic membership, counts "
        "broadcast, no data shuffle.",
)
def sample_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import rebalance_sample
    d = load_table(spark, sf_dir, "documents")
    return (rebalance_sample(d, "doc_id", "lang")
            .select("doc_id", "lang")
            .orderBy("doc_id"))


@query(
    "timeseries_gap_fill",
    oracle="""
WITH agg AS (
  SELECT event_type, time_bucket(INTERVAL 15 MINUTES, ts) AS b,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM agg GROUP BY 1
), spine AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 15 MINUTES)) AS b
  FROM bounds
), j AS (
  SELECT s.event_type, s.b, coalesce(a.n, 0) AS n, a.sum_value
  FROM spine s LEFT JOIN agg a
    ON s.event_type = a.event_type AND s.b = a.b
)
SELECT event_type, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket, n,
       sum_value,
       last_value(sum_value IGNORE NULLS)
         OVER (PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS sum_value_filled
FROM j ORDER BY event_type, bucket
""",
    tags=("analytics", "timeseries"),
    doc="Resample + forward fill (operators/timeseries.py gap_fill): "
        "15-min buckets per event type incl. empty ones, then each "
        "gap bucket carries the last observed decimal-summed value "
        "(last ignorenulls over a running ROWS frame — one scalar of "
        "state per key, shares the resample partitioning).",
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import gap_fill, resample
    ev = load_table(spark, sf_dir, "events")
    r = resample(ev, key="event_type", ts_col="ts",
                 interval="15 minutes", value_col="value")
    out = gap_fill(r, key="event_type", value_cols=("sum_value",))
    return (out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "n", "sum_value",
        F.col("sum_value_filled").alias("sum_value_filled"))
        .orderBy("event_type", "bucket"))


@query(
    "outlier_zscore",
    oracle="""
WITH stats AS (
  SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
         CAST(sum(CAST(value AS DECIMAL(18,2))
                  * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS svv,
         count(value) AS n
  FROM events GROUP BY 1
), m AS (
  SELECT event_type, sv / n AS mean,
         sqrt((svv - sv * sv / n) / (n - 1)) AS std
  FROM stats WHERE n >= 2
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - m.mean) / m.std, 2) AS zscore
FROM events e JOIN m ON e.event_type = m.event_type
WHERE e.value - m.mean > 2.0 * m.std
   OR e.value - m.mean < -2.0 * m.std
ORDER BY e.event_id
""",
    tags=("analytics", "profile"),
    doc="Per-group z-score outliers (operators/profile.py "
        "outliers_zscore) with ENGINE-EXACT moments: mean and variance "
        "derived from exact decimal sums sum(v), sum(v*v), so the "
        "threshold is bit-identical across engines and partitionings — "
        "no float-accumulation boundary flips. Stats broadcast back "
        "onto the scan; predicate stays in codegen.",
)
def outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import outliers_zscore
    ev = load_table(spark, sf_dir, "events")
    out = outliers_zscore(ev, "value", "event_type", z=2.0)
    return (out.select("event_id", "event_type", "value", "zscore")
            .orderBy("event_id"))


@query(
    "group_weighted_percentiles",
    oracle="""
WITH d AS (
  SELECT event_type, value, CAST(event_id % 10 + 1 AS BIGINT) AS w
  FROM events WHERE value IS NOT NULL
), c AS (
  SELECT event_type, value, w,
         sum(w) OVER (PARTITION BY event_type ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw,
         sum(w) OVER (PARTITION BY event_type) AS tw
  FROM d
)
SELECT event_type, CAST(max(tw) AS BIGINT) AS w_total,
       min(CASE WHEN cw >= 0.5 * tw THEN value END) AS wp50,
       min(CASE WHEN cw >= 0.9 * tw THEN value END) AS wp90
FROM c GROUP BY event_type ORDER BY event_type
""",
    tags=("analytics", "profile"),
    doc="Exact per-group WEIGHTED percentiles (operators/binning.py:"
        "weighted_percentiles): smallest value whose integer cumulative "
        "weight reaches p*W — group_percentiles generalized from 'each "
        "row counts 1' to 'each row counts w'. The only float is the "
        "p*W threshold (one multiply); ties in value cannot change the "
        "selected member regardless of intra-tie row order. One group "
        "shuffle, all thresholds share one sort window.",
)
def group_weighted_percentiles(spark: SparkSession, sf_dir: str,
                               ) -> DataFrame:
    from ..operators.binning import weighted_percentiles
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("w", (F.col("event_id") % 10 + 1)))
    return (weighted_percentiles(ev, "event_type", "value", "w",
                                 percentiles=(0.5, 0.9))
            .orderBy("event_type"))


@query(
    "linkage_entity_resolution",
    oracle="""
WITH RECURSIVE n AS (
  SELECT DISTINCT p_name AS v FROM part WHERE p_name IS NOT NULL
), p AS (
  SELECT a.v AS x, b.v AS y FROM n a JOIN n b
  ON a.v < b.v AND levenshtein(a.v, b.v) <= 3
), e AS (
  SELECT x AS src, y AS dst FROM p UNION ALL SELECT y, x FROM p
), reach(v, r) AS (
  SELECT v, v FROM n
  UNION
  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.v
)
SELECT v AS value, min(r) AS canonical FROM reach
GROUP BY v ORDER BY value
""",
    tags=("analytics", "linkage"),
    doc="END-TO-END entity resolution: distinct dictionary -> lossless "
        "length-banded edit-distance pairs (linkage.py:edit_distance_"
        "pairs_banded) -> connected components (dedup.py:dedup_clusters"
        ", pointer doubling) -> canonical = component minimum; "
        "singletons map to themselves. The oracle recomputes the WHOLE "
        "chain with a recursive-CTE transitive closure, proving the "
        "iterative Spark loop equals a declarative fixpoint — the "
        "linkage twin of the corpus-curation capstone.",
)
def linkage_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_clusters
    from ..operators.linkage import edit_distance_pairs_banded
    p = load_table(spark, sf_dir, "part")
    pairs = (edit_distance_pairs_banded(p, "p_name", 3)
             .select(F.col("value_a").alias("id_a"),
                     F.col("value_b").alias("id_b")))
    dic = (p.select(F.col("p_name").alias("value"))
           .where(F.col("value").isNotNull()).distinct())
    out = dedup_clusters(pairs, dic, id_col="value")
    return (out.select("value", F.col("cluster_rep").alias("canonical"))
            .orderBy("value"))


@query(
    "outlier_mad_robust",
    oracle="""
WITH v AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
), r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rr,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
), m AS (
  SELECT event_type, value, n,
         max(CASE WHEN rr = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
                  THEN value END)
           OVER (PARTITION BY event_type) AS med
  FROM r
), d AS (
  SELECT event_type, n, med, abs(value - med) AS dev FROM m
), r2 AS (
  SELECT event_type, n, med, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rd
  FROM d
), mm AS (
  SELECT event_type, n, med, dev,
         max(CASE WHEN rd = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
                  THEN dev END)
           OVER (PARTITION BY event_type) AS mad
  FROM r2
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       round(max(med), 6) AS median, round(max(mad), 6) AS mad,
       CAST(sum(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM mm GROUP BY event_type ORDER BY event_type
""",
    tags=("analytics", "profile"),
    doc="Robust per-group outlier profile via Median Absolute Deviation "
        "(operators/binning.py:mad_outlier_profile) — the robust twin "
        "of outlier_zscore: medians are order statistics at rank "
        "ceil(0.5·n) (group_percentiles' engine-portable rule), so "
        "extreme values can't drag the threshold the way mean/stddev "
        "do. Two order-statistic windows inside ONE group shuffle; the "
        "only doubles are per-row |v-med| and the final 3·mad compare.",
)
def outlier_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.binning import mad_outlier_profile
    ev = load_table(spark, sf_dir, "events")
    return (mad_outlier_profile(ev, "event_type", "value", k=3.0)
            .orderBy("event_type"))


@query(
    "fuzzy_join_blocked",
    oracle="""
WITH n AS (
  SELECT DISTINCT p_name AS value FROM part WHERE p_name IS NOT NULL
), p AS (
  SELECT value, split_part(value, ' ', 1) AS blk FROM n
)
SELECT a.value AS value_a, b.value AS value_b,
       CAST(levenshtein(a.value, b.value) AS INTEGER) AS dist
FROM p a JOIN p b ON a.blk = b.blk
WHERE a.value < b.value AND levenshtein(a.value, b.value) <= 3
ORDER BY value_a, value_b
""",
    tags=("analytics", "linkage"),
    doc="Blocked fuzzy matching / record linkage (operators/"
        "linkage.py): distinct-value dictionary, first-token blocking, "
        "levenshtein <= 3 verify. The dictionary (not the table) is "
        "what gets compared — candidate volume is per-block, never "
        "n^2 over rows; matches broadcast back or feed dedup_clusters "
        "for canonical entities.",
)
def fuzzy_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import blocked_fuzzy_pairs, first_token
    p = load_table(spark, sf_dir, "part")
    pairs = blocked_fuzzy_pairs(p, "p_name", first_token("value"), 3)
    return (pairs.select("value_a", "value_b",
                         F.col("dist").cast("int").alias("dist"))
            .orderBy("value_a", "value_b"))


@query(
    "timeseries_interpolate",
    oracle="""
WITH agg AS (
  SELECT event_type, time_bucket(INTERVAL 15 MINUTES, ts) AS b,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM agg GROUP BY 1
), spine AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 15 MINUTES)) AS b
  FROM bounds
), j AS (
  SELECT s.event_type, s.b, coalesce(a.n, 0) AS n, a.sum_value
  FROM spine s LEFT JOIN agg a
    ON s.event_type = a.event_type AND s.b = a.b
), w AS (
  SELECT event_type, b, n, sum_value,
         last_value(sum_value IGNORE NULLS) OVER back AS pv,
         last_value(CASE WHEN sum_value IS NOT NULL
                         THEN epoch_us(b) END IGNORE NULLS) OVER back AS pt,
         first_value(sum_value IGNORE NULLS) OVER fwd AS nv,
         first_value(CASE WHEN sum_value IS NOT NULL
                          THEN epoch_us(b) END IGNORE NULLS) OVER fwd AS nt
  FROM j
  WINDOW back AS (PARTITION BY event_type ORDER BY b
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         fwd AS (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket, n,
       sum_value,
       CASE WHEN sum_value IS NOT NULL THEN sum_value
            WHEN pv IS NOT NULL AND nv IS NOT NULL
            THEN pv + (nv - pv)
                 * (CAST(epoch_us(b) - pt AS DOUBLE) / (nt - pt))
       END AS sum_value_interp
FROM w ORDER BY event_type, bucket
""",
    tags=("analytics", "timeseries"),
    doc="Resample + LINEAR interpolation (operators/timeseries.py:"
        "interpolate_linear) — the smooth twin of timeseries_gap_fill's "
        "forward fill: each interior gap bucket gets prev + (next-prev)"
        "·frac with frac from integer-µs bucket positions, leading/"
        "trailing gaps stay NULL. Two running windows over one (key) "
        "shuffle, O(1) state per key; the interpolation is one double "
        "expression per row (no accumulation) emitted UNROUNDED — the raw "
        "IEEE result is bit-stable across engines where round(,6) "
        "at a half-way boundary is not.",
)
def timeseries_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import interpolate_linear, resample
    ev = load_table(spark, sf_dir, "events")
    r = resample(ev, key="event_type", ts_col="ts",
                 interval="15 minutes", value_col="value")
    out = interpolate_linear(r, key="event_type")
    return (out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "n", "sum_value", "sum_value_interp")
        .orderBy("event_type", "bucket"))


@query(
    "fuzzy_join_lossless_band",
    oracle="""
WITH n AS (
  SELECT DISTINCT p_name AS value FROM part WHERE p_name IS NOT NULL
)
SELECT a.value AS value_a, b.value AS value_b,
       CAST(levenshtein(a.value, b.value) AS INTEGER) AS dist
FROM n a JOIN n b ON a.value < b.value
WHERE levenshtein(a.value, b.value) <= 3
ORDER BY value_a, value_b
""",
    tags=("analytics", "linkage"),
    doc="Lossless edit-distance linkage join (operators/linkage.py:"
        "edit_distance_pairs_banded): levenshtein >= |len diff| makes "
        "length-band blocking (width k+1, probe buckets {b-1,b,b+1}) a "
        "PROVABLY complete candidate set, unlike first-token blocking "
        "(fuzzy_join_blocked) which trades recall for speed. The "
        "brute-force all-pairs oracle proves nothing is dropped.",
)
def fuzzy_join_lossless_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import edit_distance_pairs_banded
    p = load_table(spark, sf_dir, "part")
    pairs = edit_distance_pairs_banded(p, "p_name", 3)
    return (pairs.select("value_a", "value_b",
                         F.col("dist").cast("int").alias("dist"))
            .orderBy("value_a", "value_b"))


@query(
    "incremental_agg_merge",
    oracle="""
SELECT o_orderpriority,
       count(o_totalprice) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_value,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(o_totalprice), 2) AS avg_value,
       min(o_totalprice) AS min_value,
       max(o_totalprice) AS max_value
FROM orders GROUP BY 1 ORDER BY 1
""",
    tags=("analytics", "incremental"),
    doc="Incremental aggregate maintenance (operators/incremental.py): "
        "the table is split into two date batches, each collapsed to "
        "mergeable per-key states (n, decimal sum, min, max), states "
        "merged with one co-keyed re-aggregation, then finalized. The "
        "oracle is a FULL recompute over the unsplit table — the probe "
        "asserts merge(state(b1), state(b2)) == recompute(b1 U b2) "
        "bit-for-bit, the algebraic-aggregate contract that lets 100 TB "
        "pipelines fold in an hourly batch without a history scan.",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import agg_state, finalize, merge_states
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1996-01-01").cast("date")
    b1 = o.filter(F.col("o_orderdate") < cut)
    b2 = o.filter(F.col("o_orderdate") >= cut)
    merged = merge_states(agg_state(b1, ["o_orderpriority"], "o_totalprice"),
                          agg_state(b2, ["o_orderpriority"], "o_totalprice"))
    return finalize(merged).orderBy("o_orderpriority")


@query(
    "sample_weighted",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <
  CASE WHEN CAST(floor(256.0 * least(greatest(
              o_totalprice * 0.000003814697265625, 0.0), 1.0))
            AS INTEGER) >= 256 THEN 'g0'
       ELSE lpad(lower(hex(CAST(floor(256.0 * least(greatest(
              o_totalprice * 0.000003814697265625, 0.0), 1.0))
            AS INTEGER))), 2, '0') END
ORDER BY o_orderkey
""",
    tags=("analytics", "sample"),
    doc="Deterministic weighted sampling (operators/sampling.py "
        "weighted_sample): keep probability ~ min(weight*scale, 1) via "
        "per-row hash thresholds — importance sampling for corpus "
        "curation with engine-stable membership. scale = 2^-18 (an "
        "exact binary double, so weight*scale is the identical IEEE "
        "product on both engines). Zero shuffles.",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_sample
    o = load_table(spark, sf_dir, "orders")
    out = weighted_sample(o, "o_orderkey", F.col("o_totalprice"),
                          1.0 / 262144.0)
    return out.select("o_orderkey", "o_totalprice").orderBy("o_orderkey")


@query(
    "zorder_key_morton",
    oracle="""
WITH src AS (
  SELECT o_orderkey,
         o_custkey % 256 AS x,
         CAST(extract(day FROM o_orderdate) AS BIGINT) % 32 AS y
  FROM orders WHERE o_orderkey < 4000
)
SELECT o_orderkey, x, y,
       ((x >> 0) & 1) * 1     + ((y >> 0) & 1) * 2
     + ((x >> 1) & 1) * 4     + ((y >> 1) & 1) * 8
     + ((x >> 2) & 1) * 16    + ((y >> 2) & 1) * 32
     + ((x >> 3) & 1) * 64    + ((y >> 3) & 1) * 128
     + ((x >> 4) & 1) * 256   + ((y >> 4) & 1) * 512
     + ((x >> 5) & 1) * 1024  + ((y >> 5) & 1) * 2048
     + ((x >> 6) & 1) * 4096  + ((y >> 6) & 1) * 8192
     + ((x >> 7) & 1) * 16384 + ((y >> 7) & 1) * 32768 AS zkey
FROM src ORDER BY o_orderkey
""",
    tags=("analytics", "layout"),
    doc="Z-order / Morton key (operators/layout.py zorder_key): bit-"
        "interleave of two dimensions, the clustering key behind "
        "multi-dim file pruning (Delta/Iceberg OPTIMIZE ZORDER). Pure "
        "shift/mask arithmetic inside codegen; the oracle spells the "
        "identical interleave. zorder_write's pruning benefit (tighter "
        "per-file min/max on BOTH dims vs a linear sort) is asserted "
        "in tests/test_analytics.py::TestZorder.",
)
def zorder_key_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import zorder_key
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderkey") < 4000)
         .select("o_orderkey",
                 (F.col("o_custkey") % 256).alias("x"),
                 (F.dayofmonth("o_orderdate").cast("long") % 32)
                 .alias("y")))
    return (o.withColumn("zkey", zorder_key([F.col("x"), F.col("y")],
                                            bits=8))
            .orderBy("o_orderkey"))


@query(
    "cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cohort FROM events
  GROUP BY 1
), cells AS (
  SELECT DISTINCT e.user_id, f.cohort,
         datediff('day', f.cohort, date_trunc('day', e.ts)) AS
           period_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_period,
       CAST(period_offset AS INTEGER) AS period_offset,
       count(*) AS n_users
FROM cells GROUP BY 1, 2 ORDER BY 1, 2
""",
    tags=("analytics", "cohort"),
    doc="Cohort retention triangle (operators/cohort.py): cohort = "
        "day of first event per user (window-min, one user-key "
        "shuffle), cell = distinct cohort users active at day offset "
        "k. Integer counts end to end — exactly oracle-checkable.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cohort import cohort_retention as cr
    ev = load_table(spark, sf_dir, "events")
    out = cr(ev, "user_id", "ts", period="day")
    return (out.select(
        F.date_format("cohort_period", "yyyy-MM-dd").alias("cohort_period"),
        F.col("period_offset").cast("int").alias("period_offset"),
        "n_users")
        .orderBy("cohort_period", "period_offset"))


@query(
    "drift_psi_histogram",
    oracle="""
WITH a AS (
  SELECT CAST(least(greatest(floor((value - 0.0) / 50.0), 0), 9)
              AS BIGINT) AS bucket, count(*) AS n_a
  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1
), b AS (
  SELECT CAST(least(greatest(floor((value - 0.0) / 50.0), 0), 9)
              AS BIGINT) AS bucket, count(*) AS n_b
  FROM events WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1
), spine AS (
  SELECT unnest(generate_series(0, 9)) AS bucket
), grid AS (
  SELECT s.bucket,
         coalesce(a.n_a, 0) AS n_a, coalesce(b.n_b, 0) AS n_b
  FROM spine s LEFT JOIN a ON s.bucket = a.bucket
               LEFT JOIN b ON s.bucket = b.bucket
), tot AS (
  SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb
  FROM grid
)
SELECT g.bucket, g.n_a, g.n_b,
       round(((g.n_a + 0.5) / (t.ta + 5.0)
              - (g.n_b + 0.5) / (t.tb + 5.0))
             * ln(((g.n_a + 0.5) / (t.ta + 5.0))
                  / ((g.n_b + 0.5) / (t.tb + 5.0))), 6) AS psi_contrib
FROM grid g, tot t ORDER BY g.bucket
""",
    tags=("analytics", "profile"),
    doc="Distribution-drift PSI between two time snapshots "
        "(operators/profile.py drift_psi): shared 10-bucket histogram "
        "of event value before/after 2024-01-16, Laplace-smoothed, "
        "per-bucket contribution (p-q)*ln(p/q). One scan per "
        "snapshot; totals broadcast. The training-data health check "
        "for silent upstream shifts.",
)
def drift_psi_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import drift_psi
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    out = drift_psi(ev.filter(F.col("ts") < cut),
                    ev.filter(F.col("ts") >= cut),
                    "value", 0.0, 500.0, 10)
    return out.orderBy("bucket")


@query(
    "ids_dense_assignment",
    oracle="""
SELECT o_orderkey,
       CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
         AS row_id
FROM orders ORDER BY o_orderkey
""",
    tags=("analytics", "ids"),
    doc="Dense 0-based row IDs by a total order (operators/ids.py "
        "assign_dense_ids): sketch-cutpoint buckets + per-bucket "
        "offsets + within-bucket row_number — the distributed "
        "equivalent of the oracle's global row_number window, which "
        "at scale would funnel every row through one task. The only "
        "data shuffle hash-partitions on ~200 even value buckets.",
)
def ids_dense_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ids import assign_dense_ids
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    return (assign_dense_ids(o, "o_orderkey")
            .orderBy("o_orderkey"))


@query(
    "outlier_winsorize",
    oracle="""
WITH d AS (
  SELECT l_returnflag AS grp, l_extendedprice AS v,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS r,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
), b AS (
  SELECT grp, max(n) AS n,
         max(CASE WHEN r = greatest(CAST(ceil(0.01 * n) AS BIGINT), 1)
                  THEN v END) AS lo,
         max(CASE WHEN r = CAST(ceil(0.99 * n) AS BIGINT) THEN v END) AS hi
  FROM d GROUP BY grp
)
SELECT d.grp AS l_returnflag, b.n, b.lo, b.hi,
       CAST(sum(CASE WHEN d.v < b.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_below,
       CAST(sum(CASE WHEN d.v > b.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_above,
       round(CAST(sum(CAST(least(greatest(d.v, b.lo), b.hi)
                           AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4)
         AS winsorized_mean
FROM d JOIN b ON d.grp = b.grp
GROUP BY 1, 2, 3, 4
ORDER BY 1
""",
    tags=("analytics", "profile"),
    doc="Per-group winsorization (operators/binning.py:winsorize_bounds) "
        "by exact ORDER STATISTICS — lo/hi are data members at ranks "
        "ceil(alpha*n)/ceil((1-alpha)*n), never interpolated quantiles, "
        "so thresholds are bit-identical across engines and every "
        "value<lo comparison is deterministic. One shuffle on the group "
        "key; thresholds broadcast back; winsorized mean from an exact "
        "decimal sum and a single double division (the z-score rule).",
)
def outlier_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.binning import winsorize_bounds
    li = load_table(spark, sf_dir, "lineitem")
    return (winsorize_bounds(li, "l_returnflag", "l_extendedprice",
                             alpha=0.01)
            .orderBy("l_returnflag"))


@query(
    "group_percentiles_exact",
    oracle="""
WITH d AS (
  SELECT event_type, value AS v,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, max(n) AS n,
       max(CASE WHEN r = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
                THEN v END) AS p50,
       max(CASE WHEN r = greatest(CAST(ceil(0.9 * n) AS BIGINT), 1)
                THEN v END) AS p90,
       max(CASE WHEN r = greatest(CAST(ceil(0.99 * n) AS BIGINT), 1)
                THEN v END) AS p99
FROM d GROUP BY event_type ORDER BY event_type
""",
    tags=("analytics", "profile"),
    doc="Exact per-group p50/p90/p99 by order statistics (operators/"
        "binning.py:group_percentiles) — value at rank ceil(p*n), the "
        "same engine-portable rank rule as outlier_winsorize; no "
        "interpolation formula for engines to disagree on. One group "
        "shuffle; all ranks share one sort window. NULLs filtered "
        "explicitly (Spark orders them first, DuckDB last).",
)
def group_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.binning import group_percentiles
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    return (group_percentiles(ev, "event_type", "value",
                              percentiles=(0.5, 0.9, 0.99))
            .orderBy("event_type"))


@query(
    "drift_ks_exact",
    oracle="""
WITH a AS (
  SELECT value AS v FROM events
  WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL
), b AS (
  SELECT value AS v FROM events
  WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL
), pts AS (
  SELECT v, sum(na) AS n_a, sum(nb) AS n_b FROM (
    SELECT v, 1 AS na, 0 AS nb FROM a
    UNION ALL SELECT v, 0 AS na, 1 AS nb FROM b)
  GROUP BY v
), c AS (
  SELECT v, sum(n_a) OVER (ORDER BY v) AS ca,
         sum(n_b) OVER (ORDER BY v) AS cb,
         (SELECT count(*) FROM a) AS ta,
         (SELECT count(*) FROM b) AS tb
  FROM pts
)
SELECT round(abs(ca / ta - cb / tb), 6) AS ks, v AS at_value,
       CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b
FROM c ORDER BY ks DESC, at_value LIMIT 1
""",
    tags=("analytics", "profile"),
    doc="EXACT two-sample KS drift statistic between event-time "
        "snapshots (operators/profile.py:drift_ks_split) — max ECDF "
        "gap over every distinct value WITHOUT a global single-task "
        "sort: values range-bucket onto a fixed grid, per-bucket "
        "cumulative windows parallelize, only the nbins-row totals "
        "table crosses one single-task window (pack_to_token_budget's "
        "prefix-sum shape). r8: the time-cut split tags rows in ONE "
        "scan of events instead of unioning two complementary filtered "
        "scans — the scan dominates KS at scale (b14 plan fix). The "
        "oracle recomputes with a plain global-sort ECDF, proving the "
        "bucketed single-scan decomposition is exactly equivalent.",
)
def drift_ks_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import drift_ks_split
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    cut = "2024-01-16"
    return drift_ks_split(ev, F.col("ts") < cut, "value",
                          lo=0.0, hi=500.0, nbins=64)


@query(
    "drift_chisq_categorical",
    oracle="""
WITH c AS (
  SELECT event_type AS category,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM events GROUP BY 1
), g AS (
  SELECT category, n_a, n_b,
         CAST(sum(n_a) OVER () AS BIGINT) AS ta,
         CAST(sum(n_b) OVER () AS BIGINT) AS tb,
         count(*) OVER () AS ncat
  FROM c
)
SELECT category, n_a, n_b, CAST(ncat - 1 AS BIGINT) AS dof,
       round(
         (n_a - (n_a + n_b) * (CAST(ta AS DOUBLE) / (ta + tb)))
         * (n_a - (n_a + n_b) * (CAST(ta AS DOUBLE) / (ta + tb)))
         / ((n_a + n_b) * (CAST(ta AS DOUBLE) / (ta + tb)))
         + (n_b - (n_a + n_b) * (CAST(tb AS DOUBLE) / (ta + tb)))
         * (n_b - (n_a + n_b) * (CAST(tb AS DOUBLE) / (ta + tb)))
         / ((n_a + n_b) * (CAST(tb AS DOUBLE) / (ta + tb))), 6)
         AS chisq_contrib
FROM g ORDER BY category
""",
    tags=("analytics", "profile"),
    doc="Chi-square homogeneity drift between event-time snapshots of a "
        "categorical column (operators/profile.py:drift_chisq) — the "
        "categorical complement of drift_ks (numeric) and drift_psi "
        "(binned). Per-category contributions from exact integer "
        "counts, ONE double expression per row (divide-before-multiply "
        "so expected counts never overflow long·long at scale); the "
        "totals window runs over the category-count table, bounded by "
        "the column's cardinality by definition of categorical; the "
        "statistic is the caller-side sum with dof = categories - 1.",
)
def drift_chisq_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import drift_chisq
    ev = load_table(spark, sf_dir, "events")
    cut = "2024-01-16"
    return (drift_chisq(ev.filter(F.col("ts") < cut),
                        ev.filter(F.col("ts") >= cut), "event_type")
            .orderBy("category"))


@query(
    "ab_welch_ttest",
    oracle="""
WITH tagged AS (
  SELECT event_type AS "group",
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b' END AS s,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events WHERE value IS NOT NULL
), agg AS (
  SELECT "group", s, count(*) AS n,
         sum(CAST(vc AS DECIMAL(38,0))) AS s1,
         sum(CAST(vc * vc AS DECIMAL(38,0))) AS s2
  FROM tagged GROUP BY 1, 2
), a AS (
  SELECT "group", n AS n_a,
         CAST(s1 AS DOUBLE) AS s1a, CAST(s2 AS DOUBLE) AS s2a
  FROM agg WHERE s = 'a'
), b AS (
  SELECT "group", n AS n_b,
         CAST(s1 AS DOUBLE) AS s1b, CAST(s2 AS DOUBLE) AS s2b
  FROM agg WHERE s = 'b'
), j AS (
  SELECT a."group", n_a, n_b,
         s1a / n_a AS ma, s1b / n_b AS mb,
         (s2a - s1a * s1a / n_a) / (n_a - 1) / n_a AS sea,
         (s2b - s1b * s1b / n_b) / (n_b - 1) / n_b AS seb
  FROM a JOIN b ON a."group" = b."group"
  WHERE n_a >= 2 AND n_b >= 2
)
SELECT "group", n_a, n_b,
       round(ma / 100.0, 6) AS mean_a,
       round(mb / 100.0, 6) AS mean_b,
       round((ma - mb) / sqrt(sea + seb), 6) AS t_stat,
       round((sea + seb) * (sea + seb)
             / (sea * sea / (n_a - 1) + seb * seb / (n_b - 1)), 6) AS dof
FROM j ORDER BY "group"
""",
    tags=("analytics", "profile"),
    doc="Per-group Welch two-sample t statistic between event-time "
        "snapshots (operators/profile.py:welch_ttest) — the A/B-test "
        "primitive. Engine-exact: integer-cent values, DECIMAL(38,0) "
        "Σv/Σv², then mean/variance/t/Welch–Satterthwaite dof in one "
        "double expression per group from those exact sums; no double "
        "ever accumulates, so results are bit-identical across engines "
        "and partitionings.",
)
def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import welch_ttest
    ev = load_table(spark, sf_dir, "events")
    cut = "2024-01-16"
    return (welch_ttest(ev.filter(F.col("ts") < cut),
                        ev.filter(F.col("ts") >= cut),
                        "value", "event_type")
            .orderBy("group"))


@query(
    "categorical_entropy_profile",
    oracle="""
WITH counts AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n
  FROM orders GROUP BY 1, 2
), g AS (
  SELECT o_orderstatus, o_orderpriority, n,
         CAST(sum(n) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n_group,
         count(*) OVER (PARTITION BY o_orderstatus) AS n_categories
  FROM counts
)
SELECT o_orderstatus, o_orderpriority, n, n_group, n_categories,
       round(n / n_group, 6) AS p,
       round(-(n / n_group) * ln(n / n_group), 6) AS entropy_contrib,
       round((n / n_group) * (n / n_group), 6) AS gini_contrib
FROM g ORDER BY o_orderstatus, o_orderpriority
""",
    tags=("analytics", "profile"),
    doc="Per-(group, category) distribution profile (operators/"
        "profile.py:categorical_profile): share, -p*ln(p) entropy and "
        "p^2 Gini contributions, each ONE double expression from exact "
        "integer counts (group entropy/Gini are caller-side sums over "
        "the bounded category rows — drift_psi's per-row-contribution "
        "contract, so no order-sensitive double accumulation is ever "
        "emitted). One shuffle on (group, category).",
)
def categorical_entropy_profile(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from ..operators.profile import categorical_profile
    o = load_table(spark, sf_dir, "orders")
    return (categorical_profile(o, "o_orderstatus", "o_orderpriority")
            .orderBy("o_orderstatus", "o_orderpriority"))


@query(
    "quality_check_constraints",
    oracle="""
WITH agg AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)
              AS BIGINT) AS v_price_positive,
         CAST(sum(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END)
              AS BIGINT) AS v_date_not_null,
         CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1
                  END) AS BIGINT) AS v_status_domain,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                        AND o_orderdate <  TIMESTAMP '2002-01-01 00:00:00'
                       THEN 0 ELSE 1 END) AS BIGINT) AS v_date_range
  FROM orders
)
SELECT 'price_positive' AS check, n AS n_rows,
       v_price_positive AS n_violations,
       round(v_price_positive / n, 6) AS violation_rate FROM agg
UNION ALL
SELECT 'date_not_null', n, v_date_not_null,
       round(v_date_not_null / n, 6) FROM agg
UNION ALL
SELECT 'status_domain', n, v_status_domain,
       round(v_status_domain / n, 6) FROM agg
UNION ALL
SELECT 'date_range', n, v_date_range,
       round(v_date_range / n, 6) FROM agg
ORDER BY "check"
""",
    tags=("analytics", "quality"),
    doc="Deequ-style declarative constraint validation (operators/"
        "profile.py:check_constraints): four checks (positivity, "
        "non-null, domain membership, range) compile into ONE wide "
        "aggregate over one scan — no per-check jobs — then unpivot to "
        "a row per check. NULL predicate results count as violations.",
)
def quality_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import check_constraints
    o = load_table(spark, sf_dir, "orders")
    checks = {
        "price_positive": F.col("o_totalprice") > 0,
        "date_not_null": F.col("o_orderdate").isNotNull(),
        "status_domain": F.col("o_orderstatus").isin("O", "F", "P"),
        "date_range": (F.col("o_orderdate")
                       >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate")
           < F.lit("2002-01-01 00:00:00").cast("timestamp")),
    }
    return check_constraints(o, checks).orderBy("check")


@query(
    "quality_referential_integrity",
    oracle="""
WITH orphans AS (
  SELECT o_custkey FROM orders
  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
)
SELECT (SELECT count(*) FROM orders) AS n_fact_rows,
       count(*) AS n_orphan_rows,
       count(DISTINCT o_custkey) AS n_orphan_keys,
       round(count(*) / greatest((SELECT count(*) FROM orders), 1), 6)
         AS orphan_rate
FROM orphans
""",
    tags=("analytics", "quality"),
    doc="Orphan foreign-key check (operators/profile.py:"
        "check_referential_integrity): LEFT ANTI join against the "
        "dimension's distinct keys (broadcast/AQE-converted), two "
        "scalar aggregates cross-joined lazily — no collect, no "
        "row-multiplying outer join. Testdata is referentially clean, "
        "so the interesting case (orphans present) is pinned by pytest "
        "instead.",
)
def quality_referential_integrity(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from ..operators.profile import check_referential_integrity
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return check_referential_integrity(o, "o_custkey", c, "c_custkey")


@query(
    "timeseries_weighted_avg",
    oracle="""
WITH s AS (
  SELECT user_id, ts, value,
         CAST(round(value * 100) AS BIGINT) AS vc,
         epoch_us(lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id))
           - epoch_us(ts) AS dt
  FROM events WHERE value IS NOT NULL AND user_id < 100
)
SELECT user_id,
       round((CAST(CAST(sum(CAST(vc AS DECIMAL(38,0)) * dt)
                        AS DECIMAL(38,0)) AS DOUBLE) / 100.0)
             / CAST(CAST(sum(CAST(dt AS DECIMAL(38,0)))
                         AS DECIMAL(38,0)) AS DOUBLE), 6) AS twa,
       CAST(CAST(sum(CAST(dt AS DECIMAL(38,0))) AS DECIMAL(38,0))
            AS BIGINT) AS observed_us
FROM s WHERE dt IS NOT NULL
GROUP BY user_id ORDER BY user_id
""",
    tags=("analytics", "window", "timeseries"),
    doc="Per-key time-weighted mean under sample-and-hold semantics "
        "(operators/timeseries.py:time_weighted_avg): each value holds "
        "until the key's next observation, weight = interval in integer "
        "microseconds, values quantized to integer cents, Σ(v·Δt) in "
        "DECIMAL(38,0) — one double division per key at the end, so the "
        "result is accumulation-order-independent. The irregular-"
        "telemetry rollup a plain avg() gets wrong (it overweights "
        "bursts). One shuffle shared by the lead window and the final "
        "aggregate.",
)
def timeseries_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import time_weighted_avg
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    return (time_weighted_avg(ev, key="user_id", ts_col="ts",
                              value_col="value", tie_break="event_id")
            .orderBy("user_id"))


@query(
    "timeseries_ewma",
    oracle="""
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(round(o_totalprice * 100) AS BIGINT) AS p_c
  FROM orders WHERE o_custkey < 200
), l AS (
  SELECT o_custkey, o_orderkey, o_orderdate, p_c,
         lag(p_c, 1) OVER w AS l1,
         lag(p_c, 2) OVER w AS l2,
         lag(p_c, 3) OVER w AS l3,
         lag(p_c, 4) OVER w AS l4,
         lag(p_c, 5) OVER w AS l5,
         lag(p_c, 6) OVER w AS l6,
         lag(p_c, 7) OVER w AS l7
  FROM o WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey)
)
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       CAST(p_c AS DOUBLE) / 100 AS price,
       CAST(128*p_c + 64*coalesce(l1, 0) + 32*coalesce(l2, 0) + 16*coalesce(l3, 0) + 8*coalesce(l4, 0) + 4*coalesce(l5, 0) + 2*coalesce(l6, 0) + 1*coalesce(l7, 0) AS DOUBLE)
         / (128 + CASE WHEN l1 IS NOT NULL THEN 64 ELSE 0 END + CASE WHEN l2 IS NOT NULL THEN 32 ELSE 0 END + CASE WHEN l3 IS NOT NULL THEN 16 ELSE 0 END + CASE WHEN l4 IS NOT NULL THEN 8 ELSE 0 END + CASE WHEN l5 IS NOT NULL THEN 4 ELSE 0 END + CASE WHEN l6 IS NOT NULL THEN 2 ELSE 0 END + CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END)
         / 100.0 AS ewma
FROM l ORDER BY o_custkey, o_orderdate, o_orderkey
""",
    tags=("analytics", "timeseries"),
    doc="Trailing EWMA of order value per customer (operators/"
        "timeseries.py:ewma_bounded, alpha = 1/2, 8 lags). The "
        "sequential-recursion EWMA re-expressed as a bounded lag "
        "window with power-of-two integer weights: exact BIGINT "
        "numerator/denominator, one double division at the end — "
        "bit-stable across engines with no pow() and no float "
        "accumulation. One shuffle on the customer key; the eight "
        "lag() calls share a single Sort+Window node.",
)
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import ewma_bounded
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    out = ewma_bounded(o, key="o_custkey",
                       order_cols=["o_orderdate", "o_orderkey"],
                       value_col="o_totalprice", lags=8)
    return (out.select(
        "o_custkey", "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
         .alias("o_orderdate"),
        (F.round(F.col("o_totalprice") * 100).cast("long")
         .cast("double") / 100).alias("price"),
        "ewma")
        .orderBy("o_custkey", "o_orderdate", "o_orderkey"))


@query(
    "group_linear_regression",
    oracle="""
WITH s AS (
  SELECT l_returnflag, l_linestatus,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS HUGEINT) AS sy,
         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
              AS HUGEINT) AS sxx,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT))
              AS HUGEINT) AS syy,
         CAST(sum(CAST(l_quantity AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT))
              AS HUGEINT) AS sxy
  FROM lineitem GROUP BY 1, 2
), d AS (
  SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
         CAST(n * sxy - sx * sy AS DOUBLE) AS num,
         CAST(n * sxx - sx * sx AS DOUBLE) AS denx,
         CAST(n * syy - sy * sy AS DOUBLE) AS deny,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM s
)
SELECT l_returnflag, l_linestatus, n,
       CASE WHEN denx <> 0 THEN num / denx END AS slope,
       CASE WHEN denx <> 0
            THEN (syd - (num / denx) * sxd) / CAST(n AS DOUBLE)
       END AS intercept,
       CASE WHEN denx <> 0 AND deny <> 0
            THEN (num * num) / (denx * deny) END AS r2
FROM d
ORDER BY l_returnflag, l_linestatus
""",
    tags=("analytics", "stats"),
    doc="Per-group OLS fit of price-cents on quantity (operators/"
        "profile.py:linear_fit) — the regr_slope/intercept/r2 family "
        "under the exact-sums float policy: five DECIMAL(38,0) "
        "sufficient statistics per group (one partial-aggregated "
        "shuffle, same plan as a sum), closed-form slope/intercept/r2 "
        "as fixed IEEE chains over those exact integers (HUGEINT on "
        "the oracle side), so every double is bit-identical across "
        "engines. No streaming double moments — regr_* builtins "
        "accumulate doubles in partition order and do NOT cross-engine "
        "hash, which is why the engine derives them this way.",
)
def group_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import linear_fit
    li = load_table(spark, sf_dir, "lineitem")
    out = linear_fit(
        li, group_cols=["l_returnflag", "l_linestatus"],
        x_col=F.col("l_quantity").cast("long"),
        y_col=F.round(F.col("l_extendedprice") * 100).cast("long"))
    return out.orderBy("l_returnflag", "l_linestatus")


@query(
    "privacy_k_anonymity",
    oracle="""
SELECT c_nationkey, c_mktsegment,
       CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
       count(*) AS class_size,
       count(*) < 5 AS violates_k
FROM customer
GROUP BY 1, 2, 3
ORDER BY c_nationkey, c_mktsegment, bal_band
""",
    tags=("analytics", "governance"),
    doc="k-anonymity audit of the customer table under the "
        "quasi-identifier (nation, segment, coarse balance band) "
        "(operators/profile.py:k_anonymity, k=5): one row per "
        "equivalence class with its size and violation flag — the "
        "release-gate complement to text_redact_pii's content-level "
        "scrubbing. One partial-aggregated hash agg, no window; the "
        "balance generalization is floor(bal/2000), exact for "
        "2-decimal money doubles away from band edges by construction "
        "(bands are 2000.00-wide, values quantize to cents).",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import k_anonymity
    c = (load_table(spark, sf_dir, "customer")
         .select("c_nationkey", "c_mktsegment",
                 F.floor(F.col("c_acctbal") / 2000).cast("long")
                 .alias("bal_band")))
    return (k_anonymity(c, ["c_nationkey", "c_mktsegment", "bal_band"],
                        k=5)
            .orderBy("c_nationkey", "c_mktsegment", "bal_band"))


@query(
    "sketch_cms_estimate",
    oracle="""
WITH src AS (
  SELECT o_custkey AS key FROM orders
), jrows AS (
  SELECT * FROM (VALUES (0), (1), (2), (3)) AS j(d)
), cells AS (
  SELECT d, bucket, count(*) AS cnt FROM (
    SELECT j.d AS d,
           md5(CAST(j.d AS VARCHAR) || '|' || CAST(key AS VARCHAR)) AS hj,
           key
    FROM src, jrows j
  ) t, LATERAL (SELECT ((CASE WHEN ascii(substr(hj, 30, 1)) >= 97 THEN ascii(substr(hj, 30, 1)) - 87 ELSE ascii(substr(hj, 30, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(hj, 31, 1)) >= 97 THEN ascii(substr(hj, 31, 1)) - 87 ELSE ascii(substr(hj, 31, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(hj, 32, 1)) >= 97 THEN ascii(substr(hj, 32, 1)) - 87 ELSE ascii(substr(hj, 32, 1)) - 48 END)) AS bucket)
  GROUP BY 1, 2
), probes AS (
  SELECT p.key, j.d AS d, ((CASE WHEN ascii(substr(hj, 30, 1)) >= 97 THEN ascii(substr(hj, 30, 1)) - 87 ELSE ascii(substr(hj, 30, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(hj, 31, 1)) >= 97 THEN ascii(substr(hj, 31, 1)) - 87 ELSE ascii(substr(hj, 31, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(hj, 32, 1)) >= 97 THEN ascii(substr(hj, 32, 1)) - 87 ELSE ascii(substr(hj, 32, 1)) - 48 END)) AS bucket
  FROM (SELECT DISTINCT key FROM src WHERE key < 100) p,
       jrows j,
       LATERAL (SELECT md5(CAST(j.d AS VARCHAR) || '|'
                           || CAST(p.key AS VARCHAR)) AS hj)
), est AS (
  SELECT key, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
  FROM probes p LEFT JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
  GROUP BY 1
), exact AS (
  SELECT key, count(*) AS exact_n FROM src GROUP BY 1
)
SELECT e.key, e.est, x.exact_n
FROM est e JOIN exact x USING (key) ORDER BY key
""",
    tags=("analytics", "sketch"),
    doc="Count-min sketch point estimates vs exact counts for customer "
        "order frequencies (operators/sketch.py, md5 hash family, "
        "d=4 x w=4096). Counters are exact deterministic sums of hash "
        "indicators, so the WHOLE sketch pipeline (build -> broadcast "
        "-> min-query) is oracle-checked cell-for-cell — the same "
        "portable-twin pattern as dedup_minhash_lsh_md5; the xxhash64 "
        "production twin is property-tested (est >= exact, mergeable). "
        "Build shuffles at most d*w rows per partition (map-side "
        "combine); the counter table broadcasts to the probe join.",
)
def sketch_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import cms_build, cms_query
    o = load_table(spark, sf_dir, "orders")
    counters = cms_build(o, "o_custkey", depth=4, width=4096,
                         hash_family="md5")
    keys = (o.filter(F.col("o_custkey") < 100)
            .select("o_custkey").distinct())
    est = cms_query(counters, keys, "o_custkey", depth=4, width=4096,
                    hash_family="md5")
    exact = (o.groupBy(F.col("o_custkey").alias("key"))
             .agg(F.count(F.lit(1)).alias("exact_n")))
    return (est.join(exact, "key")
            .select("key", F.col("est").cast("long").alias("est"),
                    "exact_n")
            .orderBy("key"))


@query(
    "sketch_cms_topk",
    tags=("analytics", "sketch"),
    priority=150,
    doc="Production-path CMS (xxhash64 family) estimates for the 20 "
        "most frequent customers — rows-only by design (JVM hash "
        "buckets are engine-specific); est >= exact and the merge "
        "identity are pinned in tests/test_analytics.py.",
)
def sketch_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import cms_build, cms_query
    o = load_table(spark, sf_dir, "orders")
    counters = cms_build(o, "o_custkey", depth=4, width=4096)
    exact = (o.groupBy(F.col("o_custkey").alias("key"))
             .agg(F.count(F.lit(1)).alias("exact_n")))
    top = exact.orderBy(F.desc("exact_n"), "key").limit(20)
    est = cms_query(counters, top.select(F.col("key")
                                         .alias("o_custkey")),
                    "o_custkey", depth=4, width=4096)
    return (est.join(top, "key")
            .select("key", F.col("est").cast("long").alias("est"),
                    "exact_n")
            .orderBy(F.desc("exact_n"), "key"))


@query(
    "sample_weighted_reservoir",
    tags=("sampling",),
    priority=150,
    doc="Fixed-size weighted sample without replacement (operators/"
        "sampling.py:weighted_reservoir_sample, Efraimidis-Spirakis "
        "A-Res over a deterministic hash-uniform): 50 documents drawn "
        "proportionally to n_chars. Rows-only by design — the u^(1/w) "
        "scoring uses libm pow, which is not cross-engine bit-stable "
        "(the sampling.py sqrt-only rule); determinism and the "
        "weight-proportional inclusion property are pinned in "
        "tests/test_analytics.py.",
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_reservoir_sample
    d = load_table(spark, sf_dir, "documents")
    return (weighted_reservoir_sample(
        d, "doc_id", F.col("n_chars").cast("double"), k=50, seed=7)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"))


@query(
    "graph_triangle_count",
    oracle="""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
), scored AS (
  SELECT a.vec_id pa, b.vec_id pb,
         round(list_dot_product(a.ev, b.ev)
               / (sqrt(list_dot_product(a.ev, a.ev))
                  * sqrt(list_dot_product(b.ev, b.ev))), 6) AS cosine
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
), ranked AS (
  SELECT pa, pb,
         row_number() OVER (PARTITION BY pa
                            ORDER BY cosine DESC, pb) AS rank
  FROM scored
), knn AS (
  SELECT pa, pb FROM ranked WHERE rank <= 5
), mutual AS (
  SELECT k1.pa AS a, k1.pb AS b
  FROM knn k1 JOIN knn k2 ON k1.pa = k2.pb AND k1.pb = k2.pa
  WHERE k1.pa < k1.pb
)
SELECT
  (SELECT count(*) FROM
     (SELECT DISTINCT x FROM
        (SELECT a AS x FROM mutual UNION ALL SELECT b FROM mutual)))
    AS n_nodes,
  (SELECT count(*) FROM mutual) AS n_edges,
  (SELECT count(*)
   FROM mutual e1 JOIN mutual e2 ON e1.a = e2.a AND e1.b < e2.b
   WHERE EXISTS (SELECT 1 FROM mutual e3
                 WHERE e3.a = e1.b AND e3.b = e2.b)) AS triangles
""",
    tags=("graph", "similarity"),
    doc="Triangle count of the mutual 5-NN cosine graph over the "
        "embedding corpus (operators/graph.py:triangle_count) — the "
        "local-clustering signal semantic-dedup pipelines use to judge "
        "neighborhood coherence. Graph construction reuses the exact "
        "cosine_topk baseline (mutual edges = reciprocal top-5 pairs); "
        "counting orients edges lower-(degree,id) -> higher, bounding "
        "the wedge join at O(m^1.5) candidates (hub-proof on power-law "
        "graphs), closed by one semi-join. The oracle recomputes the "
        "whole chain with simple id-orientation — triangle COUNT is "
        "orientation-invariant, so the engines may orient differently "
        "and must still agree. All equi-joins; the brute-force kNN "
        "build is the declared bounded baseline (LSH/IVF are the ANN "
        "scale path).",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_count
    mutual, _ = _mutual_knn_graph(spark, sf_dir)
    return triangle_count(mutual)


def _mutual_knn_graph(spark: SparkSession,
                      sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Mutual 5-NN cosine graph over the embedding corpus (src < dst
    unique undirected edges) — the shared substrate of the graph
    probes (triangle count, k-core) — and the persisted kNN list it
    reads, which a consumer that materializes the graph eagerly
    releases."""
    from pyspark import StorageLevel

    from ..operators.similarity import cosine_topk
    e = load_table(spark, sf_dir, "embeddings")
    # Persist the kNN list before the mutual self-join (r14): the
    # self-join references the full cosine-scoring + top-k-window
    # chain TWICE (static plan: 2 BroadcastNestedLoopJoins, 4 corpus
    # scans, 0 static ReusedExchange) — collapsing the copies was left
    # to AQE runtime exchange reuse, the same silent-doubling
    # fragility the r13 verdict flagged on b20's y-side. The cache
    # makes the O(|corpus|²·dim) scoring pass run once by
    # construction; interleaved A/B at sf0.1: min 1.82 vs 2.17 s
    # (-16% with reuse working; the cache is what bounds the cost if
    # reuse ever weakens). knn is |corpus|·k rows — node-scale, not
    # pair-scale, so the cache footprint is small at any scale.
    knn = (cosine_topk(e, e, k=5)
           .select(F.col("probe_id").alias("pa"),
                   F.col("vec_id").alias("pb"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    k2 = knn.select(F.col("pa").alias("qa"), F.col("pb").alias("qb"))
    return (knn.join(k2, (F.col("pa") == F.col("qb"))
                     & (F.col("pb") == F.col("qa")))
            .filter(F.col("pa") < F.col("pb"))
            .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))), knn


@query(
    "graph_k_core",
    oracle="""
WITH RECURSIVE v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
), scored AS (
  SELECT a.vec_id pa, b.vec_id pb,
         round(list_dot_product(a.ev, b.ev)
               / (sqrt(list_dot_product(a.ev, a.ev))
                  * sqrt(list_dot_product(b.ev, b.ev))), 6) AS cosine
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
), ranked AS (
  SELECT pa, pb,
         row_number() OVER (PARTITION BY pa
                            ORDER BY cosine DESC, pb) AS rank
  FROM scored
), knn AS (
  SELECT pa, pb FROM ranked WHERE rank <= 5
), mutual AS (
  SELECT k1.pa AS a, k1.pb AS b
  FROM knn k1 JOIN knn k2 ON k1.pa = k2.pb AND k1.pb = k2.pa
  WHERE k1.pa < k1.pb
), peel AS (
  SELECT 0 AS iter, a, b FROM mutual
  UNION ALL
  SELECT p.iter + 1, p.a, p.b
  FROM peel p
  WHERE p.iter < 40
    AND p.a IN (SELECT node FROM
                  (SELECT a AS node FROM peel WHERE iter = p.iter
                   UNION ALL SELECT b FROM peel WHERE iter = p.iter)
                GROUP BY node HAVING count(*) >= 3)
    AND p.b IN (SELECT node FROM
                  (SELECT a AS node FROM peel WHERE iter = p.iter
                   UNION ALL SELECT b FROM peel WHERE iter = p.iter)
                GROUP BY node HAVING count(*) >= 3)
), core AS (
  SELECT a, b FROM peel WHERE iter = 40
)
SELECT node, CAST(count(*) AS BIGINT) AS degree
FROM (SELECT a AS node FROM core UNION ALL SELECT b FROM core)
GROUP BY node
ORDER BY node
""",
    tags=("graph", "similarity"),
    doc="3-core of the mutual 5-NN cosine graph (operators/graph.py:"
        "k_core) — the dense-substructure filter spam/bot-cluster "
        "detection peels with. Spark side loops degree-agg + two "
        "left-semi joins to the data-dependent fixpoint "
        "(localCheckpoint per round, convergence guard); the oracle "
        "replays the peel as a recursive CTE with a 40-round cap — "
        "measured fixpoint on this corpus is round 8, so both sides "
        "provably reach the same maximal subgraph. Output is the "
        "surviving (node, degree); degree ≥ k for every row by the "
        "k-core definition, which the unit suite asserts on hand "
        "graphs (K4, path, triangle+pendant, empty core).",
)
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import k_core
    mutual, knn = _mutual_knn_graph(spark, sf_dir)
    try:
        # k_core returns a frame over its own checkpointed state, so
        # the kNN cache is dead once it returns
        core = k_core(mutual, k=3)
    finally:
        knn.unpersist()
    return core.select("node", "degree").orderBy("node")


@query(
    "sketch_join_cardinality",
    oracle="""
WITH jrows AS (
  SELECT * FROM (VALUES (0), (1), (2), (3)) AS j(d)
), ca AS (
  SELECT d, bucket, count(*) AS cnt FROM (
    SELECT j.d AS d,
           md5(CAST(j.d AS VARCHAR) || '|'
               || CAST(o_custkey AS VARCHAR)) AS hj
    FROM orders, jrows j
  ) t, LATERAL (SELECT ((CASE WHEN ascii(substr(hj, 30, 1)) >= 97 THEN ascii(substr(hj, 30, 1)) - 87 ELSE ascii(substr(hj, 30, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(hj, 31, 1)) >= 97 THEN ascii(substr(hj, 31, 1)) - 87 ELSE ascii(substr(hj, 31, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(hj, 32, 1)) >= 97 THEN ascii(substr(hj, 32, 1)) - 87 ELSE ascii(substr(hj, 32, 1)) - 48 END)) AS bucket) GROUP BY 1, 2
), cb AS (
  SELECT d, bucket, count(*) AS cnt FROM (
    SELECT j.d AS d,
           md5(CAST(j.d AS VARCHAR) || '|'
               || CAST(user_id AS VARCHAR)) AS hj
    FROM events, jrows j
  ) t, LATERAL (SELECT ((CASE WHEN ascii(substr(hj, 30, 1)) >= 97 THEN ascii(substr(hj, 30, 1)) - 87 ELSE ascii(substr(hj, 30, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(hj, 31, 1)) >= 97 THEN ascii(substr(hj, 31, 1)) - 87 ELSE ascii(substr(hj, 31, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(hj, 32, 1)) >= 97 THEN ascii(substr(hj, 32, 1)) - 87 ELSE ascii(substr(hj, 32, 1)) - 48 END)) AS bucket) GROUP BY 1, 2
), ip AS (
  SELECT ca.d, CAST(sum(ca.cnt * cb.cnt) AS BIGINT) AS ip
  FROM ca JOIN cb ON ca.d = cb.d AND ca.bucket = cb.bucket
  GROUP BY 1
), ex AS (
  SELECT CAST(sum(a.n * b.n) AS BIGINT) AS exact_join_rows FROM
    (SELECT o_custkey k, count(*) n FROM orders GROUP BY 1) a
    JOIN (SELECT user_id k, count(*) n FROM events GROUP BY 1) b
    USING (k)
)
SELECT (SELECT min(ip) FROM ip) AS est_join_rows,
       exact_join_rows
FROM ex
""",
    tags=("analytics", "sketch"),
    doc="Equi-join cardinality estimation from two count-min sketches "
        "(operators/sketch.py:cms_join_cardinality): min over hash "
        "rows of the counter inner product — the planner-side sketch "
        "use that prices orders-x-events joins from two <= d*w-row "
        "tables without scanning either input at estimation time. "
        "Deterministic md5 family, so estimate AND exact truth are "
        "both oracle-checked in one row; the estimate provably "
        "over-counts only (collisions inflate), pinned in pytest "
        "alongside the relative-error bound on this data.",
)
def sketch_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import cms_build, cms_join_cardinality
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    ca = cms_build(o, "o_custkey", depth=4, width=4096,
                   hash_family="md5")
    cb = cms_build(ev, "user_id", depth=4, width=4096,
                   hash_family="md5")
    est = cms_join_cardinality(ca, cb)
    na = (o.groupBy(F.col("o_custkey").alias("k"))
          .agg(F.count(F.lit(1)).alias("n_a")))
    nb = (ev.groupBy(F.col("user_id").alias("k"))
          .agg(F.count(F.lit(1)).alias("n_b")))
    exact = (na.join(nb, "k")
             .agg(F.sum(F.col("n_a") * F.col("n_b"))
                  .alias("exact_join_rows")))
    return (est.crossJoin(F.broadcast(exact))
            .select(F.col("est_join_rows").cast("long")
                    .alias("est_join_rows"),
                    F.col("exact_join_rows").cast("long")
                    .alias("exact_join_rows")))


@query(
    "interval_coverage",
    oracle="""
WITH iv AS (
  SELECT user_id, ts AS s,
         ts + to_microseconds((event_id % 7 + 1) * 60000000) AS e
  FROM events WHERE user_id < 60
), w AS (
  SELECT user_id, epoch_us(s) AS s_us, epoch_us(e) AS e_us,
         max(epoch_us(e)) OVER (PARTITION BY user_id ORDER BY
           epoch_us(s), epoch_us(e)
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM iv
), o AS (
  SELECT user_id, s_us, e_us,
         CAST(sum(CASE WHEN pm IS NULL OR s_us > pm THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY s_us, e_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS island
  FROM w
), isl AS (
  SELECT user_id, island, min(s_us) AS lo, max(e_us) AS hi
  FROM o GROUP BY 1, 2
)
SELECT user_id, CAST(sum(hi - lo) AS BIGINT) AS covered_us,
       count(*) AS n_islands
FROM isl GROUP BY user_id ORDER BY user_id
""",
    tags=("analytics", "timeseries"),
    doc="Per-user total covered time of overlapping activity intervals "
        "(operators/timeseries.py:interval_union_length — gaps-and-"
        "islands sweep): each event opens a [ts, ts + (id%7+1) min) "
        "interval; islands form where a start exceeds the running max "
        "end (O(1) window state), coverage is the exact integer-us sum "
        "of island extents. One shuffle on the key shared by both "
        "windows and the rollup — the distributed dual of the "
        "sequential sweep-line.",
)
def interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import interval_union_length
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id") < 60)
          .select("user_id", F.col("ts").alias("s"),
                  (F.col("ts") + F.make_interval(
                      secs=(F.col("event_id") % 7 + 1) * 60))
                  .alias("e")))
    return (interval_union_length(ev, "user_id", "s", "e")
            .orderBy("user_id"))


@query(
    "analytics_capstone_funnel_retention",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_us
  FROM events
), s AS (
  SELECT user_id, session_id, ts, event_type FROM (
    SELECT *, CAST(sum(CASE WHEN prev_us IS NULL
                             OR us - prev_us > 1800000000
                            THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS session_id
    FROM e)
), sess AS (
  SELECT user_id, session_id, min(ts) AS session_start
  FROM s GROUP BY 1, 2
), g1 AS (
  SELECT user_id, session_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM s GROUP BY 1, 2
), g2 AS (
  SELECT s.user_id, s.session_id,
         min(CASE WHEN s.event_type = 'click' AND s.ts > g1.t1
                  THEN s.ts END) AS t2
  FROM s JOIN g1 ON s.user_id = g1.user_id
               AND s.session_id = g1.session_id
  GROUP BY 1, 2
), g3 AS (
  SELECT s.user_id, s.session_id,
         min(CASE WHEN s.event_type = 'purchase' AND s.ts > g2.t2
                  THEN s.ts END) AS t3
  FROM s JOIN g2 ON s.user_id = g2.user_id
               AND s.session_id = g2.session_id
  GROUP BY 1, 2
), sx AS (
  SELECT sess.user_id, sess.session_start,
         g3.t3 IS NOT NULL AS converted
  FROM sess JOIN g3 ON sess.user_id = g3.user_id
                   AND sess.session_id = g3.session_id
), coh AS (
  SELECT user_id, date_trunc('week', min(session_start)) AS cohort_week
  FROM sx GROUP BY 1
), j AS (
  SELECT sx.user_id, sx.converted, coh.cohort_week,
         CAST((epoch_us(date_trunc('week', sx.session_start))
               - epoch_us(coh.cohort_week)) / 604800000000 AS BIGINT)
           AS off
  FROM sx JOIN coh ON sx.user_id = coh.user_id
), cs AS (
  SELECT cohort_week, count(*) AS cohort_size FROM coh GROUP BY 1
)
SELECT strftime(j.cohort_week, '%Y-%m-%d') AS cohort_week,
       j.off AS week_offset,
       cs.cohort_size,
       count(DISTINCT j.user_id) AS active_users,
       count(*) AS n_sessions,
       CAST(sum(CASE WHEN j.converted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_converted,
       CAST(count(DISTINCT j.user_id) AS DOUBLE) / cs.cohort_size
         AS retention_rate
FROM j JOIN cs ON j.cohort_week = cs.cohort_week
GROUP BY 1, 2, 3 ORDER BY 1, 2
""",
    tags=("analytics", "capstone"),
    doc="Event-analytics capstone: sessionize (30-min gap) -> in-"
        "session ordered funnel (view -> click -> purchase, strictly "
        "increasing timestamps) -> weekly acquisition cohorts -> "
        "a full retention MATRIX (per cohort x week offset: actives, "
        "sessions, conversions, retention rate) — "
        "the product-analytics daily composed as ONE lazy plan from "
        "four existing operators (sessionize.py, funnel.py, cohort "
        "week-offset arithmetic), whole-chain oracle like the "
        "curation and entity-resolution capstones: the hash match "
        "proves stage COMPOSITION. Shuffle ledger: one (user) "
        "exchange shared by sessionization's windows, one (session "
        "key) exchange for the funnel windows + session rollup, two "
        "tiny aggregates over per-user/per-session rows for cohorts "
        "and the final cohort-week rollup. Week offsets are exact "
        "integer-microsecond arithmetic between Monday-truncated "
        "timestamps (both engines truncate weeks to Monday under "
        "UTC).",
)
def analytics_capstone_funnel_retention(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel_stages
    from ..operators.sessionize import sessionize
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_seconds=1800,
                   tie_break=("event_id",))
    s = s.withColumn("skey", F.concat_ws("#", "user_id", "session_id"))
    fun = (funnel_stages(s, "skey", "ts", "event_type",
                         ["view", "click", "purchase"])
           .select("skey", F.col("t3").isNotNull().alias("converted")))
    sess = (s.groupBy("user_id", "session_id", "skey")
            .agg(F.min("ts").alias("session_start")))
    sess = (sess.join(fun, "skey", "left")
            .select("user_id", "session_start",
                    F.coalesce(F.col("converted"), F.lit(False))
                    .alias("converted")))
    coh = (sess.groupBy("user_id")
           .agg(F.date_trunc("week", F.min("session_start"))
                .alias("cohort_week")))
    week_us = F.unix_micros(F.date_trunc("week", F.col("session_start")))
    off = ((week_us - F.unix_micros(F.col("cohort_week")))
           / F.lit(604_800_000_000)).cast("long")
    j = sess.join(coh, "user_id").withColumn("off", off)
    cs = (coh.groupBy("cohort_week")
          .agg(F.count(F.lit(1)).alias("cohort_size")))
    return (j.groupBy("cohort_week", "off")
            .agg(F.countDistinct("user_id").alias("active_users"),
                 F.count(F.lit(1)).alias("n_sessions"),
                 F.sum(F.col("converted").cast("long"))
                 .alias("n_converted"))
            .join(F.broadcast(cs), "cohort_week")
            .select(F.date_format("cohort_week", "yyyy-MM-dd")
                    .alias("cohort_week"),
                    F.col("off").alias("week_offset"),
                    "cohort_size", "active_users", "n_sessions",
                    "n_converted",
                    (F.col("active_users").cast("double")
                     / F.col("cohort_size")).alias("retention_rate"))
            .orderBy("cohort_week", "week_offset"))


@query(
    "timeseries_anomaly_rolling_z",
    oracle="""
WITH agg AS (
  SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS b,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM agg GROUP BY 1
), spine AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
  FROM bounds
), j AS (
  SELECT s.event_type, s.b, coalesce(a.n, 0) AS n, a.sum_value,
         CAST(round(a.sum_value * 100) AS BIGINT) AS v_c
  FROM spine s LEFT JOIN agg a
    ON s.event_type = a.event_type AND s.b = a.b
), w AS (
  SELECT event_type, b, n, sum_value, v_c,
         CAST(sum(CAST(v_c AS DECIMAL(38,0))) OVER f AS DOUBLE) AS s1,
         CAST(sum(CAST(v_c * v_c AS DECIMAL(38,0))) OVER f AS DOUBLE)
           AS s2,
         count(v_c) OVER f AS cnt
  FROM j
  WINDOW f AS (PARTITION BY event_type ORDER BY b
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
), z AS (
  SELECT event_type, b, n, sum_value,
         CASE WHEN v_c IS NOT NULL AND cnt >= 3
               AND (s2 - s1 * s1 / cnt) / (cnt - 1) > 0
              THEN (v_c - s1 / cnt)
                   / sqrt((s2 - s1 * s1 / cnt) / (cnt - 1))
         END AS zscore
  FROM w
)
SELECT event_type, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket, n,
       sum_value, zscore,
       CASE WHEN zscore IS NOT NULL THEN abs(zscore) > 3.0 END
         AS is_anomaly
FROM z ORDER BY event_type, bucket
""",
    tags=("analytics", "timeseries"),
    doc="Rolling z-score anomaly detection over the hourly resampled "
        "event series (operators/timeseries.py:rolling_anomaly_z): "
        "each bucket scored against its trailing 24 buckets' exact-"
        "decimal mean/std (current bucket excluded), NULL-honest for "
        "gaps, short history, and zero variance. The full composition "
        "— resample with gap materialization, then the moving-frame "
        "z — is one plan, two shared-partition windows, recomputed "
        "whole by the oracle.",
)
def timeseries_anomaly_rolling_z(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from ..operators.timeseries import resample, rolling_anomaly_z
    ev = load_table(spark, sf_dir, "events")
    r = resample(ev, key="event_type", ts_col="ts",
                 interval="1 hour", value_col="value")
    out = rolling_anomaly_z(r, key="event_type", lookback=24,
                            threshold=3.0)
    return (out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "n", "sum_value", "zscore", "is_anomaly")
        .orderBy("event_type", "bucket"))


@query(
    "timeseries_anomaly_seasonal_z",
    oracle="""
WITH agg AS (
  SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS b,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM agg GROUP BY 1
), spine AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
  FROM bounds
), j AS (
  SELECT s.event_type, s.b, coalesce(a.n, 0) AS n, a.sum_value,
         CAST(round(a.sum_value * 100) AS BIGINT) AS v_c,
         s.event_type || '#' || CAST(hour(s.b) AS VARCHAR) AS skey
  FROM spine s LEFT JOIN agg a
    ON s.event_type = a.event_type AND s.b = a.b
), w AS (
  SELECT event_type, b, n, sum_value, v_c,
         CAST(sum(CAST(v_c AS DECIMAL(38,0))) OVER f AS DOUBLE) AS s1,
         CAST(sum(CAST(v_c * v_c AS DECIMAL(38,0))) OVER f AS DOUBLE)
           AS s2,
         count(v_c) OVER f AS cnt
  FROM j
  WINDOW f AS (PARTITION BY skey ORDER BY b
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
), z AS (
  SELECT event_type, b, n, sum_value,
         CASE WHEN v_c IS NOT NULL AND cnt >= 3
               AND (s2 - s1 * s1 / cnt) / (cnt - 1) > 0
              THEN (v_c - s1 / cnt)
                   / sqrt((s2 - s1 * s1 / cnt) / (cnt - 1))
         END AS zscore
  FROM w
)
SELECT event_type, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket, n,
       sum_value, zscore,
       CASE WHEN zscore IS NOT NULL THEN abs(zscore) > 3.0 END
         AS is_anomaly
FROM z ORDER BY event_type, bucket
""",
    tags=("analytics", "timeseries"),
    doc="Seasonality-aware anomaly scoring: the SAME rolling_anomaly_z "
        "machinery re-keyed to (event_type, hour-of-day), so each "
        "hourly bucket is judged against the trailing 7 observations "
        "of the SAME clock hour — the diurnal-baseline alerting that "
        "plain trailing windows false-positive on (an 09:00 rush is "
        "normal vs other 09:00s, anomalous vs 04:00s). Demonstrates "
        "the operator's generality: the seasonal variant is a derived "
        "partition column, not new machinery.",
)
def timeseries_anomaly_seasonal_z(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from ..operators.timeseries import resample, rolling_anomaly_z
    ev = load_table(spark, sf_dir, "events")
    r = (resample(ev, key="event_type", ts_col="ts",
                  interval="1 hour", value_col="value")
         .withColumn("__skey",
                     F.concat_ws("#", F.col("event_type"),
                                 F.hour("bucket").cast("string"))))
    out = rolling_anomaly_z(r, key="__skey", lookback=7, threshold=3.0)
    return (out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "n", "sum_value", "zscore", "is_anomaly")
        .orderBy("event_type", "bucket"))


@query(
    "survival_kaplan_meier",
    oracle="""
WITH u AS (
  SELECT user_id,
         (max(epoch_us(ts)) - min(epoch_us(ts))) // 21600000000 AS t,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS e
  FROM events GROUP BY 1
), p AS (
  SELECT t, count(*) AS c, CAST(sum(e) AS BIGINT) AS d
  FROM u GROUP BY 1
), tt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM p),
w AS (
  SELECT t, c, d,
         CAST(tt.n - coalesce(sum(c) OVER (ORDER BY t ROWS BETWEEN
              UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS n_risk
  FROM p, tt
), f AS (
  SELECT t, n_risk, d, CAST(c - d AS BIGINT) AS censored,
         CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
  FROM w
)
SELECT t, n_risk, d AS events, censored,
       list_reduce(list(factor) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
         PRECEDING AND CURRENT ROW), (a, b) -> a * b) AS survival
FROM f ORDER BY t
""",
    tags=("analytics", "survival"),
    doc="Kaplan–Meier survival curve (operators/evaluation.py:"
        "kaplan_meier) over per-user engagement lifetimes: duration = "
        "6-hour buckets between a user's first and last event "
        "(integer-µs div — no float boundary), observed event = the "
        "user ever purchased, censored otherwise. n_risk/d_i are exact "
        "longs from one hash agg + a prefix window over the DISTINCT-"
        "duration table; each factor is one double division; the "
        "product-limit S(t) is an ascending-duration left fold "
        "(F.aggregate ≡ DuckDB list_reduce) so the float chain is "
        "bit-identical cross-engine. Bucketing bounds the single-task "
        "window by construction (the drift_ks rule).",
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.evaluation import kaplan_meier
    ev = load_table(spark, sf_dir, "events")
    u = (ev.groupBy("user_id")
         .agg(F.max(F.unix_micros("ts")).alias("__mx"),
              F.min(F.unix_micros("ts")).alias("__mn"),
              F.max(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).alias("e"))
         .withColumn("t", F.expr("(__mx - __mn) div 21600000000")))
    return kaplan_meier(u, F.col("t"), F.col("e"))


@query(
    "sketch_hll_incremental_distinct",
    # rows-only by design: DataSketches HLL estimates are deterministic
    # for a given input and lg_k but not reproducible by DuckDB's
    # different HLL implementation; pytest pins the merge identity
    # (union-of-sketches == sketch-of-union, exact) and ±5% accuracy
    # vs the exact distinct count (tests/test_analytics.py).
    tags=("sketch", "incremental"),
    doc="Incremental COUNT(DISTINCT) via mergeable HyperLogLog partials "
        "(operators/sketch.py:hll_build/hll_rollup): per-(event_type, "
        "day) sketches — the increment grain an hourly pipeline would "
        "persist — roll up to per-type distinct-user estimates WITHOUT "
        "rescanning raw history. Spark 3.5 DataSketches HLL, JVM-side, "
        "map-side combined; the rollup aggregates the tiny sketch "
        "table, so re-grading a year of increments never touches data.",
)
def sketch_hll_incremental_distinct(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from ..operators.sketch import hll_build, hll_rollup
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("day", F.to_date("ts")))
    daily = hll_build(ev, ["event_type", "day"], "user_id", lg_k=12)
    return (hll_rollup(daily, ["event_type"])
            .select("event_type", "distinct_est")
            .orderBy("event_type"))


@query(
    "graph_transitive_closure",
    oracle="""
WITH RECURSIVE edges AS (
  SELECT c_custkey AS child, c_custkey // 10 AS parent
  FROM customer WHERE c_custkey > 0
), anc AS (
  SELECT child AS node, parent AS anc, 1 AS depth FROM edges
  UNION ALL
  SELECT a.node, e.parent, a.depth + 1
  FROM anc a JOIN edges e ON a.anc = e.child
)
SELECT node, anc, CAST(min(depth) AS INTEGER) AS depth
FROM anc GROUP BY node, anc
ORDER BY node, anc
""",
    tags=("graph", "recursive"),
    doc="Transitive ancestor closure (operators/graph.py:"
        "transitive_closure) over the derived custkey decimal-digit "
        "hierarchy (child c -> parent c//10, a forest): every "
        "(node, ancestor, hop-distance) triple, exactly what a SQL "
        "WITH RECURSIVE ancestor query returns — Spark lacks recursive "
        "CTEs, so the engine re-expresses it as ceil(log2(depth)) "
        "min-plus pointer-doubling self-joins in ONE lazy action-free "
        "plan. Oracle IS a recursive CTE (DuckDB), proving parity with "
        "the missing SQL feature.",
)
def graph_transitive_closure(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from ..operators.graph import transitive_closure
    c = load_table(spark, sf_dir, "customer")
    edges = (c.filter(F.col("c_custkey") > 0)
             .select(F.col("c_custkey").alias("src"),
                     (F.col("c_custkey") / 10).cast("long")
                     .alias("dst")))
    out = transitive_closure(edges, max_depth=16)
    return (out.select("node", "anc",
                       F.col("depth").cast("int").alias("depth"))
            .orderBy("node", "anc"))


@query(
    "feature_impute_median",
    oracle="""
WITH ev AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS value
  FROM events
), nn AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value)
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM ev WHERE value IS NOT NULL
), med AS (
  SELECT event_type, value AS median
  FROM nn WHERE rn = (cnt + 1) // 2
)
SELECT e.event_type,
       CAST(sum(CASE WHEN e.value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_imputed,
       round(any_value(m.median), 6) AS median_used,
       CAST(sum(CAST(coalesce(e.value, m.median) AS DECIMAL(18,6)))
            AS DOUBLE) AS sum_imputed
FROM ev e LEFT JOIN med m ON e.event_type = m.event_type
GROUP BY e.event_type
ORDER BY e.event_type
""",
    tags=("analytics", "features", "quality"),
    doc="Group-median NULL imputation (operators/features.py:"
        "impute_group_median): every 11th event's value is knocked out, "
        "then refilled with the group's LOWER median — an order "
        "statistic at integer rank ceil(n/2) (no interpolation to "
        "disagree about cross-engine), computed by one ranked window "
        "per group and broadcast back onto the scan. The probe checks "
        "imputed counts, the median used, and the exact-decimal sum of "
        "the repaired column.",
)
def feature_impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import impute_group_median
    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", "event_type",
                  F.when(F.col("event_id") % 11 == 0, None)
                  .otherwise(F.col("value")).alias("value")))
    rep = impute_group_median(ev, "value", "event_type")
    med = (rep.filter(F.col("value").isNull())
           .groupBy("event_type")
           .agg(F.first("value_imputed").alias("median_used")))
    return (rep.groupBy("event_type")
            .agg(F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_imputed"),
                 F.sum(F.col("value_imputed").cast("decimal(18,6)"))
                 .cast("double").alias("sum_imputed"))
            .join(F.broadcast(med), "event_type")
            .select("event_type", "n_imputed",
                    F.round("median_used", 6).alias("median_used"),
                    "sum_imputed")
            .orderBy("event_type"))


@query(
    "feature_scale_minmax",
    oracle="""
WITH s AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type,
       CASE WHEN s.mx <> s.mn
            THEN (e.value - s.mn) / (s.mx - s.mn) END AS value_scaled
FROM events e JOIN s USING (event_type)
WHERE e.event_id < 500
ORDER BY e.event_id
""",
    tags=("analytics", "features"),
    doc="Per-group min-max feature scaling (operators/features.py:"
        "scale_minmax): (v − min)/(max − min) over the per-type range, "
        "a fixed IEEE chain over the raw doubles (subtract, subtract, "
        "divide — no accumulation), so every scaled value hashes "
        "bit-identically cross-engine with NO rounding. Range stats "
        "are one hash agg broadcast back; the scale expression runs in "
        "codegen. Constant groups yield NULL (honest 0/0).",
)
def feature_scale_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import scale_minmax
    ev = load_table(spark, sf_dir, "events")
    out = scale_minmax(ev, "value", "event_type")
    return (out.filter(F.col("event_id") < 500)
            .select("event_id", "event_type", "value_scaled")
            .orderBy("event_id"))


@query(
    "privacy_l_diversity",
    oracle="""
SELECT c_nationkey, c_mktsegment,
       count(*) AS class_size,
       CAST(count(DISTINCT CAST(floor(c_acctbal / 4000) AS BIGINT))
            AS BIGINT) AS n_sensitive,
       count(DISTINCT CAST(floor(c_acctbal / 4000) AS BIGINT)) < 3
         AS violates_l
FROM customer
GROUP BY 1, 2
ORDER BY c_nationkey, c_mktsegment
""",
    tags=("analytics", "governance"),
    doc="Distinct l-diversity audit (operators/profile.py:l_diversity, "
        "l=3): k-anonymity's homogeneity-attack complement — each "
        "(nation, segment) equivalence class must span ≥3 distinct "
        "coarse balance bands or knowing the class reveals the "
        "sensitive attribute. ONE hash agg with a count-distinct "
        "(two-phase expansion, partial combined); composes with "
        "privacy_k_anonymity on the same grouping.",
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import l_diversity
    c = (load_table(spark, sf_dir, "customer")
         .select("c_nationkey", "c_mktsegment",
                 F.floor(F.col("c_acctbal") / 4000).cast("long")
                 .alias("bal_band")))
    return (l_diversity(c, ["c_nationkey", "c_mktsegment"],
                        "bal_band", l=3)
            .orderBy("c_nationkey", "c_mktsegment"))


@query(
    "feature_quantile_rank",
    oracle="""
WITH pv AS (
  SELECT o_orderpriority, o_totalprice, count(*) AS c
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
), r AS (
  SELECT o_orderpriority, o_totalprice, c,
         coalesce(sum(c) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice ROWS BETWEEN UNBOUNDED
                  PRECEDING AND 1 PRECEDING), 0) AS below
  FROM pv
), t AS (
  SELECT o_orderpriority, CAST(sum(c) AS BIGINT) AS n
  FROM pv GROUP BY 1
)
SELECT o.o_orderkey, o.o_orderpriority,
       CASE WHEN t.n > 1
            THEN CAST(2 * r.below + r.c + 1 - 2 AS DOUBLE)
                 / (2 * (t.n - 1)) END AS price_qrank
FROM orders o
JOIN r ON o.o_orderpriority = r.o_orderpriority
      AND o.o_totalprice = r.o_totalprice
JOIN t ON o.o_orderpriority = t.o_orderpriority
WHERE o.o_orderkey < 2000
ORDER BY o.o_orderkey
""",
    tags=("analytics", "features"),
    doc="Per-group quantile (rank) transform (operators/features.py:"
        "quantile_rank): order price → ECDF position in [0,1] within "
        "its priority class, tie-averaged in DOUBLED-integer rank "
        "arithmetic (the binary_auc identity) so equal prices map "
        "equal everywhere — the outlier-immune alternative to min-max "
        "scaling. Per-DISTINCT-value aggregation first, then a ROWS "
        "window over the distinct-value table (the binary_auc shape — "
        "never a numeric-offset RANGE window, which on a double key "
        "means a VALUE offset) + a broadcast count; ONE double "
        "division per distinct value.",
)
def feature_quantile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import quantile_rank
    o = load_table(spark, sf_dir, "orders")
    out = quantile_rank(o, "o_totalprice", "o_orderpriority",
                        out_col="price_qrank")
    return (out.filter(F.col("o_orderkey") < 2000)
            .select("o_orderkey", "o_orderpriority", "price_qrank")
            .orderBy("o_orderkey"))


@query(
    "incremental_quantile_merge",
    oracle="""
WITH tagged AS (
  SELECT value,
         least(greatest(CAST(floor((value - 0.0) / 2.5) AS BIGINT), 0),
               199) AS bucket
  FROM events
), merged AS (
  SELECT bucket, count(*) AS n FROM tagged GROUP BY 1
), c AS (
  SELECT bucket, n,
         CAST(sum(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(n) OVER () AS BIGINT) AS total
  FROM merged
)
SELECT CAST(q AS DOUBLE) AS q, bucket,
       CAST(0.0 AS DOUBLE) + (bucket + 1) * CAST(2.5 AS DOUBLE)
         AS estimate,
       total AS n_total
FROM (
  SELECT 0.5 AS q UNION ALL SELECT 0.9 UNION ALL SELECT 0.99
) qs, LATERAL (
  SELECT bucket, total FROM c
  WHERE cum >= CAST(ceil(qs.q * total) AS BIGINT)
  ORDER BY bucket LIMIT 1
)
ORDER BY q
""",
    tags=("analytics", "incremental", "binning"),
    doc="Incrementally-maintained quantiles (operators/binning.py:"
        "merged_histogram_quantiles): per-day fixed-width histograms "
        "of event values — the tiny sidecar an hourly pipeline "
        "persists — merge with ONE aggregate and answer p50/p90/p99 "
        "to ±binwidth (2.5 here over [0,500), 200 bins) without "
        "rescanning raw history; the HLL-rollup argument applied to "
        "order statistics. All integer arithmetic + one fixed edge "
        "expression; cumulative window bounded by nbins rows.",
)
def incremental_quantile_merge(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from ..operators.binning import (fixed_histogram,
                                     merged_histogram_quantiles)
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("day", F.to_date("ts")))
    # per-increment histograms, union-merged — structurally the stored
    # sidecar files a real pipeline would read back
    hists = None
    for lo_d, hi_d in ((1, 11), (11, 21), (21, 32)):
        inc = ev.filter((F.dayofmonth("day") >= lo_d)
                        & (F.dayofmonth("day") < hi_d))
        h = fixed_histogram(inc, "value", 0.0, 500.0, 200)
        hists = h if hists is None else hists.unionByName(h)
    return (merged_histogram_quantiles(hists, [0.5, 0.9, 0.99],
                                       0.0, 500.0, 200)
            .orderBy("q"))


@query(
    "graph_hierarchy_rollup",
    oracle="""
WITH RECURSIVE edges AS (
  SELECT c_custkey AS child, c_custkey // 10 AS parent
  FROM customer WHERE c_custkey > 0
), anc AS (
  SELECT child AS node, parent AS anc, 1 AS depth FROM edges
  UNION ALL
  SELECT a.node, e.parent, a.depth + 1
  FROM anc a JOIN edges e ON a.anc = e.child
), subtree AS (
  SELECT DISTINCT node, anc FROM anc
  UNION
  SELECT c_custkey AS node, c_custkey AS anc FROM customer
), rev AS (
  SELECT o_custkey AS node,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS r,
         count(*) AS n
  FROM orders GROUP BY 1
)
SELECT s.anc AS node,
       CAST(count(DISTINCT s.node) AS BIGINT) AS n_subtree,
       CAST(sum(coalesce(rev.n, 0)) AS BIGINT) AS n_orders,
       CAST(coalesce(sum(rev.r), 0) AS DOUBLE) AS subtree_revenue
FROM subtree s LEFT JOIN rev ON s.node = rev.node
GROUP BY s.anc
HAVING CAST(sum(coalesce(rev.n, 0)) AS BIGINT) > 0
ORDER BY node
""",
    tags=("graph", "recursive", "analytics"),
    doc="Hierarchical subtree rollup (transitive_closure applied): "
        "order revenue aggregated to EVERY ancestor of the custkey "
        "decimal-digit tree — the org-chart/BOM rollup that needs the "
        "closure, not just one parent hop. Spark side: the lazy "
        "min-plus closure ∪ self-rows joined to per-customer revenue "
        "(exact decimal) and grouped by ancestor; oracle recomputes "
        "with a recursive CTE. Zero-order subtrees filtered on BOTH "
        "sides so the comparison set is revenue-bearing nodes.",
)
def graph_hierarchy_rollup(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from ..operators.graph import transitive_closure
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    edges = (c.filter(F.col("c_custkey") > 0)
             .select(F.col("c_custkey").alias("src"),
                     (F.col("c_custkey") / 10).cast("long")
                     .alias("dst")))
    closure = transitive_closure(edges, max_depth=16) \
        .select("node", "anc")
    self_rows = c.select(F.col("c_custkey").alias("node"),
                         F.col("c_custkey").alias("anc"))
    subtree = closure.unionByName(self_rows).distinct()
    rev = (o.groupBy(F.col("o_custkey").alias("node"))
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .alias("r"),
                F.count(F.lit(1)).alias("n")))
    return (subtree.join(rev, "node", "left")
            .groupBy(F.col("anc").alias("node"))
            .agg(F.countDistinct("node").alias("__nd"),
                 F.sum(F.coalesce(F.col("n"), F.lit(0))).cast("long")
                 .alias("n_orders"),
                 F.coalesce(F.sum("r"), F.lit(0).cast("decimal(18,2)"))
                 .cast("double").alias("subtree_revenue"))
            .filter(F.col("n_orders") > 0)
            .withColumnRenamed("__nd", "n_subtree")
            .orderBy("node"))


@query(
    "timeseries_decompose_seasonal",
    oracle="""
WITH r AS (
  SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sv
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, bucket, hour(bucket) AS phase, sv,
         CASE WHEN count(*) OVER w = 5
              THEN CAST(sum(sv) OVER w AS DOUBLE) / 5 END AS trend
  FROM r
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
), p AS (
  SELECT event_type, hour(bucket) AS phase,
         CAST(sum(sv) AS DECIMAL(18,2)) AS ps, count(*) AS pn
  FROM r GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(sum(sv) AS DECIMAL(18,2)) AS ts2,
         count(*) AS tn
  FROM r GROUP BY 1
)
SELECT t.event_type,
       strftime(t.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       t.phase,
       CAST(t.sv AS DOUBLE) AS sum_value,
       t.trend,
       CAST(p.ps AS DOUBLE) / p.pn - CAST(tot.ts2 AS DOUBLE) / tot.tn
         AS seasonal,
       CAST(t.sv AS DOUBLE) - t.trend
         - (CAST(p.ps AS DOUBLE) / p.pn
            - CAST(tot.ts2 AS DOUBLE) / tot.tn) AS residual
FROM t JOIN p ON t.event_type = p.event_type AND t.phase = p.phase
JOIN tot ON t.event_type = tot.event_type
WHERE t.bucket < TIMESTAMP '2024-01-05 00:00:00'
ORDER BY t.event_type, bucket
""",
    tags=("analytics", "timeseries"),
    doc="Additive seasonal decomposition (operators/timeseries.py:"
        "decompose_seasonal, STL-lite seasonal-means flavor): hourly "
        "per-type event volume splits into a centered-5-bucket moving-"
        "average trend (NULL at honest edges), an hour-of-day seasonal "
        "(phase mean − overall mean) and the residual. Every component "
        "is exact DECIMAL sums + at most two double divisions and a "
        "fixed subtraction chain — no double accumulation anywhere, so "
        "rows hash identically cross-engine. Windows run over the "
        "resampled (tiny) series; phase/total stats broadcast back.",
)
def timeseries_decompose_seasonal(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from ..operators.timeseries import decompose_seasonal, resample
    ev = load_table(spark, sf_dir, "events")
    r = (resample(ev, key="event_type", ts_col="ts",
                  interval="1 hour", value_col="value")
         .filter(F.col("n") > 0)
         .withColumn("phase", F.hour("bucket")))
    out = decompose_seasonal(r, "event_type", value_col="sum_value",
                             phase_col="phase", ma_window=5)
    return (out.filter(F.col("bucket")
                       < F.lit(dt.datetime(2024, 1, 5)))
            .select("event_type",
                    F.date_format("bucket", "yyyy-MM-dd HH:mm:ss")
                    .alias("bucket"),
                    "phase", "sum_value", "trend", "seasonal",
                    "residual")
            .orderBy("event_type", "bucket"))


@query(
    "analytics_market_basket",
    oracle="""
WITH bi AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
), itemn AS (
  SELECT item, count(*) AS n_item FROM bi
  GROUP BY 1 HAVING count(*) >= 20
), tot AS (
  SELECT count(DISTINCT basket) AS n_baskets FROM bi
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(count(*) AS BIGINT) AS n_ab,
         CAST(max(ia.n_item) AS BIGINT) AS n_a,
         CAST(max(ib.n_item) AS BIGINT) AS n_b
  FROM bi a
  JOIN bi b ON a.basket = b.basket AND a.item < b.item
  JOIN itemn ia ON a.item = ia.item
  JOIN itemn ib ON b.item = ib.item
  GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT item_a, item_b, n_a, n_b, n_ab,
       CAST(tot.n_baskets AS BIGINT) AS n_baskets,
       CAST(n_ab AS DOUBLE) / CAST(tot.n_baskets AS DOUBLE) AS support,
       CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) AS conf_ab,
       CAST(n_ab AS DOUBLE) / CAST(n_b AS DOUBLE) AS conf_ba,
       (CAST(n_ab AS DOUBLE) * CAST(tot.n_baskets AS DOUBLE))
         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS lift
FROM pairs, tot
ORDER BY item_a, item_b
""",
    tags=("analytics", "basket"),
    doc="Market-basket association rules (operators/basket.py:"
        "association_rules): support/confidence/lift for part pairs "
        "co-ordered in the same order, Apriori-pruned (items under the "
        "frequent-item floor are semi-joined away BEFORE pairing — "
        "support is anti-monotone so no frequent pair is lost) and "
        "paired by an equi-join on the order key with an item_a < "
        "item_b residual, never item×item. All counts exact longs; "
        "every ratio is a fixed IEEE chain over doubles cast from "
        "those longs — no rounding needed. The basket total rides a "
        "1-row broadcast crossJoin (action-free construction).",
)
def analytics_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.basket import association_rules
    li = load_table(spark, sf_dir, "lineitem")
    rules = association_rules(li, "l_orderkey", "l_partkey",
                              min_item_count=20, min_pair_count=3)
    return rules.orderBy("item_a", "item_b")


@query(
    "analytics_rfm_segments",
    oracle="""
WITH pc0 AS (
  SELECT o_custkey, count(*) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents,
         max(o_orderdate) AS last_order
  FROM orders GROUP BY 1
), mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
pc AS (
  SELECT o_custkey, frequency, monetary_cents,
         date_diff('day', CAST(last_order AS DATE), CAST(maxd AS DATE))
           AS recency_days
  FROM pc0, mx
),
tr AS (SELECT recency_days AS v,
              row_number() OVER (ORDER BY recency_days) AS rn,
              count(*) OVER () AS n FROM pc),
qr AS (SELECT
  max(CASE WHEN rn = greatest(CAST(ceil(0.2*n) AS BIGINT),1) THEN v END) AS p20,
  max(CASE WHEN rn = greatest(CAST(ceil(0.4*n) AS BIGINT),1) THEN v END) AS p40,
  max(CASE WHEN rn = greatest(CAST(ceil(0.6*n) AS BIGINT),1) THEN v END) AS p60,
  max(CASE WHEN rn = greatest(CAST(ceil(0.8*n) AS BIGINT),1) THEN v END) AS p80
  FROM tr),
tf AS (SELECT frequency AS v,
              row_number() OVER (ORDER BY frequency) AS rn,
              count(*) OVER () AS n FROM pc),
qf AS (SELECT
  max(CASE WHEN rn = greatest(CAST(ceil(0.2*n) AS BIGINT),1) THEN v END) AS p20,
  max(CASE WHEN rn = greatest(CAST(ceil(0.4*n) AS BIGINT),1) THEN v END) AS p40,
  max(CASE WHEN rn = greatest(CAST(ceil(0.6*n) AS BIGINT),1) THEN v END) AS p60,
  max(CASE WHEN rn = greatest(CAST(ceil(0.8*n) AS BIGINT),1) THEN v END) AS p80
  FROM tf),
tm AS (SELECT monetary_cents AS v,
              row_number() OVER (ORDER BY monetary_cents) AS rn,
              count(*) OVER () AS n FROM pc),
qm AS (SELECT
  max(CASE WHEN rn = greatest(CAST(ceil(0.2*n) AS BIGINT),1) THEN v END) AS p20,
  max(CASE WHEN rn = greatest(CAST(ceil(0.4*n) AS BIGINT),1) THEN v END) AS p40,
  max(CASE WHEN rn = greatest(CAST(ceil(0.6*n) AS BIGINT),1) THEN v END) AS p60,
  max(CASE WHEN rn = greatest(CAST(ceil(0.8*n) AS BIGINT),1) THEN v END) AS p80
  FROM tm),
s AS (
  SELECT pc.*,
         6 - (1 + CAST(recency_days > qr.p20 AS INTEGER)
                + CAST(recency_days > qr.p40 AS INTEGER)
                + CAST(recency_days > qr.p60 AS INTEGER)
                + CAST(recency_days > qr.p80 AS INTEGER)) AS r_score,
         1 + CAST(frequency > qf.p20 AS INTEGER)
           + CAST(frequency > qf.p40 AS INTEGER)
           + CAST(frequency > qf.p60 AS INTEGER)
           + CAST(frequency > qf.p80 AS INTEGER) AS f_score,
         1 + CAST(monetary_cents > qm.p20 AS INTEGER)
           + CAST(monetary_cents > qm.p40 AS INTEGER)
           + CAST(monetary_cents > qm.p60 AS INTEGER)
           + CAST(monetary_cents > qm.p80 AS INTEGER) AS m_score
  FROM pc, qr, qf, qm
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(CAST(sum(monetary_cents) AS BIGINT) AS DOUBLE)
         / CAST(100 * count(*) AS DOUBLE) AS avg_monetary
FROM s GROUP BY 1, 2, 3
ORDER BY r_score, f_score, m_score
""",
    tags=("analytics", "cohort"),
    doc="RFM customer segmentation (operators/cohort.py:rfm_scores): "
        "recency/frequency/monetary quintile scores 1-5 by VALUE "
        "thresholds at the quintile order statistics of the "
        "per-customer metric table (data members — no interpolation "
        "for engines to disagree on; ties share a score by "
        "construction), recency inverted so most-recent = 5. Metrics "
        "are one hash agg over orders (monetary in exact cents); each "
        "threshold set is one ranked window over the per-customer "
        "aggregate broadcast back as a 1-row crossJoin. Output: "
        "segment cell counts + exact-cents average order value per "
        "customer (ONE double division).",
)
def analytics_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cohort import rfm_scores
    o = load_table(spark, sf_dir, "orders")
    s = rfm_scores(o, "o_custkey", "o_orderdate", "o_totalprice")
    return (s.groupBy("r_score", "f_score", "m_score")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("monetary_cents").cast("long").alias("__s"))
            .select("r_score", "f_score", "m_score", "n_customers",
                    (F.col("__s").cast("double")
                     / (F.lit(100) * F.col("n_customers")).cast("double"))
                    .alias("avg_monetary"))
            .orderBy("r_score", "f_score", "m_score"))


@query(
    "analytics_pareto_abc",
    oracle="""
WITH pk AS (
  SELECT l_partkey AS key,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY 1
), r AS (
  SELECT key, cents,
         CAST(row_number() OVER (ORDER BY cents DESC, key) AS BIGINT)
           AS rank,
         sum(cents) OVER (ORDER BY cents DESC, key
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
         sum(cents) OVER () AS tot
  FROM pk
)
SELECT key, cents, rank,
       CASE WHEN cum * 100 <= tot * 80 THEN 'A'
            WHEN cum * 100 <= tot * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM r ORDER BY rank
""",
    tags=("analytics", "basket"),
    doc="Pareto / ABC revenue-concentration classes (operators/"
        "basket.py:pareto_abc): parts ranked by descending exact-cents "
        "revenue, class A while the running share is ≤80%, B ≤95%, "
        "else C. The share test is cross-multiplied integer arithmetic "
        "(cum·100 ≤ pct·total, DECIMAL(38,0) on the Spark side, "
        "HUGEINT in DuckDB) — no float boundary exists anywhere. The "
        "fact table collapses to one row per part first; the ranking "
        "window runs over that aggregate (single-task bounded by the "
        "part-dimension cardinality; ids.assign_dense_ids is the "
        "bucketed path past that).",
)
def analytics_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.basket import pareto_abc
    li = load_table(spark, sf_dir, "lineitem")
    return (pareto_abc(li, "l_partkey", "l_extendedprice")
            .orderBy("rank"))


@query(
    "timeseries_acf",
    oracle="""
WITH r AS (
  SELECT event_type AS key, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
         CAST(round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                    * 100) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), sp AS (
  SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM (SELECT key, min(bucket) AS lo, max(bucket) AS hi
        FROM r GROUP BY 1)
), s AS (
  SELECT sp.key, sp.bucket, r.x
  FROM sp LEFT JOIN r ON sp.key = r.key AND sp.bucket = r.bucket
), p AS (
  SELECT key, 1 AS lag, x,
         lag(x, 1) OVER (PARTITION BY key ORDER BY bucket) AS y FROM s
  UNION ALL
  SELECT key, 2, x,
         lag(x, 2) OVER (PARTITION BY key ORDER BY bucket) FROM s
  UNION ALL
  SELECT key, 3, x,
         lag(x, 3) OVER (PARTITION BY key ORDER BY bucket) FROM s
  UNION ALL
  SELECT key, 4, x,
         lag(x, 4) OVER (PARTITION BY key ORDER BY bucket) FROM s
), st AS (
  SELECT key, lag, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
         sum(x*x) AS sx2, sum(y*y) AS sy2
  FROM p WHERE x IS NOT NULL AND y IS NOT NULL
  GROUP BY 1, 2
)
SELECT key AS event_type, CAST(lag AS INTEGER) AS lag,
       CAST(n AS BIGINT) AS n,
       CASE WHEN n >= 3
             AND CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             AND CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS acf
FROM st ORDER BY event_type, lag
""",
    tags=("analytics", "timeseries"),
    doc="Autocorrelation function (operators/timeseries.py:acf): "
        "Pearson correlation of the hourly per-type value series with "
        "its lag-1..4 shifts over the RESAMPLED spine (gap buckets "
        "drop from a lag's pair set only — the spine keeps lag "
        "positions honest). Values quantize to integer cents; the "
        "five sufficient statistics per (type, lag) accumulate as "
        "DECIMAL(38,0); the correlation is one fixed double chain "
        "with correctly-rounded sqrt — bit-identical cross-engine, "
        "no rounding. All lag() calls share ONE window spec (one "
        "sort); pairs explode and collapse in one hash agg over the "
        "tiny resampled series.",
)
def timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import acf, resample
    ev = load_table(spark, sf_dir, "events")
    r = resample(ev, key="event_type", ts_col="ts",
                 interval="1 hour", value_col="value")
    return (acf(r, "event_type", value_col="sum_value", max_lag=4)
            .orderBy("event_type", "lag"))


@query(
    "timeseries_cusum_changepoints",
    oracle="""
WITH r AS (
  SELECT event_type AS key, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
         CAST(round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                    * 100) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), pk AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n, sum(x) AS s
  FROM r GROUP BY 1
), d AS (
  SELECT r.key, r.bucket, r.x, pk.n,
         pk.n * r.x - pk.s - pk.n * 500 AS dd
  FROM r JOIN pk ON r.key = pk.key
), c0 AS (
  SELECT key, bucket, x, n,
         sum(dd) OVER (PARTITION BY key ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cc
  FROM d
), c AS (
  SELECT key, bucket, x, n, cc,
         least(CAST(0 AS HUGEINT),
               min(cc) OVER (PARTITION BY key ORDER BY bucket
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)) AS low
  FROM c0
)
SELECT key AS event_type,
       strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       CAST(x AS DOUBLE) / 100.0 AS sum_value,
       CAST(cc - low AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS cusum,
       (cc - low) > n * 15000 AS is_change
FROM c
WHERE bucket < TIMESTAMP '2024-01-08 00:00:00'
ORDER BY event_type, bucket
""",
    tags=("analytics", "timeseries"),
    doc="One-sided CUSUM level-shift detection (operators/"
        "timeseries.py:cusum_changepoints, slack=5.0, h=150.0): the "
        "sequential recursion S_t = max(0, S_{t-1} + d_t) rewritten "
        "by the drawdown identity S_t = C_t − min(0, min C_j) into "
        "two running windows — distributed, O(1) state. Deviations "
        "demean per key WITHOUT rationals (d' = n·x − Σx − n·slack, "
        "exact longs in DECIMAL(38,0)/HUGEINT), and the alarm test "
        "S' > n·h is an exact integer comparison that can never sit "
        "on a float boundary. The reported cusum is one fixed double "
        "chain back to value units.",
)
def timeseries_cusum_changepoints(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from ..operators.timeseries import cusum_changepoints, resample
    ev = load_table(spark, sf_dir, "events")
    r = (resample(ev, key="event_type", ts_col="ts",
                  interval="1 hour", value_col="value")
         .filter(F.col("n") > 0))
    out = cusum_changepoints(r, "event_type", value_col="sum_value",
                             slack=5.0, threshold=150.0)
    return (out.filter(F.col("bucket")
                       < F.lit(dt.datetime(2024, 1, 8)))
            .select("event_type",
                    F.date_format("bucket", "yyyy-MM-dd HH:mm:ss")
                    .alias("bucket"),
                    "sum_value", "cusum", "is_change")
            .orderBy("event_type", "bucket"))


@query(
    "feature_target_encode_loo",
    oracle="""
WITH s AS (
  SELECT o_orderpriority,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sc,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
)
SELECT o.o_orderkey, o.o_orderpriority,
       CASE WHEN s.n > 1 THEN
         CAST(s.sc - CAST(round(o.o_totalprice * 100) AS BIGINT)
              AS DOUBLE)
         / CAST((s.n - 1) * 100 AS DOUBLE) END AS prio_loo
FROM orders o JOIN s USING (o_orderpriority)
WHERE o.o_orderkey < 2000
ORDER BY o.o_orderkey
""",
    tags=("analytics", "features"),
    doc="Leave-one-out target-mean encoding (operators/features.py:"
        "target_encode_loo): each order's priority encodes as the mean "
        "total price of the OTHER orders in its priority class — the "
        "standard leakage guard for categorical features (a plain "
        "target mean memorizes the row's own label). Targets quantize "
        "to exact cents, the numerator Σ−t is an exact long, and the "
        "encoding is ONE double division — no rounding needed. One "
        "hash agg broadcast back; codegen everywhere else.",
)
def feature_target_encode_loo(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from ..operators.features import target_encode_loo
    o = load_table(spark, sf_dir, "orders")
    out = target_encode_loo(o, "o_orderpriority", "o_totalprice",
                            out_col="prio_loo")
    return (out.filter(F.col("o_orderkey") < 2000)
            .select("o_orderkey", "o_orderpriority", "prio_loo")
            .orderBy("o_orderkey"))


@query(
    "eval_regression_metrics",
    oracle="""
WITH nn AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value)
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM events WHERE value IS NOT NULL
), med AS (
  SELECT event_type, value AS median FROM nn WHERE rn = (cnt + 1) // 2
), d AS (
  SELECT e.event_type,
         CAST(round(e.value * 100) AS BIGINT) AS yc,
         CAST(round(m.median * 100) AS BIGINT) AS pc
  FROM events e JOIN med m USING (event_type)
  WHERE e.value IS NOT NULL
), st AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         sum(abs(yc - pc)) AS sa,
         sum((yc - pc) * (yc - pc)) AS sr2,
         sum(yc) AS sy,
         sum(yc * yc) AS sy2
  FROM d GROUP BY 1
)
SELECT event_type, n,
       CAST(sa AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mae,
       sqrt(CAST(sr2 AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0 AS rmse,
       CASE WHEN CAST(sy2 AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                   / CAST(n AS DOUBLE) > 0
            THEN 1.0 - CAST(sr2 AS DOUBLE)
                 / (CAST(sy2 AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                      / CAST(n AS DOUBLE)) END AS r2
FROM st ORDER BY event_type
""",
    tags=("analytics", "evaluation"),
    doc="Per-group regression metrics (operators/evaluation.py:"
        "regression_metrics): MAE/RMSE/R² of a per-type lower-median "
        "predictor (an order statistic — a data member, so the "
        "prediction itself is engine-exact) against event values. "
        "Residuals are exact longs in cents; Σ|r|, Σr², Σy, Σy² "
        "accumulate as DECIMAL(38,0)/HUGEINT; each metric is one "
        "fixed double chain with correctly-rounded sqrt — emitted "
        "unrounded. R² from SST = Σy² − (Σy)²/n (the welch_ttest "
        "shape); constant-actual groups honest-NULL.",
)
def eval_regression_metrics(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from ..operators.evaluation import regression_metrics
    from ..operators.features import group_lower_median
    ev = load_table(spark, sf_dir, "events")
    med = group_lower_median(ev, "value", "event_type")
    pred = ev.join(F.broadcast(med), "event_type")
    return (regression_metrics(pred, "event_type", "value", "median")
            .orderBy("event_type"))


@query(
    "analytics_capstone_ab_experiment",
    oracle="""
WITH pu AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           AS value_total,
         max(CASE WHEN event_type = 'purchase' AND value > 150
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
), arms AS (
  SELECT *, CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 2)
                      < '80'
                 THEN 'holdout' ELSE 'train' END AS arm
  FROM pu
), vc AS (
  SELECT arm, CAST(round(value_total * 100) AS BIGINT) AS v FROM arms
), st AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         sum(v) AS s1, sum(v * v) AS s2
  FROM vc GROUP BY 1
), wt0 AS (
  SELECT a.n AS n_a, b.n AS n_b,
         CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE) AS ma,
         CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE) AS mb,
         ((CAST(a.s2 AS DOUBLE)
           - CAST(a.s1 AS DOUBLE) * CAST(a.s1 AS DOUBLE)
             / CAST(a.n AS DOUBLE)) / (CAST(a.n AS DOUBLE) - 1))
           / CAST(a.n AS DOUBLE) AS sea,
         ((CAST(b.s2 AS DOUBLE)
           - CAST(b.s1 AS DOUBLE) * CAST(b.s1 AS DOUBLE)
             / CAST(b.n AS DOUBLE)) / (CAST(b.n AS DOUBLE) - 1))
           / CAST(b.n AS DOUBLE) AS seb
  FROM (SELECT * FROM st WHERE arm = 'train') a,
       (SELECT * FROM st WHERE arm = 'holdout') b
), wt AS (
  SELECT 'welch_t' AS test, 'user_value' AS detail, n_a, n_b,
         round(ma / 100.0, 6) AS mean_a,
         round(mb / 100.0, 6) AS mean_b,
         round((ma - mb) / sqrt(sea + seb), 6) AS statistic,
         round((sea + seb) * (sea + seb)
               / (sea * sea / (CAST(n_a AS DOUBLE) - 1)
                  + seb * seb / (CAST(n_b AS DOUBLE) - 1)), 6) AS aux
  FROM wt0
), cv AS (
  SELECT arm, CASE WHEN conv = 1 THEN 'converted'
                   ELSE 'not_converted' END AS category
  FROM arms
), cc AS (
  SELECT category,
         CAST(sum(CASE WHEN arm = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(sum(CASE WHEN arm = 'holdout' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b
  FROM cv GROUP BY 1
), tt AS (
  SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb,
         count(*) AS ncat
  FROM cc
), ch AS (
  SELECT 'chisq' AS test, category AS detail, n_a, n_b,
         CAST(NULL AS DOUBLE) AS mean_a, CAST(NULL AS DOUBLE) AS mean_b,
         round((n_a - (n_a + n_b) * (CAST(ta AS DOUBLE) / (ta + tb)))
               * (n_a - (n_a + n_b) * (CAST(ta AS DOUBLE) / (ta + tb)))
               / ((n_a + n_b) * (CAST(ta AS DOUBLE) / (ta + tb)))
             + (n_b - (n_a + n_b) * (CAST(tb AS DOUBLE) / (ta + tb)))
               * (n_b - (n_a + n_b) * (CAST(tb AS DOUBLE) / (ta + tb)))
               / ((n_a + n_b) * (CAST(tb AS DOUBLE) / (ta + tb))), 6)
           AS statistic,
         CAST(ncat - 1 AS DOUBLE) AS aux
  FROM cc, tt
)
SELECT * FROM wt
UNION ALL
SELECT * FROM ch
ORDER BY test, detail
""",
    tags=("analytics", "capstone", "evaluation"),
    doc="A/B experiment analysis capstone — three proven operators in "
        "ONE lazy plan, whole chain recomputed by the oracle (the "
        "curation/ER/funnel capstone pattern): (1) per-user metrics "
        "(exact-decimal value totals, high-value-purchase conversion flag) from "
        "one hash agg; (2) leakage-safe arm assignment by md5 user "
        "bucket (operators/sampling.py:holdout_split — every user's "
        "events land in one arm, stable across engines and loads); "
        "(3) Welch t on user value (profile.py:welch_ttest, exact "
        "DECIMAL(38,0) sufficient statistics) and chi-square on "
        "conversion (profile.py:drift_chisq, per-category "
        "contributions from exact counts). One unified report table: "
        "(test, detail, n_a, n_b, mean_a, mean_b, statistic, aux).",
)
def analytics_capstone_ab_experiment(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    from ..operators.profile import drift_chisq, welch_ttest
    from ..operators.sampling import holdout_split
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                     .cast("double").alias("value_total"),
                     F.max(((F.col("event_type") == "purchase")
                            & (F.col("value") > 150))
                           .cast("int")).alias("__conv")))
    assigned = holdout_split(per_user, "user_id", 0.5,
                             split_col="__arm")
    arm_a = assigned.filter(F.col("__arm") == "train")
    arm_b = assigned.filter(F.col("__arm") == "holdout")
    w = welch_ttest(arm_a.withColumn("metric", F.lit("user_value")),
                    arm_b.withColumn("metric", F.lit("user_value")),
                    "value_total", "metric")
    cat = F.when(F.col("__conv") == 1, "converted") \
        .otherwise("not_converted").alias("category")
    c = drift_chisq(arm_a.select(cat), arm_b.select(cat), "category")
    w2 = w.select(F.lit("welch_t").alias("test"),
                  F.col("group").alias("detail"), "n_a", "n_b",
                  "mean_a", "mean_b",
                  F.col("t_stat").alias("statistic"),
                  F.col("dof").alias("aux"))
    c2 = c.select(F.lit("chisq").alias("test"),
                  F.col("category").alias("detail"), "n_a", "n_b",
                  F.lit(None).cast("double").alias("mean_a"),
                  F.lit(None).cast("double").alias("mean_b"),
                  F.col("chisq_contrib").alias("statistic"),
                  F.col("dof").cast("double").alias("aux"))
    return w2.unionByName(c2).orderBy("test", "detail")


@query(
    "privacy_t_closeness",
    oracle="""
WITH d AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 4000) AS BIGINT) AS band
  FROM customer
), g AS (
  SELECT band, CAST(count(*) AS BIGINT) AS gg FROM d GROUP BY 1
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS nt FROM d
), cls AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
  FROM d GROUP BY 1, 2
), bands AS (
  SELECT DISTINCT band FROM d
), cell AS (
  SELECT c_nationkey, c_mktsegment, band,
         CAST(count(*) AS BIGINT) AS c
  FROM d GROUP BY 1, 2, 3
), grid AS (
  SELECT cls.c_nationkey, cls.c_mktsegment, cls.n, b.band,
         coalesce(cell.c, 0) AS c, g.gg, nn.nt
  FROM cls CROSS JOIN bands b
  LEFT JOIN cell ON cell.c_nationkey = cls.c_nationkey
                AND cell.c_mktsegment = cls.c_mktsegment
                AND cell.band = b.band
  JOIN g ON g.band = b.band
  CROSS JOIN nn
), pref AS (
  SELECT c_nationkey, c_mktsegment, n,
         abs(sum(nt * c - n * gg)
             OVER (PARTITION BY c_nationkey, c_mktsegment
                   ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)) AS p,
         count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS m,
         nt
  FROM grid
), agg AS (
  SELECT c_nationkey, c_mktsegment, max(n) AS n, sum(p) AS s,
         max(m) AS mm, max(nt) AS nt
  FROM pref GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, n,
       CAST(s AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(nt AS DOUBLE)
            * CAST(mm - 1 AS DOUBLE)) AS emd,
       CAST(s AS DOUBLE)
         > 0.2 * (CAST(n AS DOUBLE) * CAST(nt AS DOUBLE)
                  * CAST(mm - 1 AS DOUBLE)) AS violates_t
FROM agg WHERE mm > 1
ORDER BY c_nationkey, c_mktsegment
""",
    tags=("analytics", "governance"),
    doc="t-closeness audit (operators/profile.py:t_closeness, t=0.2): "
        "completes the privacy triad over the same (nation, segment) "
        "classes as privacy_k_anonymity/privacy_l_diversity — a class "
        "whose balance-band DISTRIBUTION drifts more than EMD 0.2 "
        "from the global one leaks by skew even when l-diverse. The "
        "ordered-EMD prefix form clears all denominators first "
        "(Σ|Σ(N·c − n·g)| in exact DECIMAL(38,0)/HUGEINT integers), "
        "finishing with ONE double division; the violates flag is a "
        "single multiply-compare. The class×band grid is built from "
        "the broadcast band dictionary so absent bands contribute "
        "honest zeros; every window is bounded by the band "
        "cardinality.",
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import t_closeness
    c = (load_table(spark, sf_dir, "customer")
         .select("c_nationkey", "c_mktsegment",
                 F.floor(F.col("c_acctbal") / 4000).cast("long")
                 .alias("bal_band")))
    return (t_closeness(c, ["c_nationkey", "c_mktsegment"],
                        "bal_band", t=0.2)
            .orderBy("c_nationkey", "c_mktsegment"))


@query(
    "analytics_attribution_multitouch",
    oracle="""
WITH conv AS (
  SELECT user_id AS u, ts AS cts, event_id AS cid
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id AS u, ts AS tts, event_id AS tid,
         event_type AS channel
  FROM events WHERE event_type IN ('view', 'click', 'signup')
), j AS (
  SELECT c.cid, t.channel, t.tts, t.tid
  FROM conv c JOIN touch t
    ON c.u = t.u AND t.tts < c.cts
   AND t.tts >= c.cts - INTERVAL 3 DAY
), ranked AS (
  SELECT cid, channel,
         row_number() OVER (PARTITION BY cid
                            ORDER BY tts, tid) AS rf,
         row_number() OVER (PARTITION BY cid
                            ORDER BY tts DESC, tid DESC) AS rl
  FROM j
), pc AS (
  SELECT cid, channel, count(*) AS n FROM j GROUP BY cid, channel
), firsts AS (
  SELECT channel, CAST(count(*) AS BIGINT) AS first_touch
  FROM ranked WHERE rf = 1 GROUP BY channel
), lasts AS (
  SELECT channel, CAST(count(*) AS BIGINT) AS last_touch
  FROM ranked WHERE rl = 1 GROUP BY channel
), parts AS (
  SELECT channel, CAST(count(*) AS BIGINT) AS participation,
         CAST(sum(n) AS BIGINT) AS touches
  FROM pc GROUP BY channel
)
SELECT p.channel,
       CAST(coalesce(f.first_touch, 0) AS BIGINT) AS first_touch,
       CAST(coalesce(l.last_touch, 0) AS BIGINT) AS last_touch,
       p.participation, p.touches
FROM parts p
LEFT JOIN firsts f ON p.channel = f.channel
LEFT JOIN lasts l ON p.channel = l.channel
ORDER BY p.channel
""",
    tags=("analytics", "events"),
    doc="Multi-touch attribution (operators/attribution.py): purchase "
        "conversions credited to view/click/signup touchpoints within "
        "a 3-day lookback, under the four integer-credit models "
        "(first/last/participation/touch volume — fractional models "
        "are refused by design: per-channel double sums accumulate in "
        "partition order and break exact-hash determinism). Spark "
        "elects first/last per conversion with ONE min_by/max_by hash "
        "aggregate over a (ts, event_id) struct — no window sort; the "
        "oracle replays the election as dual row_number windows. The "
        "user-key join is the only corpus-sized shuffle; per-user "
        "volume bounds the pair fan-out.",
)
def analytics_attribution_multitouch(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    from ..operators.attribution import multitouch_attribution
    ev = load_table(spark, sf_dir, "events")
    return (multitouch_attribution(
        ev, "user_id", "ts", "event_type", "event_id",
        conversion_type="purchase",
        touch_types=["view", "click", "signup"],
        lookback_seconds=3 * 86400)
        .orderBy("channel"))


def _benford_spine_sql() -> str:
    from ..operators.profile import BENFORD_P
    rows = ", ".join(f"({d}, CAST('{BENFORD_P[d]!r}' AS DOUBLE))"
                     for d in range(1, 10))
    return f"(VALUES {rows}) AS s(digit, exp_p)"


@query(
    "profile_benford_digits",
    oracle=f"""
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
), d AS (
  SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM cents WHERE c >= 1
), counts AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS t FROM counts
)
SELECT CAST(s.digit AS BIGINT) AS digit,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n,
       CAST(coalesce(c.n, 0) AS DOUBLE) / CAST(t AS DOUBLE) AS obs_p,
       s.exp_p,
       CAST(coalesce(c.n, 0) AS DOUBLE) / CAST(t AS DOUBLE) - s.exp_p
         AS dev,
       abs(CAST(coalesce(c.n, 0) AS DOUBLE) / CAST(t AS DOUBLE)
           - s.exp_p) > 0.02 AS outside_tolerance
FROM {_benford_spine_sql()}
LEFT JOIN counts c ON s.digit = c.digit
CROSS JOIN tot
ORDER BY s.digit
""",
    tags=("profile", "quality"),
    doc="Benford first-digit audit of order amounts (operators/"
        "profile.py:benford_digit_audit) — the fraud/fabrication "
        "screen over naturally-occurring monetary values. Leading "
        "digit is character arithmetic on exact integer cents (no "
        "log/pow on data decides a digit); expected shares are ONE "
        "Python literal table (log10(1+1/d)) feeding both engines "
        "(the NDCG literal rule); observed share and deviation are a "
        "fixed two-op IEEE chain after a single 9-group hash "
        "aggregate. Absent digits emit honest zeros via the "
        "broadcast digit spine.",
)
def profile_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import benford_digit_audit
    o = load_table(spark, sf_dir, "orders")
    return benford_digit_audit(o, "o_totalprice", tolerance=0.02)


@query(
    "analytics_gini_concentration",
    oracle="""
WITH pk AS (
  SELECT c.c_nationkey AS c_nationkey, o.o_custkey AS k,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
              AS HUGEINT) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), r AS (
  SELECT c_nationkey, x,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY x, k) AS i
  FROM pk
), g AS (
  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(i AS HUGEINT) * x) AS s1, sum(x) AS s
  FROM r GROUP BY c_nationkey
)
SELECT c_nationkey, n AS n_units, CAST(s AS BIGINT) AS total_cents,
       CASE WHEN s <> 0
            THEN CAST(2 * s1 - (CAST(n AS HUGEINT) + 1) * s AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * s AS DOUBLE)
       END AS gini
FROM g ORDER BY c_nationkey
""",
    tags=("analytics", "profile"),
    doc="Per-nation Gini coefficient of customer revenue "
        "concentration (operators/profile.py:gini_concentration) — "
        "the Lorenz-curve scalar behind top-X%-drives-Y% dashboards. "
        "Exact rank formula (2·Σi·x_i − (n+1)·Σx_i)/(n·Σx_i) over "
        "integer cents with every product/sum in DECIMAL(38,0)/"
        "HUGEINT (operands cast before multiplying) and ONE closing "
        "double division. One fact-table hash agg to per-(nation, "
        "customer) totals; the ranking window runs over that "
        "aggregate, bounded by customers-per-nation.",
)
def analytics_gini_concentration(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from ..operators.profile import gini_concentration
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_nationkey", "o_custkey", "o_totalprice")
    return (gini_concentration(j, ["c_nationkey"], "o_custkey",
                               "o_totalprice")
            .orderBy("c_nationkey"))


@query(
    "analytics_item_neighbors",
    oracle="""
WITH bi AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), freq AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n FROM bi GROUP BY i
  HAVING count(*) >= 2
), pruned AS (
  SELECT bi.b, bi.i, f.n FROM bi JOIN freq f ON bi.i = f.i
), pairs AS (
  SELECT a.i AS item_a, b.i AS item_b,
         CAST(max(a.n) AS BIGINT) AS n_a,
         CAST(max(b.n) AS BIGINT) AS n_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM pruned a JOIN pruned b ON a.b = b.b AND a.i < b.i
  GROUP BY a.i, b.i HAVING count(*) >= 2
), sym AS (
  SELECT item_a AS item, item_b AS neighbor,
         n_a AS n_item, n_b AS n_neighbor, n_ab AS n_both FROM pairs
  UNION ALL
  SELECT item_b, item_a, n_b, n_a, n_ab FROM pairs
), scored AS (
  SELECT *,
         CAST(n_both AS DOUBLE)
           / sqrt(CAST(CAST(n_item AS HUGEINT) * n_neighbor
                       AS DOUBLE)) AS cosine,
         CAST(n_both AS DOUBLE)
           / (CAST(n_item AS DOUBLE) + CAST(n_neighbor AS DOUBLE)
              - CAST(n_both AS DOUBLE)) AS jaccard
  FROM sym
)
SELECT item, neighbor, n_item, n_neighbor, n_both, cosine, jaccard,
       rank
FROM (SELECT *, CAST(row_number() OVER (
          PARTITION BY item ORDER BY cosine DESC, neighbor)
        AS BIGINT) AS rank
      FROM scored)
WHERE rank <= 5
ORDER BY item, rank
""",
    tags=("analytics", "basket"),
    doc="Item-to-item collaborative filtering neighbors (operators/"
        "basket.py:item_neighbors, Linden et al. 2003 'customers who "
        "bought X also bought Y') over order baskets: top-5 co-"
        "occurrence-cosine neighbors per part with Jaccard alongside. "
        "Apriori frequent-item semi-join fences the pair fan-out "
        "BEFORE the basket-key equi-join (never item x item); counts "
        "are exact longs, the n_a*n_b product runs in DECIMAL(38,0)/"
        "HUGEINT before the sqrt, and each similarity is a fixed "
        "one-division IEEE chain, so the top-k ranking (tie-broken on "
        "neighbor id) is total and cross-engine identical.",
)
def analytics_item_neighbors(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from ..operators.basket import item_neighbors
    li = load_table(spark, sf_dir, "lineitem")
    return (item_neighbors(li, "l_orderkey", "l_partkey", k=5,
                           min_item_count=2, min_pair_count=2)
            .orderBy("item", "rank"))


@query(
    "sequence_top_paths",
    oracle="""
WITH e AS (
  SELECT user_id AS u, ts, event_id AS eid, event_type AS et
  FROM events
), lagged AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts - lag(ts) OVER w) > 1800
            THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY u ORDER BY ts, eid)
), sess AS (
  SELECT *, sum(brk) OVER (PARTITION BY u ORDER BY ts, eid
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagged
), paths AS (
  SELECT u, sid,
         array_to_string(list_slice(list(et ORDER BY ts, eid), 1, 8),
                         '>') AS path
  FROM sess GROUP BY u, sid
), counts AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
  FROM paths GROUP BY path
)
SELECT path, n_sessions, rank
FROM (SELECT *, CAST(row_number() OVER (
          ORDER BY n_sessions DESC, path) AS BIGINT) AS rank
      FROM counts)
WHERE rank <= 50
ORDER BY rank
""",
    tags=("analytics", "sequence"),
    doc="Top-50 session navigation paths (operators/sequence.py:"
        "top_paths): 30-minute-gap sessionization, each session's "
        "first 8 event types joined '>'-wise, paths ranked by session "
        "count with path-string tie-break. Per-session ordering is a "
        "total (ts, event_id) array_sort INSIDE the collect aggregate "
        "(JVM-side, no second window sort); only the grammar-bounded "
        "path-count table crosses the global ranking window. The "
        "oracle replays the gap rule as lag+running-sum and the "
        "truncation as list_slice over an ordered list aggregate.",
)
def sequence_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import top_paths
    ev = load_table(spark, sf_dir, "events")
    return (top_paths(ev, "user_id", "ts", "event_type",
                      gap_seconds=1800, tiebreak_col="event_id",
                      max_len=8, k=50)
            .orderBy("rank"))


@query(
    "incremental_join_delta",
    oracle="""
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1 ORDER BY 1
""",
    tags=("analytics", "incremental"),
    doc="Incremental JOIN maintenance (operators/incremental.py:"
        "join_delta): orders and customer each split into an old half "
        "and an insert delta; the maintained join = materialized "
        "old-side join + join_delta(ΔA⋈B_old ∪ A_new⋈ΔB). The oracle "
        "is a FULL recompute of the unsplit join — the probe asserts "
        "the delta algebra Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB is bag-exact, "
        "the IVM contract that lets an hourly batch maintain a 100 TB "
        "join without re-shuffling history (the delta side broadcasts).",
)
def incremental_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import join_delta
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey")
    cut = F.lit("1996-01-01").cast("timestamp")
    a_old = o.filter(F.col("o_orderdate") < cut).drop("o_orderdate")
    a_delta = o.filter(F.col("o_orderdate") >= cut).drop("o_orderdate")
    b_old = c.filter(F.col("custkey") % 10 != 0)
    b_delta = c.filter(F.col("custkey") % 10 == 0)
    maintained = (a_old.join(b_old, "custkey")
                  .unionByName(join_delta(a_old, a_delta,
                                          b_old, b_delta, ["custkey"])))
    return (maintained.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("revenue"))
            .orderBy("c_nationkey"))


@query(
    "analytics_cuped_adjustment",
    oracle="""
WITH pu AS (
  SELECT user_id,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                       THEN CAST(value AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           AS pre_value,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                       THEN CAST(value AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           AS post_value
  FROM events WHERE value IS NOT NULL GROUP BY 1
), q AS (
  SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 2) < '80'
              THEN 'holdout' ELSE 'train' END AS arm,
         CAST(round(pre_value * 100) AS BIGINT) AS x,
         CAST(round(post_value * 100) AS BIGINT) AS y
  FROM pu
), pa AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM q GROUP BY 1
), pooled AS (
  SELECT CAST(sum(n) AS DOUBLE) AS tn, CAST(sum(sx) AS DOUBLE) AS tsx,
         CAST(sum(sy) AS DOUBLE) AS tsy, CAST(sum(sxy) AS DOUBLE) AS tsxy,
         CAST(sum(sxx) AS DOUBLE) AS tsxx, CAST(sum(syy) AS DOUBLE) AS tsyy
  FROM pa
)
SELECT arm, n,
       round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6)
         AS mean_metric,
       round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
              - ((tsxy - tsx * tsy / tn) / (tsxx - tsx * tsx / tn))
                * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) - tsx / tn))
             / 100.0, 6) AS mean_adjusted,
       round((tsxy - tsx * tsy / tn) / (tsxx - tsx * tsx / tn), 6)
         AS theta,
       round(((tsxy - tsx * tsy / tn) / (tsxx - tsx * tsx / tn))
             * ((tsxy - tsx * tsy / tn) / (tsxx - tsx * tsx / tn))
             * (tsxx - tsx * tsx / tn) / (tsyy - tsy * tsy / tn), 6)
         AS var_reduction
FROM pa, pooled ORDER BY arm
""",
    tags=("analytics", "experiment"),
    doc="CUPED variance-reduced experiment readout (operators/"
        "profile.py:cuped_adjust, Deng et al. '13): per-user PRE-cutoff "
        "spend is the covariate, POST-cutoff spend the metric, arms by "
        "md5 hash (the ab_welch_ttest assignment); θ = cov(X,Y)/var(X) "
        "fit pooled from exact decimal Σx/Σy/Σxy/Σx²/Σy² (operands cast "
        "before products), every emitted double ONE expression over "
        "those sums. The oracle recomputes the identical algebra.",
)
def analytics_cuped_adjustment(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from ..operators.profile import cuped_adjust
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    cut = F.lit("2024-01-16").cast("timestamp")
    zero = F.lit(0).cast("decimal(18,2)")
    vdec = F.col("value").cast("decimal(18,2)")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, vdec).otherwise(zero))
         .cast("double").alias("pre_value"),
        F.sum(F.when(F.col("ts") >= cut, vdec).otherwise(zero))
         .cast("double").alias("post_value"))
    units = per_user.withColumn(
        "arm",
        F.when(F.substring(F.md5(F.col("user_id").cast("string")), 1, 2)
               < "80", "holdout").otherwise("train"))
    return (cuped_adjust(units, "arm", "post_value", "pre_value")
            .orderBy("arm"))


@query(
    "timeseries_holt_linear",
    oracle="""
WITH RECURSIVE series AS (
  SELECT event_type, date_trunc('day', ts) AS bucket,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), s2 AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY bucket)
           AS rn
  FROM series
), r AS (
  SELECT event_type, 1 AS i, v AS l, CAST(0.0 AS DOUBLE) AS b
  FROM s2 WHERE rn = 1
  UNION ALL
  SELECT r.event_type, r.i + 1,
         0.5 * t.v + 0.5 * (r.l + r.b),
         0.25 * ((0.5 * t.v + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
  FROM r JOIN s2 t ON t.event_type = r.event_type AND t.rn = r.i + 1
), mx AS (
  SELECT event_type, CAST(max(rn) AS INTEGER) AS n_obs FROM s2 GROUP BY 1
)
SELECT r.event_type AS event_type, mx.n_obs, r.l AS level,
       r.b AS trend, r.l + r.b AS forecast_1
FROM r JOIN mx ON r.event_type = mx.event_type AND r.i = mx.n_obs
ORDER BY r.event_type
""",
    tags=("analytics", "timeseries"),
    doc="Holt double exponential smoothing (operators/timeseries.py:"
        "holt_linear): per event_type the daily value series folds "
        "through level/trend recursion (α=0.5, β=0.25, both binary-"
        "exact) in ONE F.aggregate over the collected sorted series — "
        "sequential in t, parallel across keys, one shuffle. The "
        "oracle replays the identical IEEE chain as a recursive CTE, "
        "proving the fold is bit-stable cross-engine (the kaplan_meier "
        "list-fold precedent); raw doubles emitted, no re-rounding.",
)
def timeseries_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import holt_linear
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    series = (ev.groupBy("event_type",
                         F.date_trunc("day", F.col("ts")).alias("bucket"))
              .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                   .cast("double").alias("v")))
    return (holt_linear(series, "event_type", "bucket", "v")
            .orderBy("event_type"))


@query(
    "feature_mutual_info",
    oracle="""
WITH cells AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y,
         CAST(count(*) AS BIGINT) AS n_xy
  FROM orders GROUP BY 1, 2
), m AS (
  SELECT x, y, n_xy,
         CAST(sum(n_xy) OVER (PARTITION BY x) AS BIGINT) AS n_x,
         CAST(sum(n_xy) OVER (PARTITION BY y) AS BIGINT) AS n_y,
         CAST((SELECT sum(n_xy) FROM cells) AS BIGINT) AS n_total
  FROM cells
)
SELECT x, y, n_xy, n_x, n_y, n_total,
       round((CAST(n_xy AS DOUBLE) / CAST(n_total AS DOUBLE))
             * ln((CAST(n_xy AS DOUBLE) * CAST(n_total AS DOUBLE))
                  / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 6)
         AS mi_contrib
FROM m ORDER BY x, y
""",
    tags=("analytics", "feature"),
    doc="Mutual information between categorical feature and label "
        "(operators/features.py:mutual_info_cells): per-(x,y) cell "
        "contribution (n_xy/N)·ln(n_xy·N/(n_x·n_y)) as ONE double "
        "expression from exact integer counts; I(X;Y) is a caller-side "
        "sum over the bounded cell rows (the categorical_profile "
        "contract). Marginals ride windows over the cell AGGREGATE, "
        "the grand total broadcast-cross-joins from a 1-row rollup.",
)
def feature_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import mutual_info_cells
    o = load_table(spark, sf_dir, "orders")
    return (mutual_info_cells(o, "o_orderpriority", "o_orderstatus")
            .orderBy("x", "y"))


def _rbo_weight_sql() -> str:
    from ..operators.evaluation import rbo_weights
    rows = ", ".join(f"({k + 1}, CAST('{w!r}' AS DOUBLE))"
                     for k, w in enumerate(rbo_weights(0.9, 20)))
    return f"(VALUES {rows}) AS w(k, wt)"


@query(
    "eval_rank_biased_overlap",
    oracle=f"""
WITH per AS (
  SELECT o_custkey AS ck,
         sum(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS sa,
         sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS sb
  FROM orders GROUP BY 1
), ta AS (
  SELECT ck, ra FROM (
    SELECT ck, row_number() OVER (ORDER BY sa DESC, ck) AS ra FROM per)
  WHERE ra <= 20
), tb AS (
  SELECT ck, rb FROM (
    SELECT ck, row_number() OVER (ORDER BY sb DESC, ck) AS rb FROM per)
  WHERE rb <= 20
), j AS (
  SELECT greatest(coalesce(ra, 21), coalesce(rb, 21)) AS m
  FROM ta FULL JOIN tb USING (ck)
)
SELECT CAST(w.k AS INTEGER) AS k,
       CAST((SELECT count(*) FROM j WHERE m <= w.k) AS BIGINT) AS x_k,
       CAST((SELECT count(*) FROM j WHERE m <= w.k) AS DOUBLE) / w.k
         AS agreement,
       w.wt * CAST((SELECT count(*) FROM j WHERE m <= w.k) AS DOUBLE)
         / w.k AS rbo_contrib
FROM {_rbo_weight_sql()}
ORDER BY k
""",
    tags=("analytics", "eval"),
    doc="Rank-biased overlap at depth 20 (operators/evaluation.py:"
        "rank_biased_overlap, Webber et al. '10) between the customer "
        "spend leaderboards of two order-date halves — the ranking-"
        "churn readout. Top-20 per list via global sort + limit (the "
        "distributed TakeOrdered path, no data-sized window); prefix "
        "intersections collapse to a depth+1-row m-histogram before "
        "the bounded cumulative window; (1-p)p^(k-1) weights are ONE "
        "Python literal table feeding both engines (the NDCG rule). "
        "RBO@20 is the caller-side sum of rbo_contrib.",
)
def eval_rank_biased_overlap(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from ..operators.evaluation import rank_biased_overlap
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1996-01-01").cast("timestamp")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per = (o.groupBy(F.col("o_custkey").alias("ck"))
           .agg(F.sum(F.when(F.col("o_orderdate") < cut, cents)
                      .otherwise(0)).alias("sa"),
                F.sum(F.when(F.col("o_orderdate") >= cut, cents)
                      .otherwise(0)).alias("sb")))

    def top_ranks(col: str, out: str) -> DataFrame:
        d = 20
        top = per.orderBy(F.col(col).desc(), F.col("ck")).limit(d)
        w = Window.orderBy(F.col(col).desc(), F.col("ck"))  # d rows
        return top.select("ck", F.row_number().over(w).alias(out))

    ranks = (top_ranks("sa", "ra")
             .join(top_ranks("sb", "rb"), "ck", "full_outer")
             .select(F.coalesce("ra", F.lit(21)).alias("ra"),
                     F.coalesce("rb", F.lit(21)).alias("rb")))
    return (rank_biased_overlap(ranks, "ra", "rb", p=0.9, depth=20)
            .orderBy("k"))


@query(
    "analytics_skyline_dominance",
    oracle="""
WITH pts AS (
  SELECT DISTINCT p_retailprice AS price, p_size AS size_v FROM part
  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
)
SELECT price, size_v FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.price <= p.price AND q.size_v >= p.size_v
    AND (q.price < p.price OR q.size_v > p.size_v))
ORDER BY price, size_v
""",
    tags=("analytics",),
    doc="Two-dimensional skyline / Pareto frontier (operators/"
        "skyline.py:skyline_2d, Borzsony et al. ICDE'01): parts not "
        "dominated on (minimize retail price, maximize size). The "
        "oracle is the O(n^2) NOT-EXISTS definition; the engine runs "
        "the range-bucketed sweep — per-bin strictly-preceding-min "
        "windows in parallel plus one n_bins-row cumulative-min "
        "table broadcast back, so no data-sized single-task stage and "
        "no pair join.",
)
def analytics_skyline_dominance(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from ..operators.skyline import skyline_2d
    p = load_table(spark, sf_dir, "part")
    return (skyline_2d(p, "p_retailprice", "p_size", maximize_y=True)
            .select(F.col("p_retailprice").alias("price"),
                    F.col("p_size").alias("size_v"))
            .orderBy("price", "size_v"))


def _hex6_int_sql(h: str) -> str:
    # integer value of the first 6 hex chars of md5 expression `h`
    # (DuckDB has no conv(); per-digit arithmetic, the checksum rule)
    expr = "CAST(0 AS BIGINT)"
    for p in range(1, 7):
        a = f"ascii(substr({h}, {p}, 1))"
        d = f"(CASE WHEN {a} >= 97 THEN {a} - 87 ELSE {a} - 48 END)"
        expr = f"({expr} * 16 + {d})"
    return expr


def _dp_counts_oracle() -> str:
    h = "md5(event_type || '|' || 'dp')"
    u = f"((CAST({_hex6_int_sql(h)} AS DOUBLE) + 0.5) / 16777216.0)"
    noise = (f"(CASE WHEN {u} >= 0.5 "
             f"THEN -(CAST('1.0' AS DOUBLE)) "
             f"* ln(1.0 - 2.0 * ({u} - 0.5)) "
             f"ELSE CAST('1.0' AS DOUBLE) "
             f"* ln(1.0 - 2.0 * (0.5 - {u})) END)")
    return f"""
WITH g AS (
  SELECT event_type, count(*) AS n FROM events GROUP BY 1
)
SELECT event_type,
       CAST(n * 1000000
            + CAST(floor({noise} * 1000000.0) AS BIGINT) AS BIGINT)
         AS noisy_micro,
       CAST(CAST(n * 1000000
                 + CAST(floor({noise} * 1000000.0) AS BIGINT) AS BIGINT)
            AS DOUBLE) / 1000000.0 AS noisy_count
FROM g ORDER BY event_type
"""


@query(
    "privacy_dp_counts",
    oracle=_dp_counts_oracle(),
    tags=("analytics", "privacy"),
    doc="ε-DP group counts via the Laplace mechanism with ε=1 "
        "(operators/profile.py:dp_noisy_counts, Dwork et al. '06) — "
        "the release half of the privacy stack. The Laplace draw is a "
        "deterministic md5-derived uniform through the inverse CDF, "
        "quantized to a 10^-6 integer grid before touching the count "
        "(ln is not libm-stable); exact counts never reach the "
        "output. One hash aggregate, noise is pure codegen over the "
        "group keys.",
)
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import dp_noisy_counts
    e = load_table(spark, sf_dir, "events")
    return (dp_noisy_counts(e, "event_type", epsilon=1.0, seed="dp")
            .orderBy("event_type"))


@query(
    "privacy_mondrian_anonymize",
    oracle=None,  # split order/medians are impl-defined (lower-median
                  # order statistic + first-widest tie-break); the
                  # k-guarantee, partition, determinism, and
                  # audit-passes properties carry the evidence in
                  # tests/test_operators.py::TestMondrianAnonymize
    tags=("analytics", "privacy"),
    priority=150,
    doc="Mondrian k-anonymization with k=25 over customer "
        "(c_acctbal, c_nationkey) quasi-identifiers (operators/"
        "profile.py:mondrian_anonymize, LeFevre et al. '06) — the "
        "transform that MAKES the table k-anonymous; output is the "
        "publishable per-class generalization (size + QI ranges). "
        "Driver loop bounded by log2(n/k) rounds; per round only a "
        "1-row any-split probe leaves the cluster.",
)
def privacy_mondrian_anonymize(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from ..operators.profile import (mondrian_anonymize,
                                     mondrian_class_ranges)
    c = load_table(spark, sf_dir, "customer")
    anon = mondrian_anonymize(c, ["c_acctbal", "c_nationkey"], k=25)
    return (mondrian_class_ranges(anon, ["c_acctbal", "c_nationkey"])
            .withColumnRenamed("__class", "class_id")
            .orderBy("class_id"))


#: r10 oracle upgrade (verdict task 5): the "no SQL form" claim fell —
#: the Holt-Winters fold replays as a RECURSIVE CTE carrying the
#: 24-double seasonal LIST column (the holt_linear oracle pattern
#: extended with list splicing): identical IEEE chain, the same
#: binary-exact 0.5/0.25/0.75 coefficients, lt repeated textually
#: where Spark references the lt column (a deterministic expression
#: evaluates to the same double). NOT list_reduce: DuckDB 1.0.0
#: corrupts cross-field struct reads there from step 2 on (probed).
#: Bit-equality of the fold is additionally pinned vs pure Python in
#: tests/test_operators.py::TestHoltWinters.
_HOLT_WINTERS_ORACLE = r"""
WITH RECURSIVE series AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), vs AS (
  SELECT event_type, list(v ORDER BY bucket) AS vals FROM series
  GROUP BY 1
), ini AS (
  SELECT event_type, vals, CAST(len(vals) AS INTEGER) AS n,
         list_reduce(vals[1:24], (x, y) -> x + y) / 24.0 AS l0
  FROM vs
), r AS (
  SELECT event_type, vals, n, 0 AS i, l0 AS l, CAST(0.0 AS DOUBLE) AS b,
         list_transform(vals[1:24], x -> x - l0) AS s
  FROM ini WHERE n >= 25
  UNION ALL
  SELECT event_type, vals, n, i + 1,
         0.5 * (vals[i + 25] - s[(i % 24) + 1]) + 0.5 * (l + b),
         0.25 * ((0.5 * (vals[i + 25] - s[(i % 24) + 1]) + 0.5 * (l + b)) - l) + 0.75 * b,
         s[1:(i % 24)] || [0.5 * (vals[i + 25] - (0.5 * (vals[i + 25] - s[(i % 24) + 1]) + 0.5 * (l + b))) + 0.5 * s[(i % 24) + 1]] || s[(i % 24) + 2:24]
  FROM r WHERE i < n - 24
)
SELECT event_type, n AS n_obs,
       round(l, 6) AS level,
       round(b, 6) AS trend,
       round(l + b + s[(i % 24) + 1], 6) AS forecast_1,
       array_to_string(list_transform(s,
         x -> CAST(CAST(round(x, 6) + 0.0 AS DECIMAL(28,6)) AS VARCHAR)),
         ',') AS seasonal
FROM r WHERE i = n - 24
UNION ALL
SELECT event_type, n, NULL, NULL, NULL, NULL FROM ini WHERE n < 25
ORDER BY event_type
"""


@query(
    "timeseries_holt_winters",
    oracle=_HOLT_WINTERS_ORACLE,
    tags=("analytics", "timeseries"),
    doc="Additive Holt-Winters level+trend+seasonality per event type "
        "over hourly buckets with a daily (period=24) cycle "
        "(operators/timeseries.py:holt_winters_seasonal) — the "
        "seasonal completion of holt_linear. Sequential in t, parallel "
        "across keys, one key shuffle; per-key state is two doubles + "
        "a 24-double seasonal array bounded by the resample grid. "
        "Seasonal array rendered to a rounded string at the probe "
        "boundary (array outputs don't canonicalize).",
)
def timeseries_holt_winters(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from ..operators.timeseries import holt_winters_seasonal
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    series = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("bucket"))
              .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                   .cast("double").alias("v")))
    out = holt_winters_seasonal(series, "event_type", "bucket", "v",
                                period=24)
    return (out.select(
        "event_type", "n_obs",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast_1", 6).alias("forecast_1"),
        F.array_join(F.transform(
            "seasonal",
            # decimal(28,6) render: Java Double.toString switches to
            # scientific below 1e-3 where DuckDB never does, and -0.0
            # folds away — the decimal cast makes both engines print
            # the identical fixed-point form
            lambda s: (F.round(s, 6) + F.lit(0.0))
            .cast("decimal(28,6)").cast("string")),
                     ",").alias("seasonal"))
            .orderBy("event_type"))


@query(
    "sample_quota_allocation",
    oracle="""
WITH per AS (
  SELECT o_orderpriority AS stratum, count(*) AS n_rows
  FROM orders GROUP BY 1
), tot AS (
  SELECT sum(n_rows) AS t FROM per
), j AS (
  SELECT stratum, n_rows,
         (n_rows * 1000) // t AS base,
         (n_rows * 1000) % t AS rem
  FROM per CROSS JOIN tot
), l AS (
  SELECT 1000 - sum(base) AS leftover FROM j
)
SELECT stratum, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC,
                                                stratum) <= leftover
                        THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM j CROSS JOIN l ORDER BY stratum
""",
    tags=("analytics", "sampling"),
    doc="Exact largest-remainder (Hamilton) quota allocation of 1000 "
        "sample slots across order priorities (operators/sampling.py:"
        "quota_allocate): integer-only arithmetic on DECIMAL(38,0) "
        "products, quotas sum to exactly the total, each within 1 of "
        "its proportional share. One hash aggregate to a strata-sized "
        "table; the remainder-rank window and 1-row totals run over "
        "that bounded table, broadcast back.",
)
def sample_quota_allocation(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from ..operators.sampling import quota_allocate
    o = load_table(spark, sf_dir, "orders")
    return (quota_allocate(o, "o_orderpriority", total=1000)
            .orderBy("stratum"))


@query(
    "profile_interarrival_burstiness",
    oracle="""
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
), nn AS (
  SELECT user_id, gap FROM g WHERE gap IS NOT NULL
), a AS (
  SELECT user_id, count(*) AS n_gaps,
         sum(CAST(gap AS HUGEINT)) AS sg,
         sum(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS sg2,
         min(gap) AS min_gap_us, max(gap) AS max_gap_us
  FROM nn GROUP BY 1
)
SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
       CAST(min_gap_us AS BIGINT) AS min_gap_us,
       CAST(max_gap_us AS BIGINT) AS max_gap_us,
       CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_us,
       sqrt((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE)
             - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
            / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE)))
         AS sigma_gap_us,
       CASE WHEN sqrt((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE)
                       - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                      / (CAST(n_gaps AS DOUBLE)
                         * CAST(n_gaps AS DOUBLE)))
                 + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) > 0.0
            THEN (sqrt((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE)
                        - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                       / (CAST(n_gaps AS DOUBLE)
                          * CAST(n_gaps AS DOUBLE)))
                  - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                 / (sqrt((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE)
                          - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                         / (CAST(n_gaps AS DOUBLE)
                            * CAST(n_gaps AS DOUBLE)))
                    + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
       END AS burstiness
FROM a ORDER BY user_id
""",
    tags=("analytics", "profile", "timeseries"),
    doc="Per-user inter-arrival statistics + Goh-Barabási burstiness "
        "(operators/timeseries.py:interarrival_stats) — the bot/spam "
        "regularity signal: B -> -1 timers, 0 Poisson, +1 bursty "
        "humans. Exact integer-microsecond gaps from one lag window, "
        "cleared-denominator decimal sums, float only in the final "
        "fixed chain (population sigma via correctly-rounded sqrt). "
        "One key shuffle.",
)
def profile_interarrival_burstiness(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from ..operators.timeseries import interarrival_stats
    ev = load_table(spark, sf_dir, "events")
    return (interarrival_stats(ev, "user_id", "ts", "event_id")
            .orderBy("user_id"))


@query(
    "graph_sssp_hops",
    oracle="""
WITH RECURSIVE e AS (
  SELECT c_custkey // 10 AS src, c_custkey AS dst
  FROM customer WHERE c_custkey > 0
), r(node, depth) AS (
  SELECT CAST(0 AS BIGINT) AS node, 0 AS depth
  UNION
  SELECT e.dst, r.depth + 1 FROM r JOIN e ON e.src = r.node
  WHERE r.depth < 6
)
SELECT node, CAST(min(depth) AS INTEGER) AS depth
FROM r GROUP BY node ORDER BY node
""",
    tags=("analytics", "graph"),
    doc="Single-source shortest hop-distances from the root of the "
        "customer decimal-digit hierarchy (operators/graph.py:"
        "sssp_hops): max_depth LINEAR lazy rounds, each joining the "
        "reached set (answer-bounded, the BFS frontier argument) "
        "against the edges — never the all-pairs closure when one "
        "source matters. Oracle is the recursive CTE; depth-capped so "
        "cycles cannot recurse.",
)
def graph_sssp_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import sssp_hops
    c = load_table(spark, sf_dir, "customer")
    edges = (c.filter(F.col("c_custkey") > 0)
             .select((F.col("c_custkey") / 10).cast("long").alias("src"),
                     F.col("c_custkey").alias("dst")))
    return (sssp_hops(edges, 0, max_depth=6)
            .select("node", F.col("depth").cast("int").alias("depth"))
            .orderBy("node"))


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _cost_matrix() -> dict[tuple[str, str], int]:
    # deterministic asymmetric integer costs, diagonal free; ONE Python
    # function feeds both the Spark literal CASE and the oracle text
    return {(t, p): 0 if t == p else 1 + (len(t) + 2 * len(p)) % 3
            for t in _EVENT_TYPES for p in _EVENT_TYPES}


def _cost_sensitive_oracle() -> str:
    types_sql = ", ".join(f"'{t}'" for t in _EVENT_TYPES)
    cost_case = " ".join(
        f"WHEN truth = '{t}' AND pred = '{p}' THEN {c}"
        for (t, p), c in sorted(_cost_matrix().items()))
    return f"""
WITH p AS (
  SELECT event_type AS truth,
         CASE WHEN event_id % 7 < 5 THEN event_type
              ELSE ([{types_sql}])[CAST(event_id % 5 AS INTEGER) + 1]
         END AS pred
  FROM events
), cells AS (
  SELECT truth, pred, count(*) AS n FROM p GROUP BY 1, 2
), costed AS (
  SELECT truth, pred, n, CASE {cost_case} ELSE 0 END AS cost
  FROM cells
)
SELECT truth, CAST(sum(n) AS BIGINT) AS n,
       CAST(sum(CASE WHEN truth = pred THEN n ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(sum(n * cost) AS BIGINT) AS total_cost,
       CAST(CAST(sum(n * cost) AS BIGINT) AS DOUBLE)
         / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) AS mean_cost
FROM costed GROUP BY truth ORDER BY truth
"""


@query(
    "eval_cost_sensitive",
    oracle=_cost_sensitive_oracle(),
    tags=("analytics", "eval"),
    doc="Cost-sensitive classification evaluation (operators/"
        "evaluation.py:cost_sensitive_report): a deterministic "
        "pseudo-classifier over events is charged an asymmetric "
        "integer cost matrix (one Python literal table feeding both "
        "engines) — exact long cost totals per truth class, float "
        "only in the final mean division. One pair hash aggregate + a "
        "codegen CASE over the class-bounded cells table.",
)
def eval_cost_sensitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.evaluation import cost_sensitive_report
    ev = load_table(spark, sf_dir, "events")
    types_arr = F.array(*[F.lit(t) for t in _EVENT_TYPES])
    pred = F.when(F.col("event_id") % 7 < 5, F.col("event_type")) \
            .otherwise(F.element_at(
                types_arr, (F.col("event_id") % 5).cast("int") + 1))
    return (cost_sensitive_report(ev, F.col("event_type"), pred,
                                  _cost_matrix())
            .orderBy("truth"))


@query(
    "survival_nelson_aalen",
    oracle="""
WITH u AS (
  SELECT user_id,
         (max(epoch_us(ts)) - min(epoch_us(ts))) // 21600000000 AS t,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS e
  FROM events GROUP BY 1
), p AS (
  SELECT t, count(*) AS c, CAST(sum(e) AS BIGINT) AS d
  FROM u GROUP BY 1
), tt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM p),
w AS (
  SELECT t, c, d,
         CAST(tt.n - coalesce(sum(c) OVER (ORDER BY t ROWS BETWEEN
              UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS n_risk
  FROM p, tt
), f AS (
  SELECT t, n_risk, d,
         CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS h
  FROM w
)
SELECT t, n_risk, d AS events, h AS hazard_step,
       list_reduce(list_prepend(0.0, list(h) OVER (ORDER BY t ROWS
         BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         (a, b) -> a + b) AS cum_hazard
FROM f ORDER BY t
""",
    tags=("analytics", "survival"),
    doc="Nelson-Aalen cumulative hazard (operators/evaluation.py:"
        "nelson_aalen) over the same per-user engagement lifetimes as "
        "survival_kaplan_meier — the additive estimator H(t) = "
        "sum d_i/n_i (KM's product-limit sibling; S ~ exp(-H)). Same "
        "exactness stack: exact-long risk sets from one hash agg + a "
        "prefix window over the distinct-duration table, one double "
        "division per step, and the running SUM as an ascending-"
        "duration left fold (F.aggregate init 0.0 = DuckDB "
        "list_reduce over a 0.0-prepended list) so the float chain is "
        "bit-identical cross-engine.",
)
def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.evaluation import nelson_aalen
    ev = load_table(spark, sf_dir, "events")
    u = (ev.groupBy("user_id")
         .agg(F.max(F.unix_micros("ts")).alias("__mx"),
              F.min(F.unix_micros("ts")).alias("__mn"),
              F.max(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).alias("e"))
         .withColumn("t", F.expr("(__mx - __mn) div 21600000000")))
    return nelson_aalen(u, F.col("t"), F.col("e"))


@query(
    "stats_mann_whitney",
    oracle="""
WITH t AS (
  SELECT value AS v,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS a
  FROM events WHERE value IS NOT NULL
), g AS (
  SELECT v, CAST(sum(a) AS BIGINT) AS n_a,
         CAST(count(*) - sum(a) AS BIGINT) AS n_b
  FROM t GROUP BY v
), c AS (
  SELECT v, n_a, n_b, n_a + n_b AS cnt,
         CAST(coalesce(sum(n_a + n_b) OVER (ORDER BY v ROWS BETWEEN
              UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS below
  FROM g
), s AS (
  SELECT CAST(sum(n_a) AS BIGINT) AS n_a,
         CAST(sum(n_b) AS BIGINT) AS n_b,
         sum(CAST(n_a AS DECIMAL(38,0))
             * CAST(2 * below + cnt + 1 AS DECIMAL(38,0))) AS ra2,
         sum(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))
             * CAST(cnt AS DECIMAL(38,0))
             - CAST(cnt AS DECIMAL(38,0))) AS ties
  FROM c
), uu AS (
  SELECT n_a, n_b,
         CAST(ra2 - CAST(n_a AS DECIMAL(38,0))
                    * CAST(n_a + 1 AS DECIMAL(38,0)) AS DOUBLE) / 2.0
           AS u_a,
         CAST(ties AS DOUBLE) AS td
  FROM s
)
SELECT n_a, n_b, u_a,
       CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) - u_a AS u_b,
       round((CAST(u_a AS DOUBLE)
              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
             / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                    * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
                       - td / (CAST(n_a + n_b AS DOUBLE)
                               * (CAST(n_a + n_b AS DOUBLE) - 1.0)))),
             6) AS z
FROM uu
""",
    tags=("analytics", "stats"),
    doc="Mann-Whitney U / Wilcoxon rank-sum test between event-time "
        "snapshots (operators/profile.py:mann_whitney_u) — the "
        "nonparametric complement of ab_welch_ttest and the hypothesis-"
        "test sibling of drift_ks_split. Midranks carried DOUBLED so "
        "tie handling is exact integer arithmetic; rank sums and the "
        "tie-correction sum(t^3-t) accumulate in DECIMAL(38,0); U is "
        "an exact half-integer emitted as DOUBLE (x.5 is exact in "
        "binary; integer truncation is engine-dependent); z is one "
        "fixed double chain (sqrt is IEEE-"
        "correctly-rounded, so it may be hashed). The strictly-below "
        "prefix uses drift_ks's bucketed decomposition — no data-sized "
        "single-task window; the oracle recomputes with a plain global "
        "rank window, proving the bucketed form exactly equivalent.",
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import mann_whitney_u
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    return mann_whitney_u(ev, F.col("ts") < "2024-01-16", "value",
                          lo=0.0, hi=500.0, nbins=64)


@query(
    "timeseries_ohlc_bars",
    oracle="""
WITH t AS (
  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
           AS bucket,
         l_extendedprice AS p,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
         CAST(round(l_quantity) AS BIGINT) AS v,
         (epoch_us(l_shipdate) // 86400000000) * 10000000000
           + l_orderkey * 10 + l_linenumber AS k
  FROM lineitem
)
SELECT bucket,
       arg_min(p, k) AS open, max(p) AS high, min(p) AS low,
       arg_max(p, k) AS close,
       CAST(count(*) AS BIGINT) AS n_trades,
       CAST(sum(CAST(v AS DECIMAL(38,0))) AS BIGINT) AS volume,
       round(CAST(sum(CAST(c AS DECIMAL(38,0))
                      * CAST(v AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(sum(CAST(v AS DECIMAL(38,0))) AS DOUBLE) / 100.0,
             6) AS vwap
FROM t GROUP BY bucket ORDER BY bucket
""",
    tags=("analytics", "timeseries"),
    doc="Monthly OHLC + VWAP bars over lineitem prices (operators/"
        "timeseries.py:ohlc_bars) — candlestick downsampling as ONE "
        "map-side-combinable hash aggregate: open/close via "
        "min_by/max_by over a packed total order key (ship-day, "
        "orderkey, linenumber — no per-bucket sort window anywhere), "
        "high/low as plain extremes, VWAP from DECIMAL(38,0) "
        "cents-times-quantity sums with one closing double division. "
        "Point prices are stored values, hash-safe raw.",
)
def timeseries_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import ohlc_bars
    li = load_table(spark, sf_dir, "lineitem")
    # l_shipdate is TIMESTAMP_NTZ in the driver parquet; unix_micros
    # needs TIMESTAMP — datediff on the date is encoding-agnostic
    day = F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01"))
    pack = (day.cast("long") * F.lit(10000000000)
            + F.col("l_orderkey") * 10 + F.col("l_linenumber"))
    bucket = (F.year("l_shipdate") * 100
              + F.month("l_shipdate")).cast("long")
    return (ohlc_bars(li, bucket, F.col("l_extendedprice"),
                      F.col("l_quantity"), pack)
            .orderBy("bucket"))


@query(
    "feature_woe_iv",
    oracle="""
WITH c AS (
  SELECT o_orderpriority AS category,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_pos
  FROM orders GROUP BY 1
), g AS (
  SELECT category, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg,
         CAST(sum(n_pos) OVER () AS BIGINT) AS tp,
         CAST(sum(n - n_pos) OVER () AS BIGINT) AS tn,
         count(*) OVER () AS k
  FROM c
), w AS (
  SELECT category, n_pos, n_neg,
         (CAST(n_pos AS DOUBLE) + 0.5)
           / (CAST(tp AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS p,
         (CAST(n_neg AS DOUBLE) + 0.5)
           / (CAST(tn AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS q
  FROM g
)
SELECT category, n_pos, n_neg,
       CAST(floor(1e6 * ln(p / q)) AS BIGINT) AS woe_q6,
       round((p - q) * (CAST(floor(1e6 * ln(p / q)) AS DOUBLE) / 1e6),
             9) AS iv_contrib
FROM w ORDER BY category
""",
    tags=("analytics", "feature"),
    doc="Weight-of-evidence + information value per order priority "
        "against the order-fulfilled label (operators/features.py:"
        "woe_iv) — the credit-scoring categorical encoding and "
        "feature-screening score. Exact-long cell counts from one hash "
        "aggregate; add-0.5 smoothing keeps empty cells finite; WOE on "
        "the integer 1e-6 grid (floor(1e6*ln) — never hash a raw "
        "post-log double) and IV as one fixed double chain. Totals "
        "window bounded by the category cardinality.",
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import woe_iv
    o = load_table(spark, sf_dir, "orders")
    return woe_iv(o, F.col("o_orderpriority"),
                  F.col("o_orderstatus") == "F")


@query(
    "geo_grid_proximity",
    oracle="""
WITH pts AS (
  SELECT c_custkey AS id,
         CAST(round(c_acctbal * 1e6) AS BIGINT) AS xq,
         CAST(round(((c_custkey * 7919) % 20000) / 10.0 * 1e6)
              AS BIGINT) AS yq
  FROM customer
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(CAST(a.xq - b.xq AS DECIMAL(38,0))
            * CAST(a.xq - b.xq AS DECIMAL(38,0))
            + CAST(a.yq - b.yq AS DECIMAL(38,0))
            * CAST(a.yq - b.yq AS DECIMAL(38,0)) AS BIGINT)
         AS dist_sq_q12
FROM pts a JOIN pts b ON a.id < b.id
WHERE CAST(a.xq - b.xq AS DECIMAL(38,0))
      * CAST(a.xq - b.xq AS DECIMAL(38,0))
      + CAST(a.yq - b.yq AS DECIMAL(38,0))
      * CAST(a.yq - b.yq AS DECIMAL(38,0))
      <= CAST(20000000 AS DECIMAL(38,0)) * CAST(20000000 AS DECIMAL(38,0))
ORDER BY id_a, id_b
""",
    tags=("analytics", "spatial"),
    doc="Radius self-join over derived customer coordinates (operators/"
        "geo.py:grid_proximity_join): every pair within r=20 units, "
        "found by cell bucketing (cell side = r, 3x3 neighbor probe "
        "covers the radius COMPLETELY) + exact integer distance verify "
        "on the 1e-6 quantization grid — the spatial member of the "
        "banded-candidate-join family (minhash/simhash/sign-cell). "
        "Candidate volume is bounded by local density, never n^2; the "
        "oracle recomputes with a plain O(n^2) theta join, proving the "
        "grid decomposition exact. Output distance is the exact "
        "integer squared distance in grid^2 units.",
)
def geo_grid_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.geo import grid_proximity_join
    c = load_table(spark, sf_dir, "customer")
    y = ((F.col("c_custkey") * 7919) % 20000) / 10.0
    return grid_proximity_join(c, "c_custkey", F.col("c_acctbal"), y,
                               radius=20.0)


@query(
    "interval_concurrency_peak",
    oracle="""
WITH iv AS (
  SELECT epoch_us(ts) AS s,
         epoch_us(ts) + (event_id % 7 + 1) * 60000000 AS e
  FROM events
), b AS (
  SELECT s AS us, 1 AS d FROM iv
  UNION ALL SELECT e AS us, -1 AS d FROM iv
), net AS (
  SELECT us, CAST(sum(d) AS BIGINT) AS net FROM b GROUP BY us
), c AS (
  SELECT us, CAST(sum(net) OVER (ORDER BY us ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS concurrency
  FROM net
)
SELECT strftime(make_timestamp(us), '%Y-%m-%d') AS day,
       CAST(max(concurrency) AS BIGINT) AS peak_concurrency
FROM c GROUP BY 1 ORDER BY 1
""",
    tags=("analytics", "timeseries"),
    doc="Daily peak concurrency of open activity intervals (operators/"
        "timeseries.py:interval_concurrency) — the sweep-line stabbing "
        "count behind max-sessions/peak-connections capacity planning, "
        "with interval_coverage's interval model (each event opens "
        "[ts, ts+(id%7+1)min)). Half-open tie rule: deltas net out per "
        "distinct instant in one hash agg before any cumulative. The "
        "global running sum uses drift_ks's bucketed prefix "
        "decomposition (per-bucket windows + an nbins-row offsets "
        "table) — no data-sized single-task window; all integers. The "
        "oracle recomputes with a plain global window.",
)
def interval_concurrency_peak(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from ..operators.timeseries import interval_concurrency
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(F.col("ts").alias("s"),
                   (F.col("ts") + F.make_interval(
                       secs=(F.col("event_id") % 7 + 1) * 60))
                   .alias("e"))
    lo = 1704067200 * 1_000_000   # 2024-01-01 UTC
    hi = 1706745600 * 1_000_000   # 2024-02-01 UTC
    cc = interval_concurrency(iv, F.col("s"), F.col("e"),
                              lo_us=lo, hi_us=hi, nbins=128)
    return (cc.groupBy(F.date_format((F.col("us") / 1e6)
                                     .cast("timestamp"),
                                     "yyyy-MM-dd").alias("day"))
            .agg(F.max("concurrency").alias("peak_concurrency"))
            .orderBy("day"))


@query(
    "ab_power_mde",
    oracle="""
WITH t AS (
  SELECT event_type AS grp,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS a,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
), agg AS (
  SELECT grp, a, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(c AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
              AS DOUBLE) AS s2
  FROM t GROUP BY 1, 2
), j AS (
  SELECT x.grp, x.n AS n_a, y.n AS n_b,
         (CAST(x.n AS DOUBLE) * x.s2 - x.s1 * x.s1)
           / (CAST(x.n AS DOUBLE) * (CAST(x.n AS DOUBLE) - 1.0))
           / 10000.0 AS va,
         (CAST(y.n AS DOUBLE) * y.s2 - y.s1 * y.s1)
           / (CAST(y.n AS DOUBLE) * (CAST(y.n AS DOUBLE) - 1.0))
           / 10000.0 AS vb
  FROM agg x JOIN agg y ON x.grp = y.grp AND x.a = 1 AND y.a = 0
)
SELECT grp, n_a, n_b, round(va, 6) AS var_a, round(vb, 6) AS var_b,
       round(CAST('2.8015852181129683' AS DOUBLE)
             * sqrt(va / CAST(n_a AS DOUBLE)
                    + vb / CAST(n_b AS DOUBLE)), 6) AS mde_abs
FROM j ORDER BY grp
""",
    tags=("analytics", "stats"),
    doc="Minimum detectable effect per event type at the current "
        "sample sizes (operators/profile.py:ab_power_mde) — the "
        "experiment-sizing readout (alpha=0.05 two-sided, power=0.80): "
        "MDE = (z_.975 + z_.80) * sqrt(s2_a/n_a + s2_b/n_b). z "
        "quantiles are Python literals feeding both engines (the NDCG "
        "literal rule — no engine-side inverse CDF); variances from "
        "the welch exactness stack (integer cents, DECIMAL(38,0) "
        "sums, one fixed double chain, IEEE sqrt).",
)
def ab_power_mde_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import ab_power_mde
    ev = load_table(spark, sf_dir, "events")
    return ab_power_mde(ev, F.col("ts") < "2024-01-16",
                        "event_type", "value")


@query(
    "analytics_uplift_two_model",
    oracle="""
WITH d AS (
  SELECT c_mktsegment AS segment,
         CAST(c_custkey % 2 = 1 AS INTEGER) AS t,
         CAST(c_acctbal > 5000 AS INTEGER) AS y
  FROM customer
), agg AS (
  SELECT segment, t, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS k
  FROM d GROUP BY 1, 2
), j AS (
  SELECT x.segment, x.n AS n_t, x.k AS k_t, y.n AS n_c, y.k AS k_c
  FROM agg x JOIN agg y ON x.segment = y.segment
  WHERE x.t = 1 AND y.t = 0
)
SELECT segment, n_t, k_t, n_c, k_c,
       round(CAST(k_t AS DOUBLE) / CAST(n_t AS DOUBLE), 6)
         AS rate_treated,
       round(CAST(k_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6)
         AS rate_control,
       round(CAST(k_t AS DOUBLE) / CAST(n_t AS DOUBLE)
             - CAST(k_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS uplift,
       round((CAST(k_t AS DOUBLE) / CAST(n_t AS DOUBLE)
              - CAST(k_c AS DOUBLE) / CAST(n_c AS DOUBLE))
             / sqrt((CAST(k_t + k_c AS DOUBLE)
                     / CAST(n_t + n_c AS DOUBLE))
                    * (1.0 - CAST(k_t + k_c AS DOUBLE)
                             / CAST(n_t + n_c AS DOUBLE))
                    * (1.0 / CAST(n_t AS DOUBLE)
                       + 1.0 / CAST(n_c AS DOUBLE))), 6) AS z
FROM j ORDER BY segment
""",
    tags=("analytics", "stats"),
    doc="Per-segment incrementality by the two-model difference "
        "(operators/features.py:uplift_two_model): "
        "P(convert|treated) - P(convert|control) with a pooled-"
        "variance normal score, over a deterministic custkey-parity "
        "treatment assignment and an acctbal conversion label. "
        "Exact-long cells from one hash aggregate; rates/uplift/z are "
        "fixed double chains.",
)
def analytics_uplift_two_model(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from ..operators.features import uplift_two_model
    c = load_table(spark, sf_dir, "customer")
    return uplift_two_model(c, F.col("c_mktsegment"),
                            F.col("c_custkey") % 2 == 1,
                            F.col("c_acctbal") > 5000)


@query(
    "stats_bh_fdr",
    oracle="""
WITH d AS (
  SELECT c_mktsegment AS segment,
         CAST(c_custkey % 2 = 1 AS INTEGER) AS t,
         CAST(c_acctbal > 5000 AS INTEGER) AS y
  FROM customer
), agg AS (
  SELECT segment, t, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS k
  FROM d GROUP BY 1, 2
), j AS (
  SELECT x.segment AS key,
         (CAST(x.k AS DOUBLE) / CAST(x.n AS DOUBLE)
          - CAST(y.k AS DOUBLE) / CAST(y.n AS DOUBLE))
         / sqrt((CAST(x.k + y.k AS DOUBLE) / CAST(x.n + y.n AS DOUBLE))
                * (1.0 - CAST(x.k + y.k AS DOUBLE)
                         / CAST(x.n + y.n AS DOUBLE))
                * (1.0 / CAST(x.n AS DOUBLE)
                   + 1.0 / CAST(y.n AS DOUBLE))) AS z
  FROM agg x JOIN agg y ON x.segment = y.segment
  WHERE x.t = 1 AND y.t = 0
), p AS (
  SELECT key, CAST(floor(1e6 * exp(-(z * z) / 2.0)) AS BIGINT) AS p_q6
  FROM j
), r AS (
  SELECT key, p_q6,
         row_number() OVER (ORDER BY p_q6, key) AS rank,
         count(*) OVER () AS m
  FROM p
), kmax AS (
  SELECT coalesce(max(CASE WHEN CAST(p_q6 AS DECIMAL(38,0)) * 10 * m
                            <= CAST(1000000 AS DECIMAL(38,0)) * 1 * rank
                           THEN rank END), 0) AS k
  FROM r
)
SELECT key, p_q6, CAST(rank AS INTEGER) AS rank,
       rank <= k AS rejected
FROM r, kmax ORDER BY rank
""",
    tags=("analytics", "stats"),
    doc="Benjamini-Hochberg FDR gate over the per-segment uplift tests "
        "(operators/profile.py:bh_fdr) — the multiple-comparisons "
        "correction a segment-sliced experiment needs. Inputs are "
        "integer-grid scores (floor(1e6*exp(-z^2/2)), a monotone "
        "Mills-style p proxy quantized per the engine-transcendental "
        "rule); BH itself is then PURE integer arithmetic — the "
        "step-up p <= alpha*i/m comparison cleared of denominators in "
        "DECIMAL(38,0), alpha the rational 1/10, max-rank via a 1-row "
        "broadcast rollup. Window bounded by the hypothesis count.",
)
def stats_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import uplift_two_model
    from ..operators.profile import bh_fdr
    c = load_table(spark, sf_dir, "customer")
    up = uplift_two_model(c, F.col("c_mktsegment"),
                          F.col("c_custkey") % 2 == 1,
                          F.col("c_acctbal") > 5000)
    # re-derive the UNROUNDED z for the proxy p (the uplift probe
    # rounds its display z; the gate wants full precision)
    pt = F.col("k_t").cast("double") / F.col("n_t").cast("double")
    pc = F.col("k_c").cast("double") / F.col("n_c").cast("double")
    pool = ((F.col("k_t") + F.col("k_c")).cast("double")
            / (F.col("n_t") + F.col("n_c")).cast("double"))
    se = F.sqrt(pool * (F.lit(1.0) - pool)
                * (F.lit(1.0) / F.col("n_t").cast("double")
                   + F.lit(1.0) / F.col("n_c").cast("double")))
    z = (pt - pc) / se
    p = up.select(F.col("segment"),
                  F.floor(F.lit(1e6) * F.exp(-(z * z) / F.lit(2.0)))
                  .cast("long").alias("p_q6"))
    return bh_fdr(p, "segment", "p_q6", alpha_num=1, alpha_den=10)


@query(
    "eval_brier_decomposition",
    oracle="""
WITH d AS (
  SELECT CAST(value > 250 AS BIGINT) AS y,
         CAST(floor((event_id % 1000) / 1000.0 * 1000000) AS BIGINT)
           AS sq
  FROM events WHERE value IS NOT NULL
), agg AS (
  SELECT least(greatest(CAST(floor(sq / 100000) AS INTEGER), 0), 9)
           AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_pos,
         sum(CAST(sq AS DECIMAL(38,0))) AS ssq
  FROM d GROUP BY 1
), g AS (
  SELECT bucket, n, n_pos, ssq,
         CAST(sum(n) OVER () AS BIGINT) AS tn,
         CAST(sum(n_pos) OVER () AS BIGINT) AS tp
  FROM agg
)
SELECT bucket, n, n_pos,
       round(CAST(ssq AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6)
         AS mean_score,
       round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_rate,
       round((CAST(n AS DOUBLE) / CAST(tn AS DOUBLE))
             * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                - CAST(ssq AS DOUBLE) / 1e6 / CAST(n AS DOUBLE))
             * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                - CAST(ssq AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)), 9)
         AS rel_contrib,
       round((CAST(n AS DOUBLE) / CAST(tn AS DOUBLE))
             * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                - CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))
             * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                - CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)), 9)
         AS res_contrib,
       round((CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))
             * (1.0 - CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)), 9)
         AS uncertainty
FROM g ORDER BY bucket
""",
    tags=("analytics", "eval"),
    doc="Murphy decomposition of the Brier score (operators/"
        "evaluation.py:brier_decomposition) over a deterministic "
        "pseudo-forecast (event_id-derived score vs a value-threshold "
        "label): per-bin reliability and resolution contributions plus "
        "the shared uncertainty — calibration_lift made additive. "
        "Scores quantize to the integer 1e-6 grid BEFORE summation so "
        "bin mean forecasts are exact-integer sums; every contribution "
        "is a fixed chain over exact longs; bins are fixed-width "
        "codegen buckets.",
)
def eval_brier_decomposition(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from ..operators.evaluation import brier_decomposition
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    return brier_decomposition(ev, F.col("value") > 250,
                               (F.col("event_id") % 1000) / 1000.0,
                               n_buckets=10)


@query(
    "funnel_time_to_convert",
    oracle="""
WITH pu AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
           AS a,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS b
  FROM events WHERE event_type IN ('signup', 'purchase')
  GROUP BY user_id
), conv AS (
  SELECT b - a AS dur_us FROM pu
  WHERE a IS NOT NULL AND b IS NOT NULL AND b > a
), r AS (
  SELECT dur_us, row_number() OVER (ORDER BY dur_us) AS r,
         count(*) OVER () AS n
  FROM conv
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       CAST(max(CASE WHEN r = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
                     THEN dur_us END) AS BIGINT) AS p50_us,
       CAST(max(CASE WHEN r = greatest(CAST(ceil(0.9 * n) AS BIGINT), 1)
                     THEN dur_us END) AS BIGINT) AS p90_us
FROM r
""",
    tags=("analytics", "funnel"),
    doc="Signup-to-first-purchase conversion latency (operators/"
        "funnel.py:time_to_convert): strict-funnel rule (first signup "
        "must precede first purchase), integer-microsecond durations, "
        "exact order-statistic p50/p90 (value at rank ceil(p*n) — the "
        "group_percentiles engine-portable rank rule, no "
        "interpolation). One per-user hash agg + one ranking window "
        "over the converted-user table.",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import time_to_convert
    ev = load_table(spark, sf_dir, "events")
    return time_to_convert(ev, "user_id", "ts", "event_type",
                           "signup", "purchase")
