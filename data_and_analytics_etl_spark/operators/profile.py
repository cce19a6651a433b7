"""Table profiling: per-column health stats in ONE pass.

The profile every ingest should emit (and the reference never could):
null/non-null counts, approximate distincts, min/max — computed as a
single wide aggregate so the table is scanned exactly once regardless
of column count, never one job per column.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window

from .fixpoint import fixpoint


def profile(df: DataFrame, columns: list[str] | None = None,
            exact: bool = False) -> DataFrame:
    """One row per profiled column: (column, n_rows, n_null, n_distinct,
    min_str, max_str). Single aggregate job; stack/unpivot of a wide
    one-row result, no per-column scans. ``exact=False`` (default) uses
    HLL distincts — the right choice at scale; ``exact=True`` switches
    to countDistinct for oracle-verifiable output."""
    cols = columns or df.columns
    distinct = F.countDistinct if exact else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nn"),
            distinct(c).alias(f"{c}__nd"),
            F.min(F.col(c).cast("string")).alias(f"{c}__mn"),
            F.max(F.col(c).cast("string")).alias(f"{c}__mx"),
        ]
    wide = df.agg(*aggs)
    stacked = wide.select(
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("column"),
                     F.col("__n").alias("n_rows"),
                     F.col(f"{c}__nn").alias("n_null"),
                     F.col(f"{c}__nd").alias("n_distinct_approx"),
                     F.col(f"{c}__mn").alias("min_str"),
                     F.col(f"{c}__mx").alias("max_str"))
            for c in cols])).alias("p"))
    return stacked.select("p.*")


def outliers_zscore(df: DataFrame, value_col: str, group_col: str,
                    z: float = 2.0) -> DataFrame:
    """Per-group z-score outliers with ENGINE-EXACT moments.

    Naive ``avg``/``stddev`` of doubles are accumulation-order-
    sensitive, so two engines (or two runs) can disagree about a row
    sitting near the threshold. Instead both moments come from exact
    decimal sums — sum(v) as DECIMAL(18,2) and sum(v*v) as the exact
    decimal product — then one double division at the end, so mean and
    variance are bit-identical on any engine and any partitioning.
    Sample variance: (svv - sv^2/n) / (n-1).

    Scale shape: one groupBy over the group column (tiny result)
    broadcast back onto the scan; the outlier predicate compares the
    raw value against mean +/- z*std inside codegen. Rows in groups
    with n < 2 (no variance) are never flagged.
    """
    v = F.col(value_col).cast("decimal(18,2)")
    stats = (df.groupBy(group_col)
             .agg(F.sum(v).alias("__sv"),
                  F.sum(v * v).alias("__svv"),
                  F.count(v).alias("__n")))
    mean = (F.col("__sv").cast("double") / F.col("__n")).alias("__mean")
    var = ((F.col("__svv").cast("double")
            - F.col("__sv").cast("double") * F.col("__sv").cast("double")
            / F.col("__n"))
           / (F.col("__n") - 1))
    std = F.sqrt(var).alias("__std")
    lookup = stats.filter(F.col("__n") >= 2).select(group_col, mean, std)
    joined = df.join(F.broadcast(lookup), group_col)
    dev = F.col(value_col) - F.col("__mean")
    return (joined.filter((dev > F.lit(z) * F.col("__std"))
                          | (dev < -F.lit(z) * F.col("__std")))
            .withColumn("zscore", F.round(dev / F.col("__std"), 2))
            .drop("__mean", "__std"))


def drift_psi(df_a: DataFrame, df_b: DataFrame, value_col: str,
              lo: float, hi: float, nbins: int,
              smooth: float = 0.5) -> DataFrame:
    """Population-stability drift between two snapshots of a column.

    Both frames are histogrammed on the same fixed grid (edge-clamped,
    Laplace-smoothed by ``smooth`` so empty buckets never divide by
    zero), then each bucket carries its PSI contribution
    (p - q) * ln(p / q). The standard gates: total PSI < 0.1 stable,
    0.1-0.25 drifting, > 0.25 shifted — total is a sum the caller
    takes over the (nbins-row) result; per-bucket contributions stay
    deterministic (integer counts -> one double expression each),
    which is what the oracle checks.

    Scale shape: one groupBy per side (partial-combine histograms),
    tiny results joined on bucket, totals broadcast — the input is
    scanned once per snapshot regardless of nbins.
    """
    from .binning import fixed_histogram

    def hist(d: DataFrame, n_name: str) -> DataFrame:
        h = fixed_histogram(d, value_col, lo, hi, nbins)
        return h.select("bucket", F.col("n").alias(n_name))

    ha, hb = hist(df_a, "n_a"), hist(df_b, "n_b")
    spine = ha.sparkSession.range(nbins).select(
        F.col("id").cast("long").alias("bucket"))
    grid = (spine.join(ha, "bucket", "left").join(hb, "bucket", "left")
            .fillna(0, ["n_a", "n_b"]))
    # totals as a window over the nbins-row grid, NOT agg + self-join:
    # the self-join form evaluates the grid subtree twice, i.e. scans
    # each snapshot twice at scale. The window runs on nbins rows.
    w = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    g = (grid.withColumn("__ta", F.sum("n_a").over(w))
         .withColumn("__tb", F.sum("n_b").over(w)))
    p = (F.col("n_a") + F.lit(smooth)) / (F.col("__ta")
                                          + F.lit(smooth) * nbins)
    q = (F.col("n_b") + F.lit(smooth)) / (F.col("__tb")
                                          + F.lit(smooth) * nbins)
    return (g.select("bucket", "n_a", "n_b",
                     F.round((p - q) * F.log(p / q), 6)
                     .alias("psi_contrib")))


def drift_ks(df_a: DataFrame, df_b: DataFrame, value_col: str,
             lo: float, hi: float, nbins: int = 256) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between snapshots:
    max |ECDF_a(v) - ECDF_b(v)| over every distinct value, plus the
    argmax value (smallest on ties).

    The complement of :func:`drift_psi`: PSI reads bucket-mass shifts,
    KS reads the worst single point of CDF separation. Exactness does
    NOT require a global sort here — the ECDF cumulative uses the same
    two-stage prefix-sum trick as corpus.pack_to_token_budget: values
    range-bucket onto a fixed grid, per-bucket cumulative windows run in
    parallel, and only the nbins-row bucket-totals table crosses a
    single-task window. Out-of-range values clamp into the edge buckets
    (same contract as fixed_histogram), preserving exactness because
    clamping is monotone.

    One shuffle for the (bucket, value) counts; everything after runs
    on distinct values. Division happens once per distinct value from
    exact integer cumulative counts — engine-portable.
    """
    from .binning import fixed_histogram  # noqa: F401 — shared grid doc

    width = (hi - lo) / nbins
    def tag(d: DataFrame, a: int, b: int) -> DataFrame:
        raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
        bucket = (F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
                  .cast("long"))
        return d.select(F.col(value_col).alias("v"),
                        bucket.alias("__bucket"),
                        F.lit(a).alias("__a"), F.lit(b).alias("__b"))

    tagged = tag(df_a, 1, 0).unionByName(tag(df_b, 0, 1))
    return _ks_from_tagged(tagged)


def drift_ks_split(df: DataFrame, is_a: Column, value_col: str,
                   lo: float, hi: float, nbins: int = 256) -> DataFrame:
    """:func:`drift_ks` when both samples live in ONE table split by a
    predicate (the time-cut drift case): tag each row a/b from
    ``is_a`` in a single pass instead of unioning two filtered scans
    of the same source. Identical math and output; at scale the source
    is read ONCE — the r8 b14 plan fix (two complementary filters over
    one parquet table cost two full scans; the scan dominates KS)."""
    width = (hi - lo) / nbins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bucket = (F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
              .cast("long"))
    a = is_a.cast("long")
    tagged = df.select(F.col(value_col).alias("v"),
                       bucket.alias("__bucket"),
                       a.alias("__a"), (1 - a).alias("__b"))
    return _ks_from_tagged(tagged)


def _ks_from_tagged(tagged: DataFrame) -> DataFrame:
    """Shared bucketed-prefix-sum ECDF core of drift_ks/drift_ks_split:
    (v, __bucket, __a, __b) rows in, 1-row (ks, at_value, n_a, n_b)
    out.

    pts feeds the scored branch and the bucket-totals branch; Catalyst
    plans the subtree per consumer but AQE's exchange reuse collapses
    the identical agg exchanges at runtime. (A persist() here was
    measured SLOWER at sf0.1 — cache materialization of the
    distinct-value table costs more than the re-scan; revisit only if
    profiling at target scale shows the scans dominating.)

    The post-agg repartition("__bucket") aligns the DISTINCT-VALUE
    table's partitioning with everything downstream (the per-bucket
    window, the bucket totals), so neither re-shuffles — measured 24%
    off b14 at sf0.1 with an identical result. Order of shuffles
    matters for 100 TB: the data-sized shuffle stays the fine-grained
    (bucket, v) aggregate WITH map-side combine (distinct values are
    grid-bounded for cents-like domains, so partials collapse hard);
    only the already-distinct table moves onto the nbins-keyed layout
    (parallelism = nbins there — raise nbins with scale, it is the
    grid resolution anyway). Repartitioning the RAW rows by bucket
    instead measured faster still at sf0.1 but forfeits the combine —
    the wrong trade at scale.
    """
    pts = (tagged
           .groupBy("__bucket", "v")
           .agg(F.sum("__a").alias("n_a"), F.sum("__b").alias("n_b"))
           .repartition("__bucket"))
    totals = pts.groupBy("__bucket").agg(
        F.sum("n_a").alias("__ba"), F.sum("n_b").alias("__bb"))
    wb = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1)  # nbins rows: bounded by design
    base = totals.select(
        "__bucket",
        F.coalesce(F.sum("__ba").over(wb), F.lit(0)).alias("__basea"),
        F.coalesce(F.sum("__bb").over(wb), F.lit(0)).alias("__baseb"))
    wv = (Window.partitionBy("__bucket").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0))
    # Grand totals as a 1-row aggregate broadcast-cross-joined in —
    # NOT a partitionBy(lit(0)) window, which would funnel the whole
    # distinct-values table through one task just to attach two longs.
    # Derived from the nbins-row totals table, not pts, so the rollup
    # is O(nbins) work on the cached frame.
    tot = totals.agg(F.sum("__ba").alias("__ta"), F.sum("__bb").alias("__tb"))
    scored = (pts.join(F.broadcast(base), "__bucket")
              .withColumn("__ca", F.col("__basea") + F.sum("n_a").over(wv))
              .withColumn("__cb", F.col("__baseb") + F.sum("n_b").over(wv))
              .crossJoin(F.broadcast(tot))
              .withColumn("ks_at_v", F.abs(
                  F.col("__ca") / F.col("__ta")
                  - F.col("__cb") / F.col("__tb"))))
    return (scored
            .select(F.round(F.col("ks_at_v"), 6).alias("ks"),
                    F.col("v").alias("at_value"),
                    F.col("__ta").alias("n_a"), F.col("__tb").alias("n_b"))
            .orderBy(F.desc("ks"), F.asc("at_value")).limit(1))


def mann_whitney_u(df: DataFrame, is_a: Column, value_col: str,
                   lo: float, hi: float, nbins: int = 256) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test between the two halves
    of one table split by a predicate — the NONPARAMETRIC complement of
    :func:`~.queries.analytics.ab_welch_ttest` (no normality
    assumption; reads stochastic dominance, not mean shift) and the
    hypothesis-test sibling of :func:`drift_ks_split` (KS finds the
    worst CDF gap; U summarizes rank displacement into one test).

    Exact integer core: ranks use the midrank convention, and to keep
    ties exact every rank is carried DOUBLED (midrank2 of a tie group
    = 2·(# values strictly below) + group_size + 1 — an integer), so
    the rank-sum R_a2 = Σ n_a(v)·midrank2(v) accumulates in
    DECIMAL(38,0) with operands cast before multiplying.
    U_a = (R_a2 − n_a(n_a+1)) / 2 is emitted as a DOUBLE: with
    midranks U can legitimately end in .5 (a tie group straddling the
    samples), and a half-integer is exact in binary while an integer
    truncation is engine-dependent. The normal
    approximation uses the tie-corrected variance
    n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1))) — every ingredient an
    exact decimal sum, the z statistic ONE fixed chain of double ops
    (sqrt is IEEE-correctly-rounded, unlike log, so it may appear in a
    hashed value).

    Scale: the "values strictly below v" prefix uses drift_ks's
    bucketed decomposition — per-bucket cumulative windows plus an
    nbins-row bucket-offset table — so no data-sized single-task
    window exists; the rank-sum itself is an order-free exact-integer
    aggregate. One row out: (n_a, n_b, u_a, u_b, z).
    """
    width = (hi - lo) / nbins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bucket = (F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
              .cast("long"))
    a = is_a.cast("long")
    pts = (df.select(F.col(value_col).alias("v"),
                     bucket.alias("__bucket"),
                     a.alias("__a"), (1 - a).alias("__b"))
           .groupBy("__bucket", "v")
           .agg(F.sum("__a").alias("n_a"), F.sum("__b").alias("n_b")))
    totals = pts.groupBy("__bucket").agg(
        (F.sum("n_a") + F.sum("n_b")).alias("__bc"))
    wb = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1)  # nbins rows: bounded by design
    base = totals.select(
        "__bucket",
        F.coalesce(F.sum("__bc").over(wb), F.lit(0)).alias("__base"))
    wv = (Window.partitionBy("__bucket").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1))
    dec = "decimal(38,0)"
    ranked = (pts.join(F.broadcast(base), "__bucket")
              .withColumn("__cnt", F.col("n_a") + F.col("n_b"))
              .withColumn("__below",
                          F.col("__base")
                          + F.coalesce(F.sum("__cnt").over(wv),
                                       F.lit(0)))
              .withColumn("__mr2",
                          2 * F.col("__below") + F.col("__cnt") + 1))
    agg = ranked.agg(
        F.sum("n_a").cast("long").alias("n_a"),
        F.sum("n_b").cast("long").alias("n_b"),
        F.sum(F.col("n_a").cast(dec) * F.col("__mr2").cast(dec))
        .cast(dec).alias("__ra2"),
        F.sum(F.col("__cnt").cast(dec) * F.col("__cnt").cast(dec)
              * F.col("__cnt").cast(dec) - F.col("__cnt").cast(dec))
        .cast(dec).alias("__ties"))
    na, nb = F.col("n_a"), F.col("n_b")
    u_a = ((F.col("__ra2") - (na.cast(dec) * (na + 1).cast(dec)))
           .cast("double") / F.lit(2.0))
    out = agg.select(
        "n_a", "n_b", u_a.alias("u_a"),
        (na.cast("double") * nb.cast("double") - u_a).alias("u_b"),
        F.col("__ties").cast("double").alias("__td"))
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    nad, nbd = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    var = (nad * nbd / F.lit(12.0)
           * ((n + F.lit(1.0))
              - F.col("__td") / (n * (n - F.lit(1.0)))))
    z = ((F.col("u_a").cast("double") - nad * nbd / F.lit(2.0))
         / F.sqrt(var))
    return out.select("n_a", "n_b", "u_a", "u_b",
                      F.round(z, 6).alias("z"))


def drift_chisq(df_a: DataFrame, df_b: DataFrame, cat_col: str) -> DataFrame:
    """Chi-square homogeneity test between two snapshots of a CATEGORICAL
    column — the categorical complement of :func:`drift_ks` (numeric) and
    :func:`drift_psi` (binned mass shift).

    Per category c: observed (n_a, n_b), expected under homogeneity
    E_a = (n_a+n_b)·t_a/(t_a+t_b) (t = sample totals); the row emits
    chisq_contrib = (n_a-E_a)²/E_a + (n_b-E_b)²/E_b. The statistic is
    Σ contrib with dof = categories - 1 — caller-side sums over the
    bounded category rows, the per-row-contribution contract of
    :func:`drift_psi`: every double is ONE expression from exact integer
    counts, so no order-sensitive accumulation crosses engines.

    One shuffle for the (category) counts; the totals window runs over
    the category-count table, bounded by the column's cardinality by
    definition of "categorical" (same documented bound as drift_ks's
    nbins totals table).
    """
    def tag(d: DataFrame, a: int, b: int) -> DataFrame:
        return d.select(F.col(cat_col).alias("category"),
                        F.lit(a).alias("__a"), F.lit(b).alias("__b"))

    counts = (tag(df_a, 1, 0).unionByName(tag(df_b, 0, 1))
              .groupBy("category")
              .agg(F.sum("__a").alias("n_a"), F.sum("__b").alias("n_b")))
    wall = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    ta, tb = F.col("__ta"), F.col("__tb")
    # divide BEFORE multiplying: (n_a+n_b)·t is long·long and would
    # overflow at ~1e9-row categories; t/(t_a+t_b) goes double first
    ea = (F.col("n_a") + F.col("n_b")) * (ta.cast("double") / (ta + tb))
    eb = (F.col("n_a") + F.col("n_b")) * (tb.cast("double") / (ta + tb))
    contrib = ((F.col("n_a") - ea) * (F.col("n_a") - ea) / ea
               + (F.col("n_b") - eb) * (F.col("n_b") - eb) / eb)
    return (counts
            .withColumn("__ta", F.sum("n_a").over(wall))
            .withColumn("__tb", F.sum("n_b").over(wall))
            .withColumn("__ncat", F.count(F.lit(1)).over(wall))
            .select("category", "n_a", "n_b",
                    (F.col("__ncat") - 1).alias("dof"),
                    F.round(contrib, 6).alias("chisq_contrib")))


def welch_ttest(df_a: DataFrame, df_b: DataFrame, value_col: str,
                group_col: str) -> DataFrame:
    """Per-group Welch two-sample t statistic (unequal variances) between
    snapshots A and B — the A/B-testing primitive.

    Engine-exact float policy (the outlier_zscore rule, extended):
    values quantize to integer cents, per-(group, sample) Σv and Σv² run
    in DECIMAL(38,0) — exact — and mean/variance/t derive from those
    exact sums in ONE double expression per group:
      var = (Σv² - (Σv)²/n) / (n-1)        (sample variance, cents²)
      t   = (m_a - m_b) / sqrt(v_a/n_a + v_b/n_b)
      dof = Welch–Satterthwaite from the same terms.
    No double ever accumulates, so the output is bit-identical across
    engines and partitionings. One shuffle on the group key; groups with
    fewer than 2 observations on either side drop (no variance).
    Output: (group, n_a, n_b, mean_a, mean_b, t_stat, dof) with means in
    original units.
    """
    def tag(d: DataFrame, side: str) -> DataFrame:
        return (d.filter(F.col(value_col).isNotNull())
                .select(F.col(group_col).alias("group"),
                        F.lit(side).alias("__s"),
                        F.round(F.col(value_col) * 100).cast("long")
                        .alias("__vc")))

    both = tag(df_a, "a").unionByName(tag(df_b, "b"))
    agg = (both.groupBy("group", "__s")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("__vc").cast("decimal(38,0)")).alias("s1"),
                # cast BEFORE the square: long*long wraps at |v| > ~3e9
                # cents; decimal*decimal cannot
                F.sum((F.col("__vc").cast("decimal(19,0)")
                       * F.col("__vc").cast("decimal(19,0)"))
                      .cast("decimal(38,0)")).alias("s2")))
    a = agg.filter(F.col("__s") == "a").select(
        "group", F.col("n").alias("n_a"),
        F.col("s1").alias("__s1a"), F.col("s2").alias("__s2a"))
    b = agg.filter(F.col("__s") == "b").select(
        "group", F.col("n").alias("n_b"),
        F.col("s1").alias("__s1b"), F.col("s2").alias("__s2b"))

    def stats(s1: str, s2: str, n: str) -> tuple:
        s1d = F.col(s1).cast("double")
        s2d = F.col(s2).cast("double")
        nd = F.col(n).cast("double")
        mean = s1d / nd
        var = (s2d - s1d * s1d / nd) / (nd - 1)
        return mean, var

    ma, va = stats("__s1a", "__s2a", "n_a")
    mb, vb = stats("__s1b", "__s2b", "n_b")
    sea = va / F.col("n_a")
    seb = vb / F.col("n_b")
    t = (ma - mb) / F.sqrt(sea + seb)
    dof = ((sea + seb) * (sea + seb)
           / (sea * sea / (F.col("n_a") - 1) + seb * seb / (F.col("n_b") - 1)))
    return (a.join(b, "group")
            .filter((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
            .select("group", "n_a", "n_b",
                    F.round(ma / 100.0, 6).alias("mean_a"),
                    F.round(mb / 100.0, 6).alias("mean_b"),
                    F.round(t, 6).alias("t_stat"),
                    F.round(dof, 6).alias("dof")))


def categorical_profile(df: DataFrame, group_col: str, cat_col: str,
                        ) -> DataFrame:
    """Per-(group, category) distribution profile with entropy and Gini
    contributions: p = share of the group's rows, entropy_contrib =
    -p·ln(p), gini_contrib = p², each from exact integer counts and ONE
    double expression per row. Group-level H = Σ entropy_contrib and
    Gini = 1 - Σ gini_contrib are caller-side sums over the (bounded)
    category rows — the same per-row-contribution contract as
    :func:`drift_psi`, which keeps every emitted value free of
    order-sensitive double accumulation.

    One shuffle on (group, category); group totals ride a window over
    the already-aggregated counts, never a second scan.
    """
    counts = (df.groupBy(group_col, cat_col)
              .agg(F.count(F.lit(1)).alias("n")))
    wg = Window.partitionBy(group_col)
    p = F.col("n") / F.col("n_group")
    return (counts
            .withColumn("n_group", F.sum("n").over(wg))
            .withColumn("n_categories", F.count(F.lit(1)).over(wg))
            .select(group_col, cat_col, "n", "n_group", "n_categories",
                    F.round(p, 6).alias("p"),
                    F.round(-p * F.log(p), 6).alias("entropy_contrib"),
                    F.round(p * p, 6).alias("gini_contrib")))


def check_constraints(df: DataFrame,
                      checks: dict[str, Column]) -> DataFrame:
    """Deequ-style declarative data-quality validation: each check is a
    boolean Column that should hold for every row; the result is one
    row per check — (check, n_rows, n_violations, violation_rate) —
    from ONE scan and ONE wide aggregate regardless of how many checks
    are declared (each check compiles to a conditional sum inside the
    same codegen stage; NULL predicate results count as violations,
    because "unknown" is not "valid").

    The long-form output unpivots the single aggregate row with a
    stack() projection — no per-check jobs, no driver loop.
    """
    if not checks:
        raise ValueError("need at least one check")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, pred in checks.items():
        aggs.append(F.sum(F.when(pred, 0).otherwise(1))
                    .alias(f"__v_{name}"))
    row = df.agg(*aggs)
    stack_args = ", ".join(f"'{name}', __v_{name}" for name in checks)
    return (row.selectExpr(
        "__n",
        f"stack({len(checks)}, {stack_args}) AS (check, n_violations)")
        .select("check",
                F.col("__n").alias("n_rows"),
                "n_violations",
                F.round(F.col("n_violations") / F.col("__n"), 6)
                .alias("violation_rate")))


def quarantine_violations(df: DataFrame, checks: dict[str, Column],
                          ) -> tuple[DataFrame, DataFrame]:
    """Split rows into (valid, quarantined): quarantined rows carry a
    ``__violations`` array naming every failed check — the row-level
    counterpart of :func:`check_constraints`, same single-scan codegen
    shape (the split is two filters over one cached-or-recomputed
    projection; at scale, write both sides from one pass via
    partitionBy on a validity column instead)."""
    if not checks:
        raise ValueError("need at least one check")
    viol = F.array_compact(F.array(*[
        F.when(pred, F.lit(None)).otherwise(F.lit(name))
        for name, pred in checks.items()]))
    tagged = df.withColumn("__violations", viol)
    good = tagged.filter(F.size("__violations") == 0).drop("__violations")
    bad = tagged.filter(F.size("__violations") > 0)
    return good, bad


def check_referential_integrity(fact: DataFrame, fact_key: str,
                                dim: DataFrame, dim_key: str) -> DataFrame:
    """Orphan-key check: one row — (n_fact_rows, n_orphan_rows,
    n_orphan_keys, orphan_rate). The orphan set comes from a LEFT ANTI
    join against the dimension's distinct keys (broadcast when small;
    AQE converts at runtime), never a row-multiplying outer join."""
    orphans = fact.join(dim.select(dim_key).distinct(),
                        fact[fact_key] == dim[dim_key], "left_anti")
    tot = fact.agg(F.count(F.lit(1)).alias("n_fact_rows"))
    oagg = orphans.agg(
        F.count(F.lit(1)).alias("n_orphan_rows"),
        F.countDistinct(fact_key).alias("n_orphan_keys"))
    # two scalar aggregates cross-joined lazily — no collect(), the
    # result composes into larger plans like any other frame
    return (tot.crossJoin(oagg)
            .select("n_fact_rows", "n_orphan_rows", "n_orphan_keys",
                    F.round(F.col("n_orphan_rows")
                            / F.greatest(F.col("n_fact_rows"), F.lit(1)),
                            6).alias("orphan_rate")))


def linear_fit(df: DataFrame, group_cols: list[str], x_col: Column,
               y_col: Column) -> DataFrame:
    """Per-group ordinary-least-squares fit y = slope·x + intercept, plus
    r² — the regr_slope/regr_intercept/regr_r2 family computed under the
    engine-exact float policy instead of streaming double moments.

    ``x_col`` / ``y_col`` must already be INTEGER-valued long columns
    (quantize money via round(v·100) first): all five sufficient
    statistics (Σx, Σy, Σx², Σy², Σxy) accumulate in DECIMAL(38,0) —
    exact, order-independent — and the closed forms

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²)
        intercept = (Σy − slope·Σx) / n
        r²        = (n·Σxy − Σx·Σy)² / ((n·Σx² − Σx²)·(n·Σy² − Σy²))

    evaluate as fixed chains of correctly-rounded IEEE double ops over
    those exact integers, so results are bit-identical across engines
    and partitionings (per-row products must fit a long: |x·y| < 2^63,
    the caller's contract; the cross-engine oracle runs the same math in
    HUGEINT). Groups with zero x-variance yield NULL slope/intercept;
    zero y-variance additionally yields NULL r². ONE shuffle on the
    group key — this is a plain partial-aggregated groupBy, the same
    plan shape as any sum, so it scales like one.
    """
    d = df.select(*[F.col(g) for g in group_cols],
                  x_col.alias("__x"), y_col.alias("__y"))
    agg = (d.groupBy(*group_cols)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("__x").cast("decimal(38,0)")).alias("sx"),
                F.sum(F.col("__y").cast("decimal(38,0)")).alias("sy"),
                F.sum((F.col("__x") * F.col("__x"))
                      .cast("decimal(38,0)")).alias("sxx"),
                F.sum((F.col("__y") * F.col("__y"))
                      .cast("decimal(38,0)")).alias("syy"),
                F.sum((F.col("__x") * F.col("__y"))
                      .cast("decimal(38,0)")).alias("sxy")))
    nd = F.col("n").cast("decimal(38,0)")
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = F.when(denx != 0, num / denx)
    intercept = F.when(
        denx != 0,
        (F.col("sy").cast("double") - (num / denx)
         * F.col("sx").cast("double")) / F.col("n").cast("double"))
    r2 = F.when((denx != 0) & (deny != 0), (num * num) / (denx * deny))
    return (agg.select(*group_cols, "n",
                       slope.alias("slope"),
                       intercept.alias("intercept"),
                       r2.alias("r2")))


def k_anonymity(df: DataFrame, quasi_cols: list[str],
                k: int = 5) -> DataFrame:
    """Per-equivalence-class k-anonymity audit over quasi-identifiers.

    A released table is k-anonymous iff every combination of
    quasi-identifier values (an equivalence class) covers at least k
    records — below that, the class re-identifies individuals. Output:
    one row per class with its size and a ``violates_k`` flag; the
    caller rolls up (count of violating classes, min class size) or
    joins back to suppress/generalize violating rows.

    Plan: ONE hash aggregate on the quasi-identifier tuple — partial
    combine map-side, so skewed classes (the common ones are by
    definition large) cost nothing extra; no window, no second shuffle.
    Generalization (bucketing a continuous column before auditing) is
    the caller's projection — pass the bucketed expression in
    ``quasi_cols`` via select() upstream.
    """
    return (df.groupBy(*quasi_cols)
            .agg(F.count(F.lit(1)).alias("class_size"))
            .withColumn("violates_k", F.col("class_size") < k))


def schema_diff(old_df: DataFrame, new_df: DataFrame) -> DataFrame:
    """Schema drift between two dataset versions as rows:
    (column, change ∈ {added, removed, type_changed}, old_type,
    new_type) — unchanged columns are omitted.

    The reference tolerates drift silently (schemaless JSON verbatim,
    CommCareAPIHandler.py:204); a typed engine must instead DETECT it
    so ingestion can alert before a type change corrupts downstream
    casts. Pure plan-metadata computation: schemas come from Catalyst,
    no job runs and no data is scanned — auditing a 100 TB table's
    drift is free. Emitted as a DataFrame so drift feeds the same
    quality gates as Deequ-style checks (check_constraints).
    """
    spark = old_df.sparkSession
    old = {f.name: f.dataType.simpleString() for f in old_df.schema}
    new = {f.name: f.dataType.simpleString() for f in new_df.schema}
    rows = []
    for c in sorted(old.keys() | new.keys()):
        if c not in new:
            rows.append((c, "removed", old[c], None))
        elif c not in old:
            rows.append((c, "added", None, new[c]))
        elif old[c] != new[c]:
            rows.append((c, "type_changed", old[c], new[c]))
    return spark.createDataFrame(
        rows, "column: string, change: string, old_type: string, "
              "new_type: string")


def l_diversity(df: DataFrame, quasi_cols: list[str],
                sensitive_col: str, l: int = 2) -> DataFrame:
    """Distinct l-diversity audit — k-anonymity's necessary complement.

    A k-anonymous class still leaks when every one of its records
    shares the same SENSITIVE value (the homogeneity attack: knowing
    someone is in the class reveals their attribute). Distinct
    l-diversity requires ≥ l distinct sensitive values per equivalence
    class. Output: one row per class with class_size, n_sensitive and
    ``violates_l``.

    Plan: ONE hash aggregate on the quasi-identifier tuple with a
    count-distinct on the sensitive column (Catalyst's two-phase
    distinct expansion — still a single shuffle family, partial
    combined). Composes with :func:`k_anonymity` on the same grouping.
    """
    return (df.groupBy(*quasi_cols)
            .agg(F.count(F.lit(1)).alias("class_size"),
                 F.countDistinct(sensitive_col).alias("n_sensitive"))
            .withColumn("violates_l", F.col("n_sensitive") < l))


def partition_checksums(df: DataFrame, part_cols: list[str],
                        content_cols: list[str]) -> DataFrame:
    """Order-insensitive per-partition content checksum: (partition…,
    n_rows, checksum) where checksum = Σ rows' 48-bit md5 prefix —
    the replication/audit manifest that lets two copies of a 100 TB
    table be compared partition-by-partition with ONE aggregate per
    side and a tiny join, no row-level diff until a partition disagrees.

    A summed per-row hash is commutative, so the checksum is
    independent of partitioning, task order and file layout — exactly
    what a physical-layout-changing operation (compaction, merge
    rewrite) must NOT change. The 48-bit value is built from md5 hex
    digits by ascii arithmetic (the bloom-index/simhash portable-hash
    rule), so an external SQL engine recomputes the manifest
    bit-for-bit; the sum accumulates as DECIMAL(38,0) from the first
    row, so no partition size can overflow (2^48 per row never reaches
    38 digits before ~10^23 rows).
    """
    from .layout import _hex_digit

    h = F.md5(F.concat_ws("|", *[F.col(c).cast("string")
                                 for c in content_cols]))
    val = F.lit(0).cast("long")
    for p in range(1, 13):
        val = val * 16 + _hex_digit(h, p)
    return (df.groupBy(*part_cols)
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 # cast BEFORE the sum: the accumulator must already be
                 # decimal or a >65k-row partition overflows the long
                 F.sum(val.cast("decimal(38,0)")).alias("checksum")))


def t_closeness(df: DataFrame, quasi_cols: list[str],
                sensitive_col: str, t: float = 0.2) -> DataFrame:
    """t-closeness audit over an ORDERED sensitive attribute — the
    third leg of the privacy triad (k_anonymity: class size;
    l_diversity: distinct values; t_closeness: the class's sensitive
    DISTRIBUTION must stay within Earth-Mover's Distance ``t`` of the
    global one, Li/Li/Venkatasubramanian ICDE'07 — l-diverse classes
    still leak when their values are diverse but skewed).

    For ordered values the EMD has the closed prefix form
    (1/(m−1))·Σ_i |Σ_{j≤i}(p_j − q_j)|. Denominators are cleared
    BEFORE any arithmetic: with class counts c_j (size n), global
    counts g_j (size N), each prefix term is the exact integer
    Σ_{j≤i}(N·c_j − n·g_j), so the whole sum is exact and ONE double
    division by n·N·(m−1) finishes it — the violates flag compares the
    integer sum against t·n·N·(m−1) as a single multiply, never an
    accumulated float.

    Scale: the (class × band) grid is classes × m rows (m = sensitive
    cardinality, bounded by definition of "categorical/banded") built
    by cross-joining the broadcast band dictionary, so absent bands
    contribute their honest 0; the prefix window is bounded by m rows
    per class. Output: (quasi…, n, emd, violates_t).
    """
    from pyspark.sql import Window

    bands = df.select(F.col(sensitive_col).alias("__band")).distinct()
    g = (df.groupBy(F.col(sensitive_col).alias("__band"))
         .agg(F.count(F.lit(1)).alias("__g")))
    nn = df.agg(F.count(F.lit(1)).alias("__N"))
    cls = (df.groupBy(*quasi_cols)
           .agg(F.count(F.lit(1)).alias("n")))
    cell = (df.groupBy(*quasi_cols,
                       F.col(sensitive_col).alias("__band"))
            .agg(F.count(F.lit(1)).alias("__c")))
    grid = (cls.crossJoin(F.broadcast(bands))
            .join(cell, [*quasi_cols, "__band"], "left")
            .withColumn("__c", F.coalesce(F.col("__c"), F.lit(0)))
            .join(F.broadcast(g), "__band")
            .crossJoin(F.broadcast(nn)))
    w = (Window.partitionBy(*quasi_cols).orderBy("__band")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # cast the OPERANDS to decimal(38,0) before multiplying: at N≈1e12
    # rows the long×long products N·c and n·g overflow silently before
    # an after-the-fact cast could apply (r6 advice)
    def dec(c):
        return F.col(c).cast("decimal(38,0)")
    diff = dec("__N") * dec("__c") - dec("n") * dec("__g")
    pref = F.sum(diff).over(w)
    m = F.count(F.lit(1)).over(Window.partitionBy(*quasi_cols))
    scored = (grid.withColumn("__p", F.abs(pref))
              .withColumn("__m", m))
    agg = (scored.groupBy(*quasi_cols)
           .agg(F.max("n").alias("n"),
                F.sum("__p").alias("__s"),
                F.max("__m").alias("__mm"),
                F.max("__N").alias("__NN")))
    denom = (F.col("n").cast("double") * F.col("__NN").cast("double")
             * (F.col("__mm") - 1).cast("double"))
    return (agg.filter(F.col("__mm") > 1)
            .select(*quasi_cols, "n",
                    (F.col("__s").cast("double") / denom).alias("emd"),
                    (F.col("__s").cast("double")
                     > F.lit(t) * denom).alias("violates_t")))


#: Benford expected first-digit probabilities log10(1 + 1/d), d=1..9 —
#: ONE Python-computed literal table feeding BOTH the Spark plan and
#: the DuckDB oracle (the NDCG literal-weight rule: never compute
#: transcendentals engine-side when cross-engine bit-equality is the
#: contract; repr round-trips doubles exactly).
BENFORD_P: dict[int, float] = {
    d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_digit_audit(df: DataFrame, value_col: str,
                        tolerance: float = 0.02) -> DataFrame:
    """First-significant-digit audit against Benford's law — the
    fraud/fabrication screen auditors run on naturally-occurring
    amounts (Nigrini 2012).

    Exactness: amounts quantize to integer cents (round(v·100), the
    engine-wide rule) and the leading digit is CHARACTER arithmetic on
    that integer — no log/pow on data, so no float boundary decides a
    digit. Counts are exact longs; observed share is ONE double
    division; expected share is the literal table; the deviation and
    its flag are a fixed two-op IEEE chain. Everything is therefore
    hash-identical cross-engine.

    Zero/negative amounts are excluded (Benford applies to positive
    magnitudes) — and the exclusion happens on the QUANTIZED integer
    (cents >= 1), not the raw value: an amount in (0, 0.005) rounds to
    0 cents, whose "leading digit" is 0 — filtering on the raw value
    would drop it from the 1..9 spine while still counting it in the
    total, silently deflating every digit's observed share (obs_p
    would no longer sum to 1). Output: (digit, n, obs_p, exp_p, dev,
    outside_tolerance) — 9 rows, absent digits emitting honest zeros
    via the broadcast digit spine.

    Scale: one hash aggregate over the fact table (9 groups), then
    dictionary-sized arithmetic. Nothing else.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    digits = (df.select(cents.alias("__cents"))
              .filter(F.col("__cents") >= 1)
              .select(F.substring(F.col("__cents").cast("string"), 1, 1)
                      .cast("long").alias("digit"))
              .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(d, BENFORD_P[d]) for d in range(1, 10)],
        "digit: long, exp_p: double")
    tot = digits.agg(F.sum("n").cast("long").alias("__tot"))
    # broadcast the RIGHT side: left-outer can only build right
    out = (spine.join(F.broadcast(digits), "digit", "left")
           .withColumn("n", F.coalesce("n", F.lit(0)).cast("long"))
           .crossJoin(F.broadcast(tot)))
    obs = F.col("n").cast("double") / F.col("__tot").cast("double")
    dev = obs - F.col("exp_p")
    return (out.select("digit", "n", obs.alias("obs_p"), "exp_p",
                       dev.alias("dev"),
                       (F.abs(dev) > F.lit(tolerance))
                       .alias("outside_tolerance"))
            .orderBy("digit"))


def gini_concentration(df: DataFrame, group_cols: list[str],
                       key_col: str, amount_col: str) -> DataFrame:
    """Per-group Gini coefficient of amount concentration across keys
    — the inequality/concentration metric behind "top 1% of customers
    drive X%" dashboards (and the Lorenz curve's scalar summary).

    Exact integer form: amounts quantize to cents and per-key totals
    rank ascending with a total (cents, key) tie-break; with x_i the
    i-th smallest total (i = 1..n),

        gini = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i)

    Every product and both sums run in DECIMAL(38,0) (operands cast
    BEFORE multiplying — the t_closeness rule), so the numerator and
    denominator are exact integers and the result is ONE double
    division: hash-identical cross-engine. Negative totals are kept
    (the formula is the standard one over real incomes); an all-zero
    group emits NULL.

    Scale shape: one hash agg collapses the fact table to a row per
    (group, key); the ranking window then runs over that AGGREGATE,
    bounded by the dimension cardinality per group (the pareto_abc
    posture). Output: (group…, n_units, total_cents, gini).
    """
    cents = F.round(F.col(amount_col) * 100).cast("long")
    per_key = (df.groupBy(*group_cols, F.col(key_col).alias("__k"))
               .agg(F.sum(cents.cast("decimal(38,0)")).alias("__x")))
    w = Window.partitionBy(*group_cols).orderBy(F.col("__x"),
                                                F.col("__k"))
    ranked = per_key.withColumn(
        "__i", F.row_number().over(w).cast("decimal(38,0)"))
    g = (ranked.groupBy(*group_cols)
         .agg(F.count(F.lit(1)).alias("__n"),
              F.sum(F.col("__i") * F.col("__x")).alias("__s1"),
              F.sum("__x").alias("__s")))
    n_dec = F.col("__n").cast("decimal(38,0)")
    num = (F.lit(2).cast("decimal(38,0)") * F.col("__s1")
           - (n_dec + F.lit(1).cast("decimal(38,0)")) * F.col("__s"))
    den = n_dec * F.col("__s")
    return g.select(
        *group_cols,
        F.col("__n").cast("long").alias("n_units"),
        F.col("__s").cast("long").alias("total_cents"),
        F.when(F.col("__s") != 0,
               num.cast("double") / den.cast("double")).alias("gini"))


def cuped_adjust(units: DataFrame, arm_col: str, metric_col: str,
                 covariate_col: str) -> DataFrame:
    """CUPED variance reduction for experiment readouts (Deng et al.
    '13): shrink each unit's metric Y by its pre-experiment covariate X
    before comparing arms,

        Y'_i = Y_i − θ·(X_i − mean(X)),   θ = cov(X, Y) / var(X),

    with θ fit on ALL units pooled (standard practice — the covariate
    is pre-assignment, so pooling can't leak arm effects). Reported per
    arm: n, raw metric mean, CUPED-adjusted mean, plus the pooled θ
    and the variance-reduction fraction ρ² = θ²·var(X)/var(Y) every
    arm row repeats (readability over normalization).

    Engine-exact float policy (welch_ttest's): X and Y quantize to
    integer cents; Σx, Σy, Σxy, Σx², Σy² accumulate in DECIMAL(38,0)
    with operands cast BEFORE the products; every emitted double is ONE
    expression over those exact sums, so results are bit-identical
    across engines and partitionings. Plan: one hash agg per arm (one
    shuffle), the 1-row pooled rollup derives from the per-arm rows and
    broadcast-cross-joins back — no data-sized single-task stage.
    """
    d = F.col("__x").cast("decimal(19,0)")
    e = F.col("__y").cast("decimal(19,0)")
    q = (units.select(
            F.col(arm_col).alias("arm"),
            F.round(F.col(covariate_col) * 100).cast("long").alias("__x"),
            F.round(F.col(metric_col) * 100).cast("long").alias("__y"))
         .select("arm", "__x", "__y",
                 (d * e).cast("decimal(38,0)").alias("__xy"),
                 (d * d).cast("decimal(38,0)").alias("__xx"),
                 (e * e).cast("decimal(38,0)").alias("__yy")))
    per_arm = q.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("__y").cast("decimal(38,0)")).alias("sy"),
        F.sum("__xy").alias("sxy"),
        F.sum("__xx").alias("sxx"),
        F.sum("__yy").alias("syy"))
    pooled = per_arm.agg(
        F.sum("n").alias("tn"), F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"), F.sum("sxy").alias("tsxy"),
        F.sum("sxx").alias("tsxx"), F.sum("syy").alias("tsyy"))
    tn = F.col("tn").cast("double")
    tsx = F.col("tsx").cast("double")
    tsy = F.col("tsy").cast("double")
    cov = F.col("tsxy").cast("double") - tsx * tsy / tn
    varx = F.col("tsxx").cast("double") - tsx * tsx / tn
    vary = F.col("tsyy").cast("double") - tsy * tsy / tn
    theta = cov / varx
    mean_x_all = tsx / tn
    n = F.col("n").cast("double")
    mean_y = F.col("sy").cast("double") / n
    mean_x = F.col("sx").cast("double") / n
    adj = mean_y - theta * (mean_x - mean_x_all)
    return (per_arm.crossJoin(F.broadcast(pooled))
            .select("arm", "n",
                    F.round(mean_y / 100.0, 6).alias("mean_metric"),
                    F.round(adj / 100.0, 6).alias("mean_adjusted"),
                    F.round(theta, 6).alias("theta"),
                    F.round(theta * theta * varx / vary, 6)
                     .alias("var_reduction")))


def dp_noisy_counts(df: DataFrame, group_col: str,
                    epsilon: float = 1.0,
                    seed: str = "dp") -> DataFrame:
    """ε-differentially-private group counts via the Laplace mechanism
    (Dwork et al. '06; count queries have sensitivity 1, so noise scale
    b = 1/ε) — the release side of the privacy stack (k-anonymity /
    l-diversity / t-closeness audit what a table leaks; this bounds
    what a published aggregate leaks).

    The Laplace draw is DETERMINISTIC: u ∈ (0,1) comes from the first
    6 hex chars of md5(group ‖ seed) — the engine's hash-sampling
    uniform — pushed through the inverse CDF. Deterministic noise is
    what makes the release testable/oracle-checkable; in production
    the seed is a per-release secret (a repeated release with the same
    seed answers the same, which is exactly the composition-friendly
    behavior you want — fresh randomness per query would burn ε each
    time). The inverse-CDF ln() lands on a 10^-6 integer grid before
    it touches the count (the bm25/vocab_logrank libm rule), and the
    exact count never appears in the output. One hash aggregate; the
    noise is a codegen expression over the group keys — nothing about
    the mechanism shuffles or collects.
    """
    b = 1.0 / epsilon
    agg = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    hex6 = F.substring(
        F.md5(F.concat_ws("|", F.col(group_col).cast("string"),
                          F.lit(seed))), 1, 6)
    u = ((F.conv(hex6, 16, 10).cast("long").cast("double")
          + F.lit(0.5)) / F.lit(16777216.0))
    noise = F.when(
        u >= 0.5,
        -F.lit(b) * F.log(F.lit(1.0) - F.lit(2.0) * (u - F.lit(0.5)))
    ).otherwise(
        F.lit(b) * F.log(F.lit(1.0) - F.lit(2.0) * (F.lit(0.5) - u)))
    return (agg
            .withColumn("__nm", F.floor(noise * F.lit(1_000_000.0))
                        .cast("long"))
            .select(group_col,
                    (F.col("__n") * F.lit(1_000_000) + F.col("__nm"))
                    .alias("noisy_micro"))
            .withColumn("noisy_count",
                        F.col("noisy_micro").cast("double")
                        / F.lit(1_000_000.0)))


def mondrian_anonymize(df: DataFrame, quasi_cols: list[str], k: int,
                       max_rounds: int = 32) -> DataFrame:
    """Mondrian multidimensional k-anonymization (LeFevre et al. '06):
    recursively median-split the quasi-identifier space, committing a
    split only when BOTH halves keep >= k rows, until no class can
    split — the transform that MAKES a table k-anonymous (k_anonymity /
    l_diversity / t_closeness only audit). Returns the input rows with
    a ``__class`` id; publish per-class QI ranges, not values.

    Determinism: the split value is the lower median (an order
    statistic — integer rank arithmetic, no float boundary), the split
    column is the widest-range QI with first-in-list tie-break, and
    class ids evolve as cls*2+{1,2}, so the output is a pure function
    of the data regardless of partitioning.

    Scale shape: each round is class-keyed hash aggregates (stats +
    candidate counts, at most n/k classes), one rank window per class
    for the median (parallel across classes), and a broadcast of the
    classes-sized decision table back onto the rows; the "did any
    class split?" convergence probe rides the round's eager
    localCheckpoint via ``observe()`` (operators/fixpoint.py), so each
    round is exactly ONE driver action. Rounds are bounded by
    log2(n/k); a class still splitting after ``max_rounds`` rounds
    raises RuntimeError instead of returning an unconverged partition
    (the default 32 is far above the bound).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    if not quasi_cols:
        raise ValueError("need at least one quasi-identifier column")

    def split(cur: DataFrame, _):
        cur = cur.drop("__commit")
        stats = cur.groupBy("__class").agg(
            F.count(F.lit(1)).alias("__n"),
            *[f for c in quasi_cols
              for f in (F.min(F.col(c).cast("double")).alias(f"__lo_{c}"),
                        F.max(F.col(c).cast("double")).alias(f"__hi_{c}"))])
        # widest-range column, first-in-list tie-break
        rng = {c: F.col(f"__hi_{c}") - F.col(f"__lo_{c}")
               for c in quasi_cols}
        best = F.lit(quasi_cols[0])
        best_r = rng[quasi_cols[0]]
        for c in quasi_cols[1:]:
            wider = rng[c] > best_r
            best = F.when(wider, F.lit(c)).otherwise(best)
            best_r = F.when(wider, rng[c]).otherwise(best_r)
        choice = (stats.filter(F.col("__n") >= 2 * k)
                  .select("__class", best.alias("__col")))
        # no separate "any class big enough?" probe: when choice is
        # empty every downstream join is a null no-op and the observed
        # commit count below reads 0, breaking after one cheap
        # identity round instead of paying an extra action per round
        tagged = cur.join(F.broadcast(choice), "__class", "left")
        val = F.coalesce(*[F.when(F.col("__col") == c,
                                  F.col(c).cast("double"))
                           for c in quasi_cols])
        wcls = Window.partitionBy("__class").orderBy(val)
        ranked = tagged.withColumn("__val", val).withColumn(
            "__rn", F.when(F.col("__col").isNotNull(),
                           F.row_number().over(wcls)))
        counts = ranked.groupBy("__class").agg(
            F.count(F.lit(1)).alias("__cnt"))
        med = (ranked.join(counts, "__class")
               .filter(F.col("__rn") == F.expr("(__cnt + 1) div 2"))
               .select("__class", F.col("__val").alias("__median")))
        sided = (ranked.join(F.broadcast(med), "__class", "left")
                 .withColumn("__side",
                             F.when(F.col("__median").isNull(), F.lit(None))
                             .when(F.col("__val") <= F.col("__median"), 1)
                             .otherwise(2)))
        sizes = (sided.filter(F.col("__side").isNotNull())
                 .groupBy("__class")
                 .agg(F.sum(F.when(F.col("__side") == 1, 1).otherwise(0))
                      .alias("__nl"),
                      F.sum(F.when(F.col("__side") == 2, 1).otherwise(0))
                      .alias("__nr")))
        ok = (sizes.filter((F.col("__nl") >= k) & (F.col("__nr") >= k))
              .select("__class", F.lit(True).alias("__commit")))
        nxt = (sided.join(F.broadcast(ok), "__class", "left")
               .withColumn("__class",
                           F.when(F.col("__commit").isNotNull(),
                                  F.col("__class") * 2 + F.col("__side"))
                           .otherwise(F.col("__class")))
               .drop("__col", "__val", "__rn", "__median", "__side"))
        return nxt, F.count("__commit")

    # no class split: the last round is content-identical to the one
    # before it
    seed = df.withColumn("__class", F.lit(0).cast("long"))
    cur, _ = fixpoint("mondrian_anonymize", (seed, None), split,
                      rounds=max_rounds, until=lambda _, n: n == 0)
    return cur.drop("__commit")


def mondrian_class_ranges(anon: DataFrame,
                          quasi_cols: list[str]) -> DataFrame:
    """The publishable generalization of :func:`mondrian_anonymize`'s
    output: per class, its size and each QI's [lo, hi] range — one
    hash aggregate."""
    return anon.groupBy("__class").agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[f for c in quasi_cols
          for f in (F.min(c).alias(f"lo_{c}"),
                    F.max(c).alias(f"hi_{c}"))])


#: Standard-normal quantiles as PYTHON literals (the NDCG literal-table
#: rule: transcendental CONSTANTS are computed once here and the repr
#: feeds both engines — never an engine-side erf/quantile call).
Z_975 = 1.959963984540054    # two-sided alpha = 0.05
Z_80 = 0.8416212335729143    # power = 0.80


def ab_power_mde(df: DataFrame, is_a: Column, group_col: str,
                 value_col: str, z_alpha: float = Z_975,
                 z_power: float = Z_80) -> DataFrame:
    """Minimum detectable effect of a two-sample mean test at the
    CURRENT sample sizes and variances — the experiment-sizing readout
    every A/B platform shows next to a not-significant result ("you
    could only have seen effects larger than X"):

        MDE = (z_{1-α/2} + z_{power}) · sqrt(s²_a/n_a + s²_b/n_b)

    per group, with the z quantiles as caller-supplied Python literals
    (never engine-side inverse-CDF). Variances come from the
    welch_ttest exactness stack: values quantize to integer cents,
    Σx and Σx² accumulate in DECIMAL(38,0) (operands cast before
    squaring), sample variance is ONE fixed double chain
    (n·Σx² − (Σx)²) / (n·(n−1)) / 100², and sqrt is IEEE-correctly-
    rounded. One hash aggregate per (group, side); everything after is
    arithmetic on the group-bounded table.
    """
    dec = "decimal(38,0)"
    cents = F.round(F.col(value_col) * 100).cast("long")
    d = (df.select(F.col(group_col).alias("grp"),
                   is_a.cast("int").alias("__a"),
                   cents.alias("__c"))
         .filter(F.col("__c").isNotNull()))
    agg = (d.groupBy("grp", "__a")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("__c").cast(dec)).cast(dec).alias("s1"),
                F.sum(F.col("__c").cast(dec) * F.col("__c").cast(dec))
                .cast(dec).alias("s2")))

    def side(tag: int, name: str) -> DataFrame:
        return (agg.filter(F.col("__a") == tag)
                .select("grp", F.col("n").alias(f"n_{name}"),
                        F.col("s1").cast("double").alias(f"s1{name}"),
                        F.col("s2").cast("double").alias(f"s2{name}")))

    j = side(1, "a").join(side(0, "b"), "grp")

    def var(n: Column, s1: Column, s2: Column) -> Column:
        nd = n.cast("double")
        return ((nd * s2 - s1 * s1) / (nd * (nd - F.lit(1.0)))
                / F.lit(10000.0))

    va = var(F.col("n_a"), F.col("s1a"), F.col("s2a"))
    vb = var(F.col("n_b"), F.col("s1b"), F.col("s2b"))
    mde = (F.lit(z_alpha + z_power)
           * F.sqrt(va / F.col("n_a").cast("double")
                    + vb / F.col("n_b").cast("double")))
    return (j.select("grp", "n_a", "n_b",
                     F.round(va, 6).alias("var_a"),
                     F.round(vb, 6).alias("var_b"),
                     F.round(mde, 6).alias("mde_abs"))
            .orderBy("grp"))


def bh_fdr(df: DataFrame, key_col: str, p_q6_col: str,
           alpha_num: int = 1, alpha_den: int = 10) -> DataFrame:
    """Benjamini–Hochberg FDR control over a table of hypotheses — the
    multiple-comparisons gate every metrics platform needs the moment
    it tests more than one segment (uncorrected per-segment α=0.05
    across 100 segments ships ~5 false discoveries per experiment).

    Contract: p-values arrive already on the integer 10⁻⁶ grid
    (``p_q6`` ∈ [0, 1e6] — quantization is the caller's policy, the
    engine-side-transcendental rule). BH then needs NO floats at all:
    with ranks i over ascending p and m hypotheses, the step-up
    condition p_(i) ≤ α·i/m becomes

        p_q6 · α_den · m  ≤  1e6 · α_num · i

    — exact DECIMAL(38,0) integer comparison (α as a rational literal,
    never a double); k = max qualifying rank via a 1-row broadcast
    rollup; reject ranks ≤ k. The ranking window runs over the
    hypothesis table, bounded by the number of hypotheses by
    construction (the drift_chisq cardinality argument).
    """
    dec = "decimal(38,0)"
    w = Window.orderBy(F.asc("p_q6"), F.asc("key"))
    wall = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = (df.select(F.col(key_col).alias("key"),
                        F.col(p_q6_col).cast("long").alias("p_q6"))
              .withColumn("rank", F.row_number().over(w))
              .withColumn("__m", F.count(F.lit(1)).over(wall)))
    qualifies = (F.col("p_q6").cast(dec) * F.lit(alpha_den).cast(dec)
                 * F.col("__m").cast(dec)
                 <= F.lit(1_000_000).cast(dec)
                 * F.lit(alpha_num).cast(dec) * F.col("rank").cast(dec))
    q = ranked.withColumn("__q", qualifies)
    kmax = q.agg(F.coalesce(F.max(F.when(F.col("__q"), F.col("rank"))),
                            F.lit(0)).alias("__k"))
    return (q.crossJoin(F.broadcast(kmax))
            .select("key", "p_q6", F.col("rank").cast("int").alias("rank"),
                    (F.col("rank") <= F.col("__k")).alias("rejected"))
            .orderBy("rank"))


def theil_between(df: DataFrame, group_col: str,
                  value_cents: Column) -> DataFrame:
    """Between-group Theil T inequality decomposition.

    Theil's T splits additively into within- and between-group terms;
    the BETWEEN term — Σ_g s_g · ln(s_g / p_g) with s_g the group's
    value share and p_g its population share — is the part computable
    from exact integer aggregates alone (the within term needs
    Σ x·ln x, an order-sensitive double accumulation the determinism
    contract forbids in hashed output). Emitted per group, one row per
    group, each value ONE double chain from exact integers (the
    categorical_profile per-row-contribution contract: the scalar
    between-Theil is a caller-side sum over the bounded group rows).

    Plan: one map-side-combinable hash aggregate on the group key;
    the grand totals are a 1-row broadcast rollup over the group rows
    (order-free BIGINT sums), never a second scan of the input.
    """
    g = (df.select(F.col(group_col).alias("category"),
                   value_cents.cast("long").alias("__c"))
         .groupBy("category")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("__c").alias("sum_cents")))
    tot = g.agg(F.sum("n").alias("__tn"),
                F.sum("sum_cents").alias("__ts"))
    share = (F.col("sum_cents").cast("double")
             / F.col("__ts").cast("double"))
    pop = F.col("n").cast("double") / F.col("__tn").cast("double")
    return (g.crossJoin(F.broadcast(tot))
            .select("category", F.col("n").cast("long").alias("n"),
                    F.col("sum_cents").cast("long").alias("sum_cents"),
                    F.round(share, 6).alias("value_share"),
                    F.round(share * F.log(share / pop), 6)
                    .alias("theil_contrib"))
            .orderBy("category"))


def anova_oneway(df: DataFrame, group_col: str,
                 value_cents: Column) -> DataFrame:
    """One-way ANOVA sum-of-squares decomposition, per-group rows.

    All moments accumulate EXACTLY: counts and Σcents as BIGINT,
    Σcents² in DECIMAL(38,0) with operands cast before multiplying.
    Per group the emitted columns are each ONE double chain from those
    exact integers — mean, the within-group sum of squares
    SSW_g = (n_g·Σx² − (Σx)²)/n_g, and the between-group contribution
    SSB_g = n_g·(μ_g − μ)² — in dollars² (÷10⁴ from cents²). The F
    statistic assembles caller-side from the bounded group rows
    (Σ SSB_g/(k−1)) / (Σ SSW_g/(N−k)) — the categorical_profile
    per-row-contribution contract keeps order-sensitive double sums
    out of hashed output.

    Plan: one hash aggregate on the group key + a 1-row broadcast
    grand-total rollup; no second scan, no window.
    """
    dec = "decimal(38,0)"
    c = value_cents.cast("long")
    g = (df.select(F.col(group_col).alias("category"), c.alias("__c"))
         .groupBy("category")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("__c").alias("s1"),
              F.sum(F.col("__c").cast(dec) * F.col("__c").cast(dec))
              .cast(dec).alias("__s2")))
    tot = g.agg(F.sum("n").alias("__tn"), F.sum("s1").alias("__ts"))
    nd = F.col("n").cast("double")
    mean_c = F.col("s1").cast("double") / nd
    gmean_c = F.col("__ts").cast("double") / F.col("__tn").cast("double")
    ssw = ((F.col("n").cast(dec) * F.col("__s2")
            - F.col("s1").cast(dec) * F.col("s1").cast(dec))
           .cast("double") / nd / F.lit(1e4))
    ssb = nd * (mean_c - gmean_c) * (mean_c - gmean_c) / F.lit(1e4)
    # emitted RAW, not round(x, 6): every value is a FIXED chain of
    # IEEE ops over exact integers (bit-identical cross-engine), while
    # round-to-6 of a ~1e13 double sits BELOW one ulp and the two
    # engines' rounding modes diverge there (the round-6 lesson;
    # levene's ss_within hit ....95 vs ....96 exactly this way)
    return (g.crossJoin(F.broadcast(tot))
            .select("category", F.col("n").cast("long").alias("n"),
                    F.col("s1").cast("long").alias("sum_cents"),
                    (mean_c / F.lit(100.0)).alias("mean"),
                    ssw.alias("ss_within"),
                    ssb.alias("ss_between_contrib"))
            .orderBy("category"))


def _midrank2_by_group(df: DataFrame, group_col: str, value_col: str,
                       lo: float, hi: float, nbins: int) -> DataFrame:
    """Per-(group, value) DOUBLED midrank within the group — the
    mann_whitney_u rank core generalized to a grouping key. Returns
    (group, value, mr2) with mr2 = 2·(# strictly below) + ties + 1, an
    exact integer. The strictly-below prefix uses the same bucketed
    decomposition (per-(group,bucket) cumulative window + an
    nbins-row-per-group offset table), so no data-sized single-task
    window exists at any group cardinality.
    """
    width = (hi - lo) / nbins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bucket = (F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
              .cast("long"))
    pts = (df.select(F.col(group_col).alias("__g"),
                     F.col(value_col).alias("__v"),
                     bucket.alias("__bucket"))
           .groupBy("__g", "__bucket", "__v")
           .agg(F.count(F.lit(1)).alias("__cnt")))
    totals = pts.groupBy("__g", "__bucket").agg(
        F.sum("__cnt").alias("__bc"))
    wb = (Window.partitionBy("__g").orderBy("__bucket")
          .rowsBetween(Window.unboundedPreceding, -1))
    base = totals.select(
        "__g", "__bucket",
        F.coalesce(F.sum("__bc").over(wb), F.lit(0)).alias("__base"))
    wv = (Window.partitionBy("__g", "__bucket").orderBy("__v")
          .rowsBetween(Window.unboundedPreceding, -1))
    # base is (groups x nbins) rows — broadcast, as in mann_whitney_u
    return (pts.join(F.broadcast(base), ["__g", "__bucket"])
            .select("__g", "__v",
                    (2 * (F.col("__base")
                          + F.coalesce(F.sum("__cnt").over(wv), F.lit(0)))
                     + F.col("__cnt") + 1).alias("__mr2")))


def spearman_corr(df: DataFrame, group_col: str, x_col: str, y_col: str,
                  x_range: tuple[float, float], y_range: tuple[float, float],
                  nbins: int = 256,
                  persist_rank_table: bool = True) -> DataFrame:
    """Per-group Spearman rank correlation with exact tie handling.

    ρ = Pearson on midranks; midranks are carried DOUBLED (integers —
    the mann_whitney_u convention) and ρ is scale-invariant, so every
    sum — Σr², Σs², Σr·s — accumulates exactly in DECIMAL(38,0). The
    rank totals Σr2 = Σs2 = n(n+1) are an identity, not a measurement,
    so the final ρ = (n·Srs − (n(n+1)/2)²·4) / √((n·Srr − …)(n·Sss − …))
    is ONE double chain per group from exact integers (√ is IEEE-
    correctly-rounded and may be hashed; round(·,6) emitted).

    Plan: two bucketed rank tables (one per variable, each one shuffle
    on (group, value)), two equi-joins back to the rows on
    (group, value), one exact-DECIMAL hash aggregate per group.
    """
    dec = "decimal(38,0)"
    rows = df.select(F.col(group_col).alias("__g"),
                     F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
    rx = (_midrank2_by_group(df, group_col, x_col, *x_range, nbins=nbins)
          .withColumnsRenamed({"__v": "__x", "__mr2": "__rx2"}))
    # ONE join back (the x ranks), then collapse to the distinct-y
    # grain carrying the x-rank partial moments — the y ranks then
    # derive on THIS table via the same bucketed prefix, so the
    # y-side needs neither a second rank-table scan nor a second
    # row-cardinality join (y is near-unique; that join was the
    # dominant cost: 3.4 s -> 2.0 s at sf0.1).
    lo_y, hi_y = y_range
    width_y = (hi_y - lo_y) / nbins
    raw_y = F.floor((F.col("__y") - F.lit(lo_y)) / F.lit(width_y))
    bucket_y = (F.least(F.greatest(raw_y, F.lit(0)), F.lit(nbins - 1))
                .cast("long"))
    # ONE shared exchange for the whole y-side (the b14 trick): hash
    # partitioning on (g, bucket) is a SUBSET of the aggregate's
    # (g, bucket, y) clustering keys, so it satisfies the groupBy's
    # required distribution AND the rank window's partitioning below —
    # the planner reuses this repartition for both instead of
    # shuffling the near-row-cardinality t1 twice (best-of-3 2.855 →
    # 2.289 s at sf0.1, same-session A/B; variance also collapsed,
    # 2.86-4.12 → 2.29-2.37).
    t1 = (rows.join(rx, ["__g", "__x"])
          .select("__g", bucket_y.alias("__bucket"), "__y", "__rx2")
          .repartition("__g", "__bucket")
          .groupBy("__g", "__bucket", "__y")
          .agg(F.count(F.lit(1)).alias("__cnt"),
               F.sum(F.col("__rx2")).alias("__sx"),
               F.sum(F.col("__rx2").cast(dec) * F.col("__rx2").cast(dec))
               .cast(dec).alias("__sxx_p")))
    if persist_rank_table:
        # r14 (verdict task 2, measured): explicitly materialize the
        # shared y-side rank table instead of relying on AQE
        # ReuseExchange to collapse its two consumers (the bucket
        # totals and the ranked join). Interleaved A/B, noop sink:
        # sf0.1 persist min 1.647 / reuse 2.407 s (6 reps, every
        # persist rep faster); sf1 decade 8.176 vs 8.361 s. The cache
        # also removes the silent-doubling fragility the r13 verdict
        # flagged (a Spark that weakens exchange reuse would recompute
        # the near-row-cardinality subtree); jobs/run 17 -> 15. The
        # earlier "persist measured slower" note (r10 drift_ks lesson)
        # predates the r13 fused single-exchange shape — superseded by
        # this A/B. t1 is the DISTINCT-(g,bucket,y) grain, near row
        # cardinality: MEMORY_AND_DISK so a scale caller spills
        # instead of evicting under pressure; param kept so the
        # decision stays re-measurable per deployment.
        t1 = t1.persist(StorageLevel.MEMORY_AND_DISK)
    totals = t1.groupBy("__g", "__bucket").agg(
        F.sum("__cnt").alias("__bc"))
    wb = (Window.partitionBy("__g").orderBy("__bucket")
          .rowsBetween(Window.unboundedPreceding, -1))
    base = totals.select(
        "__g", "__bucket",
        F.coalesce(F.sum("__bc").over(wb), F.lit(0)).alias("__base"))
    wv = (Window.partitionBy("__g", "__bucket").orderBy("__y")
          .rowsBetween(Window.unboundedPreceding, -1))
    ranked = (t1.join(F.broadcast(base), ["__g", "__bucket"])
              .withColumn("__ry2",
                          2 * (F.col("__base")
                               + F.coalesce(F.sum("__cnt").over(wv),
                                            F.lit(0)))
                          + F.col("__cnt") + 1))
    a = (ranked.groupBy("__g")
         .agg(F.sum("__cnt").alias("n"),
              F.sum(F.col("__ry2").cast(dec) * F.col("__sx").cast(dec))
              .cast(dec).alias("__sxy"),
              F.sum("__sxx_p").cast(dec).alias("__sxx"),
              F.sum(F.col("__ry2").cast(dec) * F.col("__ry2").cast(dec)
                    * F.col("__cnt").cast(dec))
              .cast(dec).alias("__syy")))
    n = F.col("n").cast(dec)
    # Σ(2r) = n(n+1) exactly, for both variables
    s = n * (n + 1).cast(dec)
    numer = (n * F.col("__sxy") - s * s).cast("double")
    dxx = (n * F.col("__sxx") - s * s).cast("double")
    dyy = (n * F.col("__syy") - s * s).cast("double")
    return (a.select(F.col("__g").alias("category"),
                     F.col("n").cast("long").alias("n"),
                     F.round(numer / F.sqrt(dxx * dyy), 6).alias("rho"))
            .orderBy("category"))


def brown_forsythe(df: DataFrame, group_col: str,
                   value_cents: Column) -> DataFrame:
    """Brown-Forsythe robust equal-variance test core: the one-way
    ANOVA sum-of-squares decomposition applied to absolute deviations
    from each group's MEDIAN (Levene's test with the median center —
    the heteroskedasticity check that doesn't assume normality, the
    standard pre-flight before trusting :func:`anova_oneway`'s F).

    Exactness: deviations are carried DOUBLED — 2·median of integer
    cents is itself an exact integer (the sum of the two middle order
    statistics), so z2 = |2·x − 2·median| is exact integer arithmetic
    with no half-cent float anywhere. The emitted decomposition is
    :func:`anova_oneway` verbatim on the z2 grid (sum_cents/mean/SS in
    doubled-cent units — the F ratio is scale-invariant, so the
    caller-side F needs no unit correction).

    Plan: one exact-median aggregate per group (5-ish rows) broadcast
    back onto the rows, then the anova hash aggregate — two passes
    over the input, no window.
    """
    tagged = df.select(F.col(group_col).alias("category"),
                       value_cents.cast("long").alias("__c"))
    med2 = (tagged.groupBy("category")
            .agg(F.expr("percentile(__c, 0.5) * 2").cast("long")
                 .alias("__m2")))
    z2 = (tagged.join(F.broadcast(med2), "category")
          .select("category",
                  F.abs(2 * F.col("__c") - F.col("__m2")).alias("__z2")))
    return anova_oneway(z2, "category", F.col("__z2"))


def kendall_tau_b(df: DataFrame, group_col: str, x_col: str,
                  y_col: str) -> DataFrame:
    """Per-group Kendall τ-b rank correlation for BOUNDED-DOMAIN
    variables — the tie-robust rank association measure (τ-b is what
    scipy.stats.kendalltau computes; Spearman's ρ weights by rank
    distance, τ by pair orientation only).

    Contingency decomposition: collapse the rows to per-(group, x, y)
    cell counts — bounded by |X|·|Y| per group, the caller's contract
    (quantity×discount here is 50×11) — then every pairwise quantity
    is an exact integer from the CELL table, never the rows:

        C  = Σ_{x<x', y<y'} n·n'      (concordant pairs)
        D  = Σ_{x<x', y>y'} n·n'      (discordant)
        n1 = Σ_x t_x(t_x−1)/2         (pairs tied on x)
        n2 = Σ_y t_y(t_y−1)/2, n0 = n(n−1)/2
        τb = (C − D) / √((n0−n1)(n0−n2))   — ONE double chain.

    Plan: one hash aggregate to cells, one within-group cell
    self-join under x<x' (bounded × bounded — broadcast the right
    side), two marginal rollups; DECIMAL(38,0) products keep the pair
    counts exact at any n.
    """
    dec = "decimal(38,0)"
    cells = (df.select(F.col(group_col).alias("__g"),
                       F.col(x_col).alias("__x"),
                       F.col(y_col).alias("__y"))
             .groupBy("__g", "__x", "__y")
             .agg(F.count(F.lit(1)).alias("__n")))
    lhs = cells.select("__g", F.col("__x").alias("__x1"),
                       F.col("__y").alias("__y1"),
                       F.col("__n").alias("__n1"))
    rhs = cells.select("__g", F.col("__x").alias("__x2"),
                       F.col("__y").alias("__y2"),
                       F.col("__n").alias("__n2"))
    prod = F.col("__n1").cast(dec) * F.col("__n2").cast(dec)
    cd = (lhs.join(F.broadcast(rhs), "__g")
          .filter(F.col("__x1") < F.col("__x2"))
          .groupBy("__g")
          .agg(F.sum(F.when(F.col("__y1") < F.col("__y2"), prod)
                     .otherwise(F.lit(0).cast(dec))).cast(dec)
               .alias("__conc"),
               F.sum(F.when(F.col("__y1") > F.col("__y2"), prod)
                     .otherwise(F.lit(0).cast(dec))).cast(dec)
               .alias("__disc")))
    tx = (cells.groupBy("__g", "__x").agg(F.sum("__n").alias("__t"))
          .groupBy("__g")
          .agg((F.sum(F.col("__t").cast(dec)
                      * (F.col("__t") - 1).cast(dec)) / 2).cast(dec)
               .alias("__n1t")))
    ty = (cells.groupBy("__g", "__y").agg(F.sum("__n").alias("__t"))
          .groupBy("__g")
          .agg((F.sum(F.col("__t").cast(dec)
                      * (F.col("__t") - 1).cast(dec)) / 2).cast(dec)
               .alias("__n2t")))
    tot = cells.groupBy("__g").agg(F.sum("__n").alias("n"))
    n0 = (F.col("n").cast(dec) * (F.col("n") - 1).cast(dec) / 2).cast(dec)
    denom = ((n0 - F.col("__n1t")) * (n0 - F.col("__n2t"))).cast("double")
    return (tot.join(cd, "__g").join(tx, "__g").join(ty, "__g")
            .select(F.col("__g").alias("category"),
                    F.col("n").cast("long").alias("n"),
                    F.col("__conc").cast("long").alias("concordant"),
                    F.col("__disc").cast("long").alias("discordant"),
                    F.round((F.col("__conc") - F.col("__disc"))
                            .cast("double") / F.sqrt(denom), 6)
                    .alias("tau_b"))
            .orderBy("category"))


def kruskal_wallis(df: DataFrame, group_col: str, value_col: str,
                   lo: float, hi: float, nbins: int = 256) -> DataFrame:
    """Kruskal-Wallis rank-sum decomposition, per-group rows — the
    nonparametric one-way ANOVA (H test) on POOLED midranks, the
    k-sample generalization of :func:`mann_whitney_u`.

    Midranks are pooled over ALL groups (one constant-group call into
    the bucketed ``_midrank2_by_group`` core — no data-sized
    single-task window) and carried DOUBLED, so the per-group rank
    sum ``rank_sum2`` = 2·R_g is an exact BIGINT. Emitted per group:
    n, rank_sum2, and ``h_contrib`` = R_g²/n_g = rank_sum2²/(4·n_g)
    as ONE double chain from the exact integers. The caller assembles
    H = 12/(N(N+1))·Σ h_contrib − 3(N+1) and the tie correction
    1 − Σ(t³−t)/(N³−N) over the bounded group rows (the anova_oneway
    per-row-contribution contract; the tie sum ``tie3`` is exact and
    emitted on every row for that assembly).

    Plan: one bucketed rank build (shuffle on value), one value-keyed
    join back, one hash aggregate per group + a 1-row broadcast tie
    rollup.
    """
    dec = "decimal(38,0)"
    pooled = df.select(F.lit(0).alias("__all"),
                       F.col(group_col).alias("category"),
                       F.col(value_col).alias("__v"))
    mr = _midrank2_by_group(pooled, "__all", "__v", lo, hi, nbins)
    joined = pooled.join(mr.select(F.col("__v"), F.col("__mr2")), "__v")
    g = (joined.groupBy("category")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("__mr2").alias("rank_sum2")))
    ties = (pooled.groupBy("__v").agg(F.count(F.lit(1)).alias("__t"))
            .agg(F.sum(F.col("__t").cast(dec) * F.col("__t").cast(dec)
                       * F.col("__t").cast(dec)
                       - F.col("__t").cast(dec)).cast(dec)
                 .alias("__tie3")))
    h_contrib = (F.col("rank_sum2").cast(dec)
                 * F.col("rank_sum2").cast(dec)).cast("double") \
        / (F.lit(4.0) * F.col("n").cast("double"))
    return (g.crossJoin(F.broadcast(ties))
            .select("category", F.col("n").cast("long").alias("n"),
                    F.col("rank_sum2").cast("long").alias("rank_sum2"),
                    h_contrib.alias("h_contrib"),
                    F.col("__tie3").cast("long").alias("tie3"))
            .orderBy("category"))


def paired_ttest(df: DataFrame, group_col: str, x_cents: Column,
                 y_cents: Column) -> DataFrame:
    """Paired-sample t statistic per group: the within-unit
    differences d = x − y (exact integer cents) feed exact moments
    (n, Σd as BIGINT, Σd² as DECIMAL(38,0)); the t statistic is ONE
    double chain:

        t = Σd·√(n−1) / √(n·Σd² − (Σd)²)

    (algebraically mean_d / (sd/√n) with every cancellation done in
    exact arithmetic first — the welch_ttest discipline applied to
    the paired design, which ab_welch_ttest's independent-samples
    form cannot express).

    Plan: ONE hash aggregate on the group key; no join, no window.
    """
    dec = "decimal(38,0)"
    d = (x_cents.cast("long") - y_cents.cast("long"))
    g = (df.select(F.col(group_col).alias("category"), d.alias("__d"))
         .groupBy("category")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("__d").alias("sum_d_cents"),
              F.sum(F.col("__d").cast(dec) * F.col("__d").cast(dec))
              .cast(dec).alias("__s2")))
    nd = F.col("n").cast("double")
    denom = (F.col("n").cast(dec) * F.col("__s2")
             - F.col("sum_d_cents").cast(dec)
             * F.col("sum_d_cents").cast(dec)).cast("double")
    t = (F.col("sum_d_cents").cast("double") * F.sqrt(nd - F.lit(1.0))
         / F.sqrt(denom))
    return (g.select("category", F.col("n").cast("long").alias("n"),
                     F.col("sum_d_cents").cast("long")
                     .alias("sum_d_cents"),
                     F.round(t, 6).alias("t_stat"))
            .orderBy("category"))


def ols_two_factor(df: DataFrame, group_col: str, x1: Column,
                   x2: Column, y_cents: Column) -> DataFrame:
    """Two-predictor ordinary least squares per group, closed form —
    group_linear_regression generalized to ŷ = a + b1·x1 + b2·x2 via
    the 2×2 centered normal equations (Cramer's rule):

        S11 = n·Σx1² − (Σx1)²   S12 = n·Σx1x2 − Σx1·Σx2   (…S22, S1y,
        S2y analogous)          det = S11·S22 − S12²
        b1 = (S1y·S22 − S2y·S12)/det   b2 = (S2y·S11 − S1y·S12)/det
        a  = (Σy − b1·Σx1 − b2·Σx2)/n

    Every moment accumulates EXACTLY (BIGINT / DECIMAL(38,0), operands
    cast before multiplying); each coefficient is ONE double chain
    from exact decimals. Predictors must be integer-valued by
    contract (cents/counts — cast upstream); DECIMAL(38,0) holds the
    cross products to ~sf1 scale for cent-ranged inputs (beyond that,
    rescale units upstream; the moments themselves never overflow
    first — they're the smaller terms).

    Plan: ONE hash aggregate on the group key; coefficient assembly
    is per-row arithmetic on the bounded group table. The standard
    "elasticity with a control variable" shape (price ~ quantity +
    discount here).
    """
    dec = "decimal(38,0)"
    rows = df.select(F.col(group_col).alias("category"),
                     x1.cast("long").alias("__x1"),
                     x2.cast("long").alias("__x2"),
                     y_cents.cast("long").alias("__y"))

    def dd(a, b):
        return F.sum(F.col(a).cast(dec) * F.col(b).cast(dec)).cast(dec)

    g = (rows.groupBy("category")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("__x1").alias("s1"), F.sum("__x2").alias("s2"),
              F.sum("__y").alias("sy"),
              dd("__x1", "__x1").alias("s11"),
              dd("__x2", "__x2").alias("s22"),
              dd("__x1", "__x2").alias("s12"),
              dd("__x1", "__y").alias("s1y"),
              dd("__x2", "__y").alias("s2y")))
    n = F.col("n").cast(dec)
    c11 = (n * F.col("s11") - F.col("s1").cast(dec)
           * F.col("s1").cast(dec)).cast(dec)
    c22 = (n * F.col("s22") - F.col("s2").cast(dec)
           * F.col("s2").cast(dec)).cast(dec)
    c12 = (n * F.col("s12") - F.col("s1").cast(dec)
           * F.col("s2").cast(dec)).cast(dec)
    c1y = (n * F.col("s1y") - F.col("s1").cast(dec)
           * F.col("sy").cast(dec)).cast(dec)
    c2y = (n * F.col("s2y") - F.col("s2").cast(dec)
           * F.col("sy").cast(dec)).cast(dec)
    # determinant and numerators as DOUBLES: the decimal products
    # c1y·c22 would overflow 38 digits at large n; each factor is an
    # exact decimal -> correctly-rounded double cast -> one fixed
    # IEEE chain per coefficient (the anova emission rule)
    det = (c11.cast("double") * c22.cast("double")
           - c12.cast("double") * c12.cast("double"))
    b1 = ((c1y.cast("double") * c22.cast("double")
           - c2y.cast("double") * c12.cast("double")) / det)
    b2 = ((c2y.cast("double") * c11.cast("double")
           - c1y.cast("double") * c12.cast("double")) / det)
    a = ((F.col("sy").cast("double") - b1 * F.col("s1").cast("double")
          - b2 * F.col("s2").cast("double")) / F.col("n").cast("double"))
    return (g.select("category", F.col("n").cast("long").alias("n"),
                     b1.alias("beta1"), b2.alias("beta2"),
                     a.alias("intercept"))
            .orderBy("category"))


def randomized_response(df: DataFrame, group_col: str,
                        truth: Column, key: Column,
                        p256: int = 192) -> DataFrame:
    """Warner randomized response with a DETERMINISTIC md5 coin —
    local differential privacy for a sensitive boolean, made
    oracle-checkable the md5-twin way (a real deployment derives the
    coin from a secret seed; the mechanism and the debiasing are
    identical).

    Each row reports its true bit iff its coin (first byte of
    md5('rr|' || key), uniform on [0,256)) lands below ``p256``,
    else the INVERTED bit — so p = p256/256 and any single report is
    (log(p/(1−p)))-LDP deniable. The per-group debiased estimate
    inverts the expectation exactly:

        E[yes_rate] = p·π + (1−p)(1−π)
        π̂ = (256·noisy_yes/n − (256−p256)) / (2·p256 − 256)·n⁻¹…

    carried as one double chain from exact integers: est_true_yes =
    (256·noisy_yes − (256−p256)·n) / (2·p256 − 256).

    Plan: pure codegen per-row coin + ONE hash aggregate; no shuffle
    beyond the group-by.
    """
    if not 128 < p256 <= 256:
        raise ValueError("p256 must be in (128, 256] (p > 1/2)")
    coin = F.conv(F.substring(
        F.md5(F.concat(F.lit("rr|"), key.cast("string"))), 1, 2),
        16, 10).cast("int")
    t = truth.cast("boolean")
    reported = F.when(coin < F.lit(p256), t).otherwise(~t)
    g = (df.select(F.col(group_col).alias("category"),
                   reported.cast("long").alias("__r"))
         .groupBy("category")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("__r").alias("noisy_yes")))
    est = ((F.lit(256.0) * F.col("noisy_yes").cast("double")
            - F.lit(float(256 - p256)) * F.col("n").cast("double"))
           / F.lit(float(2 * p256 - 256)))
    return (g.select("category", F.col("n").cast("long").alias("n"),
                     F.col("noisy_yes").cast("long").alias("noisy_yes"),
                     F.round(est, 6).alias("est_true_yes"))
            .orderBy("category"))


def wilcoxon_signed_rank(df: DataFrame, group_col: str, x_cents: Column,
                         y_cents: Column, hi_abs: float,
                         nbins: int = 256) -> DataFrame:
    """Wilcoxon signed-rank test core per group — the nonparametric
    twin of :func:`paired_ttest` (matched pairs, no normality
    assumption; Mann-Whitney handles independent samples, this is the
    PAIRED design).

    Zero differences drop (the standard Wilcoxon treatment); |d| gets
    DOUBLED midranks within the group via the bucketed
    ``_midrank2_by_group`` core (no data-sized single-task window);
    ``w2_pos`` = Σ mr2 over positive differences = 2·W⁺ is an exact
    BIGINT. The normal-approximation z assembles as ONE double chain
    from exact integers:

        z = (2·W2 − n(n+1)) / √((2n(n+1)(2n+1) − Σ(t³−t)) / 3)

    (the classic (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24 − T/48) with every
    cancellation done in integer arithmetic first; T = tie cubes over
    the |d| multiset).

    Plan: one projection, one bucketed rank build (shuffle on
    (group, |d|)), one join back, one hash aggregate per group.
    """
    dec = "decimal(38,0)"
    d = x_cents.cast("long") - y_cents.cast("long")
    rows = (df.select(F.col(group_col).alias("__g"), d.alias("__d"))
            .filter(F.col("__d") != 0)
            .withColumn("__ad", F.abs(F.col("__d"))))
    mr = _midrank2_by_group(rows, "__g", "__ad", 0.0, hi_abs, nbins)
    mr = mr.withColumnsRenamed({"__v": "__ad", "__mr2": "__mr2"})
    j = rows.join(mr, ["__g", "__ad"])
    ties = (rows.groupBy("__g", "__ad").agg(F.count(F.lit(1)).alias("__t"))
            .groupBy("__g")
            .agg(F.sum(F.col("__t").cast(dec) * F.col("__t").cast(dec)
                       * F.col("__t").cast(dec) - F.col("__t").cast(dec))
                 .cast(dec).alias("__t3")))
    g = (j.groupBy("__g")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.when(F.col("__d") > 0, F.col("__mr2"))
                    .otherwise(F.lit(0))).alias("w2_pos")))
    n = F.col("n").cast(dec)
    num = (F.lit(2).cast(dec) * F.col("w2_pos").cast(dec)
           - n * (n + 1).cast(dec)).cast(dec)
    a = (F.lit(2).cast(dec) * n * (n + 1).cast(dec)
         * (F.lit(2).cast(dec) * n + 1).cast(dec)
         - F.col("__t3")).cast(dec)
    z = num.cast("double") / F.sqrt(a.cast("double") / F.lit(3.0))
    return (g.join(ties, "__g")
            .select(F.col("__g").alias("category"),
                    F.col("n").cast("long").alias("n"),
                    F.col("w2_pos").cast("long").alias("w2_pos"),
                    F.col("__t3").cast("long").alias("tie3"),
                    F.round(z, 6).alias("z_stat"))
            .orderBy("category"))


def friedman_test(df: DataFrame, block_col: str, treatment_col: str,
                  value_col: str) -> DataFrame:
    """Friedman test core — the repeated-measures completion of the
    rank family (:func:`kruskal_wallis` compares INDEPENDENT groups;
    Friedman ranks WITHIN each block, so block-level nuisance
    variation cancels — the nonparametric two-way layout).

    Input grain: one row per (block, treatment) with an integer
    value (cents/counts — aggregate upstream). Blocks missing any of
    the k global treatments drop (the complete-block design
    requirement). Within each complete block the k values get DOUBLED
    midranks (exact integers, ties averaged), so the per-treatment
    rank sum ``rank_sum2`` = 2·R_j is an exact BIGINT. Emitted per
    treatment: n_blocks, k, rank_sum2, ``q_contrib`` = R_j² =
    rank_sum2²/4 as ONE double chain, and the exact within-block tie
    cube total ``tie3`` = Σ_blocks Σ_v (t³−t) on every row. The caller
    assembles Q = [12/(n·k(k+1))]·Σ q_contrib − 3n(k+1) and the tie
    correction C = 1 − tie3/(n·k(k²−1)) over the k bounded rows (the
    kruskal_wallis per-row-contribution contract).

    Plan: one hash aggregate to (block, value) cells, one within-block
    cumulative window (bounded: ≤ k rows per block by the input
    grain), one join back, one hash aggregate per treatment + a 1-row
    broadcast k/tie rollup. No data-sized single-task stage.
    """
    dec = "decimal(38,0)"
    rows = df.select(F.col(block_col).alias("__b"),
                     F.col(treatment_col).alias("__tr"),
                     F.col(value_col).cast("long").alias("__v"))
    k_row = rows.agg(
        F.countDistinct("__tr").cast("long").alias("__k"))
    # DISTINCT treatments, not row count: a block with a duplicated
    # treatment and a missing one has count(1) == k but is NOT a
    # complete block — countDistinct enforces the one-row-per-
    # (block, treatment) grain instead of assuming it.
    complete = (rows.groupBy("__b")
                .agg(F.countDistinct("__tr").alias("__bn"))
                .crossJoin(F.broadcast(k_row))
                .filter(F.col("__bn") == F.col("__k"))
                .select("__b", "__k"))
    rows = rows.join(complete, "__b")
    tv = (rows.groupBy("__b", "__v").agg(F.count(F.lit(1)).alias("__t")))
    wb = (Window.partitionBy("__b").orderBy("__v")
          .rowsBetween(Window.unboundedPreceding, -1))  # ≤ k rows/block
    mr = tv.withColumn(
        "__mr2",
        F.lit(2) * F.coalesce(F.sum("__t").over(wb), F.lit(0))
        + F.col("__t") + 1)
    ties = tv.agg(F.sum(F.col("__t").cast(dec) * F.col("__t").cast(dec)
                        * F.col("__t").cast(dec) - F.col("__t").cast(dec))
                  .cast(dec).alias("__tie3"))
    j = rows.join(mr.select("__b", "__v", "__mr2"), ["__b", "__v"])
    g = (j.groupBy("__tr")
         .agg(F.count(F.lit(1)).alias("n_blocks"),
              F.sum("__mr2").alias("rank_sum2"),
              F.max("__k").alias("k")))
    q_contrib = (F.col("rank_sum2").cast(dec)
                 * F.col("rank_sum2").cast(dec)).cast("double") / F.lit(4.0)
    return (g.crossJoin(F.broadcast(ties))
            .select(F.col("__tr").alias("treatment"),
                    F.col("n_blocks").cast("long").alias("n_blocks"),
                    F.col("k").cast("long").alias("k"),
                    F.col("rank_sum2").cast("long").alias("rank_sum2"),
                    q_contrib.alias("q_contrib"),
                    F.col("__tie3").cast("long").alias("tie3"))
            .orderBy("treatment"))


def sprt_boundary(df: DataFrame, group_col: str, order_cols: list[str],
                  success: Column, llr_pos: float, llr_neg: float,
                  upper: float, lower: float) -> DataFrame:
    """Wald's sequential probability ratio test per group — the
    SEQUENTIAL member of the A/B family (:func:`ab_power_mde` sizes a
    fixed-horizon test; SPRT decides as the stream arrives, with the
    expected sample size provably minimal among tests of the same
    error rates).

    For a Bernoulli stream the cumulative log-likelihood ratio after
    n observations is linear in the exact counts:

        llr(n) = n₁·ln(p₁/p₀) + n₀·ln((1−p₁)/(1−p₀))

    so the scan carries only two window-cumulative BIGINTs and the
    llr is ONE double chain per row (the caller passes the two log
    constants and the ln((1−β)/α) / ln(β/(1−α)) boundaries as
    LITERAL doubles — never recomputed engine-side, the portability
    rule for ln-crossing values). Emitted per group: the total stream
    length, the FIRST boundary crossing (its index, success count,
    llr, and the H1/H0 decision) or NULLs when the stream never
    leaves the continuation region.

    Plan: one per-group cumulative window (the stream scan —
    sequential BY DEFINITION; the per-group partition is the
    parallelism grain, as for any ordered replay), one filtered
    min-by, one join back to the per-group totals.
    """
    rows = (df.select(F.col(group_col).alias("__g"),
                      *[F.col(c) for c in order_cols],
                      success.cast("long").alias("__y")))
    w = (Window.partitionBy("__g").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = (rows.withColumn("__i", F.count(F.lit(1)).over(w))
           .withColumn("__n1", F.sum("__y").over(w)))
    llr = (F.col("__n1").cast("double") * F.lit(llr_pos)
           + (F.col("__i") - F.col("__n1")).cast("double")
           * F.lit(llr_neg))
    crossed = (cum.withColumn("__llr", llr)
               .filter((F.col("__llr") >= F.lit(upper))
                       | (F.col("__llr") <= F.lit(lower)))
               .groupBy("__g")
               .agg(F.min_by(F.struct("__n1", "__llr"), "__i")
                    .alias("__at"), F.min("__i").alias("cross_n")))
    totals = rows.groupBy("__g").agg(F.count(F.lit(1)).alias("n_total"))
    return (totals.join(crossed, "__g", "left")
            .select(F.col("__g").alias("category"),
                    F.col("n_total").cast("long").alias("n_total"),
                    F.col("cross_n").cast("long").alias("cross_n"),
                    F.col("__at.__n1").cast("long").alias("n1_at_cross"),
                    F.round(F.col("__at.__llr"), 6).alias("llr_at_cross"),
                    F.when(F.col("__at.__llr") >= F.lit(upper), "H1")
                    .when(F.col("__at.__llr") <= F.lit(lower), "H0")
                    .alias("decision"))
            .orderBy("category"))


def cochran_q(df: DataFrame, block_col: str, treatment_col: str,
              success_col: str) -> DataFrame:
    """Cochran's Q test core — the BINARY-outcome member of the
    repeated-measures family (:func:`friedman_test` ranks ordinal
    values within blocks; Cochran's Q is its 0/1 specialization, and
    McNemar's test is the k=2 case of THIS — the family closes).

    Input grain: one row per (block, treatment) with a 0/1 outcome;
    blocks missing any of the k global treatments drop (complete-block
    design). With column totals C_j, row totals R_b and grand total T,
    multiplying the textbook form through by k leaves every moment an
    exact integer:

        Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_b²)   — ONE double chain.

    Emitted per treatment: c_j (exact successes), plus the shared
    n_blocks / k / t_total / sum_rb2 / q_stat on every row (the
    kruskal_wallis per-row assembly contract; Q is identical on all k
    rows by construction).

    Plan: the friedman_test shape minus the rank window — two hash
    aggregates (column totals, row totals), a complete-block
    semi-join, and two 1-row broadcast rollups. No window at all.
    """
    dec = "decimal(38,0)"
    rows = df.select(F.col(block_col).alias("__b"),
                     F.col(treatment_col).alias("__tr"),
                     F.col(success_col).cast("long").alias("__x"))
    k_row = rows.agg(F.countDistinct("__tr").cast("long").alias("__k"))
    # DISTINCT treatments (the friedman_test complete-block rule): a
    # duplicated-treatment block must not pass as complete on row
    # count alone.
    complete = (rows.groupBy("__b")
                .agg(F.countDistinct("__tr").alias("__bn"))
                .crossJoin(F.broadcast(k_row))
                .filter(F.col("__bn") == F.col("__k"))
                .select("__b", "__k"))
    rows = rows.join(complete.select("__b"), "__b")
    cj = (rows.groupBy("__tr")
          .agg(F.count(F.lit(1)).alias("n_blocks"),
               F.sum("__x").alias("c_j")))
    rb = (rows.groupBy("__b").agg(F.sum("__x").alias("__r")))
    tot = rb.agg(F.sum("__r").cast("long").alias("__t"),
                 F.sum(F.col("__r").cast(dec) * F.col("__r").cast(dec))
                 .cast(dec).alias("__srb2"))
    cstats = cj.agg(F.sum(F.col("c_j").cast(dec) * F.col("c_j").cast(dec))
                    .cast(dec).alias("__scj2"))
    kk = F.col("__k").cast(dec)
    q_num = ((kk - 1) * (kk * F.col("__scj2")
                         - F.col("__t").cast(dec)
                         * F.col("__t").cast(dec))).cast(dec)
    q_den = (kk * F.col("__t").cast(dec) - F.col("__srb2")).cast(dec)
    return (cj.crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(cstats))
            .crossJoin(F.broadcast(k_row))
            .select(F.col("__tr").alias("treatment"),
                    F.col("n_blocks").cast("long").alias("n_blocks"),
                    F.col("__k").cast("long").alias("k"),
                    F.col("c_j").cast("long").alias("c_j"),
                    F.col("__t").cast("long").alias("t_total"),
                    F.col("__srb2").cast("long").alias("sum_rb2"),
                    F.round(q_num.cast("double")
                            / q_den.cast("double"), 6).alias("q_stat"))
            .orderBy("treatment"))


def runs_test(df: DataFrame, group_col: str, order_cols: list[str],
              flag: Column) -> DataFrame:
    """Wald–Wolfowitz runs test per group — the randomness check for
    an ordered binary stream (too FEW runs ⇒ clustering/trend, too
    MANY ⇒ alternation; the sequential companion of
    :func:`sprt_boundary`, which assumes the very independence this
    test checks).

    The run count R = 1 + Σ 1[y_i ≠ y_{i−1}] and the 1-counts n₁ are
    exact window integers; with n₀ = n − n₁ and the classic moments
    (μ = 2n₁n₀/n + 1, σ² = 2n₁n₀(2n₁n₀−n)/(n²(n−1))) every
    cancellation is done in DECIMAL(38,0) first and z is ONE double
    chain:

        z = (R·n − 2n₁n₀ − n) / √(2n₁n₀·(2n₁n₀−n) / (n−1))

    Degenerate streams (all 0s or all 1s ⇒ σ = 0) emit NULL z.

    Plan: one per-group lag window (the ordered scan — sequential by
    definition, per-group partition parallelism) + one hash aggregate.
    """
    dec = "decimal(38,0)"
    rows = (df.select(F.col(group_col).alias("__g"),
                      *[F.col(c) for c in order_cols],
                      flag.cast("long").alias("__y")))
    w = Window.partitionBy("__g").orderBy(*order_cols)
    flagged = rows.withColumn(
        "__chg", (F.col("__y") != F.lag("__y", 1).over(w)).cast("long"))
    g = (flagged.groupBy("__g")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("__y").alias("n1"),
              (F.coalesce(F.sum("__chg"), F.lit(0)) + 1).alias("runs")))
    n = F.col("n").cast(dec)
    p = (F.lit(2).cast(dec) * F.col("n1").cast(dec)
         * (F.col("n") - F.col("n1")).cast(dec)).cast(dec)  # 2·n1·n0
    num = (F.col("runs").cast(dec) * n - p - n).cast(dec)
    var_num = (p * (p - n)).cast(dec)
    z = F.when(
        var_num > 0,
        num.cast("double") / F.sqrt(var_num.cast("double")
                                    / (n - 1).cast("double")))
    return (g.select(F.col("__g").alias("category"),
                     F.col("n").cast("long").alias("n"),
                     F.col("n1").cast("long").alias("n1"),
                     F.col("runs").cast("long").alias("runs"),
                     F.round(z, 6).alias("z_stat"))
            .orderBy("category"))


def jonckheere_terpstra(df: DataFrame, group_col: str,
                        value_col: str) -> DataFrame:
    """Jonckheere–Terpstra trend test for ORDERED alternatives across k
    groups (Jonckheere '54): J = Σ_{i<j} U_ij where U_ij counts pairs
    (x ∈ group_i, y ∈ group_j) with x < y, ties at ½ — the test that
    replaces Kruskal–Wallis when the groups carry a natural order
    (dose levels, priorities) and power against monotone trend is the
    point. Groups are ordered by the natural sort of ``group_col``.

    Doubled-count contract (the kendall_tau_b / kruskal_wallis move):
    u2_pair = 2·U_ij stays integer under half-ties — a strict pair
    contributes 2, a tied pair 1. The normal approximation uses the
    classic NO-TIE moments (Hollander & Wolfe eq. 6.19; the tie
    correction is omitted by declared contract — ties only tighten
    the true variance, so |z| is conservative):

        E[2J]   = (N² − Σ n_i²) / 2          (exact integer)
        Var(J)  = [N²(2N+3) − Σ n_i²(2n_i+3)] / 72
        z       = (2J − E[2J]) / (2·√Var(J))  — ONE double chain.

    Emitted: one row per ordered group pair (group_lo < group_hi) with
    its exact u2 = 2·U_ij, plus the shared j2 / mu2 / z_stat repeated
    on every row (the per-row assembly contract). Requires a
    bounded-cardinality ``value_col`` domain: the pair sums run over a
    (group, value)-cell contingency self-join — |cells|² candidate
    pairs, never row × row — so |values| must be small (the kendall
    cell rule). All moments accumulate in DECIMAL(38,0).

    Plan: one hash aggregate to cells, one broadcast cell self-join,
    two 1-row broadcast rollups. No window, no data-sized shuffle
    beyond the cell aggregate.
    """
    dec = "decimal(38,0)"
    cells = (df.select(F.col(group_col).alias("__g"),
                       F.col(value_col).cast("long").alias("__v"))
             .groupBy("__g", "__v")
             .agg(F.count(F.lit(1)).alias("__t")))
    lhs = cells.select(F.col("__g").alias("__g1"),
                       F.col("__v").alias("__v1"),
                       F.col("__t").alias("__t1"))
    rhs = cells.select(F.col("__g").alias("__g2"),
                       F.col("__v").alias("__v2"),
                       F.col("__t").alias("__t2"))
    prod = F.col("__t1").cast(dec) * F.col("__t2").cast(dec)
    pair = (lhs.join(F.broadcast(rhs), F.col("__g1") < F.col("__g2"))
            .groupBy(F.col("__g1").alias("group_lo"),
                     F.col("__g2").alias("group_hi"))
            .agg(F.sum(F.when(F.col("__v1") < F.col("__v2"),
                              F.lit(2).cast(dec) * prod)
                       .when(F.col("__v1") == F.col("__v2"), prod)
                       .otherwise(F.lit(0).cast(dec))).cast(dec)
                 .alias("__u2")))
    gs = (cells.groupBy("__g").agg(F.sum("__t").alias("__n")))
    nn = F.col("__n").cast(dec)
    tot = gs.agg(
        F.sum("__n").cast(dec).alias("__N"),
        F.sum(nn * nn).cast(dec).alias("__sn2"),
        F.sum(nn * nn * (2 * nn + 3)).cast(dec).alias("__sn23"))
    j_row = pair.agg(F.sum("__u2").cast(dec).alias("__j2"))
    N = F.col("__N")
    # all-integer cancellation first (2·mu2 = N² − Σn² is exact and
    # even), then ONE double chain: z = (2j2 − 2mu2) / (4·√(var/72)).
    mu2x2 = (N * N - F.col("__sn2")).cast(dec)
    varnum = (N * N * (2 * N + 3) - F.col("__sn23")).cast(dec)
    znum = (2 * F.col("__j2") - mu2x2).cast(dec)
    z = znum.cast("double") / (
        F.lit(4.0) * F.sqrt(varnum.cast("double") / F.lit(72.0)))
    return (pair.crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(j_row))
            .select("group_lo", "group_hi",
                    F.col("__u2").cast("long").alias("u2"),
                    F.col("__j2").cast("long").alias("j2"),
                    F.expr("CAST((__N * __N - __sn2) AS DECIMAL(38,0)) "
                           "DIV 2").cast("long").alias("mu2"),
                    z.alias("z_stat"))
            .orderBy("group_lo", "group_hi"))


def mood_median_test(df: DataFrame, group_col: str,
                     value_col: str) -> DataFrame:
    """Mood's median test across k groups (Mood '50): the grand LOWER
    median M (order statistic at position (N+1) DIV 2 — never an
    average, so it stays an exact input value), per-group counts of
    values strictly above M, and the k×2 chi-square against the
    pooled above-fraction. The margin-cancelled identity keeps it
    exact until the last step:

        χ² = Σ_i (a_i·N − n_i·A)² / (n_i·A·B)

    with A = Σ a_i above, B = N − A — per-group terms are ONE double
    chain each over exact DECIMAL(38,0) cross-products, then
    integer-quantized to a 10⁻⁶ grid BEFORE the cross-group sum (the
    vocab_logrank rule: never hash an order-sensitive double sum), so
    chi2 = Σ floor(term·10⁶) / 10⁶ is order-insensitive.

    Requires a bounded ``value_col`` domain: the grand median comes
    from a cumulative window over the value histogram (≤ |values|
    rows — the bounded-global-window class), never a data-sized sort.

    Emitted per group: (category, n, above, median, chi2) with median
    and chi2 shared across rows; degenerate margins (A = 0 or B = 0)
    emit NULL chi2 on both engines.
    """
    dec = "decimal(38,0)"
    rows = df.select(F.col(group_col).alias("__g"),
                     F.col(value_col).cast("long").alias("__v"))
    hist = rows.groupBy("__v").agg(F.count(F.lit(1)).alias("__t"))
    wcum = (Window.orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, 0))  # ≤ |values| rows
    n_row = rows.agg(F.count(F.lit(1)).alias("__ntot"))
    med = (hist.withColumn("__cum", F.sum("__t").over(wcum))
           .crossJoin(F.broadcast(n_row))
           .filter(F.col("__cum") >= F.expr("(__ntot + 1) DIV 2"))
           .agg(F.min("__v").alias("__med")))
    g = (rows.crossJoin(F.broadcast(med))
         .groupBy("__g")
         .agg(F.count(F.lit(1)).alias("__n"),
              F.sum(F.when(F.col("__v") > F.col("__med"), 1)
                    .otherwise(0)).alias("__a"),
              F.max("__med").alias("__medv")))
    tot = g.agg(F.sum("__n").cast(dec).alias("__tn"),
                F.sum("__a").cast(dec).alias("__ta"))
    gt = g.crossJoin(F.broadcast(tot)).withColumn(
        "__tb", (F.col("__tn") - F.col("__ta")).cast(dec))
    num = (F.col("__a").cast(dec) * F.col("__tn")
           - F.col("__n").cast(dec) * F.col("__ta"))
    den = (F.col("__n").cast(dec) * F.col("__ta") * F.col("__tb")).cast(dec)
    term = (num * num).cast(dec).cast("double") / den.cast("double")
    gq = gt.withColumn(
        "__grid",
        F.when(den > 0, F.floor(term * F.lit(1e6)).cast("long")))
    chi = gq.agg(F.sum("__grid").alias("__chigrid"),
                 F.count(F.lit(1)).alias("__k"),
                 F.sum(F.when(F.col("__grid").isNull(), 1).otherwise(0))
                 .alias("__ndeg"))
    chi2 = F.when(F.col("__ndeg") == 0,
                  F.col("__chigrid").cast("double") / F.lit(1e6))
    return (gq.crossJoin(F.broadcast(chi))
            .select(F.col("__g").alias("category"),
                    F.col("__n").cast("long").alias("n"),
                    F.col("__a").cast("long").alias("above"),
                    F.col("__medv").cast("long").alias("median"),
                    chi2.alias("chi2"))
            .orderBy("category"))
