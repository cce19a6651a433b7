"""Property-based tests (hypothesis) for the engine's pure contracts.

Pure-Python properties run at full example counts; properties that
need a Spark job batch all generated data into ONE DataFrame per
example and cap examples, keeping the suite fast.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_and_analytics_etl_spark.operators.sampling import _hex_threshold


class TestHexThreshold:
    @given(st.floats(min_value=0.0, max_value=1.0))
    def test_threshold_is_monotone_in_frac(self, frac):
        lower = _hex_threshold(max(0.0, frac - 1 / 256))
        assert _hex_threshold(frac) >= lower

    @given(st.integers(min_value=0, max_value=256))
    def test_quantization_roundtrip(self, k):
        t = _hex_threshold(k / 256)
        if k >= 256:
            assert t == "g0"  # sorts after every 2-hex bucket
        else:
            assert int(t, 16) == k

    @given(st.floats(min_value=0.0, max_value=1.0))
    def test_threshold_sorts_correctly_vs_all_buckets(self, frac):
        # strict '<' against the threshold keeps exactly round(256*frac)
        # of the 256 equally-likely buckets
        t = _hex_threshold(frac)
        kept = sum(1 for b in range(256) if format(b, "02x") < t)
        assert kept == round(frac * 256)


def _morton_decode(z: int, n: int, bits: int) -> tuple[int, ...]:
    vals = [0] * n
    for b in range(bits):
        for i in range(n):
            vals[i] |= ((z >> (b * n + i)) & 1) << b
    return tuple(vals)


class TestMortonKey:
    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 255), st.integers(0, 255)),
                    min_size=1, max_size=50, unique=True))
    def test_interleave_is_bijective(self, pairs):
        from data_and_analytics_etl_spark.operators.layout import zorder_key
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("prop-morton")
        df = spark.createDataFrame(pairs, ["x", "y"])
        rows = df.withColumn(
            "z", zorder_key([F.col("x"), F.col("y")], bits=8)).collect()
        for r in rows:
            assert _morton_decode(r["z"], 2, 8) == (r["x"], r["y"])


def _funnel_reference(events, stages):
    """Brute-force per-user funnel over (user, ts, type) tuples."""
    out = {}
    by_user = {}
    for u, ts, typ in events:
        by_user.setdefault(u, []).append((ts, typ))
    for u, evs in by_user.items():
        evs.sort()
        times, last = [], None
        for stage in stages:
            cand = [t for t, typ in evs
                    if typ == stage and (last is None or t > last)]
            if not cand:
                break
            last = min(cand)
            times.append(last)
        if times:
            out[u] = times
    return out


class TestFunnelProperty:
    @settings(max_examples=5, deadline=None)
    @given(st.lists(
        st.tuples(st.integers(0, 5),                      # user
                  st.integers(0, 10_000),                 # ts offset sec
                  st.sampled_from(["view", "click", "buy", "other"])),
        min_size=1, max_size=120, unique=True))
    def test_matches_bruteforce_reference(self, raw):
        from data_and_analytics_etl_spark.operators.funnel import (
            funnel_stages)
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("prop-funnel")
        base = dt.datetime(2024, 1, 1)
        events = [(u, base + dt.timedelta(seconds=s), t) for u, s, t in raw]
        stages = ["view", "click", "buy"]
        want = _funnel_reference(events, stages)
        df = spark.createDataFrame(events, ["user_id", "ts", "event_type"])
        got = {}
        for r in funnel_stages(df, "user_id", "ts", "event_type",
                               stages).collect():
            ts = [r["t1"], r["t2"], r["t3"]]
            got[r["user_id"]] = [t for t in ts if t is not None]
            assert r["stage"] == len(got[r["user_id"]])
        assert got == want


class TestKsVsPythonReference:
    """drift_ks's bucketed-prefix-sum decomposition vs a direct Python
    ECDF computation on generated data — beyond the DuckDB oracle, this
    pins the operator against an implementation with NO shared code."""

    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.integers(-50, 50), min_size=1, max_size=60),
           st.lists(st.integers(-50, 50), min_size=1, max_size=60))
    def test_ks_matches_direct_ecdf(self, xs, ys):
        from data_and_analytics_etl_spark.operators.profile import drift_ks
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("daa-etl-spark-tests")
        a = spark.createDataFrame([(float(x),) for x in xs], "v double")
        b = spark.createDataFrame([(float(y),) for y in ys], "v double")
        got = drift_ks(a, b, "v", lo=-10.0, hi=10.0, nbins=4).collect()[0]
        pts = sorted(set(xs) | set(ys))
        best, best_v = -1.0, None
        for p in pts:
            d = abs(sum(1 for x in xs if x <= p) / len(xs)
                    - sum(1 for y in ys if y <= p) / len(ys))
            d = round(d, 6)
            if d > best:
                best, best_v = d, p
        assert got["ks"] == best
        assert got["at_value"] == float(best_v)


class TestWinsorizeVsPythonReference:
    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.integers(0, 1000), min_size=3, max_size=80))
    def test_bounds_match_direct_order_stats(self, vals):
        import math
        from data_and_analytics_etl_spark.operators.binning import \
            winsorize_bounds
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("daa-etl-spark-tests")
        df = spark.createDataFrame([("g", float(v)) for v in vals],
                                   "grp string, v double")
        r = winsorize_bounds(df, "grp", "v", alpha=0.1).collect()[0]
        s = sorted(float(v) for v in vals)
        n = len(s)
        lo = s[max(math.ceil(0.1 * n), 1) - 1]
        hi = s[math.ceil(0.9 * n) - 1]
        assert (r["lo"], r["hi"], r["n"]) == (lo, hi, n)
        assert r["n_below"] == sum(1 for v in s if v < lo)
        assert r["n_above"] == sum(1 for v in s if v > hi)


class TestSessionizeVsPythonReference:
    """sessionize was red three straight driver rounds (each time a new
    environmental cause); beyond the DuckDB oracle and the streaming
    equivalence test, pin it against a zero-shared-code Python loop on
    generated data."""

    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 3),        # user
                              st.integers(0, 10_000),   # epoch seconds
                              ), min_size=1, max_size=60))
    def test_session_ids_match_direct_loop(self, events):
        import datetime as dt

        from data_and_analytics_etl_spark.operators.sessionize import \
            sessionize
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("daa-etl-spark-tests")
        rows = [(i, u, dt.datetime(2024, 1, 1)
                 + dt.timedelta(seconds=sec))
                for i, (u, sec) in enumerate(events)]
        df = spark.createDataFrame(rows, "event_id long, user_id long, "
                                         "ts timestamp")
        got = {r["event_id"]: r["session_id"] for r in
               sessionize(df, "user_id", "ts", gap_seconds=600,
                          tie_break=("event_id",)).collect()}
        # direct reference: per user, ordered by (ts, event_id), new
        # session when gap > 600s
        want = {}
        by_user = {}
        for i, (u, sec) in enumerate(events):
            by_user.setdefault(u, []).append((sec, i))
        for u, evs in by_user.items():
            sid, prev = 0, None
            for sec, i in sorted(evs):
                if prev is None or sec - prev > 600:
                    sid += 1
                want[i] = sid
                prev = sec
        assert got == want


class TestIntervalUnionVsPythonReference:
    """interval_union_length vs a zero-shared-code Python sweep on
    generated interval sets — overlap/nesting/duplicates/zero-length
    arise naturally from the generator."""

    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 2),       # key
                              st.integers(0, 500),     # start (s)
                              st.integers(0, 120),     # duration (s)
                              ), min_size=1, max_size=40))
    def test_coverage_matches_direct_sweep(self, raw):
        import datetime as dt

        from data_and_analytics_etl_spark.operators.timeseries import \
            interval_union_length
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("daa-etl-spark-tests")
        t0 = dt.datetime(2024, 1, 1)
        rows = [(k, t0 + dt.timedelta(seconds=s),
                 t0 + dt.timedelta(seconds=s + d)) for k, s, d in raw]
        df = spark.createDataFrame(rows, ["k", "s", "e"])
        got = {r.k: (r.covered_us, r.n_islands) for r in
               interval_union_length(df, "k", "s", "e").collect()}
        want = {}
        by_key = {}
        for k, s, d in raw:
            by_key.setdefault(k, []).append((s, s + d))
        for k, ivs in by_key.items():
            covered = islands = 0
            cur_lo = cur_hi = None
            for s, e in sorted(ivs):
                if cur_hi is None or s > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = s, e
                    islands += 1
                else:
                    cur_hi = max(cur_hi, e)
            covered += cur_hi - cur_lo
            want[k] = (covered * 1_000_000, islands)
        assert got == want


class TestAviRoundTrip:
    """AVI parse/stats vs direct computation on generated frame
    stacks — the container walk and the luminance math must agree with
    a from-scratch reference for arbitrary pixel content."""

    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.lists(st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255),
                  st.integers(0, 255)),
        min_size=3, max_size=3), min_size=2, max_size=2),
        min_size=1, max_size=4))
    def test_parse_and_luma_match_reference(self, frames):
        from data_and_analytics_etl_spark.operators.multimodal import (
            _avi_frame_luma, _avi_parse)
        from tests.test_llmdata import _make_avi
        payload = _make_avi(frames, width=3, height=2)
        w, h, usec, offs = _avi_parse(payload)
        assert (w, h, usec) == (3, 2, 40000)
        assert len(offs) == len(frames)
        for fr, (lo, _size) in zip(frames, offs):
            mean, rms, n = _avi_frame_luma(payload, lo, w, h)
            lumas = [0.299 * r + 0.587 * g + 0.114 * b
                     for row in fr for (r, g, b) in row]
            assert n == 6
            assert abs(mean - sum(lumas) / 6) < 1e-9
            assert abs(rms - (sum(y * y for y in lumas) / 6) ** 0.5) \
                < 1e-9


class TestTriangleCountVsBruteForce:
    """triangle_count's degree-oriented wedge algorithm vs a from-
    scratch triple enumeration on generated graphs — duplicates,
    reversed edges and self-loops arise naturally from the generator."""

    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)),
                    min_size=1, max_size=40))
    def test_matches_triple_enumeration(self, pairs):
        from itertools import combinations

        from data_and_analytics_etl_spark.operators.graph import (
            triangle_count)
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("daa-etl-spark-tests")
        df = spark.createDataFrame(pairs, ["src", "dst"])
        got = triangle_count(df).collect()[0]
        edges = {frozenset((a, b)) for a, b in pairs if a != b}
        nodes = {n for e in edges for n in e}
        want = sum(
            1 for x, y, z in combinations(sorted(nodes), 3)
            if {frozenset((x, y)), frozenset((y, z)),
                frozenset((x, z))} <= edges)
        assert (got.n_nodes, got.n_edges, got.triangles) == \
            (len(nodes), len(edges), want)


class TestAucVsBruteForce:
    """binary_auc vs the direct pairwise P(s+ > s-) + ½P(s+ = s-)
    definition on generated label/score sets with heavy ties."""

    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 1),
                              st.integers(0, 5)),   # 6 score levels: ties
                    min_size=2, max_size=60))
    def test_matches_pairwise_definition(self, rows):
        from data_and_analytics_etl_spark.operators.evaluation import (
            binary_auc)
        from data_and_analytics_etl_spark.session import get_spark
        import pyspark.sql.functions as F2
        spark = get_spark("daa-etl-spark-tests")
        df = spark.createDataFrame(
            [(y, float(s)) for y, s in rows], ["y", "s"])
        got = binary_auc(df, F2.col("y"), F2.col("s")).collect()[0]
        pos = [s for y, s in rows if y == 1]
        neg = [s for y, s in rows if y == 0]
        if not pos or not neg:
            assert got.auc is None
            return
        want = sum((p > n) + 0.5 * (p == n)
                   for p in pos for n in neg) / (len(pos) * len(neg))
        assert abs(got.auc - want) < 1e-12


class TestCmsVsBruteForce:
    """cms_build/cms_query vs a from-scratch dict-of-counters model on
    random key multisets: cell-exact counters (deterministic hashes)
    and est >= exact for every key, including unseen probes."""

    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.integers(0, 30), min_size=1, max_size=80))
    def test_counters_and_estimates_match_model(self, keys):
        from collections import Counter

        import pyspark.sql.functions as F2
        from data_and_analytics_etl_spark.operators.sketch import (
            cms_build, cms_query)
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("daa-etl-spark-tests")
        depth, width = 3, 64
        df = spark.createDataFrame([(k,) for k in keys], ["k"])
        counters = {(r.d, r.bucket): r.cnt for r in
                    cms_build(df, "k", depth=depth,
                              width=width).collect()}
        # model the same md5-free xxhash buckets via Spark itself (the
        # hash is engine-side), but the COUNTER arithmetic via Python
        probe_keys = sorted(set(keys) | {999})
        bdf = (spark.createDataFrame([(k,) for k in probe_keys], ["k"])
               .select("k", *[
                   F2.pmod(F2.xxhash64("k", F2.lit(j)), F2.lit(width))
                   .alias(f"b{j}") for j in range(depth)]))
        buckets = {r.k: [r[f"b{j}"] for j in range(depth)]
                   for r in bdf.collect()}
        freq = Counter(keys)
        model = Counter()
        for k, n in freq.items():
            for j, b in enumerate(buckets[k]):
                model[(j, b)] += n
        assert counters == dict(model)
        est = {r.key: r.est for r in
               cms_query(counters=cms_build(df, "k", depth=depth,
                                            width=width),
                         keys=spark.createDataFrame(
                             [(k,) for k in probe_keys], ["k"]),
                         key_col="k", depth=depth,
                         width=width).collect()}
        for k in probe_keys:
            want = min(model[(j, b)] for j, b in enumerate(buckets[k]))
            assert est[k] == want and est[k] >= freq.get(k, 0)


class TestGopherRulesVsPythonReference:
    """gopher_rules' flags vs a from-scratch Python re-implementation
    on generated word-soup documents (stopword presence, repetition,
    and length edge cases arise from the generator)."""

    @settings(max_examples=5, deadline=None)
    @given(st.lists(
        st.lists(st.sampled_from(
            ["the", "a", "of", "data", "row", "row", "zz", "q"]),
            min_size=1, max_size=60).map(" ".join),
        min_size=1, max_size=8))
    def test_flags_match_reference(self, docs):
        import pyspark.sql.functions as F2
        from data_and_analytics_etl_spark.operators.text import (
            STOPWORDS_EN, gopher_rules)
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("daa-etl-spark-tests")
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], ["i", "text"])
        g = gopher_rules(F2.col("text"))
        got = {r.i: (r.r_word_count, r.r_stopwords, r.r_dup_word,
                     r.keep)
               for r in df.select("i", *[g[k].alias(k) for k in g])
               .collect()}
        for i, t in enumerate(docs):
            toks = t.lower().split()
            n = len(toks)
            r_wc = 20 <= n <= 100_000
            r_stop = sum(w in toks for w in STOPWORDS_EN) >= 2
            dup = round(1 - len(set(toks)) / n, 6)
            r_dup = dup <= 0.6
            gwc, gstop, gdup, keep = got[i]
            assert (gwc, gstop, gdup) == (r_wc, r_stop, r_dup)
            assert keep == (gwc and gstop and gdup and got[i][3]
                            == keep)  # keep implies its conjuncts
            if keep:
                assert r_wc and r_stop and r_dup


class TestTransitiveClosureVsBfs:
    """Min-plus pointer doubling vs a from-scratch BFS over random
    parent forests: identical (node, ancestor, shortest-depth) sets."""

    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.integers(1, 60), min_size=5, max_size=40,
                    unique=True))
    def test_matches_bfs_reference(self, nodes):
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("prop-closure")
        from data_and_analytics_etl_spark.operators.graph import \
            transitive_closure
        edges = [(n, n // 3) for n in nodes if n // 3 != n]
        if not edges:
            return
        df = spark.createDataFrame(edges, "src: long, dst: long")
        got = {(r["node"], r["anc"]): r["depth"]
               for r in transitive_closure(df, max_depth=16).collect()}
        # reference: follow parent chain
        parent = dict(edges)
        want = {}
        for n in parent:
            d, a = 1, parent[n]
            while True:
                want[(n, a)] = d
                if a not in parent:
                    break
                a, d = parent[a], d + 1
                if d > 16:
                    break
        assert got == want


class TestCohenKappaVsFormula:
    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 2), st.integers(0, 2)),
                    min_size=2, max_size=60))
    def test_matches_direct_formula(self, pairs):
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("prop-kappa")
        from data_and_analytics_etl_spark.operators.evaluation import \
            cohen_kappa
        df = spark.createDataFrame(pairs, "a: int, b: int")
        r = cohen_kappa(df, F.col("a"), F.col("b")).collect()[0]
        n = len(pairs)
        agree = sum(1 for a, b in pairs if a == b)
        pe_num = sum(
            sum(1 for a, _ in pairs if a == c)
            * sum(1 for _, b in pairs if b == c) for c in range(3))
        assert r["n_total"] == n and r["n_agree"] == agree
        if n * n == pe_num:
            assert r["kappa"] is None
        else:
            assert r["kappa"] == (n * agree - pe_num) / (n * n - pe_num)


class TestKaplanMeierVsReference:
    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 8), st.booleans()),
                    min_size=3, max_size=40))
    def test_matches_product_limit_reference(self, subjects):
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("prop-km")
        from data_and_analytics_etl_spark.operators.evaluation import \
            kaplan_meier
        df = spark.createDataFrame(subjects, "t: int, e: boolean")
        got = {r["t"]: (r["n_risk"], r["events"], r["censored"],
                        r["survival"])
               for r in kaplan_meier(df, F.col("t"),
                                     F.col("e")).collect()}
        # reference: classic product-limit sweep in ascending t,
        # multiplying in the same order as the operator's fold
        times = sorted({t for t, _ in subjects})
        at_risk = len(subjects)
        s = 1.0
        for t in times:
            c = sum(1 for x, _ in subjects if x == t)
            d = sum(1 for x, e in subjects if x == t and e)
            s = s * ((at_risk - d) / at_risk)
            assert got[t] == (at_risk, d, c - d, s), t
            at_risk -= c


class TestMergedQuantileBound:
    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.floats(min_value=0.0, max_value=99.999,
                              allow_nan=False), min_size=5,
                    max_size=120))
    def test_within_one_binwidth(self, values):
        from data_and_analytics_etl_spark.session import get_spark
        spark = get_spark("prop-quant")
        from data_and_analytics_etl_spark.operators.binning import (
            fixed_histogram, merged_histogram_quantiles)
        df = spark.createDataFrame([(v,) for v in values], "v: double")
        h = fixed_histogram(df, "v", 0.0, 100.0, 50)
        est = {r["q"]: r["estimate"] for r in
               merged_histogram_quantiles(h, [0.5], 0.0, 100.0,
                                          50).collect()}
        xs = sorted(values)
        import math
        exact = xs[math.ceil(0.5 * len(xs)) - 1]  # order statistic
        assert abs(est[0.5] - exact) <= 100.0 / 50 + 1e-9


class TestTransitiveClosureBudget:
    """max_pairs_per_node (the r8-verdict fan-out contract): bounded
    output per node, deterministic nearest-first truncation, and
    exactness whenever the budget is not binding."""

    def _spark(self):
        from data_and_analytics_etl_spark.session import get_spark
        return get_spark("prop-closure-budget")

    def test_budget_bounds_output_and_keeps_nearest(self):
        from data_and_analytics_etl_spark.operators.graph import \
            transitive_closure
        spark = self._spark()
        # a 9-deep chain: node 1's closure has 9 ancestors
        edges = [(i, i + 1) for i in range(1, 10)]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        out = transitive_closure(df, max_depth=16,
                                 max_pairs_per_node=3).collect()
        per = {}
        for r in out:
            per.setdefault(r["node"], []).append((r["depth"], r["anc"]))
        assert all(len(v) <= 3 for v in per.values())
        # nearest-first: node 1 keeps exactly depths 1..3
        assert sorted(per[1]) == [(1, 2), (2, 3), (3, 4)]

    def test_non_binding_budget_is_exact(self):
        from data_and_analytics_etl_spark.operators.graph import \
            transitive_closure
        spark = self._spark()
        edges = [(n, n // 3) for n in range(2, 40) if n // 3 >= 1]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        exact = {(r["node"], r["anc"], r["depth"])
                 for r in transitive_closure(df, max_depth=16).collect()}
        budgeted = {(r["node"], r["anc"], r["depth"])
                    for r in transitive_closure(
                        df, max_depth=16,
                        max_pairs_per_node=1000).collect()}
        assert budgeted == exact


class TestRoundNineOperators:
    """Independent references for the r9 cohort: the sketch's
    partitioning-invariance claim, Spearman vs a pure-Python midrank
    Pearson, and nearest as-of vs pandas.merge_asof itself."""

    def _spark(self):
        from data_and_analytics_etl_spark.session import get_spark
        return get_spark("prop-r9")

    def test_heavy_hitters_partitioning_invariant(self):
        """The Misra-Gries candidate set varies with partitioning; the
        OUTPUT must not (exact verify pass) — the property that makes
        the sketch oracle-checkable."""
        import pyspark.sql.functions as F
        from data_and_analytics_etl_spark.operators.sketch import \
            heavy_hitters
        spark = self._spark()
        # zipf-ish: key k appears ~ 2000/k times
        rows = [(f"k{k}",) for k in range(1, 60) for _ in range(2000 // k)]
        df = spark.createDataFrame(rows, "token: string")
        outs = []
        for parts in (1, 7, 32):
            got = heavy_hitters(df.repartition(parts), "token",
                                phi_num=1, phi_den=20).collect()
            outs.append([(r["key"], r["cnt"]) for r in got])
        assert outs[0] == outs[1] == outs[2]
        # exactness: matches the plain groupBy-having computation
        n = len(rows)
        exact = sorted(
            ((k, c) for k, c in
             df.groupBy("token").count().rdd
               .map(lambda r: (r["token"], r["count"])).collect()
             if c * 20 > n), key=lambda t: (-t[1], t[0]))
        assert outs[0] == exact

    def test_heavy_hitters_batched_mg_internals(self):
        """r13 optimization pin: the vectorized batched Misra-Gries
        update (value_counts merge + (k+1)-th-largest decrement) must
        keep the candidate superset across Arrow BATCH boundaries —
        the decrement path only fires between batches, so this forces
        tiny batches over a key set far wider than k and checks the
        exact output still matches GROUP BY + HAVING. Also pins the
        sketch's sentinel-row total: N comes from the sketch pass, so
        a miscounted partition total would shift the phi threshold."""
        import pyspark.sql.functions as F  # noqa: F401
        from data_and_analytics_etl_spark.operators.sketch import \
            heavy_hitters
        spark = self._spark()
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                             None)
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        try:
            # 500 distinct tail keys (one occurrence each) + 3 heavy
            # keys; k = ceil(20/1) = 20 counters, so every batch-end
            # prune must decrement through the tail churn without
            # evicting a heavy key.
            rows = ([("hot1",)] * 400 + [("hot2",)] * 300
                    + [("hot3",)] * 200
                    + [(f"tail{i}",) for i in range(500)])
            df = spark.createDataFrame(rows, "token: string")
            n = len(rows)
            exact = sorted(
                ((k, c) for k, c in
                 df.groupBy("token").count().rdd
                 .map(lambda r: (r["token"], r["count"])).collect()
                 if c * 20 > n), key=lambda t: (-t[1], t[0]))
            for parts in (1, 5, 32):
                got = heavy_hitters(df.repartition(parts), "token",
                                    phi_num=1, phi_den=20).collect()
                assert [(r["key"], r["cnt"]) for r in got] == exact
        finally:
            if old is None:
                spark.conf.unset(
                    "spark.sql.execution.arrow.maxRecordsPerBatch")
            else:
                spark.conf.set(
                    "spark.sql.execution.arrow.maxRecordsPerBatch", old)

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 8),
                              st.integers(0, 8)),
                    min_size=8, max_size=60))
    def test_spearman_matches_python_reference(self, rows):
        import math

        import pyspark.sql.functions as F  # noqa: F401
        from data_and_analytics_etl_spark.operators.profile import \
            spearman_corr
        spark = self._spark()
        data = [(g, float(x), float(y)) for g, x, y in rows]
        df = spark.createDataFrame(data, "g: int, x: double, y: double")
        got = {r["category"]: r["rho"]
               for r in spearman_corr(df, "g", "x", "y",
                                      (0.0, 9.0), (0.0, 9.0),
                                      nbins=4).collect()}

        def midranks(vals):
            return {v: (sum(1 for w in vals if w < v) * 2
                        + sum(1 for w in vals if w == v) + 1)
                    for v in set(vals)}

        from collections import defaultdict
        by_g = defaultdict(list)
        for g, x, y in rows:
            by_g[g].append((x, y))
        for g, pts in by_g.items():
            xs = [p[0] for p in pts]
            ys = [p[1] for p in pts]
            rx = midranks(xs)
            ry = midranks(ys)
            r = [rx[x] for x in xs]
            s = [ry[y] for y in ys]
            n = len(pts)
            sxy = sum(a * b for a, b in zip(r, s))
            sxx = sum(a * a for a in r)
            syy = sum(b * b for b in s)
            t = n * (n + 1)
            dxx = n * sxx - t * t
            dyy = n * syy - t * t
            if dxx == 0 or dyy == 0:
                # constant variable: rho undefined (NULL/NaN engine-side)
                assert got[g] is None or math.isnan(got[g])
                continue
            want = (n * sxy - t * t) / math.sqrt(dxx * dyy)
            assert got[g] is not None and abs(got[g] - want) < 1e-6

    def test_asof_nearest_matches_pandas(self):
        import datetime as dt

        import pandas as pd
        from data_and_analytics_etl_spark.operators.asof import asof_join
        spark = self._spark()
        t0 = dt.datetime(2024, 1, 1)
        left = [(k, t0 + dt.timedelta(seconds=s), i)
                for i, (k, s) in enumerate(
                    [(1, 5), (1, 12), (1, 40), (2, 3), (2, 100), (3, 7)])]
        right = [(k, t0 + dt.timedelta(seconds=s), 100 + i)
                 for i, (k, s) in enumerate(
                     [(1, 0), (1, 11), (1, 13), (2, 50), (4, 1)])]
        ldf = spark.createDataFrame(left, "k: long, ts: timestamp, lid: long")
        rdf = spark.createDataFrame(right, "k: long, ts: timestamp, rid: long")
        got = {r["lid"]: r["rid_right"]
               for r in asof_join(ldf, rdf, on="k", left_ts="ts",
                                  right_ts="ts", right_values=["rid"],
                                  direction="nearest").collect()}
        lp = pd.DataFrame(left, columns=["k", "ts", "lid"]).sort_values("ts")
        rp = pd.DataFrame(right, columns=["k", "ts", "rid"]).sort_values("ts")
        want = pd.merge_asof(lp, rp, on="ts", by="k", direction="nearest")
        for _, row in want.iterrows():
            w = None if pd.isna(row["rid"]) else int(row["rid"])
            assert got[int(row["lid"])] == w, (row["lid"], got, want)
        # tolerance disqualifies each side independently
        got_tol = {r["lid"]: r["rid_right"]
                   for r in asof_join(ldf, rdf, on="k", left_ts="ts",
                                      right_ts="ts", right_values=["rid"],
                                      direction="nearest",
                                      tolerance_s=6).collect()}
        want_tol = pd.merge_asof(lp, rp, on="ts", by="k",
                                 direction="nearest",
                                 tolerance=pd.Timedelta(seconds=6))
        for _, row in want_tol.iterrows():
            w = None if pd.isna(row["rid"]) else int(row["rid"])
            assert got_tol[int(row["lid"])] == w


class TestRoundNineThirdCohort:
    """Pure-Python references for the r9 third cohort (no scipy in the
    sandbox; the formulas are small enough to restate exactly)."""

    def _spark(self):
        from data_and_analytics_etl_spark.session import get_spark
        return get_spark("prop-r9c")

    def test_logrank_matches_python_reference(self):
        import math

        import pyspark.sql.functions as F
        from data_and_analytics_etl_spark.operators.evaluation import \
            logrank_split
        spark = self._spark()
        # arm A systematically longer-lived: curves must differ
        data = [(t, e, a)
                for a in (0, 1)
                for i, (t, e) in enumerate(
                    [(2 + 3 * a, 1), (4 + 2 * a, 1), (5, 0),
                     (6 + 4 * a, 1), (8, 1), (9 + a, 0), (11, 1)])]
        df = spark.createDataFrame(data, "t: long, e: int, a: int")
        rows = logrank_split(df, F.col("a") == 1, F.col("t"),
                             F.col("e")).collect()
        # python reference
        from collections import defaultdict
        per = defaultdict(lambda: [0, 0, 0, 0])  # c_a c_b d_a d_b
        for t, e, a in data:
            per[t][0 if a else 1] += 1
            per[t][2 if a else 3] += e
        na = sum(1 for _, _, a in data if a)
        nb = len(data) - na
        want = []
        for t in sorted(per):
            c_a, c_b, d_a, d_b = per[t]
            if d_a + d_b > 0:
                dt, n_t = d_a + d_b, na + nb
                e_a = dt * na / n_t
                v = (dt * na * nb * (n_t - dt)
                     / (n_t * n_t * (n_t - 1))) if n_t > 1 else 0.0
                want.append((t, na, nb, d_a, d_b, e_a, v))
            na -= c_a
            nb -= c_b
        assert len(rows) == len(want)
        o_minus_e, var = 0.0, 0.0
        for r, w in zip(rows, want):
            assert (r["t"], r["n_risk_a"], r["n_risk_b"],
                    r["d_a"], r["d_b"]) == w[:5]
            assert abs(r["e_a_contrib"] - w[5]) < 1e-6
            assert abs(r["var_contrib"] - w[6]) < 1e-6
            o_minus_e += r["d_a"] - r["e_a_contrib"]
            var += r["var_contrib"]
        # separated curves: a nonzero caller-side statistic (tiny
        # 14-subject sample — the per-time equality above is the test)
        assert abs(o_minus_e / math.sqrt(var)) > 0.3

    def test_logrank_identical_arms_zero_expectation_gap(self):
        import pyspark.sql.functions as F
        from data_and_analytics_etl_spark.operators.evaluation import \
            logrank_split
        spark = self._spark()
        # both arms are the SAME sample: O_a - E_a must be exactly 0
        base = [(2, 1), (4, 1), (5, 0), (8, 1), (11, 1)]
        data = [(t, e, a) for a in (0, 1) for t, e in base]
        df = spark.createDataFrame(data, "t: long, e: int, a: int")
        rows = logrank_split(df, F.col("a") == 1, F.col("t"),
                             F.col("e")).collect()
        gap = sum(r["d_a"] - r["e_a_contrib"] for r in rows)
        assert abs(gap) < 1e-9

    def test_cross_correlation_matches_python(self):
        import math

        from data_and_analytics_etl_spark.operators.timeseries import \
            cross_correlation
        spark = self._spark()
        a = [(d, (d * 7) % 13 + 1) for d in range(30)]
        # b = a shifted by 2 days plus deterministic jitter: r peaks
        # at lag +2
        b = [(d + 2, v + (d % 3)) for d, v in a]
        adf = spark.createDataFrame(a, "day: long, v: long")
        bdf = spark.createDataFrame(b, "day: long, v: long")
        got = {r["lag"]: r["r"]
               for r in cross_correlation(adf, bdf, "day", "v",
                                          max_lag=3).collect()}

        def pearson(pairs):
            n = len(pairs)
            sa = sum(p[0] for p in pairs)
            sb = sum(p[1] for p in pairs)
            saa = sum(p[0] * p[0] for p in pairs)
            sbb = sum(p[1] * p[1] for p in pairs)
            sab = sum(p[0] * p[1] for p in pairs)
            return ((n * sab - sa * sb)
                    / math.sqrt((n * saa - sa * sa)
                                * (n * sbb - sb * sb)))

        bmap = dict(b)
        for lag in range(-3, 4):
            pairs = [(v, bmap[d + lag]) for d, v in a if d + lag in bmap]
            assert abs(got[lag] - pearson(pairs)) < 1e-6
        assert got[2] == max(got.values())  # the planted shift wins

    def test_chi2_cells_matches_python(self):
        import pyspark.sql.functions as F
        from collections import Counter

        from data_and_analytics_etl_spark.operators.features import \
            chi2_cells
        spark = self._spark()
        data = [(["x", "y", "z"][i % 3], ["p", "q"][(i * i) % 2], i % 2)
                for i in range(200)]
        df = spark.createDataFrame(data, "f1: string, f2: string, "
                                         "lbl: int")
        rows = chi2_cells(df, ["f1", "f2"], F.col("lbl")).collect()
        for feat, col in (("f1", 0), ("f2", 1)):
            obs = Counter((r[col], r[2]) for r in data)
            n = len(data)
            rt = Counter(r[col] for r in data)
            ct = Counter(r[2] for r in data)
            for r in rows:
                if r["feature"] != feat:
                    continue
                v, lbl = r["value"], r["label"]
                exp = rt[v] * ct[lbl] / n
                assert r["obs"] == obs[(v, lbl)]
                assert abs(r["expected"] - exp) < 1e-6
                assert abs(r["chi2_contrib"]
                           - (obs[(v, lbl)] - exp) ** 2 / exp) < 1e-6

    def test_cohort_ltv_invariants(self):
        import pyspark.sql.functions as F
        from data_and_analytics_etl_spark.operators.cohort import \
            cohort_ltv
        spark = self._spark()
        import datetime as dt
        rows = [(u, dt.datetime(2024, 1 + (u + k) % 4, 3), 1000 + u)
                for u in range(1, 15) for k in range(3)]
        df = spark.createDataFrame(rows, "u: long, ts: timestamp, "
                                         "cents: long")
        out = cohort_ltv(df, "u", "ts", F.col("cents")).collect()
        by_cohort = {}
        for r in out:
            by_cohort.setdefault(r["cohort_month"], []).append(r)
        total = sum(r["revenue_cents"] for r in out)
        assert total == sum(c for _, _, c in rows)  # nothing lost
        for rows_c in by_cohort.values():
            rows_c.sort(key=lambda r: r["age_months"])
            assert rows_c[0]["age_months"] == 0  # cohort defined by 1st
            cum = 0
            for r in rows_c:
                cum += r["revenue_cents"]
                assert r["cum_revenue_cents"] == cum
                assert r["n_users"] <= r["cohort_size"]


class TestRoundTenOperators:
    """Independent references for the r10 cohort: span removal vs a
    pure-Python re-implementation (+ conservation/retention
    invariants), PPS-systematic sampling's exact-k and partitioning
    invariance, integer PageRank vs the float power iteration,
    Kendall/Kruskal-Wallis/paired-t/OLS vs pure-Python formulas,
    Jaccard link prediction vs brute force, and the md5-coin
    randomized response's exact debias identity."""

    def _spark(self):
        from data_and_analytics_etl_spark.session import get_spark
        return get_spark("prop-r10")

    # --- span removal ---------------------------------------------------

    @staticmethod
    def _ref_span_removal(docs, n=3):
        import re
        words = {i: [w for w in re.split(r"\s+", t) if w != ""]
                 for i, t in docs}
        spans: dict = {}
        for i, _ in sorted(docs):
            ws = words[i]
            for s in range(len(ws) - n + 1):
                spans.setdefault(" ".join(ws[s:s + n]), []).append((i, s))
        rm: dict = {i: set() for i, _ in docs}
        for occs in spans.values():
            for (i, s) in sorted(occs)[1:]:
                rm[i].update(range(s, s + n))
        return {i: (len(words[i]), len(rm[i]),
                    " ".join(w for j, w in enumerate(words[i])
                             if j not in rm[i]))
                for i, _ in docs}

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.lists(st.sampled_from(["a", "b", "c"]),
                             min_size=0, max_size=12),
                    min_size=1, max_size=12))
    def test_span_removal_matches_python_reference(self, token_lists):
        from data_and_analytics_etl_spark.operators.corpus import \
            span_removal
        spark = self._spark()
        docs = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
        df = spark.createDataFrame(docs, "doc_id: long, text: string")
        got = {r["doc_id"]: (r["n_words"], r["n_removed"], r["text_kept"])
               for r in span_removal(df, n=3).collect()}
        assert got == self._ref_span_removal(docs, n=3)

    def test_span_removal_conservation_and_first_retention(self):
        from data_and_analytics_etl_spark.operators.corpus import \
            span_removal
        spark = self._spark()
        boiler = "the quick brown fox jumps"
        docs = [(1, boiler + " alpha beta gamma"),
                (2, "delta " + boiler + " epsilon"),
                (3, boiler),
                (4, "zeta eta theta iota kappa")]
        df = spark.createDataFrame(docs, "doc_id: long, text: string")
        rows = {r["doc_id"]: r for r in span_removal(df, n=3).collect()}
        for i, text in docs:
            r = rows[i]
            kept = [w for w in r["text_kept"].split(" ") if w != ""]
            # conservation: every word is kept or removed, never both
            assert r["n_words"] == len(kept) + r["n_removed"]
        # doc 1 owns the boilerplate (smallest id): nothing removed
        assert rows[1]["n_removed"] == 0
        # docs 2 and 3's copies are fully removed, their own words kept
        assert rows[3]["text_kept"] == ""
        assert rows[2]["text_kept"] == "delta epsilon"
        # unique doc untouched
        assert rows[4]["n_removed"] == 0

    # --- PPS-systematic weighted sample ----------------------------------

    def test_weighted_systematic_exact_k_and_invariance(self):
        from data_and_analytics_etl_spark.operators.sampling import \
            weighted_systematic_sample
        spark = self._spark()
        rows = [(i, (i * 37) % 95 + 1) for i in range(1, 400)]
        df = spark.createDataFrame(rows, "k: long, w: long")
        outs = []
        for parts in (1, 5, 32):
            got = weighted_systematic_sample(
                df.repartition(parts), "k", F.col("w"), k=23)
            outs.append(sorted((r["k"], r["n_hits"]) for r in got.collect()))
        assert outs[0] == outs[1] == outs[2]
        assert sum(h for _, h in outs[0]) == 23  # exactly k draws
        # a row heavier than W/k must be hit at least once
        big = [(1000, 100000)] + rows
        df2 = spark.createDataFrame(big, "k: long, w: long")
        got2 = {r["k"]: r["n_hits"]
                for r in weighted_systematic_sample(
                    df2, "k", F.col("w"), k=10).collect()}
        assert got2.get(1000, 0) >= 1

    # --- integer PageRank -------------------------------------------------

    def test_pagerank_integer_tracks_float_pagerank(self):
        from data_and_analytics_etl_spark.operators.graph import (
            pagerank, pagerank_integer)
        spark = self._spark()
        edges = [(u, v) for u in range(1, 30)
                 for v in ((u * 7) % 29 + 1, (u * 3) % 29 + 1) if u != v]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        fi = {r["node"]: r["rank"] for r in
              pagerank(df, iters=4).collect()}
        ii = {r["node"]: r["rank"] for r in
              pagerank_integer(df, iters=4).collect()}
        scale = 10 ** 12
        assert set(fi) == set(ii)
        n = len(fi)
        for node, r in ii.items():
            assert abs(r / scale - fi[node]) < 1e-6
        # floor leakage bound: mass within n*(iters+1) grid units
        assert scale >= sum(ii.values()) >= scale - n * 5 * 3

    # --- Kendall tau-b ----------------------------------------------------

    @staticmethod
    def _ref_kendall(xy):
        import math
        n = len(xy)
        conc = disc = 0
        for i in range(n):
            for j in range(i + 1, n):
                dx = (xy[i][0] > xy[j][0]) - (xy[i][0] < xy[j][0])
                dy = (xy[i][1] > xy[j][1]) - (xy[i][1] < xy[j][1])
                if dx * dy > 0:
                    conc += 1
                elif dx * dy < 0:
                    disc += 1
        n0 = n * (n - 1) // 2
        tx: dict = {}
        ty: dict = {}
        for x, y in xy:
            tx[x] = tx.get(x, 0) + 1
            ty[y] = ty.get(y, 0) + 1
        n1 = sum(t * (t - 1) // 2 for t in tx.values())
        n2 = sum(t * (t - 1) // 2 for t in ty.values())
        den = math.sqrt((n0 - n1) * (n0 - n2))
        return conc, disc, (conc - disc) / den if den else float("nan")

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 4)),
                    min_size=8, max_size=50))
    def test_kendall_matches_python_reference(self, xy):
        from data_and_analytics_etl_spark.operators.profile import \
            kendall_tau_b
        # degenerate all-tied inputs divide by zero — skip like scipy
        if len({x for x, _ in xy}) < 2 or len({y for _, y in xy}) < 2:
            return
        spark = self._spark()
        df = spark.createDataFrame([("g", x, y) for x, y in xy],
                                   "g: string, x: long, y: long")
        r = kendall_tau_b(df, "g", "x", "y").collect()[0]
        conc, disc, tau = self._ref_kendall(xy)
        assert (r["concordant"], r["discordant"]) == (conc, disc)
        assert abs(r["tau_b"] - tau) < 1e-5

    # --- Kruskal-Wallis ----------------------------------------------------

    def test_kruskal_wallis_matches_python_reference(self):
        from data_and_analytics_etl_spark.operators.profile import \
            kruskal_wallis
        spark = self._spark()
        data = {"a": [3, 7, 7, 11, 2], "b": [5, 5, 9, 1],
                "c": [8, 8, 8, 4, 6, 10]}
        rows = [(g, v) for g, vs in data.items() for v in vs]
        df = spark.createDataFrame(rows, "g: string, v: long")
        out = kruskal_wallis(df, "g", "v", lo=0.0, hi=16.0, nbins=8)
        got = {r["category"]: r for r in out.collect()}
        # pooled midranks by hand
        allv = sorted(v for _, v in rows)
        mid = {}
        for v in set(allv):
            below = sum(1 for u in allv if u < v)
            ties = allv.count(v)
            mid[v] = below + (ties + 1) / 2.0
        N = len(allv)
        H = (12.0 / (N * (N + 1))
             * sum(sum(mid[v] for v in vs) ** 2 / len(vs)
                   for vs in data.values())
             - 3 * (N + 1))
        H_assembled = (12.0 / (N * (N + 1))
                       * sum(r["h_contrib"] for r in got.values())
                       - 3 * (N + 1))
        assert abs(H_assembled - H) < 1e-9
        for g, vs in data.items():
            assert got[g]["rank_sum2"] == int(2 * sum(mid[v] for v in vs))
        tie3 = sum(t ** 3 - t for t in
                   (allv.count(v) for v in set(allv)))
        assert got["a"]["tie3"] == tie3

    # --- paired t / OLS -----------------------------------------------------

    def test_paired_ttest_matches_python_formula(self):
        import math

        from data_and_analytics_etl_spark.operators.profile import \
            paired_ttest
        spark = self._spark()
        pairs = [(100 + 3 * i, 90 + 2 * i) for i in range(1, 20)]
        df = spark.createDataFrame([("g", x, y) for x, y in pairs],
                                   "g: string, x: long, y: long")
        r = paired_ttest(df, "g", F.col("x"), F.col("y")).collect()[0]
        d = [x - y for x, y in pairs]
        n = len(d)
        mean = sum(d) / n
        var = sum((v - mean) ** 2 for v in d) / (n - 1)
        t = mean / math.sqrt(var / n)
        assert abs(r["t_stat"] - t) < 1e-6
        assert r["sum_d_cents"] == sum(d)

    def test_ols_two_factor_recovers_planted_coefficients(self):
        from data_and_analytics_etl_spark.operators.profile import \
            ols_two_factor
        spark = self._spark()
        rows = [("g", x1, x2, 7 + 3 * x1 + 5 * x2)
                for x1 in range(1, 9) for x2 in range(0, 5)]
        df = spark.createDataFrame(rows,
                                   "g: string, x1: long, x2: long, y: long")
        r = ols_two_factor(df, "g", F.col("x1"), F.col("x2"),
                           F.col("y")).collect()[0]
        assert abs(r["beta1"] - 3.0) < 1e-9
        assert abs(r["beta2"] - 5.0) < 1e-9
        assert abs(r["intercept"] - 7.0) < 1e-9

    # --- calibration bins ----------------------------------------------------

    def test_calibration_bins_invariants(self):
        from data_and_analytics_etl_spark.operators.evaluation import \
            calibration_bins
        spark = self._spark()
        rows = [(s, 1 if (s * 13) % 100 < s else 0)
                for s in range(0, 101) for _ in range(3)]
        df = spark.createDataFrame(rows, "s: long, y: long")
        out = calibration_bins(df, F.col("s"), F.col("y"),
                               nbins=10).collect()
        assert sum(r["n"] for r in out) == len(rows)
        assert [r["bin"] for r in out] == sorted(r["bin"] for r in out)
        ece = sum(r["ece_contrib"] for r in out)
        assert 0.0 <= ece <= 1.0
        for r in out:
            assert 0.0 <= r["frac_pos"] <= 1.0
            # bin b holds scores [10b, 10b+10) (plus 100 in bin 9)
            lo, hi = r["bin"] * 10, r["bin"] * 10 + 10
            assert lo / 100 <= r["mean_score"] <= (hi + 1) / 100

    # --- Jaccard link prediction ---------------------------------------------

    def test_jaccard_links_match_brute_force(self):
        from data_and_analytics_etl_spark.operators.graph import \
            jaccard_link_scores
        spark = self._spark()
        edges = [(u, (u * 5) % 23 + 1) for u in range(1, 23)] + \
                [(u, (u * 11) % 23 + 1) for u in range(1, 23)]
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        got = {(r["u"], r["v"]): (r["common"], r["union_size"])
               for r in jaccard_link_scores(df).collect()}
        # brute force
        nbr: dict = {}
        eset = set()
        for u, v in edges:
            a, b = min(u, v), max(u, v)
            if a == b:
                continue
            eset.add((a, b))
            nbr.setdefault(a, set()).add(b)
            nbr.setdefault(b, set()).add(a)
        want = {}
        nodes = sorted(nbr)
        for i, u in enumerate(nodes):
            for v in nodes[i + 1:]:
                if (u, v) in eset:
                    continue
                c = len(nbr[u] & nbr[v])
                if c >= 1:
                    want[(u, v)] = (c, len(nbr[u] | nbr[v]))
        assert got == want

    # --- n-gram novelty ---------------------------------------------------

    def test_ngram_novelty_first_doc_and_bounds(self):
        from data_and_analytics_etl_spark.operators.corpus import \
            ngram_novelty
        spark = self._spark()
        docs = [(1, "a b c d e"), (2, "a b c x y"), (3, "a b c d e")]
        df = spark.createDataFrame(docs, "doc_id: long, text: string")
        got = {r["doc_id"]: r for r in ngram_novelty(df, n=3).collect()}
        assert got[1]["novelty_ratio"] == 1.0
        assert got[3]["n_novel"] == 0  # exact copy of doc 1
        assert got[2]["n_grams"] == 3 and got[2]["n_novel"] == 2
        for r in got.values():
            assert 0.0 <= r["novelty_ratio"] <= 1.0

    # --- randomized response -------------------------------------------------

    def test_randomized_response_identity_and_debias(self):
        from data_and_analytics_etl_spark.operators.profile import \
            randomized_response
        spark = self._spark()
        rows = [(i, "g", i % 3 == 0) for i in range(1, 300)]
        df = spark.createDataFrame(rows, "k: long, g: string, t: boolean")
        # p256=256: every coin < 256 -> reports are the truth, debias
        # is the identity
        r = randomized_response(df, "g", F.col("t"), F.col("k"),
                                p256=256).collect()[0]
        true_yes = sum(1 for _, _, t in rows if t)
        assert r["noisy_yes"] == true_yes
        assert abs(r["est_true_yes"] - true_yes) < 1e-9
        # p256=192: debias inverts the md5 coins exactly (python twin)
        import hashlib
        r2 = randomized_response(df, "g", F.col("t"), F.col("k"),
                                 p256=192).collect()[0]
        noisy = 0
        for k, _, t in rows:
            coin = int(hashlib.md5(f"rr|{k}".encode()).hexdigest()[:2], 16)
            noisy += int(t if coin < 192 else not t)
        assert r2["noisy_yes"] == noisy
        assert abs(r2["est_true_yes"]
                   - (256.0 * noisy - 64.0 * len(rows)) / 128.0) < 1e-9

    # --- rolling median -------------------------------------------------------

    def test_rolling_median_matches_pandas(self):
        import pandas as pd

        from data_and_analytics_etl_spark.operators.timeseries import \
            rolling_median
        spark = self._spark()
        vals = [5, 1, 9, 3, 3, 8, 2, 7, 4, 6, 100, 0]
        rows = [("s", d, v) for d, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "k: string, d: long, v: long")
        got = {r["d"]: r["med_cents2"]
               for r in rolling_median(df, "k", "d", F.col("v"),
                                       window_n=7).collect()}
        ref = (pd.Series(vals).rolling(7, min_periods=1).median() * 2)
        for d in range(len(vals)):
            assert got[d] == int(ref[d])

    # --- unigram KL -------------------------------------------------------------

    def test_unigram_kl_single_source_is_zero(self):
        from data_and_analytics_etl_spark.operators.text import \
            unigram_kl_by_group
        spark = self._spark()
        docs = [(1, "one", "a b c a"), (2, "one", "b c d")]
        df = spark.createDataFrame(docs,
                                   "doc_id: long, src: string, text: string")
        r = unigram_kl_by_group(df, "src").collect()[0]
        assert r["kl_q"] == 0 and r["kl"] == 0.0
        # two sources: quantized KL can undershoot true KL by at most
        # one grid unit per (group, token) term, never exceed it
        docs2 = docs + [(3, "two", "d d d e")]
        out = {r["category"]: r for r in
               unigram_kl_by_group(spark.createDataFrame(
                   docs2, "doc_id: long, src: string, text: string"),
                   "src").collect()}
        assert out["two"]["kl_q"] > 0


class TestRoundTenThirdCohort:
    """References for the r10 third mini-cohort: Wilcoxon signed-rank
    vs a pure-Python midrank replay, Cramér's V vs the textbook χ²
    formula, gaps-and-islands vs a brute-force interval merge."""

    def _spark(self):
        from data_and_analytics_etl_spark.session import get_spark
        return get_spark("prop-r10c")

    def test_wilcoxon_matches_python_reference(self):
        import math

        from data_and_analytics_etl_spark.operators.profile import \
            wilcoxon_signed_rank
        spark = self._spark()
        pairs = [(103, 100), (98, 100), (110, 100), (100, 100),
                 (95, 100), (107, 100), (100, 103), (104, 100),
                 (100, 106), (109, 100), (100, 100), (102, 100)]
        df = spark.createDataFrame([("g", x, y) for x, y in pairs],
                                   "g: string, x: long, y: long")
        r = wilcoxon_signed_rank(df, "g", F.col("x"), F.col("y"),
                                 hi_abs=32.0, nbins=16).collect()[0]
        d = [x - y for x, y in pairs if x != y]
        ad = sorted(abs(v) for v in d)
        def midrank(a):
            lo = ad.index(a) + 1
            hi = len(ad) - ad[::-1].index(a)
            return (lo + hi) / 2.0
        wpos = sum(midrank(abs(v)) for v in d if v > 0)
        n = len(d)
        assert r["n"] == n
        assert r["w2_pos"] == int(2 * wpos)
        t3 = sum(t ** 3 - t for t in
                 (ad.count(a) for a in set(ad)))
        assert r["tie3"] == t3
        var = n * (n + 1) * (2 * n + 1) / 24.0 - t3 / 48.0
        z = (wpos - n * (n + 1) / 4.0) / math.sqrt(var)
        assert abs(r["z_stat"] - z) < 1e-6

    def test_cramers_v_matches_formula(self):
        import math

        from data_and_analytics_etl_spark.operators.features import \
            cramers_v
        spark = self._spark()
        rows = [(["a", "b", "c"][i % 3], i % 2 == 0) for i in range(60)] \
            + [("a", True)] * 15
        df = spark.createDataFrame(rows, "f1: string, y: boolean")
        out = cramers_v(df, ["f1"], F.col("y")).collect()[0]
        # textbook chi2 over the contingency table
        from collections import Counter
        cells = Counter((f, y) for f, y in rows)
        n = len(rows)
        rmarg = Counter(f for f, _ in rows)
        cmarg = Counter(y for _, y in rows)
        chi2 = sum((c - rmarg[f] * cmarg[y] / n) ** 2
                   / (rmarg[f] * cmarg[y] / n)
                   for (f, y), c in cells.items())
        k = min(len(rmarg), len(cmarg)) - 1
        assert abs(out["chi2_q"] / 1e9 - chi2) < 1e-6 * len(cells)
        assert abs(out["cramers_v"] - math.sqrt(chi2 / (n * k))) < 1e-4
        assert 0.0 <= out["cramers_v"] <= 1.0

    def test_gaps_islands_match_brute_force(self):
        from data_and_analytics_etl_spark.operators.timeseries import \
            gaps_and_islands
        spark = self._spark()
        iv = [("k", 0, 10), ("k", 5, 12), ("k", 12, 15), ("k", 20, 25),
              ("k", 24, 30), ("k", 40, 41), ("q", 1, 2), ("q", 2, 3),
              ("q", 10, 10), ("q", 10, 11)]
        df = spark.createDataFrame(iv, "k: string, s: long, e: long")
        got = [(r["k"], r["island_start_us"], r["island_end_us"],
                r["n_intervals"])
               for r in gaps_and_islands(df, "k", F.col("s"),
                                         F.col("e")).collect()]
        # brute force merge (touching intervals merge)
        want = []
        for key in sorted({k for k, _, _ in iv}):
            items = sorted((s, e) for k, s, e in iv if k == key)
            cur = None
            for s, e in items:
                if cur and s <= cur[1]:
                    cur = (cur[0], max(cur[1], e), cur[2] + 1)
                else:
                    if cur:
                        want.append((key, *cur))
                    cur = (s, e, 1)
            want.append((key, *cur))
        assert got == want


class TestRoundTenFourthCohort:
    """References for the r10 fourth mini-cohort: Friedman vs a
    pure-Python within-block rank replay, Mann-Kendall/Sen vs brute
    force over all pairs, degree assortativity vs a dict-based
    Pearson, SPRT vs a sequential scan replay."""

    def _spark(self):
        from data_and_analytics_etl_spark.session import get_spark
        return get_spark("prop-r10d")

    def test_friedman_matches_python_reference(self):
        from data_and_analytics_etl_spark.operators.profile import \
            friedman_test
        spark = self._spark()
        # 4 blocks x 3 treatments, one tie inside block 2, plus an
        # incomplete block (5) that must drop
        cells = [(1, "a", 10), (1, "b", 20), (1, "c", 30),
                 (2, "a", 5), (2, "b", 5), (2, "c", 9),
                 (3, "a", 7), (3, "b", 3), (3, "c", 8),
                 (4, "a", 1), (4, "b", 2), (4, "c", 0),
                 (5, "a", 99)]
        df = spark.createDataFrame(cells,
                                   "b: long, tr: string, v: long")
        got = {r["treatment"]: r for r in
               friedman_test(df, "b", "tr", "v").collect()}
        complete = [b for b in {c[0] for c in cells}
                    if sum(1 for c in cells if c[0] == b) == 3]
        rank_sums = {}
        tie3 = 0
        for b in complete:
            vals = sorted(v for bb, _, v in cells if bb == b)
            for t in set(vals):
                c = vals.count(t)
                tie3 += c ** 3 - c
            for bb, tr, v in cells:
                if bb != b:
                    continue
                lo = vals.index(v) + 1
                hi = len(vals) - vals[::-1].index(v)
                rank_sums[tr] = rank_sums.get(tr, 0.0) + (lo + hi) / 2.0
        for tr, rs in rank_sums.items():
            assert got[tr]["n_blocks"] == len(complete)
            assert got[tr]["k"] == 3
            assert got[tr]["rank_sum2"] == int(2 * rs)
            assert abs(got[tr]["q_contrib"] - rs * rs) < 1e-9
            assert got[tr]["tie3"] == tie3
        # Q assembly sanity: 12/(nk(k+1)) * sum R_j^2 - 3n(k+1)
        n, k = len(complete), 3
        q = (12.0 / (n * k * (k + 1))
             * sum(r * r for r in rank_sums.values()) - 3 * n * (k + 1))
        q_spark = (12.0 / (n * k * (k + 1))
                   * sum(r["q_contrib"] for r in got.values())
                   - 3 * n * (k + 1))
        assert abs(q - q_spark) < 1e-9

    def test_mann_kendall_matches_brute_force(self):
        import math

        from data_and_analytics_etl_spark.operators.timeseries import \
            mann_kendall
        spark = self._spark()
        series = [(0, 3), (1, 5), (2, 4), (3, 5), (4, 9),
                  (5, 2), (6, 11), (7, 11), (8, 14)]
        df = spark.createDataFrame([("k", t, v) for t, v in series],
                                   "g: string, t: long, v: long")
        r = mann_kendall(df, "g", "t", "v").collect()[0]
        pairs = [(t1, t2, v1, v2)
                 for i, (t1, v1) in enumerate(series)
                 for t2, v2 in series[i + 1:]]
        s = sum((v2 > v1) - (v2 < v1) for _, _, v1, v2 in pairs)
        n = len(series)
        vals = [v for _, v in series]
        tie = sum(vals.count(v) * (vals.count(v) - 1)
                  * (2 * vals.count(v) + 5) for v in set(vals))
        var_num = n * (n - 1) * (2 * n + 5) - tie
        assert r["n"] == n and r["s_stat"] == s
        assert r["var_num"] == var_num
        z = (s - (s > 0) + (s < 0)) / math.sqrt(var_num / 18.0)
        assert abs(r["z_stat"] - z) < 1e-6
        slopes = sorted(((v2 - v1) / (t2 - t1), t1, t2, v2 - v1, t2 - t1)
                        for t1, t2, v1, v2 in pairs)
        med = slopes[(len(slopes) + 1) // 2 - 1]
        assert (r["sen_num"], r["sen_den"]) == (med[3], med[4])
        assert abs(r["sen_slope"] - med[0]) < 1e-6

    def test_assortativity_matches_dict_pearson(self):
        import math

        from data_and_analytics_etl_spark.operators.graph import \
            degree_assortativity
        spark = self._spark()
        # star (hub 0) + a triangle + a pendant chain
        edges = [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11), (11, 12),
                 (10, 12), (12, 13), (1, 0)]  # dup orientation folds
        df = spark.createDataFrame(edges, "src: long, dst: long")
        r = degree_assortativity(df).collect()[0]
        und = {tuple(sorted(e)) for e in edges}
        deg: dict[int, int] = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        pts = [(deg[a], deg[b]) for a, b in und] \
            + [(deg[b], deg[a]) for a, b in und]
        m = len(pts)
        sx = sum(x for x, _ in pts)
        sx2 = sum(x * x for x, _ in pts)
        sxy = sum(x * y for x, y in pts)
        want = (m * sxy - sx * sx) / math.sqrt((m * sx2 - sx * sx) ** 2)
        assert r["m2"] == m and r["sum_deg"] == sx
        assert r["sum_deg2"] == sx2 and r["sum_dxdy"] == sxy
        assert abs(r["assortativity"] - want) < 1e-6
        assert r["assortativity"] < 0  # star+chain: disassortative

    def test_sprt_matches_sequential_replay(self):
        import math

        from data_and_analytics_etl_spark.operators.profile import \
            sprt_boundary
        spark = self._spark()
        c1 = math.log(0.55 / 0.45)
        up, lo = math.log(19.0), -math.log(19.0)
        # group A drifts to H1, group B to H0, group C never crosses
        ys = {"A": [1, 1, 1, 0, 1] * 8, "B": [0, 0, 1, 0, 0] * 8,
              "C": [1, 0] * 4}
        rows = [(g, i, y) for g, seq in ys.items()
                for i, y in enumerate(seq)]
        df = spark.createDataFrame(rows, "g: string, i: long, y: long")
        got = {r["category"]: r for r in sprt_boundary(
            df, "g", ["i"], F.col("y") == 1, llr_pos=c1, llr_neg=-c1,
            upper=up, lower=lo).collect()}
        for g, seq in ys.items():
            llr, cross = 0.0, None
            for i, y in enumerate(seq, start=1):
                llr += c1 if y else -c1
                if llr >= up or llr <= lo:
                    cross = (i, sum(seq[:i]), llr,
                             "H1" if llr >= up else "H0")
                    break
            r = got[g]
            assert r["n_total"] == len(seq)
            if cross is None:
                assert r["cross_n"] is None and r["decision"] is None
            else:
                assert (r["cross_n"], r["n1_at_cross"],
                        r["decision"]) == (cross[0], cross[1], cross[3])
                assert abs(r["llr_at_cross"] - cross[2]) < 1e-6


class TestRoundTenFifthCohort:
    """References for the r10 fifth mini-cohort: integer HITS vs a
    pure-Python grid replay, quantile normalization vs the textbook
    sorted-column average, JS divergence vs an exact-math replay."""

    def _spark(self):
        from data_and_analytics_etl_spark.session import get_spark
        return get_spark("prop-r10e")

    def test_hits_integer_matches_python_replay(self):
        from data_and_analytics_etl_spark.operators.graph import \
            hits_integer
        spark = self._spark()
        edges = [(1, 2), (1, 3), (2, 3), (4, 3), (3, 5)]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        got = {r["node"]: (r["authority"], r["hub"])
               for r in hits_integer(df, iters=2).collect()}
        s = 10 ** 12
        nodes = sorted({n for e in edges for n in e})
        h = {n: s for n in nodes}
        a = {}
        for _ in range(2):
            raw_a = {n: sum(h[u] for u, v in edges if v == n)
                     for n in nodes}
            ta = sum(raw_a.values())
            a = {n: raw_a[n] * s // ta if raw_a[n] else 0 for n in nodes}
            raw_h = {n: sum(a[v] for u, v in edges if u == n)
                     for n in nodes}
            th = sum(raw_h.values())
            h = {n: raw_h[n] * s // th if raw_h[n] else 0 for n in nodes}
        assert got == {n: (a[n], h[n]) for n in nodes}
        # node 3 is the sink everyone cites: top authority
        assert max(a, key=a.get) == 3

    def test_quantile_normalize_matches_textbook(self):
        from data_and_analytics_etl_spark.operators.features import \
            quantile_normalize
        spark = self._spark()
        cols = {"f1": [5, 2, 3, 4, 9], "f2": [4, 1, 4, 2, 2],
                "f3": [3, 4, 6, 8, 8]}
        rows = [(f, v, i) for f, vs in cols.items()
                for i, v in enumerate(vs)]
        df = spark.createDataFrame(rows, "f: string, v: long, tb: long")
        got = [(r["rank"], r["n_features"], r["sum_v"], r["norm"])
               for r in quantile_normalize(
                   df, "f", "v", ["tb"], lo=0.0, hi=10.0,
                   nbins=4).collect()]
        ranked = {f: sorted(vs) for f, vs in cols.items()}
        want = []
        for i in range(5):
            vals = [ranked[f][i] for f in cols]
            want.append((i + 1, 3, sum(vals), sum(vals) / 3))
        assert got == want

    def test_js_divergence_matches_exact_replay(self):
        import math

        from data_and_analytics_etl_spark.operators.text import \
            js_divergence_by_group
        spark = self._spark()
        docs = [("a", 1, "x x y z"), ("a", 2, "x w"),
                ("b", 3, "y y z q q"), ("b", 4, "q")]
        df = spark.createDataFrame(docs,
                                   "source: string, doc_id: long, "
                                   "text: string")
        got = {r["category"]: r for r in
               js_divergence_by_group(df, "source").collect()}
        toks = {g: [t for gg, _, tx in docs if gg == g
                    for t in tx.split()] for g in ("a", "b")}
        for g in ("a", "b"):
            mine, rest = toks[g], toks["b" if g == "a" else "a"]
            ng, nr = len(mine), len(rest)
            support = sorted(set(mine))
            q_sum = 0
            for t in support:
                p = mine.count(t) / ng
                q = rest.count(t) / nr
                m = (p + q) / 2.0
                term = (0.5 * p) * math.log(p / m)
                if rest.count(t) > 0:
                    term += (0.5 * q) * math.log(q / m)
                q_sum += math.floor(term * 1e6)
            miss = sum(rest.count(t) for t in set(rest) - set(mine)) / nr
            q_sum += math.floor((0.34657359027997264 * miss) * 1e6)
            r = got[g]
            assert r["n_tokens"] == ng
            assert r["js_q"] == q_sum
            assert abs(r["js"] - q_sum / 1e6) < 1e-12
            assert -1e-6 <= r["js"] <= math.log(2.0) + 1e-6


class TestRoundTenSixthCohort:
    """References for the r10 sixth mini-cohort: Cochran's Q vs the
    textbook formula, the runs test vs brute-force run counting."""

    def _spark(self):
        from data_and_analytics_etl_spark.session import get_spark
        return get_spark("prop-r10f")

    def test_cochran_q_matches_textbook(self):
        from data_and_analytics_etl_spark.operators.profile import \
            cochran_q
        spark = self._spark()
        # 5 complete blocks x 3 treatments + 1 incomplete block (drops)
        cells = [(1, "a", 1), (1, "b", 1), (1, "c", 0),
                 (2, "a", 1), (2, "b", 0), (2, "c", 0),
                 (3, "a", 1), (3, "b", 1), (3, "c", 1),
                 (4, "a", 0), (4, "b", 0), (4, "c", 0),
                 (5, "a", 1), (5, "b", 0), (5, "c", 1),
                 (6, "a", 1)]
        df = spark.createDataFrame(cells, "b: long, tr: string, x: long")
        got = {r["treatment"]: r for r in
               cochran_q(df, "b", "tr", "x").collect()}
        keep = [c for c in cells if c[0] != 6]
        k = 3
        cj = {tr: sum(x for _, t, x in keep if t == tr)
              for tr in ("a", "b", "c")}
        rb = {b: sum(x for bb, _, x in keep if bb == b)
              for b in range(1, 6)}
        t = sum(cj.values())
        q = ((k - 1) * (k * sum(v * v for v in cj.values()) - t * t)
             / (k * t - sum(v * v for v in rb.values())))
        for tr in ("a", "b", "c"):
            r = got[tr]
            assert r["n_blocks"] == 5 and r["k"] == 3
            assert r["c_j"] == cj[tr]
            assert r["t_total"] == t
            assert r["sum_rb2"] == sum(v * v for v in rb.values())
            assert abs(r["q_stat"] - q) < 1e-6

    def test_runs_test_matches_brute_force(self):
        import math

        from data_and_analytics_etl_spark.operators.profile import \
            runs_test
        spark = self._spark()
        seqs = {"A": [1, 1, 0, 1, 0, 0, 0, 1, 1, 0, 1, 0],
                "B": [1, 0] * 6,           # maximal alternation
                "C": [1] * 6}              # degenerate: sigma = 0
        rows = [(g, i, y) for g, s in seqs.items()
                for i, y in enumerate(s)]
        df = spark.createDataFrame(rows, "g: string, i: long, y: long")
        got = {r["category"]: r for r in runs_test(
            df, "g", ["i"], F.col("y") == 1).collect()}
        for g, s in seqs.items():
            n, n1 = len(s), sum(s)
            runs = 1 + sum(1 for i in range(1, n) if s[i] != s[i - 1])
            r = got[g]
            assert (r["n"], r["n1"], r["runs"]) == (n, n1, runs)
            p = 2 * n1 * (n - n1)
            if p * (p - n) <= 0:
                assert r["z_stat"] is None
            else:
                z = (runs * n - p - n) / math.sqrt(p * (p - n) / (n - 1))
                assert abs(r["z_stat"] - z) < 1e-6
        assert got["B"]["z_stat"] > 0 and got["A"]["z_stat"] < 1



class TestRoundElevenCohort:
    """References for the r11 cohort: Jonckheere-Terpstra and Mood's
    median vs pure-Python pair/median replays, MCC vs the closed form,
    max drawdown vs a walk replay, Durbin-Watson vs float OLS
    residuals, local clustering and Adamic-Adar vs dict-based graph
    brute force, Yule's K and the Zipf slope vs Counter arithmetic —
    plus the r10-advice guard regressions (complete-block detection,
    negative PPS weights, hits iters)."""

    def _spark(self):
        from data_and_analytics_etl_spark.session import get_spark
        return get_spark("prop-r11")

    def test_jonckheere_matches_pair_brute_force(self):
        import math

        from data_and_analytics_etl_spark.operators.profile import \
            jonckheere_terpstra
        spark = self._spark()
        data = {"g1": [1, 3, 3, 5], "g2": [2, 3, 6], "g3": [4, 6, 6, 9, 2]}
        rows = [(g, v) for g, vs in data.items() for v in vs]
        df = spark.createDataFrame(rows, "g: string, v: long")
        out = jonckheere_terpstra(df, "g", "v").collect()
        gs = sorted(data)
        want_u2 = {}
        for i, gi in enumerate(gs):
            for gj in gs[i + 1:]:
                u2 = sum(2 if x < y else (1 if x == y else 0)
                         for x in data[gi] for y in data[gj])
                want_u2[(gi, gj)] = u2
        assert {(r["group_lo"], r["group_hi"]): r["u2"]
                for r in out} == want_u2
        j2 = sum(want_u2.values())
        ns = [len(v) for v in data.values()]
        n_tot = sum(ns)
        mu2 = (n_tot * n_tot - sum(n * n for n in ns)) // 2
        varnum = (n_tot * n_tot * (2 * n_tot + 3)
                  - sum(n * n * (2 * n + 3) for n in ns))
        z = (2 * j2 - 2 * mu2) / (4.0 * math.sqrt(varnum / 72.0))
        for r in out:
            assert r["j2"] == j2 and r["mu2"] == mu2
            assert abs(r["z_stat"] - z) < 1e-9

    def test_mood_median_matches_python_replay(self):
        from data_and_analytics_etl_spark.operators.profile import \
            mood_median_test
        spark = self._spark()
        data = {"a": [1, 2, 3, 9, 9], "b": [4, 5, 6], "c": [1, 7, 8, 9]}
        rows = [(g, v) for g, vs in data.items() for v in vs]
        df = spark.createDataFrame(rows, "g: string, v: long")
        got = {r["category"]: r for r in
               mood_median_test(df, "g", "v").collect()}
        pooled = sorted(v for vs in data.values() for v in vs)
        med = pooled[(len(pooled) + 1) // 2 - 1]  # lower median
        n_tot = len(pooled)
        a_tot = sum(1 for v in pooled if v > med)
        grid = 0
        for g, vs in data.items():
            n, a = len(vs), sum(1 for v in vs if v > med)
            assert got[g]["n"] == n and got[g]["above"] == a
            assert got[g]["median"] == med
            num = (a * n_tot - n * a_tot) ** 2
            den = n * a_tot * (n_tot - a_tot)
            grid += int(num / den * 1e6)  # floor of a nonneg double
        for g in data:
            assert abs(got[g]["chi2"] - grid / 1e6) < 1e-12

    def test_matthews_corrcoef_matches_closed_form(self):
        import math

        from data_and_analytics_etl_spark.operators.evaluation import \
            matthews_corrcoef
        spark = self._spark()
        import pyspark.sql.functions as F
        rows = [("x", i % 3 == 0, (i % 3 == 0) == (i % 5 < 3))
                for i in range(60)]
        df = spark.createDataFrame(rows, "g: string, y: boolean, p: boolean")
        r = matthews_corrcoef(df, "g", F.col("y"), F.col("p")).collect()[0]
        tp = sum(1 for _, y, p in rows if y and p)
        fp = sum(1 for _, y, p in rows if not y and p)
        fn = sum(1 for _, y, p in rows if y and not p)
        tn = sum(1 for _, y, p in rows if not y and not p)
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, fn, tn)
        mcc = ((tp * tn - fp * fn)
               / math.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)))
        assert abs(r["mcc"] - mcc) < 1e-12

    def test_matthews_degenerate_margin_is_null(self):
        from data_and_analytics_etl_spark.operators.evaluation import \
            matthews_corrcoef
        import pyspark.sql.functions as F
        spark = self._spark()
        df = spark.createDataFrame([("x", True, True), ("x", False, True)],
                                   "g: string, y: boolean, p: boolean")
        r = matthews_corrcoef(df, "g", F.col("y"), F.col("p")).collect()[0]
        assert r["mcc"] is None  # tn+fn margin is zero

    def test_max_drawdown_matches_walk_replay(self):
        from data_and_analytics_etl_spark.operators.timeseries import \
            max_drawdown
        import pyspark.sql.functions as F
        spark = self._spark()
        steps = {"s1": [5, -3, -4, 10, -2, -9, 1],
                 "s2": [-1, -1, 3, 0],
                 "s3": [2, 2, 2]}
        rows = [(g, t, s) for g, ss in steps.items()
                for t, s in enumerate(ss)]
        df = spark.createDataFrame(rows, "g: string, t: long, s: long")
        got = {r["series"]: r for r in
               max_drawdown(df, "g", ["t"], F.col("s")).collect()}
        for g, ss in steps.items():
            walk, run2, dd2 = 0, None, 0
            peaks = []
            for s in ss:
                walk += s
                peaks.append(walk)
                run2 = walk if run2 is None else max(run2, walk)
                dd2 = max(dd2, run2 - walk)
            r = got[g]
            assert r["n"] == len(ss)
            assert r["final_value"] == sum(ss)
            assert r["peak"] == max(peaks)
            assert r["max_drawdown"] == dd2

    def test_durbin_watson_matches_float_ols(self):
        from data_and_analytics_etl_spark.operators.timeseries import \
            durbin_watson
        spark = self._spark()
        series = {"m1": [(1, 4), (2, 7), (3, 6), (4, 10), (5, 9), (6, 13)],
                  "m2": [(1, 2), (2, 2), (3, 2), (4, 2)]}
        rows = [(g, t, y) for g, pts in series.items() for t, y in pts]
        df = spark.createDataFrame(rows, "g: string, t: long, y: long")
        got = {r["series"]: r for r in
               durbin_watson(df, "g", "t", "y").collect()}
        for g, pts in series.items():
            n = len(pts)
            st = sum(t for t, _ in pts)
            sy = sum(y for _, y in pts)
            sty = sum(t * y for t, y in pts)
            st2 = sum(t * t for t, _ in pts)
            d = n * st2 - st * st
            b = n * sty - st * sy
            e = [d * (n * y - sy) - b * (n * t - st) for t, y in pts]
            sden = sum(x * x for x in e)
            snum = sum((e[i] - e[i - 1]) ** 2 for i in range(1, n))
            r = got[g]
            assert r["n"] == n
            if sden == 0:
                assert r["dw_stat"] is None  # zero residual variance
            else:
                assert abs(r["dw_stat"] - snum / sden) < 1e-12

    def test_local_clustering_matches_brute_force(self):
        from collections import defaultdict
        from itertools import combinations

        from data_and_analytics_etl_spark.operators.graph import \
            local_clustering_by_degree
        spark = self._spark()
        # K4 on {1,2,3,4} plus a pendant 5-1 and a disjoint path 6-7-8
        edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                 (5, 1), (6, 7), (7, 8)]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        out = {r["deg"]: r for r in
               local_clustering_by_degree(df).collect()}
        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        tri = {v: sum(1 for x, y in combinations(sorted(adj[v]), 2)
                      if y in adj[x])
               for v in adj}
        byk = defaultdict(lambda: [0, 0])
        for v in adj:
            k = len(adj[v])
            if k < 2:
                continue
            byk[k][0] += 1
            byk[k][1] += tri[v]
        for k, (n_nodes, tsum) in byk.items():
            r = out[k]
            assert (r["n_nodes"], r["triangles"]) == (n_nodes, tsum)
            assert abs(r["avg_lcc"]
                       - 2.0 * tsum / (n_nodes * k * (k - 1))) < 1e-12
        assert set(out) == set(byk)

    def test_adamic_adar_matches_brute_force(self):
        import math
        from collections import defaultdict
        from itertools import combinations

        from data_and_analytics_etl_spark.operators.graph import \
            adamic_adar_scores
        spark = self._spark()
        edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5), (1, 5),
                 (5, 6)]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        out = {(r["u"], r["v"]): r for r in
               adamic_adar_scores(df).collect()}
        adj = defaultdict(set)
        eset = set()
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
            eset.add((min(a, b), max(a, b)))
        want = defaultdict(int)
        for u, v in combinations(sorted(adj), 2):
            if (u, v) in eset:
                continue
            for x in adj[u] & adj[v]:
                want[(u, v)] += int(math.floor(1e6 / math.log(len(adj[x]))))
        want = {p: g for p, g in want.items() if g}
        assert {p: r["aa_grid"] for p, r in out.items()} == dict(want)
        for p, r in out.items():
            assert abs(r["aa"] - want[p] / 1e6) < 1e-12

    def test_yule_k_matches_counter(self):
        from collections import Counter

        from data_and_analytics_etl_spark.operators.text import \
            yule_k_by_group
        spark = self._spark()
        docs = [("a", "the cat sat on the mat the end"),
                ("a", "the dog"),
                ("b", "x y z")]
        df = spark.createDataFrame(docs, "g: string, text: string")
        got = {r["category"]: r for r in
               yule_k_by_group(df, "g").collect()}
        for g in ("a", "b"):
            c = Counter(w for gg, t in docs if gg == g
                        for w in t.lower().split())
            n = sum(c.values())
            s2 = sum(f * f for f in c.values())
            r = got[g]
            assert (r["n_tokens"], r["n_types"], r["sum_f2"]) == \
                (n, len(c), s2)
            assert abs(r["yule_k"] - 1e4 * (s2 - n) / (n * n)) < 1e-9

    def test_zipf_slope_matches_python_ols(self):
        import math
        from collections import Counter

        from data_and_analytics_etl_spark.operators.text import (
            zipf_log_rank_grid, zipf_slope)
        spark = self._spark()
        # exact 12/r profile over the top-4 ranks so ln f is linear in
        # ln rank with slope -1 (plus a rank-5 type top_r excludes)
        text = " ".join(["alpha"] * 12 + ["beta"] * 6 + ["gamma"] * 4
                        + ["delta"] * 3 + ["eps"])
        df = spark.createDataFrame([("g", text)], "g: string, text: string")
        r = zipf_slope(df, "g", top_r=4).collect()[0]
        c = Counter(text.split())
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
        xs = zipf_log_rank_grid(4)
        ys = [int(math.floor(math.log(f) * 1e6)) for _, f in ranked]
        n = len(ranked)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sx2 = sum(x * x for x in xs)
        slope = (n * sxy - sx * sy) / (n * sx2 - sx * sx)
        assert r["n_ranks"] == n
        assert abs(r["slope"] - slope) < 1e-9
        # perfect halving => slope == -1 on the quantized grid (close)
        assert abs(r["slope"] + 1.0) < 1e-3

    # --- r10-advice guard regressions -------------------------------

    def test_friedman_rejects_duplicated_treatment_block(self):
        from data_and_analytics_etl_spark.operators.profile import \
            friedman_test
        spark = self._spark()
        # block 2 has k rows but a DUPLICATED treatment and a missing
        # one — it must now be dropped as incomplete
        cells = [(1, "a", 1), (1, "b", 2), (1, "c", 3),
                 (2, "a", 4), (2, "a", 5), (2, "c", 6)]
        df = spark.createDataFrame(cells, "b: long, tr: string, v: long")
        got = {r["treatment"]: r for r in
               friedman_test(df, "b", "tr", "v").collect()}
        assert all(r["n_blocks"] == 1 for r in got.values())

    def test_cochran_q_rejects_duplicated_treatment_block(self):
        from data_and_analytics_etl_spark.operators.profile import \
            cochran_q
        spark = self._spark()
        cells = [(1, "a", 1), (1, "b", 0), (1, "c", 1),
                 (2, "b", 1), (2, "b", 0), (2, "c", 1)]
        df = spark.createDataFrame(cells, "b: long, tr: string, x: long")
        got = cochran_q(df, "b", "tr", "x").collect()
        assert all(r["n_blocks"] == 1 for r in got)

    def test_weighted_sample_rejects_negative_weight(self):
        import pyspark.sql.functions as F
        import pytest
        from data_and_analytics_etl_spark.operators.sampling import \
            weighted_systematic_sample
        spark = self._spark()
        df = spark.createDataFrame([(1, 5), (2, -1), (3, 2)],
                                   "k: long, w: long")
        out = weighted_systematic_sample(df, "k", F.col("w"), k=2)
        with pytest.raises(Exception, match="negative weight"):
            out.collect()

    def test_hits_rejects_zero_iters(self):
        import pytest
        from data_and_analytics_etl_spark.operators.graph import \
            hits_integer
        spark = self._spark()
        df = spark.createDataFrame([(1, 2)], "src: long, dst: long")
        with pytest.raises(ValueError, match="iters"):
            hits_integer(df, iters=0)


class TestRoundTwelveCohort:
    """References for the r12 cohort: integer-grid IVF k-means vs a
    pure-Python Lloyd replay, weighted shortest paths vs Floyd-
    Warshall, effective diameter vs a BFS histogram, percentile_cont/
    disc vs the SQL-standard index formula, Theil-Sen vs
    brute-force pairwise slopes."""

    def _spark(self):
        from data_and_analytics_etl_spark.session import get_spark
        return get_spark("prop-r12")

    def test_ivf_grid_matches_python_lloyd(self):
        import math

        from data_and_analytics_etl_spark.operators.similarity import \
            ivf_grid_ann
        spark = self._spark()
        vecs = {
            0: [0.9, 0.1, 0.0, 0.0], 1: [0.8, 0.2, 0.1, 0.0],
            2: [0.0, 0.1, 0.9, 0.2], 3: [0.1, 0.0, 0.8, 0.3],
            4: [0.7, 0.3, 0.0, 0.1], 5: [0.0, 0.2, 0.7, 0.1],
            6: [0.9, 0.0, 0.1, 0.1], 7: [0.1, 0.1, 0.9, 0.0],
        }
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in vecs.items()],
            "vec_id: long, embedding: array<float>")
        out = ivf_grid_ann(df, df.filter("vec_id < 2"), k=3,
                           n_cells=2, n_probe=1, iters=2).collect()

        # pure-Python replay (float32 -> double is exact for these)
        q = {i: [math.floor(x * 1000) + 1000 for x in v]
             for i, v in vecs.items()}
        cent = {c: list(q[c]) for c in (0, 1)}  # seeds: 2 smallest ids

        def d2(a, b):
            return sum((x - y) ** 2 for x, y in zip(a, b))

        assign = {}
        for _ in range(2):
            assign = {i: min(cent, key=lambda c: (d2(q[i], cent[c]), c))
                      for i in q}
            for c in cent:
                mem = [q[i] for i in q if assign[i] == c]
                if mem:
                    cent[c] = [sum(col) // len(mem) for col in zip(*mem)]
        assign = {i: min(cent, key=lambda c: (d2(q[i], cent[c]), c))
                  for i in q}

        def cos(a, b):
            dot = na = nb = 0.0
            for x, y in zip(a, b):
                dot += x * y
            for x in a:
                na += x * x
            for y in b:
                nb += y * y
            return round(dot / (math.sqrt(na) * math.sqrt(nb)), 6)

        want = []
        for p in (0, 1):
            cell = min(cent, key=lambda c: (d2(q[p], cent[c]), c))
            cands = [i for i in q if assign[i] == cell and i != p]
            scored = sorted(((cos(vecs[p], vecs[i]), i) for i in cands),
                            key=lambda t: (-t[0], t[1]))[:3]
            want += [(p, i, c, r + 1)
                     for r, (c, i) in enumerate(scored)]
        got = sorted((r["probe_id"], r["vec_id"], r["cosine"], r["rank"])
                     for r in out)
        assert got == sorted(want)

    def test_weighted_shortest_paths_matches_floyd_warshall(self):
        from data_and_analytics_etl_spark.operators.graph import \
            weighted_shortest_paths
        spark = self._spark()
        edges = [(1, 2, 4), (2, 3, 1), (1, 3, 10), (3, 4, 2), (2, 4, 9),
                 (5, 1, 3), (4, 6, 1)]
        df = spark.createDataFrame(edges, "src: long, dst: long, w: long")
        out = {(r["node"], r["anc"]): r["cost"]
               for r in weighted_shortest_paths(df, max_depth=16)
               .collect()}
        nodes = {n for e in edges for n in e[:2]}
        INF = float("inf")
        dist = {(a, b): INF for a in nodes for b in nodes}
        for a, b, w in edges:
            dist[(a, b)] = min(dist[(a, b)], w)
        for m in nodes:
            for a in nodes:
                for b in nodes:
                    if dist[(a, m)] + dist[(m, b)] < dist[(a, b)]:
                        dist[(a, b)] = dist[(a, m)] + dist[(m, b)]
        want = {k: v for k, v in dist.items() if v < INF}
        assert out == want

    def test_effective_diameter_matches_bfs_histogram(self):
        from collections import deque

        from data_and_analytics_etl_spark.operators.graph import \
            effective_diameter
        spark = self._spark()
        edges = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 6), (6, 7), (2, 7)]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        row = effective_diameter(df, pct=90, max_depth=16).collect()[0]
        adj = {}
        for a, b in edges:
            adj.setdefault(a, []).append(b)
        dists = []
        for s in {n for e in edges for n in e}:
            seen = {s: 0}
            dq = deque([s])
            while dq:
                u = dq.popleft()
                for v in adj.get(u, []):
                    if v not in seen:
                        seen[v] = seen[u] + 1
                        dq.append(v)
            dists += [d for n, d in seen.items() if n != s]
        dists.sort()
        total = len(dists)
        eff = next(d for i, d in enumerate(dists)
                   if 100 * (i + 1) >= 90 * total)
        assert (row["n_pairs"], row["diameter"],
                row["effective_diameter"]) == (total, max(dists), eff)

    def test_percentile_cont_disc_match_index_formula(self):
        import pyspark.sql.functions as F
        spark = self._spark()
        vals = [3, 1, 4, 1, 5, 9, 2, 6]
        df = spark.createDataFrame([(v,) for v in vals], "qty: long")
        row = df.agg(
            F.expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY qty)")
            .alias("q1"),
            F.expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY qty)")
            .alias("q3"),
            F.expr("CAST(percentile_disc(0.5) WITHIN GROUP "
                   "(ORDER BY qty) AS BIGINT)").alias("d")).collect()[0]
        s = sorted(vals)

        def cont(p):
            idx = p * (len(s) - 1)
            lo = int(idx)
            frac = idx - lo
            hi = min(lo + 1, len(s) - 1)
            return s[lo] + (s[hi] - s[lo]) * frac

        # percentile_disc(p): the first value whose cumulative
        # fraction reaches p
        def disc(p):
            for i, v in enumerate(s):
                if (i + 1) / len(s) >= p:
                    return v
        assert (row["q1"], row["q3"], row["d"]) == (
            cont(0.25), cont(0.75), disc(0.5))

    def test_theil_sen_matches_brute_force(self):
        from data_and_analytics_etl_spark.operators.timeseries import \
            theil_sen_slope
        spark = self._spark()
        series = {"a": [(1, 3), (2, 5), (4, 4), (7, 13)],
                  "b": [(1, 2), (2, 4), (3, 6)]}
        rows = [(g, t, y) for g, pts in series.items() for t, y in pts]
        df = spark.createDataFrame(rows, "g: string, t: long, y: long")
        out = {r["g"]: (r["n_points"], r["n_pairs"], r["sen_slope"])
               for r in theil_sen_slope(df, "g", "t", "y").collect()}
        for g, pts in series.items():
            slopes = sorted(
                (y2 - y1) / (t2 - t1)
                for i, (t1, y1) in enumerate(pts)
                for t2, y2 in pts[i + 1:])
            m = len(slopes)
            lo, hi = (m + 1) // 2, (m + 2) // 2
            med = (slopes[lo - 1] + slopes[hi - 1]) / 2
            assert out[g] == (len(pts), m, med)

    def test_weighted_sp_rejects_non_power_of_two_horizon(self):
        import pytest as _pytest

        from data_and_analytics_etl_spark.operators.graph import \
            weighted_shortest_paths
        spark = self._spark()
        df = spark.createDataFrame([(1, 2, 3)],
                                   "src: long, dst: long, w: long")
        for bad in (0, 3, 10, 12):
            with _pytest.raises(ValueError, match="power of two"):
                weighted_shortest_paths(df, max_depth=bad)

    def test_weighted_sp_rejects_negative_and_fractional_weights(self):
        # r12 ADVICE: the docstring promised nonnegative integers but
        # nothing checked — negatives break the bounded min-plus
        # contract and fractions silently truncate through the long
        # cast. The assert_true guard in the seed projection must fail
        # the JOB (runtime, data-dependent), not construction.
        import pytest as _pytest

        from data_and_analytics_etl_spark.operators.graph import \
            weighted_shortest_paths
        spark = self._spark()
        for bad_w in (-1.0, 2.5):
            df = spark.createDataFrame(
                [(1, 2, 3.0), (2, 3, float(bad_w))],
                "src: long, dst: long, w: double")
            with _pytest.raises(Exception,
                                match="nonnegative integers"):
                weighted_shortest_paths(df, max_depth=2).collect()
        # and the guard passes integral doubles through untouched
        ok = spark.createDataFrame([(1, 2, 3.0), (2, 3, 2.0)],
                                   "src: long, dst: long, w: double")
        out = {(r["node"], r["anc"]): r["cost"]
               for r in weighted_shortest_paths(ok, max_depth=2)
               .collect()}
        assert out == {(1, 2): 3, (2, 3): 2, (1, 3): 5}

    def test_weighted_sp_depth_one_is_cheapest_direct_edge(self):
        from data_and_analytics_etl_spark.operators.graph import \
            weighted_shortest_paths
        spark = self._spark()
        # parallel edges + a 2-edge shortcut that must NOT count at
        # max_depth=1 (rounds == 0: direct edges only, cheapest kept)
        df = spark.createDataFrame(
            [(1, 2, 9), (1, 2, 4), (2, 3, 1), (1, 3, 99)],
            "src: long, dst: long, w: long")
        out = {(r["node"], r["anc"]): r["cost"]
               for r in weighted_shortest_paths(df, max_depth=1)
               .collect()}
        assert out == {(1, 2): 4, (2, 3): 1, (1, 3): 99}

    def test_ivf_grid_empty_cell_keeps_previous_centroid(self):
        from data_and_analytics_etl_spark.operators.similarity import \
            ivf_grid_ann
        spark = self._spark()
        # two tight clusters + n_cells=3: seeds are ids 0,1,2 (ids 0,1
        # sit in cluster A, id 2 in cluster B), so after round 1 every
        # A-vector assigns to cell 0 or 1 and cell 2 owns cluster B —
        # then round 2 keeps cell 1 only if anything still lands there;
        # with A collapsing onto cell 0's refreshed centroid, cell 1
        # can empty out and must KEEP its previous centroid (LEFT JOIN
        # + coalesce) instead of dropping to 0-dim garbage.
        vecs = {0: [1.0, 0.0], 1: [0.98, 0.02], 2: [0.0, 1.0],
                3: [0.99, 0.01], 4: [0.01, 0.99], 5: [0.02, 0.98]}
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in vecs.items()],
            "vec_id: long, embedding: array<float>")
        out = ivf_grid_ann(df, df.filter("vec_id = 0"), k=5,
                           n_cells=3, n_probe=3, iters=2).collect()
        # searching ALL cells (n_probe == n_cells) must reduce to
        # exact brute force: every other vector ranked by cosine
        got = [(r["vec_id"], r["rank"]) for r in
               sorted(out, key=lambda r: r["rank"])]
        assert [v for v, _ in got] == [3, 1, 5, 4, 2]
        assert [r for _, r in got] == [1, 2, 3, 4, 5]


class TestHyperball:
    """hyperball_neighborhood (r13): the driver probe hash-checks the
    DETERMINISM of the whole HLL pipeline; these tests pin what a
    hash cannot — the estimates' ACCURACY against the exact closure
    (the approx_count_distinct evidence contract)."""

    def _spark(self):
        from data_and_analytics_etl_spark.session import get_spark
        return get_spark("test-hyperball")

    @staticmethod
    def _exact_nf(edges, max_radius):
        """Exact N(r) = Σ_v |ball(v, r)| (self included) by BFS."""
        adj = {}
        nodes = set()
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            nodes.update((a, b))
        out = {}
        for r in range(max_radius + 1):
            total = 0
            for s in nodes:
                ball = {s}
                frontier = {s}
                for _ in range(r):
                    frontier = {w for u in frontier
                                for w in adj.get(u, ())} - ball
                    ball |= frontier
                total += len(ball)
            out[r] = total
        return out

    def test_estimates_track_exact_neighborhood_function(self):
        from data_and_analytics_etl_spark.operators.graph import \
            hyperball_neighborhood
        spark = self._spark()
        # the probe graph shape at pytest scale: the 1..150 digit
        # hierarchy (depth 3) plus a chain that stretches the radius
        edges = [(k, k // 10) for k in range(1, 151)]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        got = {r["r"]: (r["est_micro"] / 1e6, r["effective_radius"])
               for r in hyperball_neighborhood(df, max_radius=4)
               .collect()}
        want = self._exact_nf(edges, 4)
        for r, exact in want.items():
            est = got[r][0]
            rel = abs(est - exact) / exact
            assert rel <= 0.35, (r, est, exact, rel)

    def test_effective_radius_matches_exact_within_one(self):
        from data_and_analytics_etl_spark.operators.graph import \
            hyperball_neighborhood
        spark = self._spark()
        edges = [(k, k // 10) for k in range(1, 151)]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        eff = hyperball_neighborhood(df, max_radius=4).collect()[0][
            "effective_radius"]
        want = self._exact_nf(edges, 4)
        mx = want[4]
        exact_eff = min(r for r, n in want.items() if 100 * n >= 90 * mx)
        assert abs(eff - exact_eff) <= 1, (eff, exact_eff)

    def test_estimates_are_monotone_and_reach_fixpoint(self):
        """Registers only grow ⇒ N(r) must be nondecreasing, and once
        r exceeds the graph's diameter the estimate must FREEZE (the
        ball stops growing — extra rounds are idempotent max()es)."""
        from data_and_analytics_etl_spark.operators.graph import \
            hyperball_neighborhood
        spark = self._spark()
        # a 3-chain: diameter 3; rounds 4..5 must equal round 3
        edges = [(1, 2), (2, 3), (3, 4)]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        rows = {r["r"]: r["est_micro"]
                for r in hyperball_neighborhood(df, max_radius=5)
                .collect()}
        vals = [rows[r] for r in range(6)]
        assert vals == sorted(vals)
        assert vals[3] == vals[4] == vals[5]


class TestFanoutGuardPlanDetection:
    """r14 hardening: ensure_fanout_parallelism detects prior exchanges
    by walking analyzed-plan NODE NAMES, not by substring over the plan
    text — a column aliased 'JoinOrder'/'sortKey' must not defeat the
    guard, and genuinely shuffled plans must still be left alone."""

    def _spark(self):
        from data_and_analytics_etl_spark.session import get_spark
        return get_spark("fanout-guard-test")

    def _one_partition_scan(self, spark, tmp_path):
        import os
        p = os.path.join(str(tmp_path), "one.parquet")
        spark.createDataFrame([(i, i * 2) for i in range(100)],
                              "x: long, y: long") \
            .coalesce(1).write.mode("overwrite").parquet(p)
        return spark.read.parquet(p)

    def test_adversarial_alias_does_not_defeat_guard(self, tmp_path):
        from data_and_analytics_etl_spark.operators.text import (
            ensure_fanout_parallelism)
        spark = self._spark()
        df = self._one_partition_scan(spark, tmp_path).select(
            F.col("x").alias("JoinOrder"), F.col("y").alias("sortKey"))
        assert df.rdd.getNumPartitions() == 1
        out = ensure_fanout_parallelism(df, min_partitions=4)
        # the plan TEXT contains 'Join' and 'Sort' but no exchange node:
        # the guard must still repartition the 1-partition scan
        assert out.rdd.getNumPartitions() >= 4

    def test_shuffled_plan_left_alone(self, tmp_path):
        from data_and_analytics_etl_spark.operators.text import (
            ensure_fanout_parallelism)
        spark = self._spark()
        base = self._one_partition_scan(spark, tmp_path)
        for shuffled in (
                base.groupBy("x").count(),
                base.orderBy("y"),
                base.distinct(),
                base.repartition(2, "x"),
                base.join(base.select(F.col("x").alias("z")),
                          F.col("x") == F.col("z"))):
            out = ensure_fanout_parallelism(shuffled, min_partitions=64)
            assert out is shuffled, shuffled._jdf.queryExecution() \
                .analyzed().nodeName()

    @staticmethod
    def _construction_jobs(spark, df, name):
        """Jobs the guard runs while building on ``df``, counted in a
        job group of their own."""
        import uuid
        from data_and_analytics_etl_spark.operators.text import (
            ensure_fanout_parallelism)
        sc = spark.sparkContext
        group = f"fanout-{name}-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "fan-out guard construction")
        try:
            ensure_fanout_parallelism(df, min_partitions=64)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def test_intersect_runs_no_job(self, tmp_path):
        spark = self._spark()
        base = self._one_partition_scan(spark, tmp_path)
        df = base.intersect(base.filter(F.col("x") < 50))
        assert self._construction_jobs(spark, df, "intersect") == 0

    def test_except_runs_no_job(self, tmp_path):
        spark = self._spark()
        base = self._one_partition_scan(spark, tmp_path)
        df = base.subtract(base.filter(F.col("x") < 50))
        assert self._construction_jobs(spark, df, "except") == 0

    @pytest.mark.parametrize("where", [
        # the only exchange is inside the subquery's GROUP BY
        "x IN (SELECT y FROM {t} GROUP BY y)",
        # no exchange anywhere: the IN becomes a join, the scalar
        # subquery a job of its own
        "x IN (SELECT y FROM {t})",
        "x > (SELECT y FROM {t} WHERE x = 3)",
    ])
    def test_in_subquery_runs_no_job(self, tmp_path, where):
        import uuid
        spark = self._spark()
        view = f"fanout_in_{uuid.uuid4().hex[:8]}"
        self._one_partition_scan(spark, tmp_path) \
            .createOrReplaceTempView(view)
        try:
            df = spark.sql(f"SELECT * FROM {view} WHERE "
                           + where.format(t=view))
            assert self._construction_jobs(spark, df, "in") == 0
        finally:
            spark.catalog.dropTempView(view)

    def test_multi_partition_scan_is_noop(self, tmp_path):
        import os
        from data_and_analytics_etl_spark.operators.text import (
            ensure_fanout_parallelism)
        spark = self._spark()
        p = os.path.join(str(tmp_path), "many.parquet")
        spark.createDataFrame([(i,) for i in range(100)], "x: long") \
            .repartition(8).write.mode("overwrite").parquet(p)
        df = spark.read.parquet(p)
        got = df.rdd.getNumPartitions()
        out = ensure_fanout_parallelism(df, min_partitions=min(got, 8))
        assert out is df
