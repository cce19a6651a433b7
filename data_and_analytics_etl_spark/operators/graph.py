"""Iterative graph analytics beyond connected components.

`operators/dedup.py:dedup_clusters` (min-label propagation + pointer
doubling) is the engine's equivalence-class machine; this module adds
the other canonical iterative shape — fixed-point VALUE propagation —
with PageRank as the concrete operator.

Scale posture (same rules as the CC loop):
- each iteration is ONE equi-join (ranks ⨝ out-edges) and ONE
  aggregate (sum per dst) — both bucketed shuffles on node id, never
  node×node;
- the edge/degree frames are computed once, persisted (read every
  iteration) and released when the loop ends;
- the loop is `operators/fixpoint.py`: one eager `localCheckpoint` per
  iteration keeps the plan O(1)-deep instead of O(iters)-deep (10
  chained joins would otherwise blow up optimization time and executor
  stack) and carries the round's scalar through `observe()`;
- PageRank's iteration count is FIXED (power iteration with damping
  converges geometrically; 10-20 rounds is the standard operating
  point) — no data-dependent stop rule at all.

Determinism: rank updates sum doubles per dst node, so bit-identity
across partitionings is NOT guaranteed (unlike the integer/decimal
operators); agreement with a NumPy power-iteration reference within
1e-9 is pytest-pinned instead, and the probe is rows-only by design —
the same evidence contract as the LSH family.
"""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window

from .fixpoint import fixpoint


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             damping: float = 0.85, iters: int = 10) -> DataFrame:
    """PageRank over a directed edge list by fixed-iteration power
    method with uniform teleport and dangling-mass redistribution.

    ``edges`` rows are (src, dst) pairs (duplicates collapse to one
    edge). Nodes are the union of both endpoints; every node starts at
    rank 1/n; each round:

        contrib(v)  = damping * Σ_{u→v} rank(u) / outdeg(u)
        dangling    = damping * Σ_{outdeg(u)=0} rank(u) / n
        rank'(v)    = (1 - damping)/n + dangling + contrib(v)

    Σ rank stays 1 every round (pytest-pinned). Output: (node, rank).
    """
    def update(n: int, dmass: float, inflow: Column) -> Column:
        return (F.lit((1.0 - damping) / n) + F.lit(damping * dmass / n)
                + F.lit(damping) * inflow)

    return _power_iteration("pagerank", edges, src, dst, iters,
                            seed=lambda n: F.lit(1.0 / n),
                            share=F.col("rank") / F.col("outdeg"),
                            update=update)


def _power_iteration(op: str, edges: DataFrame, src: str, dst: str,
                     iters: int, seed, share: Column,
                     update) -> DataFrame:
    """The power-method loop shared by :func:`pagerank` and
    :func:`pagerank_integer`; they differ only in arithmetic.
    ``seed(n)`` is every node's starting rank, ``share`` a source's
    contribution along each out-edge, and ``update(n, dangling mass,
    inflow)`` the next rank. Output: (node, rank)."""
    # Loop-invariant edges pre-partitioned on the per-round join key
    # and persisted: the partitioning survives InMemoryTableScan, so
    # the contrib join plans no edge-side exchange at scale (verified
    # with broadcast disabled) — one setup shuffle instead of iters.
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .distinct()
         .repartition("src")
         .persist(StorageLevel.MEMORY_AND_DISK))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct())
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    base = (nodes.join(outdeg, nodes.node == outdeg.src, "left")
            .select("node", F.coalesce("outdeg", F.lit(0)).alias("outdeg"))
            .persist(StorageLevel.MEMORY_AND_DISK))
    n = base.count()  # one bounded action to size the teleport term
    # Dangling mass is observed on each round's checkpoint and inlined
    # as a literal into the next update (non-dangling rows add exact
    # zeros): a 1-row aggregate + broadcast subtree instead would add
    # two query stages per round and re-read the rank table at scale.
    dang = F.sum(F.when(F.col("outdeg") == 0, F.col("rank"))
                 .otherwise(F.lit(0)))

    def power_step(ranks: DataFrame, dmass):
        contrib = (ranks.filter(F.col("outdeg") > 0)
                   .join(e, ranks.node == e.src)
                   .select(F.col("dst").alias("node"), share.alias("__c"))
                   .groupBy("node")
                   .agg(F.sum("__c").alias("__in")))
        inflow = F.coalesce(F.col("__in"), F.lit(0))
        return (base.join(contrib, "node", "left")
                .select("node", "outdeg",
                        update(n, dmass or 0, inflow).alias("rank"))), dang

    ranks, _ = fixpoint(op, (base.select("node", "outdeg",
                                         seed(n).alias("rank")), dang),
                        power_step, rounds=int(iters), release=(e, base))
    return ranks.select("node", "rank")


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Global triangle count by degree-ordered edge orientation — the
    algorithm that made trillion-edge triangle counting tractable
    (Suri & Vassilvitskii '11 MapReduce form; cf. GraphX's
    TriangleCount).

    Orient every undirected edge from its lower-(degree, id) endpoint
    to the higher one: the oriented graph is a DAG whose max out-degree
    is O(√m), so the wedge join (pairs of out-edges sharing a source)
    generates at most Σ outdeg² = O(m^1.5) candidates — the provable
    bound that makes this survive power-law graphs, where the naive
    per-node neighbor-pair expansion is Θ(max_deg²) on the hub. Each
    triangle appears exactly once (its orientation-minimal vertex is
    the wedge center), verified by ONE semi-join of wedges against
    oriented edges.

    Plan: dedup/canonicalize (one shuffle), degree agg (one), two
    degree joins to attach endpoint ranks, the wedge self-join on the
    source, and the closing semi-join — all hash equi-joins, no
    cartesian anywhere. Output: one row (n_nodes, n_edges, triangles).
    """
    a, b = F.col(src), F.col(dst)
    # NOT persisted (r14, measured): unlike local_clustering_by_degree
    # (which gained -64% at sf1 from caching `o`), THIS plan's subtree
    # copies DO collapse under AQE exchange reuse (the semi-join
    # variant keeps the copies' exchanges identical) — adding
    # e/o persists here measured SLOWER (probe warm 4.9 -> 7.6 s,
    # jobs 18 -> 30 at sf0.1): the cache fill splits the fused
    # pipelines and pays two extra materialization passes for reuse
    # the planner already had.
    e = (edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
         .filter(F.col("a") != F.col("b"))
         .distinct())
    deg = (e.select(F.col("a").alias("node"))
           .unionAll(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    ed = (e.join(deg.withColumnRenamed("node", "a")
                 .withColumnRenamed("deg", "da"), "a")
          .join(deg.withColumnRenamed("node", "b")
                .withColumnRenamed("deg", "db"), "b"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    o = ed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da"))
        .alias("dv"))
    o1 = o.select(F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("dv1"))
    o2 = o.select(F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("dv2"))
    wedges = o1.join(o2, "u").filter(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2"))))
    closing = o.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    # SHUFFLE_HASH on the edge side: the wedge stream is the candidate
    # fan-out (Σ outdeg² rows — 410M at sf1 on the co-purchase probe
    # graph) and a sort-merge closing join SORTS it, spilling once the
    # per-task slice outgrows memory (measured 588 → 240 s at sf1 on
    # local_clustering's inner twin of this join, identical output).
    # Hashing the O(m) edge side lets the wedge side stream unsorted;
    # the per-partition hash is |edges|/shuffle-partitions — the knob
    # that scales with the cluster, not with the fan-out.
    tri = wedges.join(closing.hint("SHUFFLE_HASH"),
                      ["v1", "v2"], "left_semi")
    counts = tri.agg(F.count(F.lit(1)).alias("triangles"))
    stats = e.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (nodes.crossJoin(F.broadcast(stats))
            .crossJoin(F.broadcast(counts))
            .select("n_nodes", "n_edges", "triangles"))


def transitive_closure(edges: DataFrame, src: str = "src",
                       dst: str = "dst",
                       max_depth: int = 16,
                       max_pairs_per_node: int | None = None) -> DataFrame:
    """Reachability with shortest hop-distance — the WITH RECURSIVE
    ancestor query Spark SQL lacks, as a LAZY min-plus pointer-doubling
    plan.

    Returns (node, anc, depth): every (src ⇝ reachable-dst) pair within
    ``max_depth`` hops and its MINIMUM hop count. Classic repeated
    squaring of the min-plus matrix: round r holds all shortest paths
    of length ≤ 2^r, so ceil(log2(max_depth)) self-join rounds cover
    the requested horizon — O(log depth) bucketed equi-joins on node
    id, never node×node, the same complexity argument as the
    connected-components pointer doubling (dedup.py).

    Unlike the CC loop the round count is FIXED by ``max_depth`` (a
    hierarchy's depth bound is a modeling fact: org charts, BOMs,
    category trees), so construction is action-free — the whole closure
    is ONE lazy plan a DuckDB WITH RECURSIVE oracle can recompute.
    Per-round lazy persist stops the self-join from recomputing its
    doubled subtree; the LOGICAL tree still grows 2^rounds (fine at
    the 3-5 rounds real hierarchies need — 16-hop horizon = 4 rounds).
    For pathological depths (> ~64) switch the persist to
    localCheckpoint, trading construction laziness for a flat plan,
    exactly the dedup_clusters tradeoff.
    Per-round groupBy-min keeps the pair set deterministic on DAGs with
    multiple paths; cyclic inputs are capped at 2^rounds hops by
    construction (no infinite recursion, unlike an unguarded recursive
    CTE).

    ``max_pairs_per_node`` (r8 verdict task 4 — the fan-out contract):
    the closure's output is O(reachable pairs), which a denser-than-
    modeled graph can blow up 10-100× past the input (the sf0.1 growth
    curve measured 13.1× pairs on 10× edges). With a budget set, each
    round keeps only the N NEAREST ancestors per node (depth ASC, anc
    ASC — deterministic), so the frame entering every self-join — and
    the output — is bounded by budget·nodes by construction. The
    budgeted result is a documented DEGRADATION, not the exact
    closure: a truncated ancestor cannot relay paths through itself,
    so distant reachability may be lost (exactly the top-N contract
    ANN and keywords_topk use). Default None = exact closure, zero
    added cost (no window in the plan); the probe/oracle pair runs the
    default.
    """
    import math
    rounds = max(1, math.ceil(math.log2(max(2, max_depth))))
    budget = _pairs_budget("depth", max_pairs_per_node)
    seed = edges.select(F.col(src).alias("node"),
                        F.col(dst).alias("anc"),
                        F.lit(1).alias("depth"))
    closure = _minplus_doubling(seed, rounds, "depth", budget)
    return closure.filter(F.col("depth") <= max_depth)


def _pairs_budget(cost: str, max_pairs_per_node: int | None):
    """The per-round fan-out budget hook shared by the min-plus
    doubling family: keep the N nearest (cost ASC, anc ASC) ancestors
    per node, or identity when no budget is set (zero plan cost)."""
    def budget(frame: DataFrame) -> DataFrame:
        if max_pairs_per_node is None:
            return frame
        w = Window.partitionBy("node").orderBy(F.asc(cost),
                                               F.asc("anc"))
        return (frame.withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") <= max_pairs_per_node)
                .drop("__rk"))
    return budget


def _minplus_doubling(seed: DataFrame, rounds: int, cost: str,
                      budget) -> DataFrame:
    """Min-plus semiring repeated squaring over (node, anc, cost):
    round r holds the minimum cost over paths of <= 2^r edges
    (new = min(old, old (+) old) through a shared midpoint). ONE
    bucketed equi-join + ONE groupBy-min per round, never node x node
    — the single loop body behind transitive_closure (cost = +1 hops)
    and weighted_shortest_paths (cost = +w integer weights), extracted
    so the two cannot drift."""
    frame = budget(seed)
    for _ in range(rounds):
        # persist (lazy — construction stays action-free): the
        # self-join references this round's frame TWICE; without a
        # materialization point the logical subtree doubles per round
        # (2^rounds copies — 94 Exchanges measured at 4 rounds) and
        # every copy would recompute at scale. InMemoryTableScan
        # collapses both references to one computation.
        frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        hop = (frame.alias("l")
               .join(frame.alias("r"),
                     F.col("l.anc") == F.col("r.node"))
               .select(F.col("l.node").alias("node"),
                       F.col("r.anc").alias("anc"),
                       (F.col(f"l.{cost}") + F.col(f"r.{cost}"))
                       .alias(cost)))
        frame = budget(frame.unionByName(hop)
                       .groupBy("node", "anc")
                       .agg(F.min(cost).alias(cost)))
    return frame


def k_core(edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
           max_rounds: int = 32) -> DataFrame:
    """k-core decomposition for a fixed k: iteratively peel nodes of
    degree < k until the remaining (maximal) subgraph has minimum
    degree ≥ k — the standard dense-substructure/spam-cluster filter
    one notch below triangle counting.

    Input is an UNDIRECTED edge list; edges are canonicalized to
    (least, greatest) and deduplicated up front, so reversed
    duplicates and self-loops cannot inflate degrees (the
    triangle_count contract, enforced rather than assumed). Each peel
    round is one degree aggregate (union of endpoints → hash agg) and
    two LEFT SEMI joins filtering edges to surviving endpoints — all
    bucketed shuffles on node id, never node×node — checkpointed by
    operators/fixpoint.py with the surviving-edge count observed. The
    loop stops when that count is unchanged (no node fell below k,
    since dropping a node removes its edges) or 0. Peel depth is
    data-dependent — a path graph peels from the ends in O(n) rounds —
    so the loop raises past ``max_rounds`` instead of silently
    returning a non-core.

    Returns (node, degree) for the surviving core — empty when no
    k-core exists.
    """
    e = (edges.select(F.least(src, dst).alias("a"),
                      F.greatest(src, dst).alias("b"))
         .filter(F.col("a") != F.col("b"))
         .distinct())

    def degrees(e: DataFrame) -> DataFrame:
        return (e.select(F.col("a").alias("node"))
                .unionAll(e.select(F.col("b").alias("node")))
                .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))

    def peel(e: DataFrame, _):
        alive = degrees(e).filter(F.col("degree") >= k).select("node")
        return (e.join(alive.withColumnRenamed("node", "a"), "a",
                       "left_semi")
                .join(alive.withColumnRenamed("node", "b"), "b",
                      "left_semi")), F.count(F.lit(1))

    core, _ = fixpoint("k_core", (e, F.count(F.lit(1))), peel,
                       rounds=max_rounds,
                       until=lambda n_prev, n: n in (n_prev, 0))
    return degrees(core).filter(F.col("degree") >= k)


def sssp_hops(edges: DataFrame, source, src: str = "src",
              dst: str = "dst", max_depth: int = 8) -> DataFrame:
    """Single-source shortest hop-distances within ``max_depth`` — the
    one-source specialization of :func:`transitive_closure`. The
    all-pairs closure is the wrong plan when only one root matters:
    each of the ``max_depth`` LINEAR rounds here joins the
    reached-so-far set (bounded by the answer size) against the edge
    table, so work scales with the source's reachable neighborhood,
    never node×node — the BFS frontier argument, kept LAZY (no
    convergence probe; the horizon is the modeling bound, as in the
    closure) so construction is action-free and a recursive-CTE
    oracle can replay it.

    Returns (node, depth) with depth = minimum hops from ``source``
    (the source itself at depth 0). Per-round lazy persist stops the
    union's double reference from recomputing the reached set; cycles
    are capped at the horizon by construction.
    """
    dist = (edges.sparkSession.range(1)
            .select(F.lit(source).cast("long").alias("node"),
                    F.lit(0).alias("depth")))
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    for _ in range(int(max_depth)):
        dist = dist.persist(StorageLevel.MEMORY_AND_DISK)
        step = (dist.join(e, dist["node"] == e["__s"])
                .select(F.col("__d").alias("node"),
                        (F.col("depth") + 1).alias("depth")))
        dist = (dist.unionByName(step)
                .groupBy("node").agg(F.min("depth").alias("depth")))
    return dist


def label_propagation(edges: DataFrame, rounds: int = 3,
                      src: str = "src", dst: str = "dst") -> DataFrame:
    """Synchronous label propagation (community detection), a FIXED
    number of rounds.

    Classic semi-supervised community detection (Raghavan et al. 2007)
    made deterministic: labels start as node ids; each synchronous
    round every node adopts the MODE of its neighbors' previous-round
    labels, ties broken by the smallest label, isolated nodes keeping
    their own. Unlike the min-label propagation in dedup_clusters
    (which converges to connected components), the mode update detects
    denser-than-neighborhood structure and is the standard cheap
    community pass over mutual-kNN / interaction graphs.

    Deterministic by construction — mode + smallest-label tiebreak has
    no randomness — so a fixed round count is oracle-checkable as
    chained SQL CTEs (the recursive form would not be: LPA oscillates
    on bipartite structures, which is why the round count is a
    parameter, not a convergence test).

    Scale: per round ONE equi-join (edges ⨝ labels, on node id) and
    TWO hash aggregates (count per (node, label), then arg-max per
    node via a single max(struct) — no window, no sort). The
    symmetrized edge frame is persisted once (lazy) and reused every
    round; the loop is bounded by ``rounds`` by construction.
    """
    und = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b")))
           .distinct()
           .persist(StorageLevel.MEMORY_AND_DISK))
    labels = und.select(F.col("a").alias("node")).distinct() \
                .withColumn("label", F.col("node"))
    for _ in range(rounds):
        nbr = (und.join(labels.withColumnRenamed("node", "b"), "b")
               .groupBy(F.col("a").alias("node"), "label")
               .agg(F.count(F.lit(1)).alias("__c")))
        # arg-max by (count, −label): max count, ties → smallest label
        picked = (nbr.groupBy("node")
                  .agg(F.max(F.struct(F.col("__c"),
                                      (-F.col("label")).alias("__nl")))
                       .alias("__m"))
                  .select("node", (-F.col("__m.__nl")).alias("label")))
        # Degree-0 nodes cannot exist in this loop: the label frame's
        # node set IS the symmetrized edge frame's node set, so every
        # node has >= 1 neighbor and `picked` covers all of them. A
        # defensive left-join fallback here previously coalesced to
        # the node ID while claiming to keep the previous label (r9
        # advice #3) — both the wrong-label bug and the dead join are
        # gone; if external label seeds ever become an input, carry
        # the previous round's label, NOT the node id.
        labels = picked
    return labels.orderBy("node")


def pagerank_integer(edges: DataFrame, src: str = "src",
                     dst: str = "dst", iters: int = 3,
                     damp_num: int = 85, damp_den: int = 100,
                     scale: int = 10**12) -> DataFrame:
    """PageRank in EXACT integer arithmetic — the oracle-checkable
    twin of :func:`pagerank` (whose double contributions sum in
    partition order and therefore can't be value-hashed across
    engines; the md5-twin move applied to an iterative algorithm).

    Ranks are integers on a ``scale`` grid; each round is pure
    integer arithmetic with floor division (every quantity is
    nonnegative, so trunc == floor on both engines):

        share(u)   = (damp_num·rank(u)) DIV (damp_den·outdeg(u))
        dangling   = (damp_num·Σ_{outdeg=0} rank) DIV (damp_den·n)
        teleport   = ((damp_den−damp_num)·scale) DIV (damp_den·n)
        rank'(v)   = teleport + dangling + Σ_{u→v} share(u)

    Integer sums are order-insensitive, so the result is a pure
    function of the graph — bit-identical on any engine, unrolled as
    chained SQL CTEs in the DuckDB oracle. Total mass leaks a few
    units per round to the floors (bounded by n per round) — this is
    a deterministic VARIANT with the same fixed point up to grid
    resolution, not a float-PageRank replacement; :func:`pagerank`
    stays the production path.

    Scale shape per round: one equi-join (ranks ⨝ edges on the
    source) + one hash aggregate, checkpointed eagerly with the exact
    integer dangling sum observed on the same pass and inlined as a
    literal into the next round — the :func:`pagerank` plan with the
    doubles swapped for longs. rank·damp_num ≤ scale·damp_num keeps
    everything far from the 2^63 cliff.
    """
    def update(n: int, dmass: int, inflow: Column) -> Column:
        # teleport and dangling terms in Python integers: floor == DIV
        # on nonnegative operands
        teleport = ((damp_den - damp_num) * scale) // (damp_den * n)
        dterm = (damp_num * dmass) // (damp_den * n)
        return (F.lit(teleport + dterm).cast("long") + inflow).cast("long")

    return _power_iteration(
        "pagerank_integer", edges, src, dst, iters,
        seed=lambda n: F.lit(int(scale // n)).cast("long"),
        share=F.expr(f"({damp_num}L * rank) DIV ({damp_den}L * outdeg)"),
        update=update).orderBy("node")


def jaccard_link_scores(edges: DataFrame, src: str = "src",
                        dst: str = "dst",
                        min_common: int = 1) -> DataFrame:
    """Jaccard-coefficient link prediction over an undirected graph:
    for every NON-adjacent node pair sharing at least ``min_common``
    neighbors, J(u,v) = |Γ(u) ∩ Γ(v)| / |Γ(u) ∪ Γ(v)| — the classic
    common-neighbors baseline (Liben-Nowell & Kleinberg '03) behind
    people-you-may-know / related-item candidates.

    Counts are all exact integers: shared neighbors from the wedge
    join, |Γ(u) ∪ Γ(v)| = deg(u) + deg(v) − common; J is ONE double
    division. Existing edges are removed with an anti-join (link
    PREDICTION scores absent links only).

    Plan: symmetrize + distinct (one shuffle), the wedge self-join on
    the shared-neighbor center (fan-out Σ deg² — the triangle_count
    family; on power-law graphs orient or cap hub degrees first, same
    mitigation as that operator), one hash aggregate to (u,v), two
    degree equi-joins, one anti-join. No cartesian anywhere.
    """
    a, b = F.col(src), F.col(dst)
    und = (edges.select(F.least(a, b).alias("a"),
                        F.greatest(a, b).alias("b"))
           .filter(F.col("a") != F.col("b"))
           .distinct()
           .persist(StorageLevel.MEMORY_AND_DISK))
    adj = und.unionByName(und.select(F.col("b").alias("a"),
                                     F.col("a").alias("b")))
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    # wedges: two distinct neighbors u < v of the same center
    l = adj.select(F.col("a").alias("__ctr"), F.col("b").alias("u"))
    r = adj.select(F.col("a").alias("__ctr"), F.col("b").alias("v"))
    common = (l.join(r, "__ctr")
              .filter(F.col("u") < F.col("v"))
              .groupBy("u", "v")
              .agg(F.count(F.lit(1)).alias("common"))
              .filter(F.col("common") >= int(min_common)))
    # SHUFFLE_HASH on the O(m) edge side: SMJ would sort the
    # candidate-pair stream (wedge-grain) — the r11 triangle-family
    # spill class (SCALE.md Round 11 §5); hashing the edge side lets
    # the pair side stream unsorted.
    new_pairs = common.join(
        und.hint("SHUFFLE_HASH"),
        (common.u == und.a) & (common.v == und.b), "left_anti")
    du = deg.select(F.col("a").alias("u"), F.col("deg").alias("__du"))
    dv = deg.select(F.col("a").alias("v"), F.col("deg").alias("__dv"))
    return (new_pairs.join(du, "u").join(dv, "v")
            .select("u", "v", "common",
                    (F.col("__du") + F.col("__dv") - F.col("common"))
                    .cast("long").alias("union_size"),
                    (F.round(F.col("common")
                             / (F.col("__du") + F.col("__dv")
                                - F.col("common")), 6) + F.lit(0.0))
                    .alias("jaccard"))
            .orderBy("u", "v"))


def degree_assortativity(edges: DataFrame, src: str = "src",
                         dst: str = "dst") -> DataFrame:
    """Degree assortativity of an undirected graph — the Pearson
    correlation of endpoint degrees over the edge list (Newman '02;
    the full-degree Pearson variant, the standard graph-profiling
    summary: social graphs skew positive, technological/hierarchy
    graphs negative). Positive r ⇒ hubs attach to hubs.

    Each undirected edge contributes BOTH orientations (the
    symmetric edge multiset), so the moment sums are over 2m points
    of exact integer degrees:

        r = (M·Σxy − Σx·Σy) / √((M·Σx² − (Σx)²)(M·Σy² − (Σy)²))

    with every moment accumulated in DECIMAL(38,0) and r ONE double
    chain (the ols_two_factor discipline). Output: one row — M (=2m),
    the exact moments, r rounded 6.

    Plan: symmetrize + distinct (one shuffle), one degree aggregate,
    two degree equi-joins onto the edge list (shuffle joins — the
    degree table is node-sized, never collected), one global hash
    aggregate. No window, no cartesian.
    """
    dec = "decimal(38,0)"
    a, b = F.col(src), F.col(dst)
    und = (edges.select(F.least(a, b).alias("a"),
                        F.greatest(a, b).alias("b"))
           .filter(F.col("a") != F.col("b"))
           .distinct())
    adj = und.unionByName(und.select(F.col("b").alias("a"),
                                     F.col("a").alias("b")))
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    dx = deg.select(F.col("a"), F.col("deg").alias("__dx"))
    dy = deg.select(F.col("a").alias("b"), F.col("deg").alias("__dy"))
    pts = adj.join(dx, "a").join(dy, "b")
    g = pts.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum(F.col("__dx").cast(dec)).cast(dec).alias("sum_x"),
        F.sum(F.col("__dx").cast(dec) * F.col("__dx").cast(dec))
        .cast(dec).alias("sum_x2"),
        F.sum(F.col("__dx").cast(dec) * F.col("__dy").cast(dec))
        .cast(dec).alias("sum_xy"))
    # symmetry: Σy = Σx and Σy² = Σx² over the symmetrized points
    m2 = F.col("m2").cast(dec)
    sxx = (m2 * F.col("sum_x2") - F.col("sum_x") * F.col("sum_x"))
    sxy = (m2 * F.col("sum_xy") - F.col("sum_x") * F.col("sum_x"))
    r = sxy.cast("double") / sxx.cast("double")
    return g.select(F.col("m2").cast("long").alias("m2"),
                    F.col("sum_x").cast("long").alias("sum_deg"),
                    F.col("sum_x2").cast("long").alias("sum_deg2"),
                    F.col("sum_xy").cast("long").alias("sum_dxdy"),
                    F.round(r, 6).alias("assortativity"))


def hits_integer(edges: DataFrame, src: str = "src", dst: str = "dst",
                 iters: int = 2, scale: int = 10**12) -> DataFrame:
    """HITS hubs-and-authorities in EXACT integer arithmetic — the
    :func:`pagerank_integer` move applied to Kleinberg '99: scores
    live on a ``scale`` integer grid and each half-step normalizes by
    the grid total with floor division of NONNEGATIVE integers, so
    every round is a pure order-insensitive function of the graph
    (float HITS sums in partition order and can't be value-hashed):

        a_raw(v) = Σ_{u→v} h(u)        a(v) = a_raw·scale DIV Σ a_raw
        h_raw(u) = Σ_{u→v} a(v)        h(u) = h_raw·scale DIV Σ h_raw

    The ·scale products run in DECIMAL(38,0) (a_raw ≤ n·scale, so the
    product needs ~2×12+digits(n) digits — DIV returns BIGINT on both
    engines with identical truncation for nonnegative operands).
    Normalization floors leak ≤ n grid units per half-step — a
    deterministic variant with the same fixed point up to grid
    resolution, the pagerank_integer contract.

    Scale shape per half-step: one equi-join (edges ⨝ scores), one
    hash aggregate and one left join onto the node table, checkpointed
    eagerly with the raw total observed on the same pass; the next
    half-step normalizes by that total as a literal. No collect of
    anything node-sized.
    """
    if iters < 1:
        # iters=0 would leave no authority score — refuse at entry
        raise ValueError(f"hits_integer: iters must be >= 1, got {iters}")
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .distinct()
         .persist(StorageLevel.MEMORY_AND_DISK))
    dec = "DECIMAL(38,0)"

    def norm(col: str, tot) -> Column:
        # a zero (or, on an empty graph, NULL) total means every raw
        # score is 0, which stays 0
        return F.expr(f"CAST({col} AS {dec}) * CAST({int(scale)} AS {dec})"
                      f" DIV CAST({tot or 1} AS {dec})").cast("long")

    # half-steps alternate a <- h along src->dst and h <- a back along
    # dst->src; the state (node, <normalized side>, <raw side>) holds
    # every node, and the raw side is normalized one half-step later
    flows = itertools.cycle([("h", "a", "src", "dst"),
                             ("a", "h", "dst", "src")])

    def half_step(state: DataFrame, tot):
        frm, to, near, far = next(flows)
        scores = state.select(
            "node", (norm(frm, tot) if tot is not None else F.col(frm))
            .alias(frm))
        raw = (e.join(scores.withColumnRenamed("node", near), near)
               .groupBy(F.col(far).alias("node"))
               .agg(F.sum(frm).alias(to)))
        return (scores.join(raw, "node", "left")
                .select("node", frm, F.coalesce(to, F.lit(0))
                        .cast("long").alias(to))), F.sum(to)

    seed = (e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node"))).distinct()
            .select("node", F.lit(int(scale)).cast("long").alias("h")))
    state, h_tot = fixpoint("hits_integer", (seed, None), half_step,
                            rounds=2 * int(iters), release=(e,))
    return (state.select("node", F.col("a").alias("authority"),
                         norm("h", h_tot).alias("hub"))
            .orderBy("node"))


def adamic_adar_scores(edges: DataFrame, src: str = "src",
                       dst: str = "dst",
                       min_common: int = 1,
                       scale: int = 10**6) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar '03) — the
    :func:`jaccard_link_scores` wedge machinery with the
    common-neighbor count replaced by the inverse-log-degree weight
    that downweights promiscuous hubs:

        AA(u, v) = Σ_{x ∈ Γ(u) ∩ Γ(v)} 1 / ln(deg(x))

    Determinism: ln() is not correctly-rounded libm-to-libm, so each
    wedge center contributes floor(scale / ln(deg(x))) as an INTEGER
    and the per-pair sum is exact regardless of fold order (the
    vocab_logrank quantization rule); aa = aa_grid / scale is the one
    closing double division. Every wedge center has deg ≥ 2 by
    construction (it is adjacent to both u and v), so ln(deg) > 0
    always.

    Emitted: non-adjacent canonical pairs (u < v) with ≥ min_common
    shared neighbors — (u, v, common, aa_grid, aa), total ORDER BY
    (u, v). Plan: the triangle_count fan-out family — one degree
    aggregate joined onto the wedge centers, the wedge self-join
    (never node × node), one anti-join against existing edges.
    """
    a, b = F.col(src), F.col(dst)
    und = (edges.select(F.least(a, b).alias("a"),
                        F.greatest(a, b).alias("b"))
           .filter(F.col("a") != F.col("b"))
           .distinct()
           .persist(StorageLevel.MEMORY_AND_DISK))
    adj = und.unionByName(und.select(F.col("b").alias("a"),
                                     F.col("a").alias("b")))
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    w = deg.select(
        F.col("a").alias("__ctr"),
        F.floor(F.lit(float(scale)) / F.log(F.col("deg").cast("double")))
        .cast("long").alias("__w"))
    l = adj.select(F.col("a").alias("__ctr"), F.col("b").alias("u"))
    r = adj.select(F.col("a").alias("__ctr"), F.col("b").alias("v"))
    common = (l.join(r, "__ctr")
              .filter(F.col("u") < F.col("v"))
              .join(w, "__ctr")
              .groupBy("u", "v")
              .agg(F.count(F.lit(1)).alias("common"),
                   F.sum("__w").alias("aa_grid"))
              .filter(F.col("common") >= int(min_common)))
    # SHUFFLE_HASH on the O(m) edge side: SMJ would sort the
    # candidate-pair stream (wedge-grain) — the r11 triangle-family
    # spill class (SCALE.md Round 11 §5); hashing the edge side lets
    # the pair side stream unsorted.
    new_pairs = common.join(
        und.hint("SHUFFLE_HASH"),
        (common.u == und.a) & (common.v == und.b), "left_anti")
    return (new_pairs
            .select("u", "v", F.col("common").cast("long").alias("common"),
                    F.col("aa_grid").cast("long").alias("aa_grid"),
                    (F.col("aa_grid").cast("double")
                     / F.lit(float(scale))).alias("aa"))
            .orderBy("u", "v"))


def local_clustering_by_degree(edges: DataFrame, src: str = "src",
                               dst: str = "dst") -> DataFrame:
    """Degree-class local clustering profile (Watts & Strogatz '98
    C(v), aggregated à la Vázquez '02 C(k)): per-node triangle counts
    from the degree-ordered orientation of :func:`triangle_count`,
    rolled up by degree so the output is |degree classes| rows, never
    node-sized:

        C(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),   deg(v) ≥ 2
        avg_lcc(k) = Σ_{deg(v)=k} C(v) / n_k
                   = 2·Σ tri(v) / (n_k·k·(k−1))   — EXACT rational,
    because every node in a degree class shares the denominator; the
    single closing division is the only double op (no per-node float
    ever exists, so no quantization is needed).

    Triangle enumeration: orient each undirected edge from its
    lower-(degree, id) endpoint; wedges = pairs of out-edges sharing a
    source with (deg, id)-ordered tips, closed by one INNER equi-join
    against oriented edges (inner, not semi — the corner credit needs
    the triangle rows); Σ outdeg² = O(m^1.5) candidates, hub-proof.
    Each triangle surfaces exactly once and credits its three corners
    via a 3-way posexplode-free union.

    Emitted per degree class: (deg, n_nodes, triangles, avg_lcc),
    total ORDER BY deg. Nodes with deg ≥ 2 and no triangle count in
    n_nodes with zero credit (left join, coalesce).
    """
    dec = "decimal(38,0)"
    a, b = F.col(src), F.col(dst)
    e = (edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
         .filter(F.col("a") != F.col("b"))
         .distinct()
         .persist(StorageLevel.MEMORY_AND_DISK))
    deg = (e.select(F.col("a").alias("node"))
           .unionAll(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    ed = (e.join(deg.withColumnRenamed("node", "a")
                 .withColumnRenamed("deg", "da"), "a")
          .join(deg.withColumnRenamed("node", "b")
                .withColumnRenamed("deg", "db"), "b"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    # Persist the oriented edge table (r14): `o` is consumed THREE
    # times (both wedge sides + the closing join), and the chain
    # behind it — degree agg + two degree joins over the cached edge
    # set — recomputes per consumer at scale (Catalyst copies the
    # subtree; the copies' exchanges are not identical, so AQE
    # ReuseExchange cannot collapse them all). Interleaved A/B
    # (scripts/ab_lcc_persist.py): sf1 decade 27.1 -> 9.8 s (-64%);
    # sf0.1 pays ~0.7 s of cache fill on a 3-4 s probe — the scale
    # call per guide §5 (reused AND recompute-expensive).
    o = ed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da"))
        .alias("dv")).persist(StorageLevel.MEMORY_AND_DISK)
    o1 = o.select("u", F.col("v").alias("v1"), F.col("dv").alias("dv1"))
    o2 = o.select("u", F.col("v").alias("v2"), F.col("dv").alias("dv2"))
    wedges = o1.join(o2, "u").filter(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2"))))
    closing = o.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    # inner (not semi): the corner credit needs the triangle rows.
    # SHUFFLE_HASH on the edge side: sorting the Σ outdeg² wedge
    # stream for a sort-merge join spills once a task's slice
    # outgrows memory — measured 588 → 240 s at sf1 (410M wedges,
    # identical 177-row output); the hash side is O(m)/partition.
    tri = wedges.join(closing.hint("SHUFFLE_HASH"), ["v1", "v2"])
    corners = (tri.select(F.col("u").alias("node"))
               .unionAll(tri.select(F.col("v1").alias("node")))
               .unionAll(tri.select(F.col("v2").alias("node"))))
    tpn = corners.groupBy("node").agg(F.count(F.lit(1)).alias("__tri"))
    per_node = (deg.filter(F.col("deg") >= 2)
                .join(tpn, "node", "left")
                .select("deg", F.coalesce("__tri", F.lit(0)).alias("__tri")))
    byk = (per_node.groupBy("deg")
           .agg(F.count(F.lit(1)).alias("n_nodes"),
                F.sum("__tri").alias("triangles")))
    k = F.col("deg").cast(dec)
    num = (F.lit(2).cast(dec) * F.col("triangles").cast(dec)).cast(dec)
    den = (F.col("n_nodes").cast(dec) * k * (k - 1)).cast(dec)
    return (byk.select(F.col("deg").cast("long").alias("deg"),
                       F.col("n_nodes").cast("long").alias("n_nodes"),
                       F.col("triangles").cast("long").alias("triangles"),
                       (num.cast("double") / den.cast("double"))
                       .alias("avg_lcc"))
            .orderBy("deg"))


def weighted_shortest_paths(edges: DataFrame, src: str = "src",
                            dst: str = "dst", weight: str = "w",
                            max_depth: int = 16,
                            max_pairs_per_node: int | None = None,
                            ) -> DataFrame:
    """All-pairs reachable shortest-path COST over integer edge
    weights — :func:`transitive_closure`'s min-plus pointer doubling
    with the relax step generalized from hop counting (+1 per edge)
    to weight accumulation (+w per edge), the r11-verdict frontier
    item.

    Returns (node, anc, cost): for every pair where ``anc`` is
    reachable from ``node`` by a path of at most ``max_depth`` edges,
    the MINIMUM total weight over all such paths. Same algebra as the
    closure: round r holds the min cost over paths of ≤ 2^r edges
    (min-plus semiring repeated squaring — new = min(old, old ⊗ old)
    where ⊗ adds costs through a shared midpoint), so
    ceil(log2(max_depth)) self-join rounds cover the horizon; on a
    DAG whose depth fits the horizon this IS the exact weighted
    shortest path. O(log depth) bucketed equi-joins on node id, never
    node×node; per-round lazy persist collapses the doubled self-join
    subtree exactly like the closure.

    Weights must be nonnegative integers (min-plus with negative
    weights would need hop tracking to stay well-defined under the
    depth cap; integer costs keep every round a pure function of the
    graph — the oracle is a recursive CTE accumulating the same
    longs). ENFORCED at runtime, not assumed: the seed projection
    wraps each weight in ``assert_true(w >= 0 AND w == cast(w as
    long))`` inside the value expression (so column pruning cannot
    drop it) — a negative or fractional weight fails the job loudly
    instead of silently truncating through the long cast, matching
    the loud power-of-two horizon check below (r12 ADVICE).

    ``max_pairs_per_node`` makes the result a HEURISTIC
    approximation, not the exact top-N of the true costs: the budget
    prunes by PARTIAL cost mid-doubling, and unlike the hop closure
    (where depth is the cost, so the nearest-N prefix is closed under
    extension) a pruned prefix pair here can be exactly the midpoint
    whose extension was the true shortest path — dropped pairs and
    overestimated costs are both possible. Use it as the documented
    fan-out degradation only; default None is exact.

    ADVERSARIAL-TOPOLOGY BOUND: output is O(reachable pairs), a
    property of the GRAPH, not the operator — on a dense DAG (layered
    bipartite stacks, social-graph reachability) pairs approach
    nodes², and no join strategy changes that, because the answer
    itself is that large. On self-similar hierarchies the output is
    LINEAR in the input: the isomorphic-replica check (scripts/
    growth_curve.py, local-key copies of the digit hierarchy)
    measures exactly 10× pairs per 10× decade at 0.1 → 1 → 10
    (SCALE.md Round 13). When the topology is adversarial, the
    budget rule IS the answer: set ``max_pairs_per_node`` (accepting
    the approximation above) or switch to the HyperBall sketch
    (:func:`hyperball_neighborhood`) when only distance-distribution
    aggregates are needed.

    ``max_depth`` must be a POWER OF TWO: the doubling covers exactly
    2^rounds-edge paths, and unlike the hop closure (where depth IS
    the cost, so a final ``depth <= max_depth`` filter trims the
    overshoot) the weighted result carries no hop count to filter on
    — the min cost over <=16-edge paths can come from a 12-edge path
    that a 10-edge contract would have to reject. Rather than
    silently answer a different question, non-power-of-two horizons
    raise (an exact bounded-hop variant is hop-indexed Bellman-Ford —
    max_depth joins instead of log2, a different operator).
    """
    if max_depth < 1 or max_depth & (max_depth - 1):
        raise ValueError(
            f"max_depth={max_depth} is not a power of two — min-plus "
            "doubling covers exactly 2^k-edge horizons; pick the "
            "enclosing power of two or use a hop-indexed variant")
    rounds = max_depth.bit_length() - 1
    w = F.col(weight)
    # assert_true returns NULL when the predicate holds and raises
    # otherwise; folding it into the value via when(...isNull, cast)
    # keeps the guard un-prunable (a standalone guard column would be
    # dropped by column pruning before it ever evaluated).
    checked = F.when(
        F.assert_true(
            (w >= 0) & (w == w.cast("long")),
            F.lit("weighted_shortest_paths: weights must be "
                  "nonnegative integers (negative weights break the "
                  "bounded min-plus contract; fractions would "
                  "silently truncate through the long cast)"))
        .isNull(),
        w.cast("long"))
    seed = (edges.select(F.col(src).alias("node"),
                         F.col(dst).alias("anc"),
                         checked.alias("cost"))
            # parallel edges collapse to their cheapest BEFORE the
            # loop so the rounds == 0 (max_depth == 1) result honors
            # the min-cost contract too
            .groupBy("node", "anc").agg(F.min("cost").alias("cost")))
    budget = _pairs_budget("cost", max_pairs_per_node)
    return _minplus_doubling(seed, rounds, "cost", budget)


def effective_diameter(edges: DataFrame, src: str = "src",
                       dst: str = "dst", pct: int = 90,
                       max_depth: int = 16) -> DataFrame:
    """Effective diameter of the reachability closure: the smallest
    hop distance d such that at least ``pct`` percent of all
    reachable (node, anc) pairs lie within d hops — plus the exact
    diameter (max shortest-path distance) and pair count.

    Built entirely on :func:`transitive_closure`'s min-plus doubling
    (each pair carries its MINIMUM hop distance), then a bounded
    rollup: the distance histogram has at most ``max_depth`` rows, so
    the cumulative window is a ≤max_depth-row single-task sort — the
    drift_ks bounded-global-window rule. The pct threshold is pure
    integer arithmetic (100·cum ≥ pct·total), no float percentile
    ever exists. Output: ONE row
    (n_pairs, diameter, effective_diameter).

    ADVERSARIAL-TOPOLOGY BOUND: the closure this rides materializes
    O(reachable pairs) — sub-linear on hierarchies (two decades
    measured, SCALE.md Round 13) but nodes²-bound on dense DAGs /
    social graphs, where the EXACT rollup is the wrong plan
    entirely. The scale path for those topologies is
    :func:`hyperball_neighborhood` (r13): per-node HLL registers
    keep state at nodes×16 rows regardless of reachability density,
    at pytest-pinned accuracy; this exact operator is its
    recall/accuracy anchor (the approx_count_distinct relationship).
    """
    closure = transitive_closure(edges, src=src, dst=dst,
                                 max_depth=max_depth)
    hist = (closure.groupBy("depth")
            .agg(F.count(F.lit(1)).alias("n")))
    w = Window.orderBy("depth").rowsBetween(Window.unboundedPreceding, 0)
    cum = (hist.withColumn("cum", F.sum("n").over(w))
           .withColumn("total", F.sum("n").over(
               Window.partitionBy())))
    eff = (cum.filter(F.lit(100) * F.col("cum")
                      >= F.lit(pct) * F.col("total"))
           .agg(F.min("depth").alias("effective_diameter")))
    tot = cum.agg(F.max("total").alias("n_pairs"),
                  F.max("depth").alias("diameter"))
    # Empty graph: the global aggs still emit ONE row (of nulls) —
    # n_pairs coalesces to 0, the two distances stay NULL (no pairs
    # exist, so neither diameter is defined).
    return (tot.crossJoin(eff)
            .select(F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long")
                    .alias("n_pairs"),
                    F.col("diameter").cast("long").alias("diameter"),
                    F.col("effective_diameter").cast("long")
                    .alias("effective_diameter")))


#: HyperLogLog constants for the fixed m=16-register (b=4) HyperBall
#: configuration. ALPHA_16 is Flajolet's bias constant as an exact
#: rational (673/1000); the linear-counting table 16·ln(16/V) for
#: V empty registers is precomputed HERE so both the Spark plan and
#: the DuckDB oracle consume the IDENTICAL double literals — ln is
#: not correctly-rounded libm-to-libm, so it must never run engine-
#: side (the round-10 ln-portability rule). V=16 (no register set)
#: cannot occur: a node's own hash always sets one register.
import math  # noqa: E402 — localized to the HLL constant block below

HLL_M = 16
HLL_ALPHA_NUM = 0.673 * 256.0  # exact product of two short literals
HLL_LC_TABLE: dict[int, float] = {
    v: 16.0 * math.log(16.0 / v) for v in range(1, 16)}
#: Register cap: 2^-reg terms stay ≥ 2^-40, so every per-node
#: harmonic sum is EXACT in double regardless of accumulation order
#: (≤45 significant bits: integer part ≤ 16 = 2^4 down to 2^-40).
#: P(rho > 40) = 2^-40 per node — the cap is unreachable in practice.
HLL_RHO_CAP = 40


def _hll_registers(nodes: DataFrame) -> DataFrame:
    """(node, bucket, reg): the md5-based HLL register of each node's
    own id — bucket = first md5 hex digit (16 buckets), reg = 1 +
    leading zero BITS of the next 12 hex digits (48 bits), capped at
    HLL_RHO_CAP. Every step is string/integer arithmetic both engines
    compute identically (the md5-twin rule: Spark md5(cast(node as
    string)) == DuckDB md5(node::VARCHAR))."""
    hx = F.md5(F.col("node").cast("string"))
    hx2 = F.substring(hx, 2, 12)
    nz = F.length(F.regexp_extract(hx2, "^0*", 0))
    d1 = F.conv(F.substr(hx2, nz + 1, F.lit(1)), 16, 10).cast("int")
    clz4 = (F.when(d1 >= 8, 0).when(d1 >= 4, 1)
            .when(d1 >= 2, 2).otherwise(3))
    reg = F.when(nz >= 12, F.lit(min(49, HLL_RHO_CAP))).otherwise(
        F.least(nz * 4 + clz4 + 1, F.lit(HLL_RHO_CAP)))
    return nodes.select(
        "node",
        F.conv(F.substring(hx, 1, 1), 16, 10).cast("int").alias("bucket"),
        reg.cast("int").alias("reg"))


def _hll_estimates(tagged: DataFrame) -> DataFrame:
    """(r, est_micro) per radius from the UNION of all rounds' states
    tagged with their radius r: Σ over nodes of the HLL estimate of
    |ball(node, r)|, each per-node estimate quantized to micro-units
    (floor(E·1e6) as LONG) BEFORE the cross-node sum so the total is
    exact integer arithmetic. One plan for every round (two bucketed
    aggregations) instead of max_radius+1 separate aggregate jobs —
    at probe scale the per-JOB overhead dominated, 7 jobs → 1
    (measured ~4.5 → ~1.5 s at sf0.1). The per-node chain is
    bit-identical across engines: the harmonic sum is exact (dyadic
    terms, capped spread), ×/÷ are IEEE-correctly-rounded, and the
    linear-counting branch reads precomputed literals
    (HLL_LC_TABLE)."""
    # 2^-reg as 1.0 / (1 << reg): exact dyadic (reg ≤ HLL_RHO_CAP ≤
    # 40 < 53), never pow() (not correctly-rounded). SQL-form
    # shiftleft — the python F.shiftleft only takes int literals.
    term = F.expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), reg) "
                  "AS DOUBLE)")
    per = (tagged.groupBy("r", "node")
           .agg(F.count(F.lit(1)).alias("__cnt"),
                F.sum(term).alias("__ssum")))
    v = F.lit(HLL_M) - F.col("__cnt")
    s = v.cast("double") + F.col("__ssum")
    eh = F.lit(HLL_ALPHA_NUM) / s
    lc = F.lit(None).cast("double")
    for vv in range(1, HLL_M):
        lc = F.when(v == vv, F.lit(HLL_LC_TABLE[vv])).otherwise(lc)
    est = F.when((v > 0) & (eh <= F.lit(2.5 * HLL_M)), lc).otherwise(eh)
    micro = F.floor(est * F.lit(1_000_000.0)).cast("long")
    return (per.select("r", micro.alias("__micro"))
            .groupBy("r")
            .agg(F.sum("__micro").cast("long").alias("est_micro")))


def hyperball_neighborhood(edges: DataFrame, src: str = "src",
                           dst: str = "dst", max_radius: int = 8,
                           pct: int = 90) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): the neighborhood function
    N(r) = Σ_v |ball(v, r)| estimated with per-node HyperLogLog
    counters, and the effective radius derived from it — the
    sub-linear-memory alternative to the exact closure, whose
    materialization is O(reachable pairs) (see effective_diameter).
    Per node the state is ≤ 16 (bucket, reg) rows instead of the
    ball itself; each radius round is ONE bucketed equi-join (state ⨝
    edges, propagating registers UP the out-edges) + ONE groupBy-max —
    never node×node, the pagerank loop shape with max() as the
    combiner. At 100 TB this is THE way to measure diameter-class
    metrics: state is nodes×m rows regardless of how dense
    reachability gets, where the exact closure explodes on any
    social-graph topology (the r12 SCALE.md §1 budget-rule caveat).

    DETERMINISM (what makes even the approximation oracle-exact): the
    registers come from md5 (engine-portable), the harmonic sum is
    dyadic-exact under HLL_RHO_CAP, ×/÷ are IEEE-correctly-rounded →
    bit-identical, the linear-counting branch reads ln literals
    precomputed in Python (HLL_LC_TABLE — ln never runs engine-side),
    and per-node estimates quantize to micro-units before the
    cross-node sum. ACCURACY vs the exact closure is the pytest
    contract (the approx_count_distinct precedent): m=16 registers
    give ~26% per-ball standard error, tightened by linear counting
    at small ball sizes and by cross-node averaging in N(r).

    Returns max_radius+1 rows: (r, est_micro, effective_radius) —
    est_micro = floor-quantized N(r)·1e6, effective_radius = the
    smallest r with 100·N(r) ≥ pct·N(max_radius) (pure integer
    threshold on the quantized longs; N is monotone in r because
    registers only grow). Balls include the node itself (N(0) ≈ n).
    """
    e = (edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
         .filter(F.col("__s") != F.col("__d"))
         .distinct()
         .persist(StorageLevel.MEMORY_AND_DISK))
    nodes = (e.select(F.col("__s").alias("node"))
             .union(e.select(F.col("__d").alias("node")))
             .distinct())
    # localCheckpoint every THIRD round (the pagerank rule, NOT the
    # lazy persist of _minplus_doubling): each round references the
    # prior state twice (identity + propagation) and the estimate a
    # third time, so an all-lazy chain leaves a 2^max_radius-copy
    # LOGICAL tree — at 8 rounds that is 256 embedded register
    # derivations and the ANALYZER itself OOMs (observed at sf0.01).
    # Truncating lineage keeps the plan bounded at the cost of eager
    # construction (the dedup_clusters/k_core tradeoff, ledgered in
    # tests/test_construction_purity.py); truncating only every third
    # round cuts the eager jobs to ceil(R/3) — the rounds between
    # carry a lazy persist, whose bounded ≤8x logical expansion the
    # analyzer handles fine (it is 2^8 that kills it). Per-JOB
    # overhead dominates at probe scale, so fewer jobs is the probe-
    # budget lever (SCALE.md r12 §1).
    state = _hll_registers(nodes).localCheckpoint()
    tagged = state.withColumn("r", F.lit(0).cast("long"))
    for r in range(1, max_radius + 1):
        step = (state.join(e, state["node"] == e["__d"])
                .select(F.col("__s").alias("node"), "bucket", "reg"))
        state = (state.unionByName(step)
                 .groupBy("node", "bucket")
                 .agg(F.max("reg").alias("reg")))
        state = (state.localCheckpoint()
                 if r % 3 == 0 or r == max_radius
                 else state.persist(StorageLevel.MEMORY_AND_DISK))
        tagged = tagged.unionByName(
            state.withColumn("r", F.lit(r).cast("long")))
    nf = _hll_estimates(tagged)
    # bounded global rollup (≤ max_radius+1 rows — the drift_ks
    # bounded-global-window rule): monotone N(r) ⇒ the pct threshold
    # is a min() over an integer comparison, no float percentile.
    mx = nf.agg(F.max("est_micro").alias("__mx"))
    eff = (nf.crossJoin(F.broadcast(mx))
           .filter(F.lit(100) * F.col("est_micro")
                   >= F.lit(pct) * F.col("__mx"))
           .agg(F.min("r").alias("effective_radius")))
    return (nf.crossJoin(F.broadcast(eff))
            .select("r", "est_micro",
                    F.col("effective_radius").cast("long")
                    .alias("effective_radius"))
            .orderBy("r"))


def strongly_connected_components(edges: DataFrame, src: str = "src",
                                  dst: str = "dst",
                                  max_depth: int = 16) -> DataFrame:
    """Strongly connected components of a directed graph whose
    shortest-path horizon is bounded by ``max_depth`` — the directed
    counterpart of dedup.py's (undirected) connected components, and
    the canonical condensation step before any DAG analytics
    (cycle-safe topological rollups, dependency ordering).

    Definition applied literally: u and v share an SCC iff u ⇝ v AND
    v ⇝ u. The operator computes the bounded reachability closure
    once (:func:`transitive_closure` — O(log depth) min-plus doubling
    rounds, bucketed equi-joins, never node×node), adds the identity
    pairs (every node reaches itself trivially), and intersects the
    pair set with its own transpose via ONE left-semi equi-join on
    (node, anc) — set intersection, no new shuffle shape. The SCC id
    is the MINIMUM mutually-reachable node (deterministic canonical
    label, the dedup_clusters min-label convention); component sizes
    ride one more id-grain aggregate.

    ``max_depth`` is a CONTRACT, not a tuning knob. The result is
    the EXACT SCC partition whenever ``max_depth`` covers the
    graph's directed reachability diameter (then mutual-within-
    horizon ≡ mutual, which is transitive). Below that, semantics
    degrade honestly but measurably: u is labeled with the minimum
    node whose BOTH directed shortest paths to/from u fit in the
    horizon — so a cycle of length L is grouped fully when
    L ≤ max_depth, grouped only among nodes with
    (Δ mod L) ∈ [L − max_depth, max_depth] when
    max_depth < L ≤ 2·max_depth (mutual-within-horizon is NOT
    transitive there, so labels are a bounded-horizon RELATION
    summary, not an equivalence partition), and all-singletons when
    L > 2·max_depth (one direction always overflows). All three
    regimes are pytest-pinned; callers size the horizon the way
    transitive_closure callers model hierarchy depth.

    ADVERSARIAL-TOPOLOGY BOUND: cost is the closure's O(reachable
    pairs) — for dense digraphs where that explodes, bound the probe
    subgraph at registration (the SCALE.md Round-12 §1 budget rule)
    or use transitive_closure's ``max_pairs_per_node`` degradation;
    a label-forwarding SCC (FW-BW / Stergiou-style min-label rounds)
    is the documented upgrade path if a nodes×16-state variant is
    ever needed — it composes on _minplus_doubling exactly like
    hyperball_neighborhood does for the diameter family.

    Returns (node, scc_id, scc_size), one row per node appearing on
    either side of an edge.
    """
    closure = transitive_closure(edges, src=src, dst=dst,
                                 max_depth=max_depth)
    nodes = (edges.select(F.col(src).alias("node"))
             .unionAll(edges.select(F.col(dst).alias("node")))
             .distinct())
    # EAGER lineage cut at the fan-out point (the hyperball
    # analyzer-blowup class, tests/test_construction_purity.py
    # ledger): the doubling loop's logical tree holds 3^rounds seed
    # copies (union + self-join×2 per round), and reach feeds the
    # semi-join twice and the size join transitively twice more — a
    # lazy persist leaves a ~4·3^rounds-node plan that costs tens of
    # seconds of analyzer/CacheManager time per action (measured:
    # 41 s flat at BOTH sf0.001 and sf0.01 — pure plan overhead,
    # zero data dependence; ~7 s warm after this cut plus the probe-
    # side edge-list cut, ~1.5x the b16 closure probe in the same
    # harness). localCheckpoint analyzes the closure subtree ONCE
    # and downstream plans start from a flat LogicalRDD.
    reach = (closure.select("node", "anc")
             .unionByName(nodes.select("node",
                                       F.col("node").alias("anc")))
             .distinct()
             .localCheckpoint(eager=True))
    # (u,v) mutual ⟺ (u,v) ∈ reach ∧ (v,u) ∈ reach: intersect reach
    # with its transpose — a left-semi join IS set intersection here.
    mutual = reach.join(
        reach.select(F.col("anc").alias("node"),
                     F.col("node").alias("anc")),
        ["node", "anc"], "left_semi")
    scc = (mutual.groupBy("node").agg(F.min("anc").alias("scc_id"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    sizes = scc.groupBy("scc_id").agg(
        F.count(F.lit(1)).cast("long").alias("scc_size"))
    return (scc.join(sizes, "scc_id")
            .select("node", "scc_id", "scc_size"))
