"""Vector similarity search over embedding columns (``array<float>``).

Two tiers, per the mandate:
- brute-force cosine top-k — the exact baseline: broadcast the (small)
  probe set against the full corpus, score JVM-side with higher-order
  array functions, take top-k per probe with one window. One pass over
  the corpus, no corpus-side shuffle except the bounded top-k.
- LSH-bucketed variants — the 100 TB path: random-hyperplane signatures
  (pure DataFrame, deterministic) or ``BucketedRandomProjectionLSH``
  (pyspark.ml) so candidate generation is a bucket equi-join, never an
  all-pairs product.

All dot products run as ``aggregate(zip_with(a, b, *), +)`` folds over
DOUBLE — inside codegen, deterministic left-to-right accumulation (same
order as the oracle's list_dot_product at probe scale).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_prenormed(a: Column, b: Column, norm_a: Column,
                     norm_b: Column) -> Column:
    """Cosine with both norms precomputed as columns.

    In a scored join, ``cosine(a, b)`` re-folds both norms per PAIR —
    three array folds where one suffices. Computing each side's norm
    once per ROW before the join cuts ~2/3 of the fold work; the
    division is bit-identical to the inline form (same sqrt-of-fold
    then multiply), so oracle hashes are unchanged.
    """
    return dot(a, b) / (norm_a * norm_b)


def cosine_topk(corpus: DataFrame, probes: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                ) -> DataFrame:
    """Exact cosine top-k: for each probe vector, the k nearest corpus rows.

    Plan shape: probes broadcast (they are the small side by contract) →
    one map-side pass scores every (probe, corpus) pair → `row_number`
    window bounded at k. The corpus is scanned once and never reshuffled
    on its own key; the only shuffles are the pre-scoring fan-out guard
    (below) and probe_id for the top-k window — and that exchange is
    bounded by the engine itself: the rank<=k filter plans a
    `WindowGroupLimit ... Partial` BELOW the exchange (SPARK-37099), so
    only <= |probes| · k rows per map partition cross the wire, not the
    |corpus| × |probes| scored pairs (plans/r14/b6_cosine_topk_*.txt).

    The corpus side passes through `ensure_fanout_parallelism` before
    the broadcast join: scoring multiplies each corpus row by
    |probes| (the nested-loop analog of a token explode), so a corpus
    that arrives as ONE scan partition — any dimension-sized parquet
    file under the split size — serializes the whole O(|corpus| ×
    |probes| × dim) scoring pass on one core (measured: the mutual-5NN
    graph substrate spent 25.8 s of its 30.6 s wall in a single-task
    scoring stage at sf0.1; 32-way fan-out cut the pass to ~1 s). The
    guard round-robins the NARROW pre-join rows only, and is a no-op
    whenever the corpus is multi-partition or already crossed an
    exchange — at 100 TB it vanishes.

    Output: (probe_id, vec_id, cosine, rank), rank 1..k, ties broken on
    vec_id for determinism.
    """
    from .text import ensure_fanout_parallelism
    p = probes.select(F.col(id_col).alias("probe_id"),
                      as_double(F.col(vec_col)).alias("__pvec"))
    p = p.withColumn("__pnorm", l2_norm(F.col("__pvec")))
    c = ensure_fanout_parallelism(
        corpus.select(F.col(id_col).alias("vec_id"),
                      as_double(F.col(vec_col)).alias("__cvec")))
    c = c.withColumn("__cnorm", l2_norm(F.col("__cvec")))
    scored = (c.join(F.broadcast(p), F.col("probe_id") != F.col("vec_id"))
              .withColumn("cosine",
                          F.round(cosine_prenormed(
                              F.col("__pvec"), F.col("__cvec"),
                              F.col("__pnorm"), F.col("__cnorm")), 6)))
    # No map-side partial top-k: Spark 4's rank-limit pushdown
    # (SPARK-37099) already plans `WindowGroupLimit ... Partial` BELOW
    # the probe_id exchange for this rank<=k filter, so the shuffle
    # carries <= |probes| * k * partitions rows with no Python
    # boundary. A mapInArrow pre-filter measured SLOWER (bench shape
    # 0.41 vs 0.20 s; 4M-pair substrate 1.68 vs 1.26 s at sf0.1; the
    # code is in commit 8219315).
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("probe_id", "vec_id", "cosine", "rank"))


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42,
                       ) -> list[list[float]]:
    """Deterministic unit-free random hyperplanes for sign-LSH."""
    import numpy as np
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def with_signlsh_bucket(df: DataFrame, vec_col: str,
                        planes: list[list[float]], out: str = "bucket",
                        ) -> Column | DataFrame:
    """Sign-of-projection LSH bucket id (Charikar hyperplane LSH).

    bucket = bits of sign(v · h_i) packed into a BIGINT. Cosine-close
    vectors agree on most signs, so they collide with high probability.
    Pure column expressions over literal hyperplanes — deterministic,
    seedable, JVM-side.
    """
    v = as_double(F.col(vec_col))
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = dot(v, F.array(*[F.lit(float(x)) for x in plane]))
        bucket = bucket.bitwiseOR(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), i))
             .otherwise(F.lit(0).cast("long")))
    return df.withColumn(out, bucket)


def cosine_neardup_lsh(df: DataFrame, threshold: float = 0.9,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       n_planes: int = 8, n_tables: int = 4, seed: int = 42,
                       dim: int | None = None) -> DataFrame:
    """Embedding near-dup pairs via multi-table sign-LSH + exact verify.

    ``n_tables`` independent hash tables (different seeds) are unioned so
    recall survives unlucky planes; candidates come from bucket equi-joins
    (never all-pairs), then exact cosine filters to ``threshold``.
    Output: (id_a, id_b, cosine), id_a < id_b, deduplicated across tables.

    ``dim`` (the embedding dimensionality) is required so plan
    construction is action-free — an inferred dim would need a
    driver-side job against the input mid-pipeline.
    """
    if dim is None:
        raise TypeError(
            "cosine_neardup_lsh requires dim= (the embedding "
            "dimensionality); inferring it would run a driver-side job")
    base = df.select(F.col(id_col).alias("__id"),
                     as_double(F.col(vec_col)).alias("__vec"))
    base = base.withColumn("__norm", l2_norm(F.col("__vec")))
    cands = None
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed=seed + 1000 * t)
        b = with_signlsh_bucket(base, "__vec", planes, out="__bkt")
        left = b.select(F.col("__id").alias("id_a"),
                        F.col("__vec").alias("vec_a"),
                        F.col("__norm").alias("norm_a"), "__bkt")
        right = b.select(F.col("__id").alias("id_b"),
                         F.col("__vec").alias("vec_b"),
                         F.col("__norm").alias("norm_b"), "__bkt")
        pair = (left.join(right, "__bkt")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", "vec_a", "vec_b",
                        "norm_a", "norm_b"))
        cands = pair if cands is None else cands.unionByName(pair)
    return (cands.dropDuplicates(["id_a", "id_b"])
            .withColumn("cosine",
                        F.round(cosine_prenormed(
                            F.col("vec_a"), F.col("vec_b"),
                            F.col("norm_a"), F.col("norm_b")), 6))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def ann_brp_lsh(corpus: DataFrame, probes: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                bucket_length: float = 2.0, num_tables: int = 3,
                seed: int = 42) -> DataFrame:
    """Approximate nearest neighbors via Euclidean-LSH bucket join.

    Uses ``pyspark.ml.feature.BucketedRandomProjectionLSH`` over the
    (normalized) vectors: for unit vectors, Euclidean NN order == cosine
    NN order, so normalizing first makes this an approximate cosine ANN.
    ``approxSimilarityJoin`` is a bucket equi-join under the hood — the
    scale path. Output: (probe_id, vec_id, dist, rank) with rank ≤ k.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    def prep(df: DataFrame, name: str) -> DataFrame:
        v = as_double(F.col(vec_col))
        unit = F.transform(v, lambda x: x / l2_norm(v))
        return df.select(F.col(id_col).alias(name),
                         array_to_vector(unit).alias("features"))

    c = prep(corpus, "vec_id")
    p = prep(probes, "probe_id")
    lsh = BucketedRandomProjectionLSH(inputCol="features",
                                      outputCol="hashes",
                                      bucketLength=bucket_length,
                                      numHashTables=num_tables, seed=seed)
    model = lsh.fit(c)
    # Unit vectors: max Euclidean distance is 2, so threshold 2.0 keeps
    # every colliding candidate and the window below enforces k.
    joined = model.approxSimilarityJoin(p, c, 2.0, distCol="dist")
    scored = joined.select(
        F.col("datasetA.probe_id").alias("probe_id"),
        F.col("datasetB.vec_id").alias("vec_id"),
        F.round(F.col("dist"), 6).alias("dist"),
    ).filter(F.col("probe_id") != F.col("vec_id"))
    w = Window.partitionBy("probe_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivf_ann(corpus: DataFrame, probes: DataFrame, k: int,
            id_col: str = "vec_id", vec_col: str = "embedding",
            n_cells: int = 16, n_probe: int = 4, seed: int = 42,
            ) -> DataFrame:
    """Approximate NN via an IVF (inverted-file) index: k-means cells.

    Index: KMeans (seeded) over the corpus partitions vectors into
    ``n_cells`` cells; each corpus row is assigned its nearest centroid.
    Search: each probe scores only the rows in its ``n_probe`` nearest
    cells — candidate volume ~ n_probe/n_cells of the corpus, reached
    through a cell_id equi-join (shuffle-partitioned by cell), never a
    full scan per probe. Exact cosine re-ranks the candidates.

    This is the centroid-bucketed alternative to sign-LSH: better
    candidate quality on clustered data, at the cost of an upfront
    k-means fit (one-time, reusable index).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.select(F.col(id_col).alias("vec_id"),
                         as_double(F.col(vec_col)).alias("__vec"),
                         array_to_vector(as_double(F.col(vec_col)))
                         .alias("features"))
    model = KMeans(k=n_cells, seed=seed, featuresCol="features",
                   predictionCol="cell").fit(feat)
    indexed = (model.transform(feat)
               .select("vec_id", "__vec", "cell",
                       l2_norm(F.col("__vec")).alias("__cnorm")))

    # Tiny centroid table: (cell, centroid) — broadcast everywhere.
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(
            model.clusterCenters())],
        "cell: int, centroid: array<double>")

    p = probes.select(F.col(id_col).alias("probe_id"),
                      as_double(F.col(vec_col)).alias("__pvec"))
    p = p.withColumn("__pnorm", l2_norm(F.col("__pvec")))
    # rank cells per probe by centroid cosine, keep the n_probe nearest
    cent = centroids.withColumn("__centnorm", l2_norm(F.col("centroid")))
    pc = (p.join(F.broadcast(cent), F.lit(True))
          .withColumn("c_cos", cosine_prenormed(
              F.col("__pvec"), F.col("centroid"),
              F.col("__pnorm"), F.col("__centnorm")))
          .withColumn("c_rank", F.row_number().over(
              Window.partitionBy("probe_id")
              .orderBy(F.desc("c_cos"), F.asc("cell"))))
          .filter(F.col("c_rank") <= n_probe)
          .select("probe_id", "__pvec", "__pnorm", "cell"))
    scored = (pc.join(indexed, "cell")
              .filter(F.col("probe_id") != F.col("vec_id"))
              .withColumn("cosine", F.round(
                  cosine_prenormed(F.col("__pvec"), F.col("__vec"),
                                   F.col("__pnorm"), F.col("__cnorm")), 6)))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("probe_id", "vec_id", "cosine", "rank"))


def signcell(vec: Column, bits: int = 4) -> Column:
    """Deterministic coarse-quantizer cell: sign bits of the first dims.

    cell = sum over i < bits of (v[i] > 0) << i — 2^bits cells from pure
    boolean/integer logic, so Spark and any SQL oracle compute the
    IDENTICAL partition of the corpus (unlike k-means centroids, whose
    float iterations diverge across engines).
    """
    cell = F.lit(0)
    for i in range(bits):
        cell = cell + F.when(F.element_at(vec, i + 1) > 0,
                             F.lit(1 << i)).otherwise(F.lit(0))
    return cell


def ann_signcell(corpus: DataFrame, probes: DataFrame, k: int,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 bits: int = 4) -> DataFrame:
    """IVF-style pruned ANN with a deterministic sign-bit quantizer.

    The IVF pattern — partition the corpus into cells, search only the
    probe's most promising cells — with multi-probe expansion: each
    probe searches its own cell plus every cell at Hamming distance 1
    (``bits``+1 of 2^bits cells, ~31% of the corpus at bits=4). Within
    candidates, exact cosine + bounded top-k window, ties on vec_id.

    Candidates come from a cell equi-join (shuffle on the cell id, the
    IVF posting-list lookup), so cost scales with corpus/2^bits x
    probes-per-cell, never the full cross product. Unlike the k-means
    IVF (`ann_ivf`), every step here is engine-neutral — this variant
    is the oracle-checkable correctness anchor for the pruned-search
    pattern; recall is structural (a true neighbor in a cell >1 bit
    flip away is missed) and verified against the exact baseline in
    pytest.
    """
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      as_double(F.col(vec_col)).alias("__cvec"))
    c = (c.withColumn("__cell", signcell(F.col("__cvec"), bits))
         .withColumn("__cnorm", l2_norm(F.col("__cvec"))))
    p = probes.select(F.col(id_col).alias("probe_id"),
                      as_double(F.col(vec_col)).alias("__pvec"))
    p = p.withColumn("__pnorm", l2_norm(F.col("__pvec")))
    home = signcell(F.col("__pvec"), bits)
    probe_cells = F.array(home, *[
        home.bitwiseXOR(F.lit(1 << j)) for j in range(bits)])
    p = p.withColumn("__cell", F.explode(probe_cells))
    scored = (c.join(F.broadcast(p), "__cell")
              .filter(F.col("probe_id") != F.col("vec_id"))
              .select("probe_id", "vec_id",
                      F.round(cosine_prenormed(
                          F.col("__pvec"), F.col("__cvec"),
                          F.col("__pnorm"), F.col("__cnorm")), 6)
                      .alias("cosine")))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


#: Fixed accumulation grid for centroid components: floor(v * 1e9).
#: Floor (never round) of a double product is bit-identical across
#: engines; double->DECIMAL casts are NOT (Spark quantizes the
#: shortest-string form, DuckDB the exact binary value — they disagree
#: by 1 ulp when the two straddle a scale boundary, observed 1/640
#: cells at sf0.01).
CENTROID_GRID = 1e9


def label_centroids(df: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-label mean embedding (class centroid) in relational form:
    posexplode to (label, dim, value), one exact-integer aggregate per
    (label, dim) cell, reassemble with a pos-sorted collect.

    The explode form is the 100 TB shape: the aggregate distributes
    over (label x dim) cells — no per-group array state, no driver
    collection, and partial (map-side) aggregation applies as usual.
    Components quantize onto a fixed 1e-9 grid (``floor(v * 1e9)`` as
    LONG) and sum exactly, with ONE double division at the end — the
    centroid is bit-identical regardless of row order, partitioning,
    or engine. Headroom: |v| <= 1 leaves ~9.2e9 rows per label before
    the LONG sum can overflow; widen the sum to DECIMAL(38,0) beyond
    that.
    """
    cells = (df.select(F.col(label_col).alias("label"),
                       F.posexplode(vec_col).alias("pos", "v"))
             .groupBy("label", "pos")
             .agg((F.sum(F.floor(F.col("v").cast("double")
                                 * F.lit(CENTROID_GRID)).cast("long"))
                   .cast("double") / F.lit(CENTROID_GRID)
                   / F.count(F.lit(1))).alias("c")))
    return (cells.groupBy("label")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"]).alias("centroid")))


def cosine_neardup_pairs_exact(df: DataFrame, threshold: float,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding") -> DataFrame:
    """Exact embedding near-dup pairs: (id_a, id_b, cosine) for every
    unordered pair with cosine >= threshold.

    The verification baseline for :func:`cosine_neardup_lsh` — all-pairs
    by construction, so BOUND THE INPUT (the probe runs it on a slice);
    the scale path is the sign-LSH bucket join, whose recall pytest
    measures against this. Norms are precomputed per row (one fold per
    row, not three per pair) and the smaller alias is broadcast so the
    theta-join never shuffles the corpus.
    """
    prepped = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
    prepped = prepped.withColumn("__n", l2_norm(F.col("__v")))
    a = prepped.select(F.col(id_col).alias("id_a"),
                       F.col("__v").alias("__va"), F.col("__n").alias("__na"))
    b = prepped.select(F.col(id_col).alias("id_b"),
                       F.col("__v").alias("__vb"), F.col("__n").alias("__nb"))
    sim = cosine_prenormed(F.col("__va"), F.col("__vb"),
                           F.col("__na"), F.col("__nb"))
    return (a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", F.round(sim, 6))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def quantize_int8(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: q_i = floor(v_i·127/s
    + 0.5) with s = max|v_i|, clamped to [-127, 127].

    The memory lever for embedding search at 100 TB: a float32 corpus
    shrinks 4x (plus the norm precompute becomes integer arithmetic),
    which is what lets ANN candidate structures stay in executor memory.
    floor(x + 0.5) — NOT round() — is the tie rule: round() half-even
    vs half-away differs between engines, floor(+0.5) is one IEEE
    expression everywhere. All-zero vectors quantize to zeros (scale
    emitted as 0). Pure map-side column work: zero shuffles.

    Output: (id, scale, qvec array<tinyint>); dequantized value_i ~=
    q_i · s / 127.
    """
    v = as_double(F.col(vec_col))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(scale == 0.0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))) \
         .otherwise(F.transform(
             v, lambda x: F.greatest(
                 F.lit(-127), F.least(
                     F.lit(127),
                     F.floor(x * F.lit(127.0) / scale + F.lit(0.5))))
             .cast("tinyint")))
    return df.select(F.col(id_col), scale.alias("scale"), q.alias("qvec"))


def cosine_topk_int8(corpus: DataFrame, probes: DataFrame, k: int,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     ) -> DataFrame:
    """:func:`cosine_topk` over int8-quantized vectors: scores come from
    INTEGER dot products and integer norm sums (exact arithmetic; the
    per-vector scales cancel out of the cosine), one double expression
    at the end. Same plan shape as the float path — probes broadcast,
    corpus scanned once — but the pairwise work is int8-width.
    Approximation quality vs the float path is recall-tested in pytest.
    """
    def prep(d: DataFrame, id_alias: str, vec: str, norm: str) -> DataFrame:
        q = quantize_int8(d, id_col, vec_col)
        qv = F.col("qvec")
        return q.select(
            F.col(id_col).alias(id_alias),
            F.transform(qv, lambda x: x.cast("long")).alias(vec),
            F.aggregate(qv, F.lit(0).cast("long"),
                        lambda acc, x: acc + x.cast("long") * x.cast("long"))
            .alias(norm))

    p = prep(probes, "probe_id", "__pq", "__pn")
    c = prep(corpus, "vec_id", "__cq", "__cn")
    idot = F.aggregate(
        F.zip_with(F.col("__pq"), F.col("__cq"), lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (c.join(F.broadcast(p), F.col("probe_id") != F.col("vec_id"))
              .withColumn("cosine", F.round(
                  idot.cast("double")
                  / F.sqrt((F.col("__pn") * F.col("__cn")).cast("double")),
                  6)))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("probe_id", "vec_id", "cosine", "rank"))


# --- Product quantization: compressed-scan ANN -----------------------------

def pq_index(corpus: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", m: int = 8, nbits: int = 4,
             seed: int = 42) -> tuple[DataFrame, DataFrame]:
    """Product-quantization index (Jégou et al. 2011): the vector
    splits into ``m`` subvectors, each quantized against its own
    2^nbits-centroid k-means codebook — a 64-dim float vector becomes
    ``m`` small ints (32× memory compression at m=8/nbits=4), which is
    what lets a 100 TB embedding corpus live in executor memory for
    scanning.

    Returns (codes, codebooks): codes = (vec_id, sub, code) rows —
    already exploded to the join grain search needs; codebooks =
    (sub, code, centroid) — m·2^nbits rows, broadcast-sized. The m
    k-means fits are driver-sequenced (an index BUILD, eager by
    nature, like IVF's fit); each fit clusters only the d/m-dim slice.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    d = len(corpus.select(vec_col).first()[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    feat = corpus.select(F.col(id_col).alias("vec_id"),
                         as_double(F.col(vec_col)).alias("__vec"))
    for j in range(m):
        feat = feat.withColumn(
            f"__f{j}", array_to_vector(
                F.slice(F.col("__vec"), j * dsub + 1, dsub)))
    feat = feat.persist()

    # The m subspace fits are independent job chains the driver used to
    # submit strictly in sequence — each fit's straggler tail left every
    # other core idle. Overlap them from a small thread pool (guide
    # §2.6: actions are only sequential because driver code calls them
    # sequentially) so one fit's tail back-fills the next fit's stages.
    # Results are bit-identical to the sequential loop: each fit is
    # seeded (seed+j), reads the same persisted frame, and MLlib fits
    # don't interact; concurrent first-use of the cache fills each
    # partition once under the block manager's per-block lock.
    def _fit(j: int):
        return KMeans(k=2 ** nbits, seed=seed + j,
                      featuresCol=f"__f{j}",
                      predictionCol=f"__c{j}").fit(feat)

    with ThreadPoolExecutor(max_workers=min(m, 4)) as pool:
        models = list(pool.map(_fit, range(m)))
    cb_rows = []
    coded = feat
    for j, model in enumerate(models):
        coded = model.transform(coded)
        cb_rows += [(j, c, [float(x) for x in cent]) for c, cent in
                    enumerate(model.clusterCenters())]
    codes = coded.select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("sub"),
                     F.col(f"__c{j}").alias("code"))
            for j in range(m)])).alias("sc")) \
        .select("vec_id", "sc.sub", "sc.code")
    codebooks = spark.createDataFrame(
        cb_rows, "sub: int, code: int, centroid: array<double>")
    return codes, codebooks


def pq_ann(corpus: DataFrame, probes: DataFrame, k: int,
           id_col: str = "vec_id", vec_col: str = "embedding",
           m: int = 8, nbits: int = 4, refine: int = 4,
           seed: int = 42) -> DataFrame:
    """ANN by asymmetric-distance PQ scan + exact re-rank.

    Search never touches corpus floats until the final re-rank:
    per probe, the inner product against every corpus vector is
    approximated as Σ_j ⟨q_j, centroid[code_j]⟩ — a broadcast join of
    the per-probe (sub, code) → partial-IP lookup (m·2^nbits rows per
    probe) against the CODES table, then one sum per (probe, vec).
    The top ``refine``·k approximate candidates per probe re-rank with
    exact cosine against their original vectors (a vec_id equi-join of
    a candidate set that is k·refine per probe, not the corpus).

    This is the compressed-EXHAUSTIVE-scan member of the ANN family
    (candidates = whole corpus, but at m·code-width bytes per vector);
    compose with ivf_ann's cells for the FAISS IVFPQ shape when even a
    compressed scan is too much. Recall vs brute force is pytest-pinned
    like every ANN variant.
    """
    codes, codebooks = pq_index(corpus, id_col, vec_col, m, nbits,
                                seed)
    p = probes.select(F.col(id_col).alias("probe_id"),
                      as_double(F.col(vec_col)).alias("__pvec"))
    dsub = len(corpus.select(vec_col).first()[0]) // m
    # per-probe ADC lookup table: partial IP of each (sub, code)
    lut = (p.join(F.broadcast(codebooks), F.lit(True))
           .withColumn("__ip", dot(
               F.slice(F.col("__pvec"), F.col("sub") * dsub + 1,
                       F.lit(dsub)),
               F.col("centroid")))
           .select("probe_id", "sub", "code", "__ip"))
    approx = (codes.join(F.broadcast(lut), ["sub", "code"])
              .groupBy("probe_id", "vec_id")
              .agg(F.sum("__ip").alias("approx_ip"))
              .filter(F.col("probe_id") != F.col("vec_id")))
    w = Window.partitionBy("probe_id").orderBy(F.desc("approx_ip"),
                                               F.asc("vec_id"))
    cand = (approx.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= k * refine)
            .select("probe_id", "vec_id"))
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      as_double(F.col(vec_col)).alias("__cvec"),
                      l2_norm(as_double(F.col(vec_col)))
                      .alias("__cnorm"))
    pn = p.withColumn("__pnorm", l2_norm(F.col("__pvec")))
    scored = (cand.join(c, "vec_id").join(pn, "probe_id")
              .withColumn("cosine", F.round(cosine_prenormed(
                  F.col("__pvec"), F.col("__cvec"),
                  F.col("__pnorm"), F.col("__cnorm")), 6)))
    wk = Window.partitionBy("probe_id").orderBy(F.desc("cosine"),
                                                F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select("probe_id", "vec_id", "cosine", "rank"))


def ivfpq_ann(corpus: DataFrame, probes: DataFrame, k: int,
              id_col: str = "vec_id", vec_col: str = "embedding",
              n_cells: int = 16, n_probe: int = 4, m: int = 8,
              nbits: int = 4, refine: int = 4,
              seed: int = 42) -> DataFrame:
    """IVF + PQ composed — the FAISS IVFPQ shape: coarse k-means cells
    bound WHICH vectors are scanned (candidate mass ≈ n_probe/n_cells
    of the corpus), product quantization bounds the BYTES per scanned
    vector (m code ints instead of d floats), and exact cosine
    re-ranks refine·k finalists per probe.

    Pure composition of the two indexes this module already ships —
    cell routing from :func:`ivf_ann`'s coarse quantizer, the ADC
    lookup scan from :func:`pq_ann` — joined on cell BEFORE the code
    join, so the ADC aggregate runs only over routed candidates. This
    is the configuration that scans 100 TB of embeddings: neither a
    full scan (IVF prunes it) nor full-width vectors (PQ compresses
    them) ever cross the shuffle.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    # --- coarse quantizer: route vectors and probes to cells
    feat = corpus.select(F.col(id_col).alias("vec_id"),
                         as_double(F.col(vec_col)).alias("__vec"),
                         array_to_vector(as_double(F.col(vec_col)))
                         .alias("features"))

    # The coarse-quantizer fit and the PQ codebook training read the
    # same corpus but share no state (independent seeds, independent
    # outputs) — overlap the two driver-sequenced training chains
    # (guide §2.6) exactly like pq_index overlaps its subspace fits.
    # Fit results are unchanged: same seeds, same inputs.
    def _fit_coarse():
        return KMeans(k=n_cells, seed=seed, featuresCol="features",
                      predictionCol="cell").fit(feat)

    with ThreadPoolExecutor(max_workers=2) as pool:
        coarse_f = pool.submit(_fit_coarse)
        # --- fine quantizer: PQ codes for every corpus vector
        pq_f = pool.submit(pq_index, corpus, id_col, vec_col, m,
                           nbits, seed + 1000)
        coarse = coarse_f.result()
        codes, codebooks = pq_f.result()
    assigned = (coarse.transform(feat)
                .select("vec_id", "cell").persist())
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in
         enumerate(coarse.clusterCenters())],
        "cell: int, centroid: array<double>")
    routed_codes = codes.join(assigned, "vec_id")

    p = probes.select(F.col(id_col).alias("probe_id"),
                      as_double(F.col(vec_col)).alias("__pvec"))
    cent = centroids.withColumn("__cnorm", l2_norm(F.col("centroid")))
    pn = p.withColumn("__pnorm", l2_norm(F.col("__pvec")))
    pc = (pn.join(F.broadcast(cent), F.lit(True))
          .withColumn("c_cos", cosine_prenormed(
              F.col("__pvec"), F.col("centroid"),
              F.col("__pnorm"), F.col("__cnorm")))
          .withColumn("c_rank", F.row_number().over(
              Window.partitionBy("probe_id")
              .orderBy(F.desc("c_cos"), F.asc("cell"))))
          .filter(F.col("c_rank") <= n_probe)
          .select("probe_id", "cell"))

    dsub = len(corpus.select(vec_col).first()[0]) // m
    lut = (p.join(F.broadcast(codebooks), F.lit(True))
           .withColumn("__ip", dot(
               F.slice(F.col("__pvec"), F.col("sub") * dsub + 1,
                       F.lit(dsub)),
               F.col("centroid")))
           .select("probe_id", "sub", "code", "__ip"))
    # route FIRST (cell join bounds the scan), ADC over survivors only
    approx = (routed_codes.join(F.broadcast(pc), "cell")
              .join(F.broadcast(lut), ["probe_id", "sub", "code"])
              .groupBy("probe_id", "vec_id")
              .agg(F.sum("__ip").alias("approx_ip"))
              .filter(F.col("probe_id") != F.col("vec_id")))
    w = Window.partitionBy("probe_id").orderBy(F.desc("approx_ip"),
                                               F.asc("vec_id"))
    cand = (approx.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= k * refine)
            .select("probe_id", "vec_id"))
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      as_double(F.col(vec_col)).alias("__cvec"),
                      l2_norm(as_double(F.col(vec_col)))
                      .alias("__ccnorm"))
    scored = (cand.join(c, "vec_id").join(pn, "probe_id")
              .withColumn("cosine", F.round(cosine_prenormed(
                  F.col("__pvec"), F.col("__cvec"),
                  F.col("__pnorm"), F.col("__ccnorm")), 6)))
    wk = Window.partitionBy("probe_id").orderBy(F.desc("cosine"),
                                                F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select("probe_id", "vec_id", "cosine", "rank"))


def bits_for_corpus(n_rows: int, target_cell_rows: int = 4096) -> int:
    """Sign-cell bit width that bounds EXPECTED cell population at
    ``target_cell_rows``: the smallest b with n_rows / 2^b <= target.

    The within-cell pair join of :func:`semantic_dedup` costs
    Σ n_c·(n_c−1)/2 ≈ n·(n/2^b)/2 pairs under a uniform spread, so a
    FIXED b makes the join grow quadratically with the corpus — b must
    scale with log2(corpus) to keep per-cell work constant. Callers
    size b from a cheap count (or a known table size) BEFORE building
    the plan; the function is pure so operator construction stays
    action-free.
    """
    import math
    if n_rows <= 0 or target_cell_rows <= 0:
        raise ValueError("n_rows and target_cell_rows must be positive")
    return max(1, math.ceil(math.log2(max(1.0,
                                          n_rows / target_cell_rows))))


def semantic_dedup(df: DataFrame, threshold: float,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   *, bits: int) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) as pure joins:
    coarse-cluster embeddings with the deterministic sign-cell
    quantizer, then WITHIN each cell drop every vector that has a
    near-identical peer (cosine ≥ threshold) with a smaller id — the
    greedy keep-first rule as one anti-join, no connected components
    needed (keep-first by id is order-free: a row drops iff ANY
    smaller-id near-dup shares its cell, regardless of what happens to
    that peer).

    Within-cell semantics on purpose: the published algorithm dedups
    inside k-means clusters only — cross-cluster near-dups are the
    accepted recall tradeoff that makes the pair scan tractable. Here
    the quantizer is sign-bit cells (engine-neutral, oracle-checkable)
    instead of k-means; the join shuffles only on the cell id (the
    ann_signcell posting-list shape) and norms are precomputed per
    row, not per pair.

    ``bits`` is REQUIRED and must scale with the corpus: expected cell
    population is corpus/2^bits, so the within-cell pair join costs
    ~n·(n/2^bits)/2 — a fixed bits grows QUADRATICALLY with corpus
    size. Size it with :func:`bits_for_corpus` (n / 2^bits ≤ target
    cell rows); the pair-count bound is property-tested in
    tests/test_llmdata.py.

    Returns the KEPT rows of ``df``; anti-join the result against the
    input for the drop list.
    """
    prepped = (df.select(F.col(id_col),
                         as_double(F.col(vec_col)).alias("__v"))
               .withColumn("__cell", signcell(F.col("__v"), bits))
               .withColumn("__n", l2_norm(F.col("__v"))))
    a = prepped.select(F.col("__cell"), F.col(id_col).alias("__id_a"),
                       F.col("__v").alias("__va"),
                       F.col("__n").alias("__na"))
    b = prepped.select(F.col("__cell"), F.col(id_col).alias("__id_b"),
                       F.col("__v").alias("__vb"),
                       F.col("__n").alias("__nb"))
    sim = cosine_prenormed(F.col("__va"), F.col("__vb"),
                           F.col("__na"), F.col("__nb"))
    drops = (a.join(b, "__cell")
             .filter(F.col("__id_b") < F.col("__id_a"))
             .withColumn("__cos", F.round(sim, 6))
             .filter(F.col("__cos") >= threshold)
             .select(F.col("__id_a").alias(id_col))
             .distinct())
    return df.join(drops, id_col, "left_anti")


def hard_negatives(corpus: DataFrame, anchors: DataFrame, k: int,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Hard-negative mining: for each labeled anchor, the k most
    cosine-similar corpus rows carrying a DIFFERENT label — the
    contrastive-training data miner (triplet/InfoNCE pipelines want
    negatives that are near-misses, not random draws; those are
    exactly the top-similarity cross-label neighbors).

    Same scale shape as :func:`cosine_topk` — anchors broadcast, one
    corpus pass, per-row prenormed norms (one fold per ROW, not per
    pair), bounded top-k window on anchor id — plus the cross-label
    predicate riding the broadcast join, so mismatched pairs are
    dropped BEFORE scoring instead of filtered after. Output:
    (anchor_id, anchor_label, vec_id, neg_label, cosine, rank).
    """
    a = anchors.select(F.col(id_col).alias("anchor_id"),
                       F.col(label_col).alias("anchor_label"),
                       as_double(F.col(vec_col)).alias("__avec"))
    a = a.withColumn("__anorm", l2_norm(F.col("__avec")))
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(label_col).alias("neg_label"),
                      as_double(F.col(vec_col)).alias("__cvec"))
    c = c.withColumn("__cnorm", l2_norm(F.col("__cvec")))
    scored = (c.join(F.broadcast(a),
                     F.col("neg_label") != F.col("anchor_label"))
              .withColumn("cosine",
                          F.round(cosine_prenormed(
                              F.col("__avec"), F.col("__cvec"),
                              F.col("__anorm"), F.col("__cnorm")), 6)))
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"),
                                                F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("anchor_id", "anchor_label", "vec_id", "neg_label",
                    "cosine", F.col("rank").cast("int").alias("rank")))


def quantize_grid(vec: Column, scale: int = 1000,
                  offset: int = 1000) -> Column:
    """Integer-grid quantization of a double vector: floor(x*scale) +
    offset per dimension, as array<long>.

    floor() of a double is engine-portable (unlike round-half cases),
    and the offset keeps every coordinate NONNEGATIVE for inputs
    bounded inside ±offset/scale — the house integer-division rule's
    comfort zone. (Verified r12: Spark DIV and DuckDB // BOTH truncate
    toward zero, -3 DIV 2 == -3 // 2 == -1, so the centroid
    sum-DIV-count stays cross-engine exact even if an out-of-range
    coordinate slips a sum negative; the offset is belt and braces,
    not a correctness precondition.) Offsets cancel in coordinate
    differences, so squared distances on the grid are
    translation-exact.
    """
    return F.transform(vec, lambda x: (F.floor(x * scale)
                                       + offset).cast("long"))


def grid_dist2(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance between two long-grid vectors:
    a left-to-right zip_with/aggregate fold, all in LONG (64 dims at
    ~2·scale magnitude keep the sum far below 2^63)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def _grid_codebook_train(base: DataFrame, n_codes: int, iters: int,
                         m: int = 1, dsub: int | None = None,
                         carry: tuple[str, ...] = (),
                         ) -> tuple[DataFrame, DataFrame]:
    """Shared deterministic integer-grid Lloyd's k-means trainer — the
    ONE loop behind :func:`ivf_grid_ann` (m=1: one codebook over whole
    vectors = the IVF coarse quantizer) and :func:`pq_grid_ann` /
    :func:`ivfpq_grid_ann` (m>1: one codebook per disjoint subvector =
    the PQ fine quantizer), extracted r13 so the two cannot drift —
    the `_minplus_doubling` move applied to codebook training.

    ``base`` must carry (vec_id, __q [long-grid vector], *carry).
    Training is exact integer arithmetic end to end (the ann_ivf_grid
    contract, r12): smallest-id seed rows, argmin assignment by exact
    grid squared distance (ties → lowest code), sum-DIV-count
    centroid refresh (nonnegative integer division — portable), an
    emptied code keeps its previous centroid (LEFT JOIN + coalesce) —
    so any SQL engine replays the IDENTICAL codebooks from unrolled
    CTEs.

    Returns (cb, assigned): cb = (sub, code, cv) — m·n_codes rows,
    persisted, broadcast-sized by construction; assigned = the final
    assignment (vec_id, *carry, sub, sq, code). Scale posture: per
    Lloyd round = one broadcast-codebook corpus scan (map-side, no
    corpus shuffle) + one (sub, code, pos)-keyed aggregation whose
    output is the m·n_codes×dsub codebook grid; per-round lazy
    persist keeps the doubled consumer tree from recomputing the
    codebook lineage (measured on ivf_grid_ann, r12). At 100 TB,
    train on a bounded sample upstream (FAISS-style) and run only the
    final assignment over the full corpus.
    """
    if m > 1:
        if dsub is None:
            raise TypeError("dsub= is required when m > 1 (slicing "
                            "needs the subvector width; inferring it "
                            "would run a driver-side job)")
        slices = F.array(*[F.slice(F.col("__q"), j * dsub + 1, dsub)
                           for j in range(m)])
    else:
        # m=1: the whole vector, no width needed — keeps ivf_grid_ann
        # dim-agnostic like the zip_with folds it feeds
        slices = F.array(F.col("__q"))
    subs = base.select("vec_id", *carry,
                       F.posexplode(slices).alias("sub", "sq"))
    # Seed codebooks: the n_codes smallest ids, code = rank-1 in id
    # order PER SUB. limit() keeps this a TakeOrderedAndProject (k
    # rows); the row_number window runs over that bounded m·k-row
    # frame only.
    seeds = base.select("vec_id", "__q").orderBy("vec_id").limit(n_codes)
    seed_subs = seeds.select("vec_id",
                             F.posexplode(slices).alias("sub", "sq"))
    cb = (seed_subs.withColumn(
        "code", (F.row_number().over(
            Window.partitionBy("sub").orderBy("vec_id")) - 1)
        .cast("int"))
        .select("sub", "code", F.col("sq").alias("cv")))

    def assign(c: DataFrame) -> DataFrame:
        scored = (subs.join(F.broadcast(c), "sub")
                  .withColumn("__d2", grid_dist2(F.col("sq"),
                                                 F.col("cv"))))
        w = Window.partitionBy("vec_id", "sub").orderBy(F.asc("__d2"),
                                                        F.asc("code"))
        return (scored.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("vec_id", *carry, "sub", "sq", "code"))

    for _ in range(iters):
        # persist (lazy — construction stays action-free): each round's
        # codebook frame is referenced by the NEXT round's assign AND
        # its own update join; without a materialization point the
        # codebook lineage re-embeds every prior round's corpus scan
        # (measured 16 FileScans at iters=2 vs 5 with the persist —
        # the transitive_closure per-round rule, at m·k-row cost).
        cb = cb.persist(StorageLevel.MEMORY_AND_DISK)
        members = assign(cb)
        upd = (members.select("sub", "code",
                              F.posexplode("sq").alias("pos", "val"))
               .groupBy("sub", "code", "pos")
               .agg(F.expr("sum(val) DIV count(1)").alias("val"))
               .groupBy("sub", "code")
               .agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("pos", "val"))),
                   lambda s: s["val"]).alias("new_cv")))
        cb = (cb.join(upd, ["sub", "code"], "left")
              .select("sub", "code",
                      F.coalesce("new_cv", "cv").alias("cv")))
    cb = cb.persist(StorageLevel.MEMORY_AND_DISK)
    return cb, assign(cb)


def ivf_grid_ann(corpus: DataFrame, probes: DataFrame, k: int,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 n_cells: int = 4, n_probe: int = 2, iters: int = 2,
                 scale: int = 1000, offset: int = 1000) -> DataFrame:
    """IVF ANN with a DETERMINISTIC integer-grid Lloyd's k-means — the
    oracle-checkable twin of :func:`ivf_ann` (the pagerank_iter move
    applied to the float-index class).

    Training is exact integer arithmetic end to end, so any SQL engine
    reproduces the index bit-for-bit:

    - vectors quantize to a long grid (floor(x·scale)+offset, exact);
    - seed centroids are the ``n_cells`` corpus rows with the smallest
      ids (TakeOrderedAndProject — k rows, never a full sort), cell
      ids assigned in id order;
    - each Lloyd round assigns every vector to its nearest centroid by
      EXACT integer squared distance (ties → lowest cell id) via a
      broadcast of the n_cells-row centroid table (map-side, no
      shuffle), then recomputes each centroid coordinate as
      sum DIV count over the cell's members (nonnegative integer
      division — portable); an emptied cell keeps its previous
      centroid (LEFT JOIN + coalesce);
    - search ranks cells per probe by the same integer distance,
      scans the ``n_probe`` nearest via a cell equi-join (the IVF
      posting-list lookup — candidates ≈ n_probe/n_cells of the
      corpus), and re-ranks candidates by EXACT double cosine over
      the ORIGINAL vectors (the cosine_topk fold), ties on vec_id.

    Scale posture: per round = one broadcast-join corpus scan (no
    shuffle) + one (cell, dim)-keyed aggregation whose output is the
    n_cells×dim centroid grid; at 100 TB you train on a bounded
    sample (pass a sampled ``corpus`` slice as a separate training
    frame upstream — FAISS-style) and only the final assignment +
    search touch the full corpus. Output:
    (probe_id, vec_id, cosine, rank≤k).
    """
    # shared family projection (_prep_grid — same expressions the PQ
    # twins use, so a quantization change cannot miss this member)
    base = _prep_grid(corpus, "vec_id", id_col, vec_col, scale, offset)

    # m=1 codebook over whole vectors == the IVF coarse quantizer;
    # the shared trainer carries the originals through assignment so
    # the index join stays map-side (no corpus re-join on vec_id).
    cb, assigned = _grid_codebook_train(base, n_cells, iters,
                                        carry=("__vec", "__norm"))
    cent = cb.select(F.col("code").alias("cell"), "cv")
    indexed = assigned.select("vec_id", "__vec",
                              F.col("__norm").alias("__cnorm"),
                              F.col("code").alias("cell"))

    p = (_prep_grid(probes, "probe_id", id_col, vec_col, scale, offset)
         .select("probe_id", F.col("__vec").alias("__pvec"),
                 F.col("__q").alias("__pq"),
                 F.col("__norm").alias("__pnorm")))
    pc = (p.crossJoin(F.broadcast(cent))
          .withColumn("__d2", grid_dist2(F.col("__pq"), F.col("cv")))
          .withColumn("__crn", F.row_number().over(
              Window.partitionBy("probe_id").orderBy(F.asc("__d2"),
                                                     F.asc("cell"))))
          .filter(F.col("__crn") <= n_probe)
          .select("probe_id", "__pvec", "__pnorm", "cell"))
    scored = (pc.join(indexed, "cell")
              .filter(F.col("probe_id") != F.col("vec_id"))
              .withColumn("cosine", F.round(
                  cosine_prenormed(F.col("__pvec"), F.col("__vec"),
                                   F.col("__pnorm"), F.col("__cnorm")),
                  6)))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("probe_id", "vec_id", "cosine",
                    F.col("rank").cast("int").alias("rank")))


def _prep_grid(df: DataFrame, id_alias: str, id_col: str, vec_col: str,
               scale: int, offset: int) -> DataFrame:
    """(id, __vec double, __q long-grid, __norm) projection shared by
    the grid-ANN family's corpus and probe sides."""
    out = df.select(F.col(id_col).alias(id_alias),
                    as_double(F.col(vec_col)).alias("__vec"))
    return (out.withColumn("__q", quantize_grid(F.col("__vec"),
                                                scale, offset))
            .withColumn("__norm", l2_norm(F.col("__vec"))))


def _grid_adc_rerank(base: DataFrame, p: DataFrame, approx: DataFrame,
                     k: int, refine: int) -> DataFrame:
    """Shared tail of the grid-PQ searchers: keep the refine·k best
    approximate candidates per probe (exact-integer approx_d2 ASC,
    vec_id ASC — fully deterministic), then re-rank by EXACT double
    cosine over the ORIGINAL vectors (the cosine_topk fold), ties on
    vec_id. The candidate set is bounded (refine·k per probe), so the
    re-rank join BROADCASTS the candidates against the corpus — one
    corpus scan, no corpus shuffle."""
    wc = Window.partitionBy("probe_id").orderBy(F.asc("approx_d2"),
                                                F.asc("vec_id"))
    cand = (approx.withColumn("__r", F.row_number().over(wc))
            .filter(F.col("__r") <= k * refine)
            .select("probe_id", "vec_id"))
    scored = (base.select("vec_id", F.col("__vec").alias("__cvec"),
                          F.col("__norm").alias("__cnorm"))
              .join(F.broadcast(cand), "vec_id")
              .join(F.broadcast(p.select(
                  "probe_id", F.col("__vec").alias("__pvec"),
                  F.col("__norm").alias("__pnorm"))), "probe_id")
              .withColumn("cosine", F.round(cosine_prenormed(
                  F.col("__pvec"), F.col("__cvec"),
                  F.col("__pnorm"), F.col("__cnorm")), 6)))
    wk = Window.partitionBy("probe_id").orderBy(F.desc("cosine"),
                                                F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select("probe_id", "vec_id", "cosine",
                    F.col("rank").cast("int").alias("rank")))


def pq_grid_ann(corpus: DataFrame, probes: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                m: int = 4, n_codes: int = 4, iters: int = 2,
                refine: int = 4, scale: int = 1000, offset: int = 1000,
                *, dim: int) -> DataFrame:
    """Product-quantization ANN with DETERMINISTIC integer-grid
    codebooks — the oracle-checkable twin of :func:`pq_ann` (r12
    verdict task 2: the ann_ivf_grid move applied to PQ codebook
    training, emptying the float-index rows-only class).

    Index: vectors quantize to the long grid, split into ``m``
    disjoint ``dim/m``-wide subvectors, and each subspace trains its
    own ``n_codes``-centroid codebook with the shared exact-integer
    Lloyd's trainer (:func:`_grid_codebook_train`) — smallest-id
    seeds, exact-distance argmin (ties → lowest code), sum-DIV-count
    refresh. A vector's code word is its per-subspace nearest-code
    tuple; at real widths that is m·log2(n_codes) bits per vector
    (the 32× compression that lets a 100 TB corpus live in executor
    memory), here exercised at probe scale.

    Search is the FAISS ADC scan in relational form: the per-probe
    lookup table LUT(probe, sub, code) = exact integer squared grid
    distance from the probe's subvector to that codebook entry
    (m·n_codes rows per probe — broadcast), joined to the corpus CODE
    table on (sub, code) and summed per (probe, vec) — the inner
    product never touches corpus floats. approx_d2 is an exact LONG,
    so candidate ranking is engine-portable; the refine·k finalists
    re-rank by exact double cosine (:func:`_grid_adc_rerank`).

    ``dim`` is REQUIRED (slicing needs the subvector width; inferring
    it would run a driver-side job — the cosine_neardup_lsh rule).
    This is the compressed-EXHAUSTIVE-scan member of the grid family
    (candidates = whole corpus at m ints per vector); compose with
    cells via :func:`ivfpq_grid_ann` when even a compressed scan is
    too much. Output: (probe_id, vec_id, cosine, rank≤k).
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    base = _prep_grid(corpus, "vec_id", id_col, vec_col, scale, offset)
    cb, assigned = _grid_codebook_train(base, n_codes, iters,
                                        m=m, dsub=dsub)
    codes = assigned.select("vec_id", "sub", "code")

    p = _prep_grid(probes, "probe_id", id_col, vec_col, scale, offset)
    psubs = p.select("probe_id", F.posexplode(F.array(
        *[F.slice(F.col("__q"), j * dsub + 1, dsub)
          for j in range(m)])).alias("sub", "psq"))
    lut = (psubs.join(F.broadcast(cb), "sub")
           .select("probe_id", "sub", "code",
                   grid_dist2(F.col("psq"), F.col("cv"))
                   .alias("__pd2")))
    approx = (codes.join(F.broadcast(lut), ["sub", "code"])
              .filter(F.col("probe_id") != F.col("vec_id"))
              .groupBy("probe_id", "vec_id")
              .agg(F.sum("__pd2").alias("approx_d2")))
    return _grid_adc_rerank(base, p, approx, k, refine)


def ivfpq_grid_ann(corpus: DataFrame, probes: DataFrame, k: int,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   n_cells: int = 4, n_probe: int = 2, m: int = 4,
                   n_codes: int = 4, iters: int = 2, refine: int = 4,
                   scale: int = 1000, offset: int = 1000,
                   *, dim: int) -> DataFrame:
    """IVF + PQ composed on the integer grid — the oracle-checkable
    twin of :func:`ivfpq_ann` (the FAISS IVFPQ shape): coarse grid
    k-means cells bound WHICH vectors are scanned (candidate mass ≈
    n_probe/n_cells of the corpus), grid-PQ codes bound the BYTES per
    scanned vector, and exact cosine re-ranks refine·k finalists.

    Pure composition of the two deterministic indexes: the coarse
    quantizer and the per-subspace codebooks are BOTH trained by
    :func:`_grid_codebook_train` (m=1 whole-vector vs m>1 subvector —
    like the float path, PQ trains on raw vectors, not residuals),
    so a DuckDB oracle replays the ENTIRE composite index from
    unrolled CTEs. Search routes probes to their n_probe nearest
    cells by exact grid distance, joins the routed cell's code lists
    (the posting-list equi-join — never a full scan), runs the ADC
    sum over survivors only, then re-ranks exactly. All candidate
    generation is cell/code equi-joins; the only corpus-wide work is
    the two map-side assignment scans. Output:
    (probe_id, vec_id, cosine, rank≤k).
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    base = _prep_grid(corpus, "vec_id", id_col, vec_col, scale, offset)

    # coarse quantizer: m=1 whole-vector codebook = IVF cells
    coarse_cb, coarse_assigned = _grid_codebook_train(base, n_cells,
                                                      iters)
    cent = coarse_cb.select(F.col("code").alias("cell"), "cv")
    assigned = coarse_assigned.select(
        "vec_id", F.col("code").alias("cell"))

    # fine quantizer: per-subspace codebooks + corpus code lists
    cb, pq_assigned = _grid_codebook_train(base, n_codes, iters,
                                           m=m, dsub=dsub)
    codes = pq_assigned.select("vec_id", "sub", "code")
    routed = codes.join(assigned, "vec_id")

    p = _prep_grid(probes, "probe_id", id_col, vec_col, scale, offset)
    pc = (p.crossJoin(F.broadcast(cent))
          .withColumn("__d2", grid_dist2(F.col("__q"), F.col("cv")))
          .withColumn("__crn", F.row_number().over(
              Window.partitionBy("probe_id").orderBy(F.asc("__d2"),
                                                     F.asc("cell"))))
          .filter(F.col("__crn") <= n_probe)
          .select("probe_id", "cell"))
    psubs = p.select("probe_id", F.posexplode(F.array(
        *[F.slice(F.col("__q"), j * dsub + 1, dsub)
          for j in range(m)])).alias("sub", "psq"))
    lut = (psubs.join(F.broadcast(cb), "sub")
           .select("probe_id", "sub", "code",
                   grid_dist2(F.col("psq"), F.col("cv"))
                   .alias("__pd2")))
    # route FIRST (cell join bounds the scan), ADC over survivors only
    approx = (routed.join(F.broadcast(pc), "cell")
              .join(F.broadcast(lut), ["probe_id", "sub", "code"])
              .filter(F.col("probe_id") != F.col("vec_id"))
              .groupBy("probe_id", "vec_id")
              .agg(F.sum("__pd2").alias("approx_d2")))
    return _grid_adc_rerank(base, p, approx, k, refine)
