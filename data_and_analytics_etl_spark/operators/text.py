"""Text-analysis operators over document tables (mandated LLM-data tier).

Everything here is pure column expressions (split / regexp / higher-order
array functions) so the whole tier runs inside whole-stage codegen — the
quality gates that decide which of 100 TB of documents survive must not
drop into Python. Each helper returns Column(s) so pipelines compose them
into a single projection.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

#: Tiny per-language marker vocabularies for the n-gram/stopword language
#: heuristic. Deliberately small and ASCII so the same sets are literally
#: inlined into the DuckDB oracle SQL.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "es": ("el", "la", "de", "que", "y", "los", "un"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht"),
    "fr": ("le", "les", "des", "et", "est", "une", "dans"),
}

#: BPE-ish token pattern: word pieces or single non-space punctuation.
TOKEN_PATTERN = r"\w+|[^\w\s]"

STOPWORDS_EN = LANG_MARKERS["en"]


def tokens_of(text: Column) -> Column:
    """Whitespace tokens of lowercased text."""
    return F.split(F.lower(text), r"\s+")


def ensure_fanout_parallelism(df: DataFrame,
                              min_partitions: int | None = None) -> DataFrame:
    """Pre-fan-out repartition guard for explode-heavy operators.

    Token/shingle explodes multiply row counts 50-1000×; if the source
    scan arrived as ONE partition (a small file under the 128 MB split
    size — exactly what happens to a dimension-sized table), the entire
    fan-out serializes on one core (measured: span_duplication 7.9 s at
    sf0.1 single-task vs ~1 s parallel). Round-robin repartitioning the
    NARROW pre-explode rows costs a shuffle of the small side and buys
    full-cluster fan-out. At 100 TB the scan is already multi-partition
    and this is a no-op.
    """
    if df.isStreaming:
        # streaming plans have no static partition count (and .rdd would
        # raise); micro-batch parallelism is the source's concern
        return df
    # The hazard exists ONLY for un-shuffled file scans: any plan that
    # already crossed an exchange (aggregate/window/join/sort/distinct/
    # repartition) runs at spark.sql.shuffle.partitions width, so the
    # guard is a no-op there — and probing it via df.rdd would be worse
    # than useless, because under AQE converting a shuffled plan to an
    # RDD EXECUTES the upstream stages (a job at plan-construction time,
    # violating the engine's action-free construction contract).
    if _crosses_exchange(df._jdf.queryExecution().analyzed()):
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


#: Analyzed-plan node names that plan an exchange (or mark one already
#: requested): their presence means the frame runs at shuffle-partition
#: width, so the fan-out guard must not probe (or add) anything.
_EXCHANGE_NODE_NAMES = frozenset({
    "Aggregate", "Window", "Join", "Sort", "Deduplicate",
    "Repartition", "RepartitionByExpression", "RebalancePartitions",
    "Intersect", "Except",
})


def _crosses_exchange(jplan) -> bool:
    """True when the analyzed logical plan contains an exchange-planning
    node. Walks the tree and matches each node's ``nodeName()`` exactly
    (r14 hardening) — the previous substring test over ``toString()``
    could be defeated by NEW operator names and, worse, silently
    tripped by plan TEXT: a column aliased ``sortKey``/``JoinOrder``
    made a pure scan look shuffled, skipping the guard.

    A node that holds a subquery expression counts as crossing too:
    ``IN``/``EXISTS`` subqueries are rewritten into a Join, and a scalar
    subquery runs as its own job, so probing ``df.rdd`` would execute
    either one — with or without an exchange inside the subquery. Inner
    children (plans a node carries outside its children) are walked
    like children."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        if (node.nodeName() in _EXCHANGE_NODE_NAMES
                or node.subqueries().length()):
            return True
        for seq in (node.children(), node.innerChildren()):
            for i in range(seq.length()):
                stack.append(seq.apply(i))
    return False


def text_stats(text: Column) -> dict[str, Column]:
    """Descriptive stats used by quality scoring; all JVM expressions."""
    toks = tokens_of(text)
    n_chars = F.length(text)
    n_words = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stop_hits = F.size(F.filter(
        toks, lambda t: t.isin(*STOPWORDS_EN)))
    return {
        "n_chars": n_chars.cast("long"),
        "n_words": n_words.cast("long"),
        "n_distinct_words": n_distinct.cast("long"),
        "avg_word_len": F.round(
            (n_chars - n_words + 1).cast("double") / n_words, 4),
        "type_token_ratio": F.round(
            n_distinct.cast("double") / n_words, 4),
        "digit_ratio": F.round(
            (n_chars - F.length(F.regexp_replace(text, r"[0-9]", "")))
            .cast("double") / n_chars, 4),
        "punct_ratio": F.round(
            F.length(F.regexp_replace(text, r"[\w\s]", ""))
            .cast("double") / n_chars, 4),
        "stopword_ratio": F.round(stop_hits.cast("double") / n_words, 4),
    }


def token_count(text: Column) -> Column:
    """BPE-ish token count: word pieces + punctuation marks."""
    return F.size(F.regexp_extract_all(F.lower(text),
                                       F.lit(TOKEN_PATTERN), 0)).cast("long")


def lang_id(text: Column) -> Column:
    """Heuristic language ID from marker-word hit counts + CJK ratio.

    Deterministic tie-breaking: CJK beats all when >30% of chars are CJK;
    otherwise the fixed precedence en ≥ es ≥ de ≥ fr (strict comparisons
    in that order), 'und' when no marker hits at all.
    """
    toks = tokens_of(text)

    def marker_hits(markers: tuple[str, ...]):
        # Factory, not a default-arg lambda: higher-order-function lambdas
        # receive (element, index) when they declare 2 params, so a
        # `lambda t, m=markers:` closure would silently bind m to the
        # index column.
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    score = {lang: marker_hits(markers)
             for lang, markers in LANG_MARKERS.items()}
    cjk = (F.length(text)
           - F.length(F.regexp_replace(text, r"[一-鿿]", "")))
    cjk_ratio = cjk.cast("double") / F.greatest(F.length(text), F.lit(1))
    no_hits = sum(score.values(), F.lit(0)) == 0
    return (
        F.when(cjk_ratio > 0.3, F.lit("zh"))
         .when(no_hits, F.lit("und"))
         .when((score["en"] >= score["es"]) & (score["en"] >= score["de"])
               & (score["en"] >= score["fr"]), F.lit("en"))
         .when((score["es"] >= score["de"]) & (score["es"] >= score["fr"]),
               F.lit("es"))
         .when(score["de"] >= score["fr"], F.lit("de"))
         .otherwise(F.lit("fr")))


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum,
    collapse whitespace."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    Exact-dup detection across formatting variants; pairs with rolling
    minhash (operators/dedup.py) for near-dup detection.
    """
    return F.md5(normalize_text(text).cast("binary"))


def winnow_fingerprints(df: DataFrame, text_col: str,
                        id_col: str = "doc_id",
                        k: int = 5, w: int = 4,
                        out: str = "winnow_fp") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): the rolling-hash fingerprint
    selection the mandate's "document fingerprinting" item names.

    Char k-grams hash with md5 (oracle-portable like the simhash md5
    family); every window of ``w`` consecutive gram hashes selects its
    MINIMUM hash (rightmost occurrence on ties — the winnowing tie
    rule), and the distinct selections are the document's fingerprint
    set. Guarantee: any two documents sharing a substring of length >=
    w + k - 1 share at least one fingerprint, while only ~2/(w+1) of
    grams are kept — the density/recall dial for partial-overlap
    detection at corpus scale.

    Emitted as one row per selected (id, "pos:hash") string via
    explode. All hashing/selection is higher-order array expressions
    inside one projection — the gram-hash array is LET-BOUND as a
    lambda variable (the with_word_shingles CollapseProject rule) so
    it is computed once per row, not once per window reference.
    """
    def over_hashes(hs):
        nwin = F.size(hs) - (w - 1)

        def one(j):
            s = F.slice(hs, j, w)
            m = F.array_min(s)
            # rightmost min: first occurrence in the reversed window
            ridx = F.array_position(F.reverse(s), m)
            pos = (j.cast("long") + F.lit(w) - ridx)
            return F.concat(pos.cast("string"), F.lit(":"), m)

        return F.when(nwin > 0, F.array_distinct(
            F.transform(F.sequence(F.lit(1), nwin), one))
        ).otherwise(F.array().cast("array<string>"))

    txt = F.col(text_col)
    ngrams = F.length(txt) - (k - 1)
    hashes = F.when(ngrams > 0, F.transform(
        F.sequence(F.lit(1), ngrams),
        lambda i: F.md5(F.substr(txt, i, F.lit(k))))
    ).otherwise(F.array().cast("array<string>"))
    fps = F.element_at(F.transform(F.array(hashes), over_hashes), 1)
    return (df.select(F.col(id_col), F.explode(fps).alias(out)))


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1] from length/diversity/noise stats.

    Rule-of-thumb corpus gates (Gopher/C4-style heuristics, re-expressed
    as column arithmetic): reasonable length, lexical diversity, low
    digit/punct noise. Weights sum to 1; each component clamped to [0,1].
    """
    s = text_stats(text)
    len_score = F.least(s["n_words"].cast("double") / 50.0, F.lit(1.0))
    diversity = F.least(s["type_token_ratio"] * 2, F.lit(1.0))
    clean = F.greatest(
        F.lit(0.0),
        F.lit(1.0) - (s["digit_ratio"] + s["punct_ratio"]) * 5)
    return F.round(0.4 * len_score + 0.3 * diversity + 0.3 * clean, 4)


def tf_idf(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
           ) -> DataFrame:
    """Corpus TF-IDF, fully relational (no ml.feature, no UDFs).

    Pipeline: tokenize → explode → tf = per-(doc, term) count →
    df = per-term doc count (window, no second scan) → smooth idf
    (sklearn-style: ln((1+N)/(1+df)) + 1). Two shuffles total: one on
    (doc, term) for tf, one on term for df. Output: (doc, term, tf,
    doc_freq, tfidf) — deterministic, so exactly oracle-checkable,
    unlike hashed-feature TF (HashingTF) which trades terms for buckets.

    Action-free by contract: N (corpus doc count) enters the plan as a
    broadcast 1-row aggregate cross-joined into the idf expression (the
    check_referential_integrity pattern, profile.py), NOT an eager
    ``.count()`` — constructing the plan must never run a Spark job
    (the rule cosine_neardup_lsh enforces for `dim`, similarity.py).
    """
    from pyspark.sql import Window

    n_docs = df.agg(
        F.countDistinct(F.col(id_col)).alias("__n_docs"))
    terms = (df.select(F.col(id_col).alias("doc"),
                       F.explode(tokens_of(F.col(text_col))).alias("term")))
    tf = (terms.groupBy("doc", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    w = Window.partitionBy("term")
    out = (tf.withColumn("doc_freq", F.count(F.lit(1)).over(w))
           .crossJoin(F.broadcast(n_docs))
           .withColumn("tfidf", F.round(
               F.col("tf") * (F.log((F.lit(1.0) + F.col("__n_docs"))
                                    / (F.lit(1.0) + F.col("doc_freq")))
                              + F.lit(1.0)), 6)))
    return out.select(F.col("doc").alias(id_col), "term", "tf",
                      "doc_freq", "tfidf")


def build_vocab(df: DataFrame, text_col: str = "text",
                min_count: int = 2) -> DataFrame:
    """Corpus vocabulary with dense token ids: (token, n_token, token_id).

    Tokenize → explode → count per token → frequency cutoff → dense id
    by (count desc, token asc). The distributed part (token counting over
    the full corpus) is one shuffle on the token; the ranking window runs
    over the POST-CUTOFF vocabulary, which Heaps' law keeps tiny relative
    to the corpus (~1M tokens for 100 TB of text), so the single-task
    window is bounded the same way corpus.pack_budget's is. For an
    unbounded id space use operators/ids.py's sketch-bucketed dense
    assignment instead.
    """
    from pyspark.sql import Window

    tok = (ensure_fanout_parallelism(df.select(text_col))
           .select(F.explode(tokens_of(F.col(text_col))).alias("token"))
           .filter(F.col("token") != ""))
    vocab = (tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_token"))
             .filter(F.col("n_token") >= min_count))
    w = Window.orderBy(F.desc("n_token"), F.asc("token"))
    return vocab.withColumn("token_id", F.row_number().over(w))


def bigram_pmi(df: DataFrame, text_col: str = "text",
               min_count: int = 5) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs.

    PMI(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with p(x,y) over bigram
    occurrences and p(x) over unigram occurrences — the classic
    collocation score (Church & Hanks '90). The final score is a single
    double expression over integer counts, so it is deterministic
    cross-engine up to the ln ulp, handled by rounding.

    Scale shape — ONE corpus scan, ONE shuffle: each token explodes to
    a (w1, next-or-NULL) pair once, and GROUPING SETS (w1) / (w1, w2)
    computes unigram and bigram counts from the same exchange (the
    naive two-groupBy form re-scanned and re-tokenized the corpus once
    per consumer — four times including the totals). The grouped result
    is vocab-sized and feeds five consumers (bigram slice, two marginal
    joins, two totals), so it persists before the fan-out — the same
    persist-before-fanout rule as MinHash-LSH's signature frame.
    """
    toks = (ensure_fanout_parallelism(df.select(text_col))
            .select(tokens_of(F.col(text_col)).alias("__t"))
            .filter(F.size("__t") >= 2))
    # w2 is NULL for the last token and for empty next-tokens: the
    # occurrence still counts as a unigram but never forms a bigram
    pairs = (toks.select(F.explode(F.expr(
                 "transform(sequence(0, size(__t)-1), i -> struct("
                 "__t[i] AS w1, "
                 "CASE WHEN i < size(__t)-1 AND __t[i+1] <> '' "
                 "THEN __t[i+1] END AS w2))")).alias("p"))
             .select("p.w1", "p.w2")
             .filter(F.col("w1") != ""))
    g = (pairs.groupingSets([["w1"], ["w1", "w2"]], "w1", "w2")
         .agg(F.count(F.lit(1)).alias("c"),
              F.grouping("w2").alias("__is_uni"))
         .persist())
    uni = (g.filter(F.col("__is_uni") == 1)
           .select(F.col("w1").alias("w"), F.col("c").alias("c_w")))
    big_all = (g.filter((F.col("__is_uni") == 0) & F.col("w2").isNotNull())
               .select("w1", "w2", F.col("c").alias("c_xy")))
    n_uni = uni.agg(F.sum("c_w").alias("n_uni"))
    # marginals over ALL bigram occurrences; the min_count cut only
    # selects which pairs are REPORTED, it must not bias p(x,y)
    n_big = big_all.agg(F.sum("c_xy").alias("n_big"))
    big = big_all.filter(F.col("c_xy") >= min_count)
    return (big
            .join(F.broadcast(uni.withColumnRenamed("w", "w1")
                              .withColumnRenamed("c_w", "c_x")), "w1")
            .join(F.broadcast(uni.withColumnRenamed("w", "w2")
                              .withColumnRenamed("c_w", "c_y")), "w2")
            .crossJoin(F.broadcast(n_uni))
            .crossJoin(F.broadcast(n_big))
            .select("w1", "w2", "c_xy",
                    # + 0.0 folds IEEE -0.0 (a just-below-zero PMI
                    # rounded to 4 places) into +0.0 — the engines
                    # stringify signed zero differently
                    (F.round(F.log(
                        (F.col("c_xy") / F.col("n_big"))
                        / ((F.col("c_x") / F.col("n_uni"))
                           * (F.col("c_y") / F.col("n_uni")))), 4)
                     + F.lit(0.0)).alias("pmi")))


def with_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All text-tier features in one projection (single codegen stage)."""
    t = F.col(text_col)
    cols = text_stats(t)
    return df.select(
        "*",
        *[c.alias(name) for name, c in cols.items()],
        token_count(t).alias("n_tokens"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
        quality_score(t).alias("quality"),
    )


def repetition_signals(text: Column) -> dict[str, Column]:
    """Gopher-style repetition/boilerplate signals (Rae et al. '21 §A1.1),
    re-expressed as pure column arithmetic over the token array.

    - ``dup_word_frac``: fraction of word occurrences that are repeats
      of an earlier word (1 - distinct/total) — catches keyword-stuffed
      and template text;
    - ``top_bigram_frac``: occurrences of the single most frequent
      2-gram / total 2-grams — catches looping generation;
    - ``dup_bigram_frac``: fraction of 2-gram occurrences whose 2-gram
      appears more than once — the duplicate-n-gram family.

    Cost shape: the bigram counts come from ONE pass over the SORTED
    bigram array — equal bigrams are adjacent after ``array_sort``, so
    the most-frequent count is the longest run and duplicate
    occurrences are the run lengths > 1 summed, identical integers to
    per-distinct counting at O(n log n) per row instead of
    O(distinct × n). The token and bigram arrays are LET-BOUND as
    lambda variables (the with_word_shingles CollapseProject rule):
    the original inline form re-evaluated the regex split per
    element_at reference and the bigram array per filter probe —
    measured 1,946 s for the 5,000-doc sf0.1 table on one task; the
    let-bound linear form runs the same table in under a second.
    Empty/one-token docs yield 0.0 for the bigram signals.
    """
    def over_sorted_bigrams(toks, sbg):
        # Linear run-length fold over the sorted bigram array. A
        # bigram is never '' (concat_ws keeps the separator), so the
        # '' seed can't extend a run; run=0 keeps the first step
        # correct regardless.
        def merge(acc, x):
            run = F.when(x == acc["prev"],
                         acc["run"] + 1).otherwise(F.lit(1))
            dup = acc["dup"] + F.when(
                (x != acc["prev"]) & (acc["run"] > 1),
                acc["run"]).otherwise(F.lit(0))
            return F.struct(x.alias("prev"), run.alias("run"),
                            F.greatest(acc["maxrun"], run).alias("maxrun"),
                            dup.alias("dup"))

        def fin(acc):
            return F.struct(
                acc["maxrun"].alias("maxrun"),
                (acc["dup"] + F.when(acc["run"] > 1, acc["run"])
                 .otherwise(F.lit(0))).alias("dup"))

        st = F.aggregate(
            sbg,
            F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                     F.lit(0).alias("maxrun"), F.lit(0).alias("dup")),
            merge, fin)
        n_words = F.size(toks)
        n_bi = F.size(sbg)
        dup_word = F.when(n_words > 0,
                          1.0 - F.size(F.array_distinct(toks))
                          .cast("double") / n_words).otherwise(F.lit(0.0))
        top_bigram = F.when(n_bi > 0, st["maxrun"].cast("double") / n_bi
                            ).otherwise(F.lit(0.0))
        dup_bigram = F.when(n_bi > 0, st["dup"].cast("double") / n_bi
                            ).otherwise(F.lit(0.0))
        return F.struct(F.round(dup_word, 6).alias("dup_word_frac"),
                        F.round(top_bigram, 6).alias("top_bigram_frac"),
                        F.round(dup_bigram, 6).alias("dup_bigram_frac"))

    def over_toks(toks):
        # bigram i pairs toks[i] with toks[i+1] (1-based), i.e. the
        # prefix slice zipped with the shifted slice — constant number
        # of evaluations of `toks`, unlike per-element element_at.
        # greatest(.., 0) keeps slice lengths legal on 0/1-token docs
        # (when() does not short-circuit).
        npairs = F.greatest(F.size(toks) - 1, F.lit(0))
        bigrams = F.zip_with(F.slice(toks, 1, npairs),
                             F.slice(toks, 2, npairs),
                             lambda a, b: F.concat_ws(" ", a, b))
        return F.element_at(
            F.transform(F.array(F.array_sort(bigrams)),
                        lambda sbg: over_sorted_bigrams(toks, sbg)), 1)

    sig = F.element_at(
        F.transform(F.array(tokens_of(text)), over_toks), 1)
    return {"dup_word_frac": sig["dup_word_frac"],
            "top_bigram_frac": sig["top_bigram_frac"],
            "dup_bigram_frac": sig["dup_bigram_frac"]}


def gopher_rules(text: Column,
                 min_words: int = 20, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 min_stop_types: int = 2,
                 max_dup_word_frac: float = 0.6,
                 max_top_bigram_frac: float = 0.2) -> dict[str, Column]:
    """Gopher-style document quality RULES (Rae et al. '21, Table A1),
    each as an individual boolean flag plus the conjunctive ``keep``.

    Unlike :func:`quality_score` (a blended scalar for ranking), this is
    the hard-gate form production corpus filters use: every rule is
    reported separately so a curation run can account for WHY documents
    were dropped (per-rule drop counts are a one-line rollup downstream).
    Rules: word count in [min,max]; mean word length in [min,max];
    >= ``min_stop_types`` distinct required stopwords present; duplicate
    -word fraction and top-bigram fraction under their caps (signals from
    :func:`repetition_signals`). All pure column arithmetic — one
    projection, no shuffle, no UDF.
    """
    toks = tokens_of(text)
    n_words = F.size(toks).cast("long")
    n_chars = F.length(text)
    mean_wl = F.round((n_chars - n_words + 1).cast("double") / n_words, 4)
    stop_types = sum(
        (F.array_contains(toks, F.lit(w)).cast("int")
         for w in STOPWORDS_EN), F.lit(0)).cast("long")
    rep = repetition_signals(text)
    r_words = (n_words >= min_words) & (n_words <= max_words)
    r_wl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    r_stop = stop_types >= min_stop_types
    r_dup = rep["dup_word_frac"] <= max_dup_word_frac
    r_bigram = rep["top_bigram_frac"] <= max_top_bigram_frac
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "stop_types": stop_types,
        "dup_word_frac": rep["dup_word_frac"],
        "top_bigram_frac": rep["top_bigram_frac"],
        "r_word_count": r_words,
        "r_mean_word_len": r_wl,
        "r_stopwords": r_stop,
        "r_dup_word": r_dup,
        "r_top_bigram": r_bigram,
        "keep": r_words & r_wl & r_stop & r_dup & r_bigram,
    }


#: (pattern, replacement) pairs for PII redaction. Patterns restricted
#: to syntax that Java regex (Spark) and RE2 (DuckDB, ripgrep) parse
#: identically, so oracles can re-run the exact redaction.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(text: Column,
               patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
               ) -> Column:
    """Replace emails / phone numbers / IPv4 literals with typed tags.

    The standard pre-training scrub pass, as chained ``regexp_replace``
    column expressions — fully inside codegen, no Python. Order
    matters: email first (it contains dot-separated digit runs an IP
    pattern could nibble). Swap/extend ``patterns`` for
    jurisdiction-specific scrubs.
    """
    out = text
    for pat, repl in patterns:
        out = F.regexp_replace(out, pat, repl)
    return out


def vocab_logrank_score(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        min_count: int = 2) -> DataFrame:
    """Rank-based perplexity proxy: per document, the mean log2 of each
    token's corpus-frequency rank (OOV tokens rank one past the
    vocabulary end). Common-word documents score low, rare/garbled
    documents score high — the cheap stand-in for LM-perplexity quality
    filtering when no model is in the loop, built entirely from corpus
    statistics (build_vocab) so it is exactly oracle-checkable.

    Determinism: each token contributes floor(log2(rank)·10^6) as an
    INTEGER, so the per-doc sum is exact regardless of fold order (the
    centroid integer-grid rule); one double division at the end. log2
    of an integer rank sits on an exact value only at powers of two —
    where every engine agrees — and irrationally far from the floor
    boundary elsewhere. Scale shape: vocab is an aggregate (persisted —
    it feeds the join and the OOV rank), broadcast into the token join;
    one shuffle on the doc id for the rollup.
    """
    vocab = build_vocab(df, text_col, min_count).persist()
    oov = vocab.agg((F.max("token_id") + 1).alias("__oov"))
    toks = (ensure_fanout_parallelism(df.select(id_col, text_col))
            .select(id_col, F.explode(tokens_of(F.col(text_col)))
                    .alias("token"))
            .filter(F.col("token") != ""))
    ranked = (toks
              .join(F.broadcast(vocab.select("token", "token_id")),
                    "token", "left")
              .crossJoin(F.broadcast(oov))
              .withColumn("__r", F.coalesce("token_id", F.col("__oov")))
              .withColumn("__t", F.floor(F.log2("__r") * 1_000_000)
                          .cast("long")))
    return (ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("token_id").isNull(), 1).otherwise(0))
         .alias("n_oov"),
        F.round(F.sum("__t") / (F.lit(1_000_000.0) * F.count(F.lit(1))), 4)
         .alias("mean_log2_rank")))


def bigram_logprob_score(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Add-one-smoothed bigram language-model score per document: the
    mean of ln P(w2|w1) over the doc's adjacent token pairs, with
    P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V) estimated from the corpus
    itself — the KenLM-style perplexity proxy one step up from
    vocab_logrank_score (it conditions on context, so scrambled word
    salad scores low even when every word is common).

    Conventions (mirrored verbatim in the oracle): c(w1·) counts
    bigrams STARTING with w1 (the standard LM history count), V is the
    number of distinct continuation tokens, docs under 2 tokens emit no
    row. Each pair contributes floor(ln(p)·10^6) as an INTEGER so the
    per-doc mean is fold-order exact.

    Scale shape: one explode produces the (doc, w1, w2) pairs; the
    bigram count table aggregates from those SAME pairs (no second
    scan) and persists before its three consumers (history counts, V,
    the scoring join). The scoring join keys on (w1, w2) — a plain
    shuffle join at 100 TB where the bigram table outgrows broadcast;
    its input is pair-occurrence-sized because every occurrence scores,
    which is the irreducible cost of per-token scoring. History counts
    and V are vocab-sized and broadcast.
    """
    toks = (ensure_fanout_parallelism(df.select(id_col, text_col))
            .select(id_col, tokens_of(F.col(text_col)).alias("__t"))
            .filter(F.size("__t") >= 2))
    pairs = (toks.select(id_col, F.explode(F.expr(
                 "transform(sequence(0, size(__t)-2), "
                 "i -> struct(__t[i] AS w1, __t[i+1] AS w2))")).alias("p"))
             .select(id_col, "p.w1", "p.w2")
             .filter((F.col("w1") != "") & (F.col("w2") != "")))
    big = (pairs.groupBy("w1", "w2")
           .agg(F.count(F.lit(1)).alias("c_xy")).persist())
    hist = big.groupBy("w1").agg(F.sum("c_xy").alias("c_x"))
    vsize = big.agg(F.countDistinct("w2").alias("__v"))
    term = F.floor(F.log((F.col("c_xy") + 1)
                         / (F.col("c_x") + F.col("__v"))) * 1_000_000) \
        .cast("long")
    return (pairs
            .join(big, ["w1", "w2"])
            .join(F.broadcast(hist), "w1")
            .crossJoin(F.broadcast(vsize))
            .withColumn("__term", term)
            .groupBy(id_col).agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.round(F.sum("__term")
                        / (F.lit(1_000_000.0) * F.count(F.lit(1))), 4)
                .alias("mean_logprob")))


def naive_bayes_classify(train: DataFrame, test: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         label_col: str = "lang") -> DataFrame:
    """Multinomial Naive Bayes text classification, trained and applied
    in ONE lazy plan — the classic supervised twin of the lang_id
    heuristic, engine-exact end to end.

    Training (add-one smoothing): log P(token|class) =
    ln((c_tc + 1)/(c_c + V)) from exact token counts; unseen test
    tokens take the class's OOV mass ln(1/(c_c + V)); log priors from
    document counts. Every log term quantizes to the
    floor(ln(p)·10^6) integer grid (the bigram_logprob_score rule), so
    per-document score sums are exact longs — fold-order-free — and
    the argmax can never sit on a float boundary. Prediction: best
    (score desc, class asc) per document via one bounded window.

    Scale shape: the class-conditional probability table is
    vocab × classes (broadcast); test tokens cross-join only the
    |classes|-row class-constant table before the probability lookup
    join, so the blow-up factor is the class count, bounded by
    definition of classification. Token occurrences score
    individually — the irreducible cost of multinomial NB.

    Output: (id, true label, pred_label, score_grid) per test doc.
    """
    def toks(d: DataFrame, *cols: str) -> DataFrame:
        return (d.select(*cols, F.explode(
                    tokens_of(F.col(text_col))).alias("__tok"))
                .filter(F.col("__tok") != ""))

    tr = toks(train, label_col)
    ctc = (tr.groupBy(label_col, "__tok")
           .agg(F.count(F.lit(1)).alias("__c")).persist())
    cc = ctc.groupBy(label_col).agg(F.sum("__c").alias("__tot"))
    v = ctc.agg(F.countDistinct("__tok").alias("__vs"))
    pri = train.groupBy(label_col).agg(F.count(F.lit(1)).alias("__nd"))
    nn = train.agg(F.count(F.lit(1)).alias("__n"))
    grid = lambda x: F.floor(x * 1_000_000).cast("long")  # noqa: E731
    cls = (cc.join(pri, label_col).crossJoin(F.broadcast(v))
           .crossJoin(F.broadcast(nn))
           .select(F.col(label_col).alias("__cand"),
                   F.col("__tot"), F.col("__vs"),
                   grid(F.log(F.lit(1.0)
                              / (F.col("__tot") + F.col("__vs"))))
                   .alias("__oov"),
                   grid(F.log(F.col("__nd").cast("double")
                              / F.col("__n").cast("double")))
                   .alias("__prior")))
    probs = (ctc.join(cc, label_col).crossJoin(F.broadcast(v))
             .select(F.col(label_col).alias("__cand"), F.col("__tok"),
                     grid(F.log((F.col("__c") + 1).cast("double")
                                / (F.col("__tot") + F.col("__vs"))
                                .cast("double"))).alias("__term")))
    te = toks(test, id_col, label_col)
    scored = (te.crossJoin(F.broadcast(cls.select("__cand", "__oov",
                                                  "__prior")))
              .join(F.broadcast(probs), ["__cand", "__tok"], "left")
              .groupBy(id_col, label_col, "__cand")
              .agg((F.max("__prior")
                    + F.sum(F.coalesce(F.col("__term"),
                                       F.col("__oov"))))
                   .alias("__score")))
    w = Window.partitionBy(id_col).orderBy(F.desc("__score"),
                                           F.asc("__cand"))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col(id_col), F.col(label_col),
                    F.col("__cand").alias("pred_label"),
                    F.col("__score").alias("score_grid")))


def bm25_scores(df: DataFrame, query_terms: list[str],
                k1: float = 1.2, b: float = 0.75,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Okapi BM25 scores for a fixed query over the corpus (Robertson &
    Zaragoza '09) — the lexical-retrieval baseline every hybrid search
    stack keeps next to its embedding index. Per document:
    score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·doclen/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).

    Determinism: each term's contribution is quantized to
    floor(contrib·10^6) and summed as an INTEGER (the vocab_logrank
    grid rule — ln() is not required to be correctly rounded, so the
    raw-double sum could drift by fold order AND by libm), with one
    double division at the end. Output: (id, score, n_terms_matched),
    matched docs only.

    Scale shape: tokens explode once; df/tf are hash aggregates over
    the query-filtered token stream (the isin() filter prunes the
    fan-out to |query| terms before any shuffle); N/avgdl and the
    per-term df table are 1-row / |query|-row broadcasts back. One
    doc-keyed shuffle for the final rollup — corpus text never crosses
    a shuffle.
    """
    if not query_terms:
        raise ValueError("bm25_scores needs at least one query term")
    toks = (ensure_fanout_parallelism(df.select(id_col, text_col))
            .select(id_col, F.explode(tokens_of(F.col(text_col)))
                    .alias("token"))
            .filter(F.col("token") != ""))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__doclen"))
    glob = dl.agg(
        F.count(F.lit(1)).cast("double").alias("__n_docs"),
        (F.sum("__doclen").cast("double")
         / F.count(F.lit(1)).cast("double")).alias("__avgdl"))
    hits = toks.filter(F.col("token").isin(list(query_terms)))
    dfreq = (hits.groupBy("token")
             .agg(F.count_distinct(F.col(id_col)).cast("double")
                  .alias("__df")))
    tf = (hits.groupBy(id_col, "token")
          .agg(F.count(F.lit(1)).cast("double").alias("__tf")))
    idf = F.log((F.col("__n_docs") - F.col("__df") + F.lit(0.5))
                / (F.col("__df") + F.lit(0.5)) + F.lit(1.0))
    denom = (F.col("__tf")
             + F.lit(k1) * (F.lit(1.0 - b)
                            + F.lit(b) * (F.col("__doclen").cast("double")
                                          / F.col("__avgdl"))))
    contrib = ((idf * (F.col("__tf") * F.lit(k1 + 1.0)) / denom)
               * F.lit(1_000_000.0))
    return (tf.join(dl, id_col)
            .join(F.broadcast(dfreq), "token")
            .crossJoin(F.broadcast(glob))
            .withColumn("__c", F.floor(contrib).cast("long"))
            .groupBy(id_col)
            .agg(F.sum("__c").alias("score_micro"),
                 F.count(F.lit(1)).alias("n_terms_matched"))
            .withColumn("bm25",
                        F.col("score_micro").cast("double") / 1_000_000.0))


def inverted_index(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   block_size: int = 128) -> DataFrame:
    """Block-partitioned positional inverted index — token →
    fixed-size posting blocks of (doc, position) pairs, the on-disk
    layout of every lexical search engine (Lucene's postings blocks).

    A naive ``collect_list`` per token materializes one corpus-sized
    array for every stopword; blocking caps each output row at
    ``block_size`` postings: rank postings within the token (per-token
    windows, parallel across tokens), block = rank DIV block_size, and
    collect per (token, block) — every aggregate group is bounded by
    construction, which is exactly why real indexes block their
    postings. Output rows: (token, block, n_postings, postings) with
    postings rendered ``doc:pos`` space-joined in (doc, pos) order
    (string at the boundary — array outputs don't canonicalize).
    """
    toks = (ensure_fanout_parallelism(df.select(id_col, text_col))
            .select(id_col,
                    F.posexplode(F.filter(tokens_of(F.col(text_col)),
                                          lambda t: t != ""))
                    .alias("pos", "token")))
    w = Window.partitionBy("token").orderBy(id_col, "pos")
    blocked = toks.withColumn("__rn", F.row_number().over(w)).withColumn(
        # integer DIV, not double /: exact at any posting count
        "block", F.expr(f"CAST((__rn - 1) DIV {int(block_size)} AS INT)")
        ).drop("__rn")
    return (blocked.groupBy("token", "block")
            .agg(F.count(F.lit(1)).alias("n_postings"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct(F.col(id_col), F.col("pos")))),
                         lambda s: F.concat_ws(":", s[id_col], s["pos"])),
                     " ").alias("postings")))


def bigram_lm_score(docs: DataFrame, ref: DataFrame,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document fluency score under an add-one-smoothed bigram
    language model trained on a reference corpus — the KenLM-style
    perplexity filter every web-scale curation pipeline runs (CCNet/
    RefinedWeb keep documents whose LM score is near the reference
    distribution; gibberish and boilerplate land in the tails):

        score(doc) = (1/|bigrams|) · Σ ln P(w2 | w1),
        P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)

    with counts from ``ref`` and V its unigram vocabulary size (OOV
    history tokens get c(w1) = 0, so unseen contexts fall back to the
    uniform 1/V floor — the standard add-one backstop).

    Engine-exactness: every per-bigram contribution passes through an
    engine-side ln, so it is quantized to the integer 10^-6 grid
    (floor(1e6·ln p) — the bm25 rule) and the document total is an
    exact long sum; the mean is ONE double division (round 6).

    Scale shape: the count tables are VOCABULARY-bounded (Heaps-law
    sublinear — the BPE/vocab_build argument), so the two enrichment
    joins broadcast at any corpus size; the doc-bigram explode guards
    itself with ensure_fanout_parallelism (a single-partition document
    scan would serialize the whole explode+join on one core — the
    span_duplication lesson). One hash agg per count table, one per
    document. The regex tokenization lands in its OWN projection so it
    runs once per row — inlining it under size()/sequence()/transform()
    leaves re-evaluation to common-subexpression elimination, which
    does not reach inside higher-order-function lambdas (measured ~20%
    of the plan at sf0.1).
    """
    def with_toks(d: DataFrame) -> DataFrame:
        return (ensure_fanout_parallelism(d.select(id_col, text_col))
                .select(id_col,
                        F.filter(tokens_of(F.col(text_col)),
                                 lambda w: w != "").alias("__toks")))

    def bigrams(t: DataFrame) -> DataFrame:
        toks = F.col("__toks")
        idx = F.when(F.size(toks) >= 2,
                     F.sequence(F.lit(1), F.size(toks) - 1)) \
               .otherwise(F.array().cast("array<int>"))
        pairs = F.transform(idx, lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2")))
        return t.select(F.col(id_col), F.explode(pairs).alias("p")) \
                .select(id_col, "p.w1", "p.w2")

    doc_t, ref_t = with_toks(docs), with_toks(ref)
    ref_bi = (bigrams(ref_t).groupBy("w1", "w2")
              .agg(F.count(F.lit(1)).alias("c12")))
    ref_uni = (ref_t.select(F.explode("__toks").alias("w1"))
               .groupBy("w1").agg(F.count(F.lit(1)).alias("c1")))
    vocab = ref_uni.agg(F.count(F.lit(1)).cast("long").alias("__v"))
    scored = (bigrams(doc_t)
              .join(F.broadcast(ref_bi), ["w1", "w2"], "left")
              .join(F.broadcast(ref_uni), ["w1"], "left")
              .crossJoin(F.broadcast(vocab))
              .withColumn("__q", F.floor(F.lit(1e6) * F.log(
                  (F.coalesce(F.col("c12"), F.lit(0)).cast("double")
                   + F.lit(1.0))
                  / (F.coalesce(F.col("c1"), F.lit(0)).cast("double")
                     + F.col("__v").cast("double")))).cast("long")))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum("__q").cast("long").alias("logprob_q6"))
            .select(id_col, "n_bigrams", "logprob_q6",
                    F.round(F.col("logprob_q6").cast("double")
                            / F.lit(1e6)
                            / F.col("n_bigrams").cast("double"), 6)
                    .alias("avg_logprob"))
            .orderBy(id_col))


def keywords_topk(docs: DataFrame, k: int = 5, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF — the keyword
    extraction every search-indexing / document-tagging pipeline runs
    (and the human-readable face of :func:`tfidf`'s vectors).

    Score = tf · floor(1e6·ln(N/df)) — term frequency is an exact
    long, the IDF passes through an engine-side ln so it lands on the
    integer 10⁻⁶ grid BEFORE the multiplication (the bm25 rule), and
    the product stays exact in DECIMAL(38,0). Ranking is a per-doc
    window bounded by the document's own vocabulary; ties break on the
    term string, so the extracted keywords are deterministic
    cross-engine.

    Scale: one explode + one (doc, term) hash agg; the df table is
    vocabulary-bounded (Heaps) and broadcast back; fan-out guarded.
    """
    dec = "decimal(38,0)"
    d = ensure_fanout_parallelism(docs)
    terms = (d.select(F.col(id_col),
                      F.explode(F.filter(tokens_of(F.col(text_col)),
                                         lambda w: w != ""))
                      .alias("term"))
             .groupBy(id_col, "term")
             .agg(F.count(F.lit(1)).alias("tf")))
    df_tab = (terms.groupBy("term")
              .agg(F.count(F.lit(1)).alias("df")))
    n_docs = d.select(id_col).distinct() \
              .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    idf_q6 = F.floor(F.lit(1e6) * F.log(
        F.col("__n").cast("double") / F.col("df").cast("double"))) \
        .cast("long")
    scored = (terms.join(F.broadcast(df_tab), "term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("score_q6",
                          (F.col("tf").cast(dec)
                           * idf_q6.cast(dec)).cast("long")))
    w = Window.partitionBy(id_col).orderBy(F.desc("score_q6"),
                                           F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "term", "tf", "df", "score_q6",
                    F.col("rank").cast("int").alias("rank")))


def unigram_kl_by_group(docs: DataFrame, group_col: str,
                        text_col: str = "text",
                        quantum: float = 1e6) -> DataFrame:
    """Per-group unigram-distribution KL divergence from the corpus
    distribution, KL(P_g ‖ P_corpus) — the domain-drift scan a
    mixture planner runs before reweighting sources (a source whose
    token distribution diverges hard from the blend is over- or
    under-represented; CCNet/DoReMi-style pipelines gate on exactly
    this).

    Determinism: each (group, token) KL contribution
    p·ln(p/q) (p = c_gt/N_g, q = c_t/N) passes through an engine-side
    ln, so it is QUANTIZED to an integer grid — floor(contrib·1e6) —
    BEFORE the per-group sum (the vocab_logrank/bm25 rule: never hash
    a raw double that crossed a log; integer sums are
    order-insensitive). Emitted: n_tokens, the exact quantized sum
    ``kl_q`` and kl = kl_q/1e6 (one division).

    Plan: one explode + ONE hash aggregate to (group, token) counts;
    token marginals roll up from THAT bounded table (vocabulary-
    sized, Heaps-bounded), joined back token-keyed; per-group rollup.
    Two shuffles over vocabulary-grain tables — the data-sized scan
    happens once.
    """
    toks = (docs.select(F.col(group_col).alias("__grp"),
                        F.explode(
                            F.filter(F.split(F.lower(F.col(text_col)),
                                             r"\s+"),
                                     lambda w: w != "")).alias("__t")))
    gt = (toks.groupBy("__grp", "__t")
          .agg(F.count(F.lit(1)).alias("__cgt")))
    gtot = gt.groupBy("__grp").agg(F.sum("__cgt").alias("__ng"))
    tmarg = gt.groupBy("__t").agg(F.sum("__cgt").alias("__ct"))
    ttot = tmarg.agg(F.sum("__ct").alias("__n"))
    p = F.col("__cgt").cast("double") / F.col("__ng").cast("double")
    q = F.col("__ct").cast("double") / F.col("__n").cast("double")
    contrib_q = F.floor(p * F.log(p / q) * F.lit(quantum)).cast("long")
    per_tok = (gt.join(gtot, "__grp")
               .join(tmarg, "__t")
               .crossJoin(F.broadcast(ttot))
               .select("__grp", contrib_q.alias("__q"), "__cgt"))
    return (per_tok.groupBy("__grp")
            .agg(F.sum("__cgt").alias("n_tokens"),
                 F.sum("__q").alias("kl_q"))
            .select(F.col("__grp").alias("category"),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("kl_q").cast("long").alias("kl_q"),
                    (F.col("kl_q").cast("double") / F.lit(quantum))
                    .alias("kl"))
            .orderBy("category"))


#: ln 2 as a LITERAL double — never computed engine-side (the
#: ln-portability rule); the repr round-trips exactly on both engines.
LN2 = 0.6931471805599453


def js_divergence_by_group(docs: DataFrame, group_col: str,
                           text_col: str = "text",
                           quantum: float = 1e6) -> DataFrame:
    """Per-group Jensen-Shannon divergence between the group's unigram
    distribution and the REST-of-corpus distribution — the symmetric,
    bounded (≤ ln 2) companion of :func:`unigram_kl_by_group` (KL is
    one-directional and unbounded; JS is what corpus-drift dashboards
    threshold on). Requires ≥ 2 groups by contract (the rest-side
    total must be nonzero).

    JSD(P‖Q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m),  m = (p+q)/2, with
    q the rest-of-corpus distribution (ct−cgt)/(N−Ng). Each
    (group, token) contribution crosses an engine-side ln, so it is
    floor-quantized to the 1e-6 integer grid BEFORE the per-group sum
    (the vocab_logrank rule). Tokens the group has never seen
    contribute ½·q·ln 2 each; their total mass is the CLOSED FORM
    ½·ln2·(1 − Σ_{t∈support(g)} q_t) from the support table alone —
    quantized once as a single term, with ln 2 a literal double (never
    engine-computed). So the vocabulary×groups fan-out never
    materializes.

    Plan: identical to unigram_kl_by_group — one explode + ONE hash
    aggregate to (group, token), vocabulary-grain marginal joins, one
    per-group rollup. Two shuffles over Heaps-bounded tables.
    """
    toks = (docs.select(F.col(group_col).alias("__grp"),
                        F.explode(
                            F.filter(F.split(F.lower(F.col(text_col)),
                                             r"\s+"),
                                     lambda w: w != "")).alias("__t")))
    gt = (toks.groupBy("__grp", "__t")
          .agg(F.count(F.lit(1)).alias("__cgt")))
    gtot = gt.groupBy("__grp").agg(F.sum("__cgt").alias("__ng"))
    tmarg = gt.groupBy("__t").agg(F.sum("__cgt").alias("__ct"))
    ttot = tmarg.agg(F.sum("__ct").alias("__n"))
    crt = F.col("__ct") - F.col("__cgt")
    nr = F.col("__n") - F.col("__ng")
    p = F.col("__cgt").cast("double") / F.col("__ng").cast("double")
    q = crt.cast("double") / nr.cast("double")
    m = (p + q) / F.lit(2.0)
    term = (F.lit(0.5) * p * F.log(p / m)
            + F.when(crt > 0, F.lit(0.5) * q * F.log(q / m))
            .otherwise(F.lit(0.0)))
    per_tok = (gt.join(gtot, "__grp")
               .join(tmarg, "__t")
               .crossJoin(F.broadcast(ttot))
               .select("__grp", "__cgt", "__ng", "__n",
                       F.floor(term * F.lit(quantum)).cast("long")
                       .alias("__q"), crt.alias("__crt")))
    g = (per_tok.groupBy("__grp")
         .agg(F.sum("__cgt").alias("n_tokens"),
              F.sum("__q").alias("__present_q"),
              F.sum("__crt").alias("__scrt"),
              F.max("__ng").alias("__ng"),
              F.max("__n").alias("__n")))
    nr_g = (F.col("__n") - F.col("__ng")).cast("double")
    missing_q = F.floor(
        F.lit(0.5 * LN2)
        * (nr_g - F.col("__scrt").cast("double")) / nr_g
        * F.lit(quantum)).cast("long")
    return (g.select(F.col("__grp").alias("category"),
                     F.col("n_tokens").cast("long").alias("n_tokens"),
                     (F.col("__present_q") + missing_q).cast("long")
                     .alias("js_q"),
                     ((F.col("__present_q") + missing_q).cast("double")
                      / F.lit(quantum)).alias("js"))
            .orderBy("category"))


def yule_k_by_group(df: DataFrame, group_col: str,
                    text_col: str = "text") -> DataFrame:
    """Yule's characteristic K per corpus slice (Yule '44) — the
    classic vocabulary-richness / repetitiveness statistic that LLM
    corpus audits use next to type-token ratio (TTR decays with
    length; K is length-stable):

        K = 10⁴ · (Σ_t f_t² − N) / N²

    over the slice's token frequency spectrum (f_t = corpus frequency
    of type t, N = token count). Σ f_t² IS Σ_m m²·V_m of the usual
    formulation — no spectrum pivot needed, and everything left of
    the final division is an exact DECIMAL(38,0) integer; K is ONE
    double chain. High K = repetitive/templated text, low K = rich
    vocabulary.

    Emitted per slice: (category, n_tokens, n_types, sum_f2, yule_k),
    total ORDER BY category. Plan: the one data-sized explode feeds a
    (slice, token) hash aggregate (map-side combinable), then a
    slice-grain rollup — the unigram_kl shuffle family; no window,
    no collect.
    """
    dec = "decimal(38,0)"
    toks = (ensure_fanout_parallelism(df.select(group_col, text_col))
            .select(F.col(group_col).alias("__g"),
                    F.explode(tokens_of(F.col(text_col))).alias("__tok"))
            .filter(F.col("__tok") != ""))
    tf = (toks.groupBy("__g", "__tok")
          .agg(F.count(F.lit(1)).alias("__f")))
    f = F.col("__f").cast(dec)
    g = (tf.groupBy("__g")
         .agg(F.sum("__f").cast(dec).alias("__N"),
              F.count(F.lit(1)).alias("__V"),
              F.sum(f * f).cast(dec).alias("__s2")))
    N = F.col("__N")
    yule = F.when(
        N > 0,
        F.lit(10000.0) * (F.col("__s2") - N).cast("double")
        / (N * N).cast("double"))
    return (g.select(F.col("__g").alias("category"),
                     N.cast("long").alias("n_tokens"),
                     F.col("__V").cast("long").alias("n_types"),
                     F.col("__s2").cast("long").alias("sum_f2"),
                     yule.alias("yule_k"))
            .orderBy("category"))


def zipf_log_rank_grid(top_r: int, scale: int = 10**6) -> list[int]:
    """floor(ln(r)·scale) for r = 1..top_r, computed ONCE in Python —
    the literal-weight-table rule (the NDCG / RBO pattern): rank is a
    small bounded domain, so its log never runs engine-side and both
    the Spark plan and the DuckDB oracle consume the identical
    integer literals."""
    import math
    return [int(math.floor(math.log(r) * scale)) for r in
            range(1, top_r + 1)]


def zipf_slope(df: DataFrame, group_col: str, text_col: str = "text",
               top_r: int = 100, scale: int = 10**6) -> DataFrame:
    """Zipf's-law slope per corpus slice: OLS slope of ln(frequency)
    on ln(rank) over the slice's top ``top_r`` token types — natural
    text sits near −1 (Zipf '49); templated or deduplicated-to-death
    corpora drift flat. The regression ON the rank-frequency curve
    that text_vocab_logrank only scores documents against.

    Determinism: x = floor(ln(rank)·10⁶) comes from a PYTHON literal
    table (:func:`zipf_log_rank_grid` — rank ≤ top_r is a bounded
    domain); y = floor(ln(f)·10⁶) quantizes the engine-side log to
    the integer grid BEFORE any moment sum (the vocab_logrank rule).
    The four OLS moments over ≤ top_r rows then accumulate in
    DECIMAL(38,0) and the slope is ONE double chain:

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    Ranking is (frequency DESC, token) — a total order. The rank
    window partitions by slice over the Heaps-bounded type table
    (the build_vocab precedent), never over data-sized rows.

    Emitted per slice: (category, n_ranks, slope); slices with n < 2
    distinct ranks (degenerate D = 0) emit NULL slope.
    """
    dec = "decimal(38,0)"
    grid = zipf_log_rank_grid(top_r, scale)
    xarr = F.array(*[F.lit(v) for v in grid])
    toks = (ensure_fanout_parallelism(df.select(group_col, text_col))
            .select(F.col(group_col).alias("__g"),
                    F.explode(tokens_of(F.col(text_col))).alias("__tok"))
            .filter(F.col("__tok") != ""))
    tf = (toks.groupBy("__g", "__tok")
          .agg(F.count(F.lit(1)).alias("__f")))
    wrank = Window.partitionBy("__g").orderBy(
        F.col("__f").desc(), F.col("__tok"))  # Heaps-bounded type table
    ranked = (tf.withColumn("__r", F.row_number().over(wrank))
              .filter(F.col("__r") <= int(top_r))
              .withColumn("__x", F.element_at(xarr, F.col("__r")))
              .withColumn(
                  "__y",
                  F.floor(F.log(F.col("__f").cast("double"))
                          * F.lit(float(scale))).cast("long")))
    x, y = F.col("__x").cast(dec), F.col("__y").cast(dec)
    m = (ranked.groupBy("__g")
         .agg(F.count(F.lit(1)).cast(dec).alias("__n"),
              F.sum(x).cast(dec).alias("__sx"),
              F.sum(x * x).cast(dec).alias("__sx2"),
              F.sum(y).cast(dec).alias("__sy"),
              F.sum(x * y).cast(dec).alias("__sxy")))
    n = F.col("__n")
    dnum = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(dec)
    dden = (n * F.col("__sx2")
            - F.col("__sx") * F.col("__sx")).cast(dec)
    slope = F.when(dden > 0, dnum.cast("double") / dden.cast("double"))
    return (m.select(F.col("__g").alias("category"),
                     n.cast("long").alias("n_ranks"),
                     slope.alias("slope"))
            .orderBy("category"))
