"""Plan construction must not run Spark jobs.

The engine's contract (enforced socially since r4, mechanically here):
building a probe's DataFrame is DECLARATION — no action may fire until the
caller executes the plan. r5's verdict found `tf_idf` violating it with an
eager `.count()` (operators/text.py) while `cosine_neardup_lsh` one file
over refuses to infer `dim` for exactly this reason. This test makes the
whole registry job-free at construction time, so the class of bug cannot
return silently.

Intentionally-eager probe families are exempt BY TAG, with the reason:
- streaming: fn() replays the file stream to completion (availableNow)
  into a memory sink — execution IS the probe.
- etl: fn() performs ingest/sink/merge side effects then reads results
  back — the side effect is the behavior under test.
- source: fn() synthesizes on-disk fixtures (JSON/CSV/ORC writes, REST
  servers) before scanning them.
"""

from __future__ import annotations

import pytest

from data_and_analytics_etl_spark.queries import REGISTRY

EXEMPT_TAGS = {"streaming", "etl", "source"}

#: Inherently-eager by algorithm, not by accident — each builds an index
#: or iterates to a fixpoint, which requires driver-side control flow:
EXEMPT_PROBES = {
    "ann_lsh",          # ml BucketedRandomProjectionLSH.fit probes input dim
    "ann_ivf",          # KMeans training jobs build the IVF index
    "dedup_clusters",   # connected-components fixpoint loop (convergence
                        # probe per round is the algorithm, dedup.py)
    "graph_pagerank",   # fixed-iteration power method: per-round
                        # localCheckpoint (lineage truncation) is eager
                        # by design (operators/graph.py)
    "linkage_entity_resolution",  # composes dedup_clusters' CC loop
    "ann_pq",             # PQ index build: m k-means fits + dim probe
    "ann_ivfpq",          # coarse + fine k-means index builds
    "sample_diverse_selection",  # k-means quantizer index build
    "bpe_learn_merges",   # BPE merge learning: per-merge argmax loop is
    "bpe_token_stats",    # the algorithm (operators/bpe.py); encode
                          # itself is lazy but consumes the learned table
    "graph_k_core",       # degree-peel fixpoint loop: per-round edge
                          # count is the convergence probe (graph.py)
    "graph_hyperball_nf",  # per-round eager localCheckpoint: the
                          # register state is referenced 3x per round
                          # (identity + propagation + estimate), so a
                          # lazy persist leaves a 2^max_radius-copy
                          # logical tree that OOMs the ANALYZER at 8
                          # rounds (graph.py:hyperball_neighborhood)
    "privacy_mondrian_anonymize",  # median-split fixpoint loop: the
                          # per-round any-split probe is the algorithm
                          # (profile.py:mondrian_anonymize)
    "dedup_survivorship",  # composes dedup_clusters' CC fixpoint loop
    "graph_pagerank_iter",  # integer-grid power method: the one
                          # bounded n = base.count() sizes the exact
                          # teleport term, and each round's eager
                          # localCheckpoint observes the dangling sum
                          # (operators/graph.py:pagerank_integer —
                          # graph_pagerank's twin)
    "graph_hits_iter",    # integer-grid HITS: each half-step's eager
                          # localCheckpoint observes the raw total the
                          # next half-step normalizes by
                          # (operators/graph.py:hits_integer)
}


def _job_ids(sc) -> set[int]:
    # jobs submitted without an explicit group land in group None; the
    # tracker retains completed ids (spark.ui.retainedJobs default 1000)
    return set(sc.statusTracker().getJobIdsForGroup())


@pytest.fixture(scope="module", autouse=True)
def _warm_schema_cache(spark, sf_dir):
    # First touch of a parquet table legitimately runs ONE footer-reading
    # schema-inference job; catalog._SCHEMA_CACHE then makes every later
    # load_table action-free. Warm it so the parametrized checks below
    # measure steady-state construction, which is the contract.
    from data_and_analytics_etl_spark.catalog import TABLES, load_table
    for t in TABLES:
        load_table(spark, sf_dir, t)


@pytest.mark.parametrize(
    "name", [n for n, s in REGISTRY.items()
             if not (EXEMPT_TAGS & set(s.tags)) and n not in EXEMPT_PROBES])
def test_probe_construction_runs_no_jobs(spark, sf_dir, name):
    sc = spark.sparkContext
    before = _job_ids(sc)
    df = REGISTRY[name].fn(spark, sf_dir)
    assert df is not None
    ran = _job_ids(sc) - before
    assert not ran, (
        f"{name}: constructing the plan ran Spark job(s) {sorted(ran)} — "
        "plan construction must be action-free (broadcast a 1-row "
        "aggregate instead of .count(), see operators/text.py:tf_idf)")
