"""The shared fixpoint driver (operators/fixpoint.py): every iterative
operator on it releases its caches, and each call logs one record."""

from __future__ import annotations

import logging
import random

import pytest


def _edges(spark):
    rnd = random.Random(7)
    return spark.createDataFrame(
        [(rnd.randrange(60), rnd.randrange(60)) for _ in range(200)],
        "src long, dst long")


def _chain(spark, n):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    return pairs, spark.range(n).withColumnRenamed("id", "doc_id")


def _mondrian_input(spark):
    rows = [(i, float((i * 37) % 997), (i * 13) % 7) for i in range(200)]
    return spark.createDataFrame(rows, "id long, x double, y int")


def _run(name, spark):
    from data_and_analytics_etl_spark.operators import dedup, graph, profile
    if name == "dedup_clusters":
        return dedup.dedup_clusters(*_chain(spark, 20))
    if name == "mondrian_anonymize":
        return profile.mondrian_anonymize(_mondrian_input(spark),
                                          ["x", "y"], k=10)
    if name == "k_core":
        return graph.k_core(_edges(spark), 3)
    return getattr(graph, name)(_edges(spark))


@pytest.mark.parametrize("name", [
    "pagerank", "pagerank_integer", "hits_integer", "k_core",
    "dedup_clusters", "mondrian_anonymize"])
def test_operator_leaves_no_cache(spark, name):
    spark.catalog.clearCache()
    rows = _run(name, spark).collect()
    assert rows
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_mondrian_round_cap_raises(spark):
    from data_and_analytics_etl_spark.operators.profile import \
        mondrian_anonymize
    spark.catalog.clearCache()
    # 200 rows at k=10 split for several rounds; one is not enough
    with pytest.raises(RuntimeError, match="max_rounds"):
        mondrian_anonymize(_mondrian_input(spark), ["x", "y"], k=10,
                           max_rounds=1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_one_record_per_call(spark, caplog):
    from data_and_analytics_etl_spark.operators.dedup import dedup_clusters
    # chain 0-1-2-3-4-5: labels [0,0,0,1,2,3] after round 1 (5 changed),
    # all 0 after round 2 (3 changed), and round 3 confirms (0 changed)
    name = "data_and_analytics_etl_spark.operators.fixpoint"
    with caplog.at_level(logging.INFO, logger=name):
        dedup_clusters(*_chain(spark, 6))
    (rec,) = [r for r in caplog.records if r.name == name]
    assert rec.operator == "dedup_clusters"
    assert rec.rounds == 3
    assert rec.observed == [None, 5, 3, 0]
    assert rec.converged is True
