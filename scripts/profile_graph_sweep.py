"""Job census for registry probes: construction and action wall time,
the number of Spark jobs, and whether the probe left entries in the
JVM CacheManager once its action finished.

The cache is cleared BEFORE each attempt, so every attempt starts from
an empty CacheManager; ``cache_empty`` after the action shows whether
the probe itself leaks a persisted frame.

Usage: SPARK_GRAFT_SF_DIR=path/to/sf0.1 \
    python scripts/profile_graph_sweep.py [probe ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_and_analytics_etl_spark.queries import REGISTRY  # noqa: E402
from data_and_analytics_etl_spark.session import get_spark  # noqa: E402


def main():
    names = sys.argv[1:] or ["graph_pagerank", "graph_local_clustering"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile-graph-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    st = spark.sparkContext.statusTracker()
    cache = spark._jsparkSession.sharedState().cacheManager()
    for name in names:
        for attempt in ("cold", "warm"):
            spark.catalog.clearCache()
            j0 = max(st.getJobIdsForGroup() or [-1])
            spark.sparkContext.setJobDescription(f"{name} {attempt}")
            t0 = time.monotonic()
            df = REGISTRY[name].fn(spark, sf_dir)
            t1 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.monotonic()
            jobs = [j for j in (st.getJobIdsForGroup() or []) if j > j0]
            print(f"{name} [{attempt}]: construct={t1-t0:.2f}s "
                  f"action={t2-t1:.2f}s total={t2-t0:.2f}s "
                  f"jobs={len(jobs)} cache_empty={cache.isEmpty()}",
                  flush=True)


if __name__ == "__main__":
    main()
