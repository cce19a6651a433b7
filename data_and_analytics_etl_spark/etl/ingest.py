"""Incremental windowed ingest: the reference's pull pipeline, Spark-native.

Reference semantics being preserved (SURVEY §3.2):
- window = (last committed watermark, event_time - lag]; the 5-minute lag
  tolerates late indexing (``use_lag``, CommCareAPIHandler.py:65-69);
- dual-format timestamp normalization on ingest (:236-238);
- data is written BEFORE the watermark advances (:251-262) — a crash
  between the two replays the window; downstream exact/keyed dedup
  (operators/dedup.py) collapses the overlap. At-least-once by design.

What changes at scale: the reference moves rows one page at a time
through the driver; here the filter window is a pushed-down predicate on
a distributed scan, the write is a parallel partitioned sink, and the
only driver-side state is the watermark manifest.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from .checkpoint import CheckpointManifest
from .sink import write_partitioned

#: The reference's two accepted timestamp formats (:236-238), extended
#: with their second-precision variants.
TS_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss'Z'",
    "yyyy-MM-dd'T'HH:mm:ss",
)


def normalize_timestamp(col: Column, formats: tuple[str, ...] = TS_FORMATS,
                        ) -> Column:
    """First-match multi-format parse: coalesce of try_to_timestamp."""
    return F.coalesce(*[F.try_to_timestamp(col, F.lit(f)) for f in formats])


def incremental_ingest(spark: SparkSession, source: DataFrame, dest: str,
                       checkpoint_root: str, dataset: str, ts_col: str,
                       event_time: dt.datetime,
                       lag: dt.timedelta = dt.timedelta(minutes=5),
                       max_records_per_file: int = 100_000,
                       fmt: str = "parquet") -> dict:
    """One incremental run: filter the new window, sink it, commit.

    Returns run metadata (window bounds + row count). The row count comes
    from the sink-side observation, not a second scan.
    """
    ckpt = CheckpointManifest(checkpoint_root, dataset)
    lo = ckpt.read_watermark()
    hi = event_time - lag
    t = F.col(ts_col)
    window = t <= F.lit(hi)
    if lo is not None:
        window = window & (t > F.lit(lo))
    obs = Observation(f"ingest_{dataset}")
    observed = source.filter(window).observe(
        obs, F.count(F.lit(1)).alias("rows"))

    # 1. data lands... (aligned onto the hourly keys: an ingest window
    # spans many hours while the source scan's partitioning is
    # arbitrary — unclustered, every scan task writes a file into every
    # hour it holds, and a 1-partition source serializes the whole
    # layout on one task; clustered, a small window's hours spread over
    # the cores, one file each; see sink.write_partitioned)
    write_partitioned(observed, dest, ts_col, fmt=fmt,
                      max_records_per_file=max_records_per_file,
                      align_partitions=True)
    # 2. ...then the watermark advances (write-then-commit; ref :251-262).
    rows = int(obs.get["rows"])
    ckpt.commit(hi, dataset=dataset, rows=rows)
    return {"dataset": dataset, "window_start": lo, "window_end": hi,
            "rows": rows}
