"""Paginated REST source and per-record REST sink.

Spark-native re-expression of the reference's pull/push engines
(CommCareAPIHandler.py:207-262 pull, :298-326 push):

- Source: the paginated fetch runs driver-side (the API itself is the
  serial bottleneck, exactly as in the reference) but lands directly in
  a DataFrame; server-side time-window/order/limit params mirror the
  reference's pushdown (:180-200). The page strings land through Arrow
  as a local relation and are parsed in the JVM, so neither schema
  inference nor any later action over the landed frame starts a Python
  worker, and the frame's plan carries a size estimate.
  Transport is injectable so tests and air-gapped runs use a fake; a
  real deployment passes a thin requests-based callable.
- Sink: one HTTP call per record, executed per-partition via
  ``foreachPartition`` so N executors push concurrently (the reference
  loops serially in one Lambda, :319-325); per-partition error budget
  mirrors APIErrorMax (:23-24, 44-56).

Envelope contract (ref :231-257, fixture Testing/requests_mock.py:6-17):
``{"meta": {"next": cursor-or-empty, "limit": n}, "objects": [...]}``.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

#: transport(params) -> envelope dict. Injectable for tests/offline runs.
Transport = Callable[[dict], dict]


def rest_source(spark: SparkSession, transport: Transport,
                params: dict | None = None, request_limit: int = 1000,
                schema: str | None = None) -> DataFrame:
    """Pull every page through ``transport`` into one DataFrame.

    Keyset/cursor pagination follows the envelope's ``meta.next`` opaque
    cursor (ref :242-244); the hard request budget mirrors
    ``request_limit`` (ref :220-224, raise on exhaustion).
    """
    pages: list[str] = []
    params = dict(params or {})
    cursor: str | None = None
    for n in range(request_limit + 1):
        if n == request_limit:
            raise RuntimeError(
                f"request budget exhausted after {request_limit} calls")
        envelope = transport({**params, "cursor": cursor} if cursor
                             else params)
        objects = envelope.get("objects", [])
        pages.extend(json.dumps(o) for o in objects)
        cursor = (envelope.get("meta") or {}).get("next") or None
        if not cursor:
            break
    # The strings land through Arrow as a local relation: no job over
    # the frame starts a Python worker (``reader.json(rdd)`` re-encodes
    # the strings in one per job), and the plan carries a size estimate
    # (rows x schema width) for the sink's hourly clustering. Above
    # spark.sql.execution.arrow.localRelationThreshold they land as an
    # RDD with an unknown estimate, as a frame parsed by ``reader.json``
    # always is; so the reader only infers the schema, and ``from_json``
    # parses.
    strings = spark.createDataFrame(pa.table(
        {"value": pa.array(pages or ["{}"], pa.string())}))
    if schema is None:
        dataset = getattr(strings._jdf, "as")(
            spark._jvm.org.apache.spark.sql.Encoders.STRING())
        schema = DataFrame(spark.read._jreader.json(dataset), spark).schema
    df = strings.select(F.from_json("value", schema).alias("r")).select("r.*")
    return df.limit(0) if not pages else df


def rest_sink(df: DataFrame, push: Transport, method: str = "POST",
              max_failures: int = 3) -> int:
    """Push each row as one request from the executors; return the
    number of records sent.

    ``push`` receives ``{"method": m, "payload": row-dict}`` per record
    (verb-from-config, ref :321). Each partition owns an error budget of
    ``max_failures`` (ref APIErrorMax) — exceeding it fails the task and
    surfaces through normal Spark retry/abort semantics. The count is
    taken on the push pass (an accumulator, which Spark applies once
    per successful task of an action), so no second scan counts ``df``;
    a record that failed within the budget counts as sent.
    """
    sent = df.sparkSession.sparkContext.accumulator(0)

    def push_partition(rows: Iterator) -> None:
        failures = n = 0
        for row in rows:
            n += 1
            try:
                push({"method": method, "payload": row.asDict(recursive=True)})
            except Exception:  # noqa: BLE001 — budget spans causes
                failures += 1
                if failures >= max_failures:
                    raise
        sent.add(n)
    df.foreachPartition(push_partition)
    return sent.value


def rest_sink_receipts(df: DataFrame, push: Transport, key_col: str,
                       method: str = "POST",
                       max_failures: int = 3) -> DataFrame:
    """Push each row and return a RECEIPTS DataFrame — (key, form_id,
    ok, error) per record.

    The reference logs the server's ``form_id`` for case-type pushes
    (CommCareAPIHandler.py:303-304) — observability as print
    statements. The Spark-native generalization returns that
    observability as DATA: receipts join back to the source on
    ``key_col``, aggregate into success-rate dashboards, and feed retry
    queues, none of which a log line can do. Same per-partition error
    budget as :func:`rest_sink`; failed records under the budget become
    ``ok=false`` receipt rows instead of lost prints.

    Delivery semantics: AT-LEAST-ONCE, exactly once per healthy run. The
    pushes execute eagerly here, exactly one time, and the returned
    receipts frame is a ``localCheckpoint`` of the results — re-using or
    re-computing it (joins, dashboards, retry queues, task retries)
    replays stored rows, never the HTTP calls. A lazy mapPartitions
    would re-POST on every downstream action and push nothing at all if
    receipts were never materialized; a failed/retried task may still
    have sent its partition's earlier records before dying, which is the
    at-least-once part — consumers dedup on (key, form_id) when the
    endpoint is not idempotent.
    """
    cols = [c for c in df.columns]

    def push_partition(rows: Iterator):
        failures = 0
        for row in rows:
            d = row.asDict(recursive=True)
            try:
                resp = push({"method": method, "payload": d}) or {}
                yield (d.get(key_col), str(resp.get("form_id"))
                       if resp.get("form_id") is not None else None,
                       True, None)
            except Exception as e:  # noqa: BLE001 — budget spans causes
                failures += 1
                if failures >= max_failures:
                    raise
                yield (d.get(key_col), None, False,
                       f"{type(e).__name__}: {e}"[:200])

    if key_col not in cols:
        raise KeyError(f"key_col {key_col!r} not in {cols}")
    key_type = df.schema[key_col].dataType.simpleString()
    receipts = df.rdd.mapPartitions(push_partition).toDF(
        f"{key_col} {key_type}, form_id string, ok boolean, error string")
    # Materialize NOW (eager=True runs the pushes exactly once and cuts
    # lineage); every later action reads the checkpointed rows.
    return receipts.localCheckpoint(eager=True)
