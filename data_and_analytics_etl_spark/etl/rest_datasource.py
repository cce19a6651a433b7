"""REST as a Spark 4 Python DataSource: partition-parallel windowed pull.

The reference pulls one page at a time through a single Lambda
(CommCareAPIHandler.py:217-258) — its only parallelism is "invoke more
Lambdas". This source makes the same windowed, paginated, budgeted pull
a first-class `spark.read.format("rest")` scan:

- the requested window [start, end) splits into N `InputPartition`s, so
  N executors pull N sub-windows concurrently — the reference's
  time-window predicate pushdown (:180-200), made parallel;
- within a partition, pages follow keyset pagination with a per-request
  row `limit` and a hard `request_limit` budget (:220-224);
- the transport is pluggable via the `transport` option:
  `synthetic` (built-in deterministic generator — offline tests, and the
  driver probe's oracle), `http` (live HTTP via etl/http_transport.py —
  pass `url`/`token` options; the transport object is built driver-side
  and rides the pickle, but each task's unpickled copy creates its own
  requests.Session lazily, with retry/backoff and optional adaptive
  page sizing), or `module:attr` (an importable callable resolved
  lazily ON THE EXECUTOR, so custom sessions are created
  per-partition, never pickled).

Usage:
    spark.dataSource.register(RestDataSource)
    df = (spark.read.format("rest")
          .option("transport", "synthetic")
          .option("start", 0).option("end", 5000)
          .option("num_partitions", 8)
          .load())
"""

from __future__ import annotations

import logging
from collections.abc import Iterator

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceWriter, InputPartition,
                                    SimpleDataSourceStreamReader,
                                    WriterCommitMessage)
from pyspark.sql.types import StructType

log = logging.getLogger(__name__)

# Module-level import, not runtime-relative: every use site below may run
# in a Python planner/executor worker where the repo package is NOT
# importable — the names must already live in this module's globals so
# they travel by value with the pickle (register() ships both modules).
from .http_transport import AdaptiveLimit, HttpTransport, http_pusher

#: Synthetic-record schema (the envelope's `objects` flattened).
DEFAULT_SCHEMA = "id BIGINT, k BIGINT"


def synthetic_transport(params: dict) -> dict:
    """Deterministic fake API: records id in [lo, hi) with k = id*31 % 97,
    served in `limit`-sized pages with a keyset cursor — the envelope
    contract of the reference (meta.next + objects)."""
    lo = int(params.get("cursor") or params["lo"])
    hi, limit = int(params["hi"]), int(params["limit"])
    page_hi = min(lo + limit, hi)
    objects = [{"id": i, "k": (i * 31) % 97} for i in range(lo, page_hi)]
    return {"meta": {"next": str(page_hi) if page_hi < hi else ""},
            "objects": objects}


def resolve_transport(spec: str, http_cfg: dict | None = None):
    """Resolve a transport spec to a callable.

    - ``synthetic``: the built-in deterministic generator.
    - ``http``: a live :class:`~.http_transport.HttpTransport` built from
      ``http_cfg`` (url/token/timeout options) — one per PARTITION, so
      each task owns its own connection pool and nothing network-bound
      rides a pickle.
    - ``module:attr``: an importable callable, resolved lazily on the
      executor.
    """
    if spec == "synthetic":
        return synthetic_transport
    if spec == "http":
        # HttpTransport travels by value (register() registers its
        # module), and its requests.Session is created lazily on first
        # call — executor-side, never pickled.
        cfg = dict(http_cfg or {})
        if "url" not in cfg:
            raise ValueError("transport 'http' requires the 'url' option")
        return HttpTransport(cfg["url"], token=cfg.get("token"),
                             timeout=float(cfg.get("timeout", 30.0)),
                             max_retries=int(cfg.get("max_retries", 3)))
    mod, _, attr = spec.partition(":")
    if not attr:
        raise ValueError("transport must be 'synthetic', 'http', or "
                         f"'module:attr', got {spec!r}")
    import importlib
    return getattr(importlib.import_module(mod), attr)


class WindowPartition(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo, self.hi = lo, hi


class RestReader(DataSourceReader):
    def __init__(self, options: dict):
        self.transport_spec = options.get("transport", "synthetic")
        self.start = int(options.get("start", 0))
        self.end = int(options.get("end", 1000))
        self.limit = int(options.get("limit", 100))
        self.num_partitions = int(options.get("num_partitions", 4))
        self.request_limit = int(options.get("request_limit", 1000))
        # Adaptive page sizing (ref util.py:43-85): measure the first
        # page per partition, then resize `limit` toward the target.
        # The sizer is built DRIVER-side: read() must not import package
        # modules (workers outside the repo can't resolve them; the
        # instance rides the pickle instead, by-value via register()).
        self.adaptive = str(options.get("adaptive", "false")).lower() == "true"
        self.target_mb = float(options.get("target_mb", 16.0))
        if self.adaptive:
            self.sizer = AdaptiveLimit(target_mb=self.target_mb)
        else:
            self.sizer = None
        # Cross-run limit persistence (ref CommCareAPIHandler.py:96-121:
        # api_limit is stored next to the watermark and seeds the next
        # run). With `checkpoint_root` + `dataset` options set, a stored
        # limit overrides the DEFAULT starting limit (an explicit `limit`
        # option still wins), and the first window partition stores its
        # adapted limit back after measuring. The manifest instance is
        # built DRIVER-side and rides the reader pickle (register() ships
        # etl.checkpoint by value).
        self._manifest = None
        if self.adaptive and "checkpoint_root" in options:
            from .checkpoint import CheckpointManifest
            self._manifest = CheckpointManifest(
                options["checkpoint_root"],
                options.get("dataset", "rest"))
            if "limit" not in options:
                stored = self._manifest.read_api_limit()
                if stored is not None:
                    self.limit = stored
        # Source read options forwarded verbatim to every request —
        # the reference's config-level switches (include_archived,
        # CommCareAPIHandler.py:32-39,185-188) generalized: any option
        # named `param.<name>` becomes a request param <name>.
        self.extra_params = {k[len("param."):]: v
                             for k, v in options.items()
                             if k.startswith("param.")}
        # transport 'http' config (url/token/timeout/max_retries)
        self.http_cfg = {k: options[k]
                         for k in ("url", "token", "timeout", "max_retries")
                         if k in options}
        # Built-in transports are constructed DRIVER-side so the instance
        # rides the reader pickle (register() ships both modules by
        # value); a runtime import in read() would need the repo package
        # importable on every worker. `module:attr` stays None: it is
        # deliberately resolved lazily ON THE EXECUTOR. HttpTransport's
        # requests.Session is created lazily on first call, so nothing
        # network-bound is pickled.
        if self.transport_spec in ("synthetic", "http"):
            self._transport = resolve_transport(self.transport_spec,
                                                self.http_cfg)
        else:
            self._transport = None

    def partitions(self) -> list[InputPartition]:
        """Split the window into contiguous sub-windows, one per task —
        the planner-visible parallelism of the scan."""
        n = max(1, self.num_partitions)
        span = max(1, (self.end - self.start + n - 1) // n)
        return [WindowPartition(lo, min(lo + span, self.end))
                for lo in range(self.start, self.end, span)]

    def read(self, partition: WindowPartition) -> Iterator[tuple]:
        """Executor-side paginated pull of one sub-window.

        With ``adaptive=true`` the partition measures its first page's
        serialized size and resizes ``limit`` for subsequent requests —
        the reference's probe→measure→resize loop (util.py:43-85) at
        executor granularity.
        """
        transport = (self._transport if self._transport is not None
                     else resolve_transport(self.transport_spec,
                                            self.http_cfg))
        sizer = self.sizer
        limit = self.limit
        cursor = None
        for n in range(self.request_limit + 1):
            if n == self.request_limit:
                raise RuntimeError(
                    f"request budget exhausted ({self.request_limit}) in "
                    f"window [{partition.lo}, {partition.hi})")
            envelope = transport({"lo": partition.lo, "hi": partition.hi,
                                  "limit": limit, "cursor": cursor,
                                  **self.extra_params})
            for obj in envelope.get("objects", []):
                yield (obj["id"], obj["k"])
            if sizer is not None and envelope.get("objects"):
                limit = sizer.new_limit(limit, sizer.measure(envelope))
                sizer = None  # one measurement per partition, like A7
                if self._manifest is not None and partition.lo == self.start:
                    # exactly ONE partition (the window head) persists its
                    # measured limit — single writer, atomic rename, so
                    # concurrent partitions never race on the manifest
                    self._manifest.store_api_limit(limit)
            cursor = (envelope.get("meta") or {}).get("next") or None
            if not cursor:
                break


class _PushCommit(WriterCommitMessage):
    """Per-partition commit message: how many records were pushed."""

    def __init__(self, count: int):
        self.count = count


class RestWriter(DataSourceWriter):
    """Per-record REST push as a first-class `df.write.format("rest")`.

    The declarative twin of ``etl/rest.py:rest_sink`` (ref push loop,
    CommCareAPIHandler.py:298-326): each partition pushes its rows
    through the configured transport with a bounded error budget
    (APIErrorMax, :44-56); the verb comes from the ``method`` option
    (:321). Rows must be JSON-serializable — project/cast beforehand
    (timestamps to strings), exactly as the reference JSON-encodes its
    payloads (:300).
    """

    def __init__(self, options: dict):
        self.transport_spec = options.get("transport", "synthetic")
        self.method = options.get("method", "POST").upper()
        self.max_failures = int(options.get("max_failures", 3))
        self.http_cfg = {k: options[k]
                         for k in ("url", "token", "timeout", "max_retries")
                         if k in options}
        # Same driver-side construction rule as RestReader: the pusher
        # closure / transport instance rides the writer pickle (by value
        # via register()); only `module:attr` resolves on the executor.
        if self.transport_spec in ("synthetic", "http"):
            self._push = self._pusher()
        else:
            self._push = None

    def _pusher(self):
        if self.transport_spec == "http":
            cfg = dict(self.http_cfg)
            if "url" not in cfg:
                raise ValueError("transport 'http' requires the 'url' "
                                 "option")
            return http_pusher(cfg["url"], token=cfg.get("token"),
                               timeout=float(cfg.get("timeout", 30.0)),
                               max_retries=int(cfg.get("max_retries", 3)))
        return resolve_transport(self.transport_spec, self.http_cfg)

    def write(self, iterator) -> _PushCommit:
        push = self._push if self._push is not None else self._pusher()
        failures = 0
        n = 0
        for row in iterator:
            try:
                push({"method": self.method,
                      "payload": row.asDict(recursive=True)})
                n += 1
            except Exception:  # noqa: BLE001 — budget spans causes
                failures += 1
                if failures >= self.max_failures:
                    raise
        return _PushCommit(n)

    def commit(self, messages) -> None:
        total = sum(m.count for m in messages if m is not None)
        log.info("rest write committed: %d records pushed", total,
                 extra={"pushed": total})

    def abort(self, messages) -> None:
        done = sum(m.count for m in messages if m is not None)
        log.warning("rest write aborted after %d pushed records — "
                    "per-record push has no rollback (at-least-once, "
                    "dedup downstream)", done,
                    extra={"pushed": done, "aborted": True})


class RestStreamReader(SimpleDataSourceStreamReader):
    """The incremental pull as a STREAMING source: each micro-batch
    drains at most ``rows_per_batch`` new records past the stream's
    committed offset — `spark.readStream.format("rest")`.

    This is the reference's checkpointed poll loop
    (CommCareAPIHandler.py:87-112: read checkpoint → pull window →
    write → commit checkpoint) mapped onto Structured Streaming's
    native offset contract, where it belongs: the engine's streaming
    checkpoint IS the manifest (exactly-once offset commit, crash
    replay via ``readBetweenOffsets``), the trigger is the schedule,
    and every downstream operator (watermarked windows, dedup, the
    foreachBatch MERGE sink) composes with it for free.

    Offsets are keyset positions (``{"pos": next_unread_id}``), so
    replay of a committed range is deterministic: ``readBetweenOffsets``
    re-pulls [start, end) with the same transport the forward path
    uses. The optional ``end`` bound makes availableNow runs finite
    (an unbounded feed simply keeps returning the same offset when no
    new data is available).
    """

    def __init__(self, options: dict):
        self.start = int(options.get("start", 0))
        self.end = int(options["end"]) if "end" in options else None
        self.rows_per_batch = int(options.get("rows_per_batch", 1000))
        self.limit = int(options.get("limit", 200))
        self.request_limit = int(options.get("request_limit", 1000))
        self.transport_spec = options.get("transport", "synthetic")
        self.http_cfg = {k[5:]: v for k, v in options.items()
                         if k.startswith("http.")}
        self._transport = None

    def _t(self):
        if self._transport is None:
            self._transport = resolve_transport(self.transport_spec,
                                                self.http_cfg)
        return self._transport

    def initialOffset(self) -> dict:
        return {"pos": self.start}

    def _pull(self, lo: int, hi: int) -> list[tuple]:
        # the same hard request budget as the batch reader: a transport
        # that never stops returning a cursor must not page forever
        rows: list[tuple] = []
        cursor = None
        for _ in range(self.request_limit):
            envelope = self._t()({"lo": lo, "hi": hi,
                                  "limit": self.limit, "cursor": cursor})
            rows.extend((obj["id"], obj["k"])
                        for obj in envelope.get("objects", []))
            cursor = (envelope.get("meta") or {}).get("next") or None
            if not cursor:
                return rows
        raise RuntimeError(
            f"request budget exhausted ({self.request_limit}) in "
            f"window [{lo}, {hi})")

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lo = int(start["pos"])
        hi = lo + self.rows_per_batch
        if self.end is not None:
            hi = min(hi, self.end)
        if hi <= lo:
            return iter([]), {"pos": lo}
        rows = self._pull(lo, hi)
        # keyset contract: next offset = one past the highest pulled id,
        # or the probed bound when the window came back empty
        nxt = max((r[0] for r in rows), default=hi - 1) + 1
        return iter(rows), {"pos": nxt}

    def readBetweenOffsets(self, start: dict,
                           end: dict) -> Iterator[tuple]:
        # deterministic crash replay of a committed range
        return iter(self._pull(int(start["pos"]), int(end["pos"])))


class RestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rest"

    def schema(self) -> str | StructType:
        return self.options.get("schema", DEFAULT_SCHEMA)

    def reader(self, schema: StructType) -> RestReader:
        return RestReader(dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> RestWriter:
        return RestWriter(dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> RestStreamReader:
        return RestStreamReader(dict(self.options))


def register(spark) -> None:
    """Register the source, shipping this module BY VALUE.

    The DataSource class is cloudpickled to the Python planner/executor
    workers, which don't share the driver's sys.path — a by-reference
    pickle would die with ModuleNotFoundError unless the engine package
    is installed on every worker. register_pickle_by_value embeds the
    module in the pickle instead, so `spark.read.format("rest")` works
    from any launch directory. Idempotent.
    """
    import sys

    from pyspark import cloudpickle

    from . import checkpoint, http_transport
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    # AdaptiveLimit instances (adaptive=true) ride the reader pickle;
    # their class must travel by value too — likewise CheckpointManifest
    # (cross-run api_limit persistence).
    cloudpickle.register_pickle_by_value(http_transport)
    cloudpickle.register_pickle_by_value(checkpoint)
    spark.dataSource.register(RestDataSource)
