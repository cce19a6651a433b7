"""Spans and per-operation Spark counters, recorded from outside the
program.

Every call into a layer runs inside :meth:`Tracer.span`. With tracing on,
a span records its name, start, end, parent span and operation id, and
keeps them in memory until the run ends. Spans that pass ``group=``
also set a Spark job group for the call and, when it returns, attach the
counters of exactly the jobs that group started: job ids come from the
``statusTracker``, their stage ids from the job infos, and the stage
metrics from ``statusStore().stageList``. The store keeps only the last
~1000 stages, so counters are read right after each call, never as a
before/after difference over a whole pass.

With tracing off a span only times the call, so the end-to-end numbers
carry none of this bookkeeping.
"""

from __future__ import annotations

import contextlib
import statistics
import time

#: stage-level counters summed per operation (StageData getter names)
STAGE_FIELDS = ("numCompleteTasks", "executorRunTime", "executorCpuTime",
                "shuffleReadBytes", "shuffleWriteBytes",
                "memoryBytesSpilled", "diskBytesSpilled", "inputBytes",
                "inputRecords")


def stage_counters(spark, group: str) -> dict:
    """Jobs, completed stages and summed stage metrics of every job the
    job group started."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # the status store is fed by the listener bus asynchronously
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
           "executor_run_s": 0.0, "executor_cpu_s": 0.0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "input_bytes": 0, "input_records": 0}
    if not stage_ids:
        return out
    store = jsc.statusStore()
    # stageList(statuses, details, withSummaries, unsortedQuantiles,
    # taskStatus): Py4J cannot apply Scala defaults, so pass all four
    defaults = [getattr(store, f"stageList$default${i}")()
                for i in range(2, 6)]
    it = store.stageList(None, *defaults).iterator()
    lowest = min(stage_ids)
    while it.hasNext():  # newest stage first
        s = it.next()
        sid = s.stageId()
        if sid < lowest:
            break
        if sid not in stage_ids or s.status().toString() != "COMPLETE":
            continue
        v = {f: getattr(s, f)() for f in STAGE_FIELDS}
        out["stages"] += 1
        out["tasks"] += v["numCompleteTasks"]
        out["executor_run_s"] += v["executorRunTime"] / 1e3
        out["executor_cpu_s"] += v["executorCpuTime"] / 1e9
        out["shuffle_read_bytes"] += v["shuffleReadBytes"]
        out["shuffle_write_bytes"] += v["shuffleWriteBytes"]
        out["spill_bytes"] += (v["memoryBytesSpilled"]
                               + v["diskBytesSpilled"])
        out["input_bytes"] += v["inputBytes"]
        out["input_records"] += v["inputRecords"]
    return out


def cache_entries(spark) -> int:
    """CacheManager entries plus persistent RDDs (localCheckpoint and
    persisted frames) currently held by the session."""
    gw = spark.sparkContext._gateway
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = gw.jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.CacheManager"
    ).getDeclaredField("cachedData")
    field.setAccessible(True)
    return (field.get(cm).size()
            + spark.sparkContext._jsc.getPersistentRDDs().size())


class Tracer:
    """Span recorder; a no-op timer when ``enabled`` is false."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._group_seq = 0
        #: seconds spent inside tracing bookkeeping (counter reads)
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None,
             group: bool = False, **attrs):
        """Time one layer call. Yields the span dict; its ``counters``
        key is filled after the call when ``group`` is set and tracing
        is on."""
        rec = {"name": name, "op": op_id,
               "parent": self._stack[-1] if self._stack else None,
               **attrs}
        gid = None
        if self.enabled:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self._stack.append(rec["id"])
            if group:
                self._group_seq += 1
                gid = f"perfbench-{self._group_seq}"
                self.spark.sparkContext.setJobGroup(gid, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                if gid is not None:
                    t0 = time.perf_counter()
                    self.spark.sparkContext.setLocalProperty(
                        "spark.jobGroup.id", None)
                    rec["counters"] = stage_counters(self.spark, gid)
                    self.overhead_s += time.perf_counter() - t0

    def counters_for(self, group: str) -> dict:
        """Counters of a job group the program set itself (a streaming
        query runs its batches under the query's run id)."""
        t0 = time.perf_counter()
        out = stage_counters(self.spark, group)
        self.overhead_s += time.perf_counter() - t0
        return out

    def dump(self, t_origin: float) -> list[dict]:
        """Spans with times relative to ``t_origin``, for the artifact."""
        out = []
        for s in self.spans:
            d = dict(s)
            d["start"] = round(d["start"] - t_origin, 6)
            d["end"] = round(d["end"] - t_origin, 6)
            out.append(d)
        return out


def latency_summary(samples: list[float]) -> dict:
    """Median plus the highest percentile with at least 10 samples
    beyond it. With 10 samples or fewer no percentile qualifies; the
    maximum is reported and ``samples_beyond`` says so."""
    xs = sorted(samples)
    n = len(xs)
    if n > 10:
        tail, beyond = xs[n - 11], 10
        pct = 100.0 * (n - 10) / n
    else:
        tail, beyond, pct = xs[-1], 0, 100.0
    return {"n": n, "p50_s": statistics.median(xs), "tail_s": tail,
            "tail_percentile": round(pct, 1), "samples_beyond": beyond}


def sum_counters(dicts: list[dict]) -> dict:
    out: dict = {}
    for d in dicts:
        for k, v in d.items():
            out[k] = out.get(k, 0) + v
    return out
