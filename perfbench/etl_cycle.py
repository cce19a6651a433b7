"""The ``etl_cycle`` workload: the reference's dataflow, one cycle per day.

Each cycle advances ``event_time`` by one day inside the 30-day span of
the ``events`` table and runs four operations, one client, closed loop:

1. ``job.handle_event`` ``cc_to_s3``: two data types x ``N_RECORDS``
   records a day from a seeded in-process fake API (the reference's
   envelope, 1000-record pages, dual-format ``indexed_on``);
2. ``etl.ingest.incremental_ingest`` of the next ``events`` window;
3. one ``availableNow`` micro-batch of
   ``streaming.ops.stream_merge_to_partitioned`` applying a seeded update
   file dropped into its source directory;
4. ``job.handle_event`` ``s3_to_cc``: a seeded JSON payload pushed to a
   counting endpoint.

A run starts from a fresh data root, so the tables grow the same way on
every run. ``WARM_CYCLES`` warm-up cycles run before the timed cycles.
Every operation's output is checked outside its timing (landed and
ingested row counts, each watermark equal to ``event_time - 5 min``, the
pushed records), and after the run the merged table is compared with a
model of the updates.

``latency_p50_s`` and ``latency_tail_s`` are the means over the four
kinds of each kind's median and tail (``telemetry.latency_summary``);
the artifact keeps each kind's figures and those of the mixed
operations.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import datagen, harness
from .endpoint import CountingEndpoint, received
from .telemetry import Tracer, latency_summary, sum_counters

DOMAIN = "perfbench"
FIRST_EVENT_TIME = dt.datetime(2024, 1, 2)
LAG = dt.timedelta(minutes=5)
N_RECORDS = 1500       # per data type per day: two pages of up to 1000
N_EVENTS = 30_000      # over the 30 days: ~1k ingested per cycle
N_USERS = 1500
N_UPDATES = 200        # rows per merge update file
N_PUSH = 500           # records per push payload
#: warm-up: a fixed number of cycles, so every run's timed window sits
#: at the same point of the JIT curve. On a 4-core host cycles took
#: 8.3-10.8, 5.6-8.4, 4.6-7.6, 4.7-7.5 s and then held each run's own
#: level, 4.2-6.0 s: the first three cycles fall, the fourth is about
#: 10% above the level. The artifact's ``warmup_flat``
#: (``harness.warmup_flat``) says whether the timed cycles still ran
#: faster than the last warm-up cycles
WARM_CYCLES = 4
#: expected seconds of one warm cycle; fixes the timed cycle count for
#: a given --seconds
NOMINAL_CYCLE_S = 5.0
#: the four operations of a cycle, in run order
KINDS = ("job.pull", "etl.ingest", "streaming.merge", "job.push")
#: per-layer metrics this workload does not exercise (reported as 0)
NOT_EXERCISED = ("queries.",)
ISO_Z = "%Y-%m-%dT%H:%M:%S.%fZ"
EPOCH = dt.datetime(1970, 1, 1)
US = dt.timedelta(microseconds=1)


def _us(t: dt.datetime) -> int:
    return (t - EPOCH) // US


def _compact(obj) -> int:
    return len(json.dumps(obj, separators=(",", ":")))


class FakeApi:
    """Seeded CommCare-style API: serves the records of a data type
    whose ``indexed_on`` lies in ``(indexed_on_start, indexed_on_end]``,
    ``limit`` per page, keyset cursor in ``meta.next``."""

    def __init__(self, seed: int, days: int):
        rng = np.random.default_rng([seed, 1])
        span = days * 86_400 * 1_000_000
        t0 = int(datagen.EVENTS_START.astype(np.int64))  # µs since epoch
        self.ts: dict[str, list[int]] = {}
        self.attr: dict[str, np.ndarray] = {}
        for dtype in ("case", "form"):
            n = N_RECORDS * days
            self.ts[dtype] = (t0 + np.sort(rng.integers(0, span, n))).tolist()
            self.attr[dtype] = rng.integers(0, 1_000_000, n)
        self.pages = 0
        self.records = 0
        self.user_bytes = 0
        self.wait_s = 0.0

    def window(self, dtype: str, lo: str | None, hi: str) -> tuple[int, int]:
        ts = self.ts[dtype]
        a = 0 if lo is None else bisect.bisect_right(
            ts, _us(dt.datetime.strptime(lo, ISO_Z)))
        b = bisect.bisect_right(ts, _us(dt.datetime.strptime(hi, ISO_Z)))
        return a, b

    def record(self, dtype: str, i: int) -> dict:
        t = EPOCH + self.ts[dtype][i] * US
        # the reference's two indexed_on formats, alternating
        raw = t.strftime(ISO_Z if i % 2 == 0 else "%Y-%m-%dT%H:%M:%S.%f")
        v = int(self.attr[dtype][i])
        if dtype == "case":
            return {"case_id": f"case-{i}", "domain": DOMAIN,
                    "indexed_on": raw, "server_date_modified": raw,
                    "case_type": ("patient", "household", "visit")[v % 3],
                    "closed": v % 7 == 0,
                    "properties": {"owner": f"user-{v % 97}",
                                   "score": str(v % 1000)}}
        return {"form_id": f"form-{i}", "domain": DOMAIN, "indexed_on": raw,
                "archived": v % 11 == 0, "app_id": f"app-{v % 5}",
                "form_json": json.dumps({"q1": v % 13, "q2": f"a{v % 17}"})}

    def __call__(self, params: dict) -> dict:
        t0 = time.perf_counter()
        dtype = params["data_type"]
        a, b = self.window(dtype, params.get("indexed_on_start"),
                           params["indexed_on_end"])
        start = a + int(params.get("cursor") or 0)
        end = min(start + int(params["limit"]), b)
        objects = [self.record(dtype, i) for i in range(start, end)]
        self.pages += 1
        self.records += len(objects)
        self.user_bytes += sum(_compact(o) for o in objects)
        out = {"meta": {"limit": int(params["limit"]),
                        "next": str(end - a) if end < b else ""},
               "objects": objects}
        self.wait_s += time.perf_counter() - t0
        return out


class Inputs:
    """Every generated input of a run, made before the session starts."""

    def __init__(self, seed: int, root: str, cycles: int):
        rng = np.random.default_rng([seed, 2])
        self.api = FakeApi(seed, datagen.EVENTS_DAYS)
        self.src = os.path.join(root, "source")
        os.makedirs(self.src)
        events = datagen.events_table(rng, N_EVENTS, N_USERS)
        pq.write_table(events, os.path.join(self.src, "events.parquet"))
        self.event_us = events.column("ts").cast(pa.int64()).to_numpy()
        self.events = events
        # update files and push payloads, staged for their cycle
        self.stage = os.path.join(root, "stage")
        os.makedirs(self.stage)
        prev: list[int] = []
        self.update_user_bytes: list[int] = []
        self.push_ids: list[list[str]] = []
        self.push_user_bytes: list[int] = []
        next_key = N_EVENTS
        for c in range(cycles):
            et = event_time(c)
            hi = _us(et - LAG)
            # half corrections of the previous cycle's keys, half new keys
            n_old = min(len(prev), N_UPDATES // 2)
            old = (rng.choice(prev, n_old, replace=False).tolist()
                   if n_old else [])
            new = list(range(next_key, next_key + N_UPDATES - n_old))
            next_key += len(new)
            prev = old + new
            k = np.array(prev, dtype=np.int64)
            # inside the cycle's window (event_time - 1 day, - 5 min]
            ts = hi - rng.integers(0, (dt.timedelta(days=1) - LAG) // US,
                                   len(k))
            tab = pa.table({
                "event_id": pa.array(k),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(rng.integers(0, N_USERS, len(k))),
                "event_type": pa.array(np.array(datagen.EVENT_TYPES)[
                    rng.integers(0, len(datagen.EVENT_TYPES), len(k))]),
                "value": pa.array(np.round(rng.exponential(50.0, len(k)), 2)),
            })
            pq.write_table(tab, os.path.join(self.stage, f"upd-{c}.parquet"))
            self.update_user_bytes.append(sum(
                _compact({**r, "ts": r["ts"].isoformat()})
                for r in tab.to_pylist()))
            payload = [{"id": f"p{c}-{j}", "case_id": f"case-{int(x)}",
                        "value": float(y)}
                       for j, (x, y) in enumerate(zip(
                           rng.integers(0, 10_000, N_PUSH),
                           np.round(rng.uniform(0, 100, N_PUSH), 2)))]
            self.push_ids.append(sorted(p["id"] for p in payload))
            lines = [json.dumps(p, separators=(",", ":")) for p in payload]
            self.push_user_bytes.append(sum(map(len, lines)))
            with open(os.path.join(self.stage, f"push-{c}.json"), "w") as fh:
                fh.write("\n".join(lines) + "\n")

    def events_in(self, lo: dt.datetime | None, hi: dt.datetime) -> int:
        a = 0 if lo is None else np.searchsorted(
            self.event_us, _us(lo), side="right")
        return int(np.searchsorted(self.event_us, _us(hi), side="right") - a)

    def events_user_bytes(self, hi: dt.datetime) -> int:
        n = self.events_in(None, hi)
        rows = self.events.slice(0, n).to_pylist()
        return sum(_compact({**r, "ts": r["ts"].isoformat()}) for r in rows)


def event_time(cycle: int) -> dt.datetime:
    return FIRST_EVENT_TIME + dt.timedelta(days=cycle)


def _files(root: str) -> dict[str, int]:
    """Parquet data files under ``root``: path -> size."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def _du(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(root) for n in names)


class Cycle:
    """Runs the four operations of one cycle and checks each output."""

    def __init__(self, spark, tracer: Tracer, inputs: Inputs, root: str):
        from data_and_analytics_etl_spark.catalog import load_table

        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.data = os.path.join(root, "data")
        self.updates = os.path.join(root, "updates")
        self.endpoint = os.path.join(root, "endpoint")
        os.makedirs(self.updates)
        self.events_src = load_table(spark, inputs.src, "events")
        self.stream = (spark.readStream
                       .schema("event_id long, ts timestamp, user_id long, "
                               "event_type string, value double")
                       .parquet(self.updates))
        self.ops: list[dict] = []

    def _op(self, kind: str, cycle: int, phase: str, act, check) -> dict:
        """Time ``act()`` — the call into the program — then run
        ``check(result, span)`` outside the timing; it returns (rows,
        problems)."""
        rec = {"op": len(self.ops), "kind": kind, "cycle": cycle,
               "phase": phase}
        try:
            with self.tracer.span(kind, rec["op"], group=True,
                                  cycle=cycle) as sp:
                out = act()
            rec["latency_s"] = sp["end"] - sp["start"]
            rows, problems = check(out, sp)
            rec["rows"] = rows
            if problems:
                rec["check_failed"] = problems
            for k in ("counters", "commits", "watermark_errors", "files",
                      "progress_rows"):
                if k in sp:
                    rec[k] = sp[k]
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        self.ops.append(rec)
        return rec

    def _watermark(self, root: str, dataset: str, et: dt.datetime,
                   problems: list, sp: dict) -> None:
        """A committed watermark must equal ``event_time - 5 min``."""
        from data_and_analytics_etl_spark.etl.checkpoint import (
            CheckpointManifest)
        wm = CheckpointManifest(root, dataset).read_watermark()
        if wm == et - LAG:
            sp["commits"] = sp.get("commits", 0) + 1
        else:
            sp["watermark_errors"] = sp.get("watermark_errors", 0) + 1
            problems.append(f"{dataset} watermark {wm} != {et - LAG}")

    def run(self, c: int, phase: str) -> list[dict]:
        from data_and_analytics_etl_spark.etl.ingest import incremental_ingest
        from data_and_analytics_etl_spark.job import handle_event
        from data_and_analytics_etl_spark.streaming.ops import (
            stream_merge_to_partitioned)

        et = event_time(c)
        lo = None if c == 0 else event_time(c - 1) - LAG
        api = self.inputs.api
        dom = os.path.join(self.data, DOMAIN)
        events = os.path.join(self.data, "events")
        table = os.path.join(self.data, "merged")
        traced = self.tracer.enabled

        def new_files(sp, d):
            if traced:
                sp["files"] = _new_files(before[d], _files(d))

        def pull():
            return handle_event(self.spark, {
                "domain": DOMAIN, "operation_type": "cc_to_s3",
                "api_info": {"case": {"limit": 1000},
                             "form": {"limit": 1000}}},
                transport=api, data_root=self.data, event_time=et)

        def check_pull(out, sp):
            if out.get("statusCode") != 200:
                return 0, [f"status {out}"]
            problems, rows = [], 0
            lo_s = lo.strftime(ISO_Z) if lo else None
            for dtype in ("case", "form"):
                a, b = api.window(dtype, lo_s, (et - LAG).strftime(ISO_Z))
                got = out["datasets"][dtype]["rows_landed"]
                rows += got
                if got != b - a:
                    problems.append(f"{dtype} landed {got} != {b - a}")
                self._watermark(dom, dtype, et, problems, sp)
            new_files(sp, dom)
            return rows, problems

        def ingest():
            return incremental_ingest(self.spark, self.events_src, events,
                                      self.data, "events", "ts", et)

        def check_ingest(out, sp):
            want = self.inputs.events_in(lo, et - LAG)
            problems = ([] if out["rows"] == want else
                        [f"ingested {out['rows']} != {want}"])
            self._watermark(self.data, "events", et, problems, sp)
            new_files(sp, events)
            return out["rows"], problems

        def merge():
            q = stream_merge_to_partitioned(
                self.stream, table, ["event_id"], "ts",
                os.path.join(self.data, "_merge_checkpoint"))
            q.awaitTermination()
            return q

        def check_merge(q, sp):
            if traced:
                # a micro-batch's jobs run under the query's run id
                sp["counters"] = sum_counters([
                    sp["counters"], self.tracer.counters_for(str(q.runId))])
            new_files(sp, table)
            if q.exception() is not None:
                return 0, [f"stream failed: {q.exception()}"]
            # the batch's input rows as the query reports them; Spark
            # counts them once per scan of the batch
            sp["progress_rows"] = sum(p["numInputRows"]
                                      for p in q.recentProgress)
            return N_UPDATES, []

        sink = os.path.join(self.endpoint, str(c))

        def push():
            return handle_event(self.spark, {
                "domain": DOMAIN, "operation_type": "s3_to_cc",
                "specifiers": {"cases": {"method": "POST"}}},
                transport=CountingEndpoint(sink), data_root=self.data)

        def check_push(out, sp):
            if out.get("statusCode") != 200:
                return 0, [f"status {out}"]
            got = sorted(p["id"] for p in received(sink))
            problems = []
            if out["pushed"]["cases"] != N_PUSH:
                problems.append(f"pushed {out['pushed']} != {N_PUSH}")
            if got != self.inputs.push_ids[c]:
                problems.append(f"endpoint got {len(got)} records, "
                                f"not the {N_PUSH} sent")
            return len(got), problems

        # this cycle's update file and push payload, dropped in place
        os.replace(os.path.join(self.inputs.stage, f"upd-{c}.parquet"),
                   os.path.join(self.updates, f"upd-{c}.parquet"))
        spec = os.path.join(dom, "payload", "cases")
        shutil.rmtree(spec, ignore_errors=True)
        os.makedirs(spec)
        os.replace(os.path.join(self.inputs.stage, f"push-{c}.json"),
                   os.path.join(spec, f"push-{c}.json"))
        os.makedirs(sink)
        # parquet snapshots for the sink and merge counters (traced runs)
        before = {d: _files(d) for d in (dom, events, table)} if traced else {}
        return [self._op("job.pull", c, phase, pull, check_pull),
                self._op("etl.ingest", c, phase, ingest, check_ingest),
                self._op("streaming.merge", c, phase, merge, check_merge),
                self._op("job.push", c, phase, push, check_push)]

    def check_merged(self) -> list[str]:
        """The merged table against the model of every applied update."""
        import pyspark.sql.functions as F

        applied = {int(n.split("-")[1].split(".")[0])
                   for n in os.listdir(self.updates)}
        model: dict[int, tuple] = {}
        for c in sorted(applied):
            tab = pq.read_table(os.path.join(self.updates,
                                             f"upd-{c}.parquet"))
            for r in tab.to_pylist():
                model[r["event_id"]] = (_us(r["ts"].replace(tzinfo=None)),
                                        r["user_id"], r["event_type"],
                                        r["value"])
        got = {r[0]: tuple(r[1:]) for r in self.spark.read.parquet(
            os.path.join(self.data, "merged")).select(
                "event_id", F.unix_micros("ts"), "user_id", "event_type",
                "value").collect()}
        if got == model:
            return []
        diff = sum(1 for k in set(got) | set(model)
                   if got.get(k) != model.get(k))
        return [f"merged table differs from the model on {diff} keys"]


def _new_files(before: dict[str, int], after: dict[str, int]) -> dict:
    """Files written between two snapshots, the partition directories
    they landed in, and how many are small (under 1 MiB)."""
    new = {p: s for p, s in after.items() if before.get(p) != s}
    parts = {os.path.dirname(p) for p in new}
    return {"files": len(new), "bytes": sum(new.values()),
            "partitions": len(parts),
            "small": sum(1 for s in new.values() if s < 1 << 20)}


def run(name: str, seed: int, seconds: int, trace: bool) -> dict:
    n_timed = max(1, round(seconds / NOMINAL_CYCLE_S))
    max_cycles = WARM_CYCLES + n_timed + harness.STEAL_RERUNS
    if max_cycles > datagen.EVENTS_DAYS - 2:
        raise ValueError(f"--seconds {seconds} needs more cycles than the "
                         f"{datagen.EVENTS_DAYS}-day events span holds")
    host = harness.Host()
    run_dir = harness.new_run_dir(name, seed)
    inputs = Inputs(seed, run_dir, max_cycles)
    api = inputs.api

    t_origin = time.perf_counter()
    spark = harness.start_session(run_dir)
    start_s = time.perf_counter() - t_origin
    try:
        tracer = Tracer(spark, trace)
        catalog = harness.catalog_first_touch(spark, inputs.src, ["events"])
        cyc = Cycle(spark, tracer, inputs, run_dir)
        curve = []
        for c in range(WARM_CYCLES):
            recs = cyc.run(c, "warm")
            curve.append(sum(r.get("latency_s", 0.0) for r in recs))
        c = WARM_CYCLES
        setup_s = start_s + catalog["first_load_s"] + sum(curve)
        dispatch = harness.dispatch_s(spark)

        def one_cycle() -> dict:
            nonlocal c
            api0 = (api.pages, api.records, api.wait_s)
            t0 = time.perf_counter()
            recs = cyc.run(c, "timed")
            c += 1
            return {"cycle": c - 1, "wall_s": time.perf_counter() - t0,
                    "op_s": sum(r.get("latency_s", 0.0) for r in recs),
                    "ops": len(recs),
                    "rows": sum(r.get("rows", 0) for r in recs),
                    "api": (api.pages - api0[0], api.records - api0[1],
                            api.wait_s - api0[2]),
                    "recs": recs}
        overhead0 = tracer.overhead_s
        units = host.timed(one_cycle, n_timed)
        overhead_s = tracer.overhead_s - overhead0
        cycles = [u for u in units if u["kept"]]
        timed = [r for u in cycles for r in u["recs"]]
        for u in units:
            u["first_op"] = u.pop("recs")[0]["op"]
        merged_problems = cyc.check_merged()
        peak_rss = harness.jvm_peak_rss_mb(spark)
    finally:
        harness.stop_session(spark)

    # user bytes: every source record the c cycles delivered, as compact
    # JSON; stored bytes: everything under the data root
    stored = _du(os.path.join(run_dir, "data"))
    user_bytes = (api.user_bytes + sum(inputs.update_user_bytes[:c])
                  + sum(inputs.push_user_bytes[:c])
                  + inputs.events_user_bytes(event_time(c - 1) - LAG))
    harness.remove_run_dir(run_dir)

    ok = [r for r in timed if "error" not in r]
    # each kind's median and tail; their means are the workload's
    # latency_p50_s and latency_tail_s, so the four kinds weigh the same
    # and a change in any one moves them. The median of the mixed
    # operations falls in the gap between ingest and pull, and at this
    # operation count the mixed tail rule lands below the median.
    by_kind = {k: latency_summary(
        [r["latency_s"] for r in ok if r["kind"] == k] or [0.0])
        for k in KINDS}
    lat = {"p50_s": statistics.mean(v["p50_s"] for v in by_kind.values()),
           "tail_s": statistics.mean(v["tail_s"] for v in by_kind.values()),
           "by_kind": by_kind,
           "mixed": latency_summary([r["latency_s"] for r in ok] or [0.0])}
    failed = sum(1 for r in cyc.ops if "error" in r or "check_failed" in r)
    attempted = len(cyc.ops) + 1  # plus the merged-table check
    failed += bool(merged_problems)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": statistics.median(x["ops"] / x["wall_s"]
                                       for x in cycles),
        "latency_p50_s": lat["p50_s"],
        "latency_tail_s": lat["tail_s"],
        "rows_per_s": statistics.median(x["rows"] / x["wall_s"]
                                        for x in cycles),
    }
    layers = {
        "session.start_s": start_s,
        "session.dispatch_s": dispatch,
        "session.peak_rss_mb": peak_rss,
        "catalog.first_load_s": catalog["first_load_s"],
        "catalog.schema_jobs": catalog["schema_jobs"],
        "failed_op_share": failed / attempted,
        "etl.bytes_stored_per_user_byte": stored / user_bytes,
    }
    if trace:
        api_window = [sum(u["api"][i] for u in cycles) for i in range(3)]
        layers.update(etl_layers(
            ok, api_window,
            sum(inputs.update_user_bytes[u["cycle"]] for u in cycles)))
        window_s = sum(u["wall_s"] for u in units)
        layers["trace.overhead_share"] = overhead_s / window_s
    artifact = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "host": {**host.record(), "session.dispatch_s": dispatch},
        "warmup_curve_s": curve,
        "warmup_flat": harness.warmup_flat(curve, units),
        "timed_cycles": units, "latency": lat,
        "merged_check": merged_problems or "ok",
        "stored_bytes": stored, "user_bytes": user_bytes,
        "ops": cyc.ops,
    }
    if trace:
        artifact["spans"] = tracer.dump(t_origin)
    return {"attempted": attempted, "failed": failed, "e2e": e2e,
            "layers": layers, "artifact": artifact}


def etl_layers(ops: list[dict], api_window: tuple, update_bytes: int,
               ) -> dict:
    """Per-layer metrics over the timed operations of a traced run."""
    def of(kind):
        return [r for r in ops if r["kind"] == kind]

    def total(recs, key):
        return sum(r["counters"][key] for r in recs)

    jobs = of("job.pull") + of("job.push")
    sink = [r["files"] for r in of("job.pull") + of("etl.ingest")]
    merged = [r["files"] for r in of("streaming.merge")]
    files = sum(f["files"] for f in sink)
    return {
        "job.pull_s": statistics.median(r["latency_s"]
                                        for r in of("job.pull")),
        "job.push_s": statistics.median(r["latency_s"]
                                        for r in of("job.push")),
        "job.jobs": total(jobs, "jobs"),
        "job.tasks": total(jobs, "tasks"),
        "etl.rest.pages": api_window[0],
        "etl.rest.records": api_window[1],
        "etl.rest.api_wait_s": api_window[2],
        "etl.ingest.s": statistics.median(r["latency_s"]
                                          for r in of("etl.ingest")),
        "etl.ingest.rows": sum(r["rows"] for r in of("etl.ingest")),
        "etl.ingest.tasks": total(of("etl.ingest"), "tasks"),
        "etl.sink.files_written": files,
        "etl.sink.bytes_written": sum(f["bytes"] for f in sink),
        "etl.sink.files_per_hour_partition": files / max(
            1, sum(f["partitions"] for f in sink)),
        "etl.sink.small_file_share": sum(f["small"] for f in sink) / max(
            1, files),
        "streaming.batch_s": statistics.median(
            r["latency_s"] for r in of("streaming.merge")),
        "streaming.rows": sum(r["progress_rows"]
                              for r in of("streaming.merge")),
        "etl.merge.partitions_rewritten": sum(f["partitions"]
                                              for f in merged),
        "etl.merge.bytes_rewritten_per_update_byte": sum(
            f["bytes"] for f in merged) / update_bytes,
        "etl.checkpoint.commits": sum(r.get("commits", 0) for r in ops),
        "etl.checkpoint.watermark_errors": sum(
            r.get("watermark_errors", 0) for r in ops),
    }
