"""The ``query_mix`` workload: registry probes run one at a time by one
client, each written to a ``noop`` sink.

An operation is one probe: its construction (the registry callable,
which also pays file listing, analysis and any eager rounds) plus its
execution. Users pay for both, so both count in its latency.

Run order inside a run: generated corpus and oracle hashes (cached, not
timed) -> session start -> catalog first touch -> warm-up passes ->
timed passes. The first warm-up pass collects every probe and compares
its hash with the DuckDB oracle; the noop passes that follow bring the
JIT curve to its flat part before the timed passes start. Set-up time
covers the session start, the catalog touch and every warm-up pass.

``rows_per_s`` counts, for each probe run, the corpus rows of the tables
its oracle query reads (fixed by the corpus, not by the plan), so a plan
that prunes or pushes down reads fewer rows without lowering the figure.
"""

from __future__ import annotations

import random
import statistics
import time

from . import harness
from .telemetry import Tracer, cache_entries, latency_summary

#: fixed seed of the generated corpus, like the fixed-seed test corpus;
#: the run seed sets the operation order
CORPUS_SEED = 42

#: Warm-up after the check pass: a fixed number of noop passes, so every
#: run's timed window sits at the same point of the JIT curve. In one
#: process on a 4-core host a pass of these probes took 8.5 (first),
#: 3.8, 3.1, 3.2, 3.0, 2.9, 2.8, 2.9, 3.1, 3.4, 2.8 s and then held
#: 2.1-2.9 s for 34 more passes. A window on passes 5-10 moved 10-30%
#: between runs with how fast each process came down that curve; the
#: window now starts at pass 8. The artifact's ``warmup_flat``
#: (``harness.warmup_flat``) says whether the timed passes still ran
#: faster than the last warm-up passes.
WARM_PASSES = 7

#: Planning, dispatch and task launch dominate at this scale: relational,
#: window, dedup and sessionization probes that each run a few
#: sub-second jobs.
SF = 0.01
PROBES = ("b1_pricing_summary", "b2_shipping_priority", "b3_star_join",
          "b4_topk_per_group", "b5_running_sum", "b7_exact_dedup",
          "b9_sessionization", "b17_segment_dedup")
#: expected seconds of one warm pass on a 4-core host; sets how many
#: whole passes a --seconds window holds, so the operation count is
#: fixed for a given --seconds
NOMINAL_PASS_S = 2.75
#: per-layer metrics this workload does not exercise (reported as 0)
NOT_EXERCISED = ("job.", "etl.", "streaming.")


class ProbeRunner:
    def __init__(self, spark, tracer: Tracer, table_dir: str):
        from bench import BENCH_QUERIES
        from data_and_analytics_etl_spark.queries import REGISTRY

        self.spark = spark
        self.tracer = tracer
        self.table_dir = table_dir
        self.fns = {b: REGISTRY[p].fn for b, p in BENCH_QUERIES.items()}
        self.ops: list[dict] = []

    def run(self, bench_id: str, phase: str, collect: bool = False) -> dict:
        """One operation. Returns its record: latency, and with tracing
        on the construct/execute counters and cache entries left."""
        op_id = len(self.ops)
        rec = {"op": op_id, "probe": bench_id, "phase": phase}
        tr = self.tracer
        try:
            with tr.span("queries.op", op_id, probe=bench_id) as op:
                with tr.span("queries.construct", op_id, group=True) as c:
                    df = self.fns[bench_id](self.spark, self.table_dir)
                with tr.span("queries.execute", op_id, group=True) as x:
                    if collect:
                        rec["rows"] = [tuple(r) for r in df.collect()]
                        rec["columns"] = df.columns
                    else:
                        df.write.format("noop").mode("overwrite").save()
            rec["latency_s"] = op["end"] - op["start"]
            rec["construct_s"] = c["end"] - c["start"]
            rec["execute_s"] = x["end"] - x["start"]
            if tr.enabled:
                rec["construct"] = c["counters"]
                rec["execute"] = x["counters"]
                t0 = time.perf_counter()
                rec["cache_entries_left"] = cache_entries(self.spark)
                tr.overhead_s += time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        self.spark.catalog.clearCache()
        self.ops.append(rec)
        return rec


def run(name: str, seed: int, seconds: int, trace: bool) -> dict:
    from bench import BENCH_QUERIES

    probes = PROBES
    host = harness.Host()
    table_dir, oracle, input_rows = harness.cached_corpus(
        name, SF, CORPUS_SEED, {b: BENCH_QUERIES[b] for b in probes})
    run_dir = harness.new_run_dir(name, seed)

    rng = random.Random(seed)
    t_origin = time.perf_counter()
    spark = harness.start_session(run_dir)
    start_s = time.perf_counter() - t_origin
    try:
        tracer = Tracer(spark, trace)
        runner = ProbeRunner(spark, tracer, table_dir)
        catalog = harness.catalog_first_touch(spark, table_dir)

        # warm-up pass 1: collect and check every probe against its
        # oracle
        mismatches: dict[str, str] = {}
        pass_s = 0.0
        for b in rng.sample(probes, len(probes)):
            rec = runner.run(b, "check", collect=True)
            pass_s += rec.get("latency_s", 0.0)
            if "error" in rec:
                continue
            got = harness.vhash(rec.pop("rows"), rec.pop("columns"))
            if got != oracle[b]:
                rec["check_failed"] = True
                mismatches[b] = f"{got} != oracle {oracle[b]}"
        curve = [pass_s]
        for _ in range(WARM_PASSES):
            order = rng.sample(probes, len(probes))
            curve.append(sum(runner.run(b, "warm").get("latency_s", 0.0)
                             for b in order))
        setup_s = start_s + catalog["first_load_s"] + sum(curve)
        dispatch = harness.dispatch_s(spark)

        # timed window: a fixed number of whole passes for this --seconds
        def one_pass() -> dict:
            t0 = time.perf_counter()
            order = rng.sample(probes, len(probes))
            recs = [runner.run(b, "timed") for b in order]
            return {"wall_s": time.perf_counter() - t0,
                    "op_s": sum(r.get("latency_s", 0.0) for r in recs),
                    "ops": len(recs),
                    "rows": sum(input_rows.get(b, 0) for b in order),
                    "recs": recs}
        overhead0 = tracer.overhead_s
        units = host.timed(one_pass, max(1, round(seconds / NOMINAL_PASS_S)))
        overhead_s = tracer.overhead_s - overhead0
        passes = [u for u in units if u["kept"]]
        timed = [r for u in passes for r in u["recs"]]
        for u in units:
            u["first_op"] = u.pop("recs")[0]["op"]
        peak_rss = harness.jvm_peak_rss_mb(spark)
    finally:
        harness.stop_session(spark)
        harness.remove_run_dir(run_dir)

    ok = [r for r in timed if "error" not in r]
    lat = latency_summary([r["latency_s"] for r in ok] or [0.0])
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": statistics.median(p["ops"] / p["wall_s"]
                                       for p in passes),
        "latency_p50_s": lat["p50_s"],
        "latency_tail_s": lat["tail_s"],
        "rows_per_s": statistics.median(p["rows"] / p["wall_s"]
                                        for p in passes),
    }
    failed = sum(1 for r in runner.ops if "error" in r or
                 r.get("check_failed"))
    layers = {
        "session.start_s": start_s,
        "session.dispatch_s": dispatch,
        "session.peak_rss_mb": peak_rss,
        "catalog.first_load_s": catalog["first_load_s"],
        "catalog.schema_jobs": catalog["schema_jobs"],
        "failed_op_share": failed / len(runner.ops),
    }
    if trace:
        layers.update(query_layers(ok, probes))
        window_s = sum(u["wall_s"] for u in units)
        layers["trace.overhead_share"] = overhead_s / window_s
    artifact = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "sf": SF, "corpus_seed": CORPUS_SEED, "probes": probes,
        "host": {**host.record(), "session.dispatch_s": dispatch},
        "warmup_curve_s": curve,
        "warmup_flat": harness.warmup_flat(curve, units),
        "timed_passes": units,
        "latency": lat,
        "check_mismatches": mismatches,
        "input_rows_per_probe": input_rows,
        "ops": runner.ops,
    }
    if trace:
        artifact["spans"] = tracer.dump(t_origin)
        artifact["probe_counts"] = probe_spread(ok, probes)
    return {"attempted": len(runner.ops), "failed": failed, "e2e": e2e,
            "layers": layers, "artifact": artifact}


def query_layers(ops: list[dict], probes: tuple[str, ...]) -> dict:
    """The ``queries.*`` per-layer metrics over the timed operations."""
    c = {k: sum(r["construct"][k] for r in ops) for k in ops[0]["construct"]}
    x = {k: sum(r["execute"][k] for r in ops) for k in ops[0]["execute"]}
    exec_wall = sum(r["execute_s"] for r in ops)
    out = {
        "queries.construct_s": sum(r["construct_s"] for r in ops),
        "queries.construct_jobs": c["jobs"],
        "queries.jobs": c["jobs"] + x["jobs"],
        "queries.stages": c["stages"] + x["stages"],
        "queries.tasks": c["tasks"] + x["tasks"],
        "queries.executor_run_s": c["executor_run_s"] + x["executor_run_s"],
        "queries.executor_cpu_s": c["executor_cpu_s"] + x["executor_cpu_s"],
        "queries.busy_cores": x["executor_run_s"] / exec_wall,
        "queries.shuffle_read_bytes": (c["shuffle_read_bytes"]
                                       + x["shuffle_read_bytes"]),
        "queries.shuffle_write_bytes": (c["shuffle_write_bytes"]
                                        + x["shuffle_write_bytes"]),
        "queries.spill_bytes": c["spill_bytes"] + x["spill_bytes"],
        "queries.input_bytes": c["input_bytes"] + x["input_bytes"],
        "queries.cache_entries_left": sum(r["cache_entries_left"]
                                          for r in ops),
    }
    for b in probes:
        mine = [r for r in ops if r["probe"] == b]
        out[f"queries.{b}.p50_s"] = statistics.median(
            r["latency_s"] for r in mine)
        out[f"queries.{b}.tasks"] = statistics.median(
            r["construct"]["tasks"] + r["execute"]["tasks"] for r in mine)
    return out


def probe_spread(ops: list[dict], probes: tuple[str, ...]) -> dict:
    """[min, median, max] of each probe's latency, stages and tasks over
    the timed operations: AQE can change a plan's stage count by one
    from run to run."""
    def mmm(xs):
        return [min(xs), statistics.median(xs), max(xs)]
    out = {}
    for b in probes:
        mine = [r for r in ops if r["probe"] == b]
        out[b] = {"latency_s": mmm([r["latency_s"] for r in mine])}
        for k in ("stages", "tasks"):
            out[b][k] = mmm([r["construct"][k] + r["execute"][k]
                             for r in mine])
    return out
