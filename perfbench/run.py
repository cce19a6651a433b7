"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 \
        --seconds 15 --trace 0

Run from the root of a checkout. Workloads: ``query_mix`` (registry
probes, ``perfbench/query_workloads.py``) and ``etl_cycle`` (the pull ->
ingest -> merge -> push dataflow, ``perfbench/etl_cycle.py``).
Each runs as a closed loop with one client against ``local[4]``.

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` is a separate run that records spans and per-operation
Spark counters and reports the per-layer metrics. Either way the full
record (warm-up curve, timed passes, host provenance, every operation,
and spans when traced) is written to
``.perfbench_work/out/<workload>-seed<seed>-trace<0|1>.json``, and the last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("query_mix", "etl_cycle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import data_and_analytics_etl_spark  # noqa: F401
        import bench  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    if args.workload == "etl_cycle":
        from perfbench import etl_cycle as wl
    else:
        from perfbench import query_workloads as wl
    res = wl.run(args.workload, args.seed, args.seconds, bool(args.trace))

    from perfbench.harness import WORK
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    art = res["artifact"]
    art["e2e"] = res["e2e"]
    art["layers"] = res["layers"]
    if args.trace:
        # tracing overhead against the untraced run of the same seed
        try:
            with open(f"{stem}-trace0.json") as fh:
                base = json.load(fh)["e2e"]["ops_per_s"]
            art["tracing_overhead_vs_untraced"] = {
                "ops_per_s_untraced": base,
                "ops_per_s_traced": res["e2e"]["ops_per_s"],
                "slowdown_share": 1 - res["e2e"]["ops_per_s"] / base}
        except (OSError, KeyError, ValueError):
            art["tracing_overhead_vs_untraced"] = None
    path = f"{stem}-trace{args.trace}.json"
    with open(path, "w") as fh:
        json.dump(art, fh, indent=1, default=str)

    # every metric BENCHMARK.json declares. Only a layer the workload
    # declares it does not exercise reads 0; any other missing name is
    # an error, so a misspelt or dropped metric cannot pass as 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    values = res["layers" if args.trace else "e2e"]
    missing = [m["name"] for m in declared if m["name"] not in values
               and not (args.trace and m["name"].startswith(
                   wl.NOT_EXERCISED))]
    if missing:
        print(f"perfbench: {args.workload} produced no value for "
              f"{missing}", file=sys.stderr)
        return 3
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in declared}
    print(f"perfbench: {args.workload} seed={args.seed} "
          f"warmup_curve_s={[round(x, 3) for x in art['warmup_curve_s']]} "
          f"artifact={os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
