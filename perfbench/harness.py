"""Run plumbing shared by the workloads: the work directory, the engine
session's start and stop, host provenance and the cached corpus.

Everything a run writes stays under ``<checkout>/.perfbench_work``: Spark's
local dirs, the JVM's temp dir, generated inputs and the run artifacts.
"""

from __future__ import annotations

import functools
import importlib.util
import json
import os
import shutil
import statistics
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: executor slots the engine session runs with (``local[4]``)
CPUS = 4

#: a timed pass or cycle whose own window saw more hypervisor steal than
#: this share of CPU time is re-run, at most STEAL_RERUNS extra times —
#: bench.py's policy (its BENCH_RERUN_STEAL_PCT default); one re-run
#: keeps a stolen run inside the per-run time budget
STEAL_PCT = 2.0
STEAL_RERUNS = 1

#: the warm-up counts as flat when the timed units' median is at most
#: this share faster than the median of the last three warm-up units
FLAT = 0.10


def warmup_flat(curve: list[float], units: list[dict]) -> bool:
    """Whether the timed window sat past the warm-up curve's drop."""
    timed = statistics.median(u["op_s"] for u in units if u["kept"])
    return timed >= (1 - FLAT) * statistics.median(curve[-3:])


@functools.cache
def _verify_probes():
    spec = importlib.util.spec_from_file_location(
        "verify_probes", os.path.join(ROOT, "scripts", "verify_probes.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def vhash(rows, cols) -> str:
    """The order-insensitive, type-tagged result hash of
    ``scripts/verify_probes.py``."""
    return _verify_probes().vhash(rows, cols)


def prepare_env(run_dir: str) -> None:
    """Point every temp and scratch location of this process, the JVM
    and the Python workers into ``run_dir``. Must run before the JVM
    starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # spark-submit's launcher JVM, which builds the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={tmp}")
    # Python workers import the program (and perfbench.endpoint) by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])


def new_run_dir(workload: str, seed: int) -> str:
    """A fresh scratch directory for one run."""
    d = os.path.join(WORK, "runs", f"{workload}-seed{seed}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    prepare_env(d)
    return d


def remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)


def catalog_first_touch(spark, table_dir: str,
                        names: list[str] | None = None) -> dict:
    """Register every corpus table, or load only ``names`` (the
    schema-inference jobs run here, once per table and process); timed,
    with the jobs it started."""
    from data_and_analytics_etl_spark.catalog import load_table, register_all

    from .telemetry import stage_counters

    sc = spark.sparkContext
    sc.setJobGroup("perfbench-catalog", "catalog first touch")
    t0 = time.perf_counter()
    if names is None:
        register_all(spark, table_dir)
    else:
        for n in names:
            load_table(spark, table_dir, n)
    first_load_s = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    return {"first_load_s": first_load_s,
            "schema_jobs": stage_counters(spark, "perfbench-catalog")[
                "jobs"]}


def start_session(run_dir: str):
    """Start the engine's own session factory on ``local[4]``."""
    from data_and_analytics_etl_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            "-XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, then reap
            proc.kill()
            proc.wait(timeout=30)


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the JVM process, in MiB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dispatch_s(spark, n: int = 5) -> float:
    """Median round trip of a trivial noop-sink job — the op every
    probe pays, the same probe ``bench.py`` records."""
    def once() -> float:
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    once()
    return statistics.median(once() for _ in range(n))


class Host:
    """Host provenance for the artifact, using ``bench.py``'s helpers."""

    def __init__(self):
        import bench
        self._bench = bench
        self.load_start = [round(x, 2) for x in os.getloadavg()]
        self.cpu_model, self.cpu_benchmark_s = bench._cpu_fingerprint()
        self.steal_pct = 0.0

    def _steal_since(self, start: tuple[int, int]) -> float:
        s1, t1 = self._bench._cpu_jiffies()
        s0, t0 = start
        return 100.0 * (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0

    def timed(self, run_unit, n: int) -> list[dict]:
        """The timed window: ``n`` runs of ``run_unit()`` (a pass or a
        cycle), each tagged with the steal its own window saw. A unit
        over STEAL_PCT is re-run, at most STEAL_RERUNS extra times; each
        unit's ``kept`` marks the ``n`` the metrics use — clean units in
        run order, then the least-stolen."""
        window = self._bench._cpu_jiffies()
        units: list[dict] = []
        while True:
            start = self._bench._cpu_jiffies()
            unit = run_unit()
            unit["steal_pct"] = self._steal_since(start)
            units.append(unit)
            clean = sum(u["steal_pct"] <= STEAL_PCT for u in units)
            if len(units) >= n and (clean >= n
                                    or len(units) >= n + STEAL_RERUNS):
                break
        self.steal_pct = self._steal_since(window)

        def rank(i):
            st = units[i]["steal_pct"]
            return (st > STEAL_PCT, st if st > STEAL_PCT else i)
        keep = set(sorted(range(len(units)), key=rank)[:n])
        for i, u in enumerate(units):
            u["kept"] = i in keep
        return units

    def record(self) -> dict:
        return {"loadavg_start": self.load_start,
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                "steal_pct_timed_window": round(self.steal_pct, 3),
                "cpu_model": self.cpu_model,
                "cpu_benchmark_s": self.cpu_benchmark_s,
                "nproc": os.cpu_count()}


def cached_corpus(name: str, sf: float, seed: int, probes: dict[str, str],
                  ) -> tuple[str, dict[str, str], dict[str, int]]:
    """Generated tables at ``sf``, each probe's DuckDB oracle hash and
    each probe's input rows.

    All three are made on first use in a checkout and kept under the
    work directory, outside every timed metric. A probe's input rows are
    the corpus rows of the tables its oracle query reads, so they are
    fixed by the corpus and do not depend on the plan of the program
    under test. Returns (table dir, {bench id: oracle hash},
    {bench id: input rows}).
    """
    from . import datagen

    final = os.path.join(WORK, "corpus", f"{name}-sf{sf}-seed{seed}")
    meta = os.path.join(final, "oracle.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            cached = json.load(fh)
        if (set(cached.get("hashes", {})) >= set(probes)
                and set(cached.get("input_rows", {})) >= set(probes)):
            return final, cached["hashes"], cached["input_rows"]
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.write_corpus(tmp, sf, seed)
    cached = oracle_facts(tmp, probes)
    with open(os.path.join(tmp, "oracle.json"), "w") as fh:
        json.dump(cached, fh)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final, cached["hashes"], cached["input_rows"]


def _base_tables(node, acc: set[str]) -> set[str]:
    """Names of the base tables a ``json_serialize_sql`` tree reads."""
    if isinstance(node, dict):
        if node.get("type") == "BASE_TABLE":
            acc.add(node["table_name"])
        for v in node.values():
            _base_tables(v, acc)
    elif isinstance(node, list):
        for v in node:
            _base_tables(v, acc)
    return acc


def oracle_facts(table_dir: str, probes: dict[str, str]) -> dict:
    """``vhash`` of each probe's DuckDB oracle result over ``table_dir``,
    and the corpus rows of the tables that oracle query reads."""
    import duckdb

    import __spark_entry__
    from data_and_analytics_etl_spark.catalog import TABLES, table_path

    osql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        rows = {}
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{table_path(table_dir, t)}')")
            rows[t] = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        hashes, input_rows = {}, {}
        for bench_id, probe in probes.items():
            cur = con.execute(osql[probe])
            hashes[bench_id] = vhash(cur.fetchall(),
                                     [d[0] for d in cur.description])
            tree = json.loads(con.execute(
                "SELECT json_serialize_sql(?::VARCHAR)",
                [osql[probe]]).fetchone()[0])
            input_rows[bench_id] = sum(
                rows[t] for t in _base_tables(tree, set()) & set(TABLES))
        return {"hashes": hashes, "input_rows": input_rows}
    finally:
        con.close()
