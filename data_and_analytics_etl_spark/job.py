"""Job entry point: the reference's Lambda event contract, Spark-backed.

`handle_event` accepts the exact control-plane event the reference's
`lambda_handler` takes (lambda_function.py:20-84) and dispatches to
Spark jobs, so an operator of the reference can submit the events they
submit today:

- `domain` (required), `is_staging`, `test_mode` — routing/labeling;
- `operation_type` ∈ {cc_to_s3, s3_to_cc} (required; error dict
  otherwise, mirroring `err` at lambda_function.py:13-18);
- `custom_date_range{start_time, end_time}` — ISO-with-Z strings; a
  custom range disables lag AND checkpoint advance (:46-54 +
  CommCareAPIHandler.py:261);
- `use_lag` — nonzero ⇒ window end = event time − 5 minutes (:53,
  CommCareAPIHandler.py:65-69);
- `api_info` (pull) / `specifiers` (push) — per-entity config maps.

Differences by design (Spark-first, not a port): pages land as a
partitioned columnar dataset instead of raw JSON objects; the per-run
window filter is a pushed predicate; the push fan-out runs from
executors. Delivery remains at-least-once with write-then-commit
checkpointing; downstream dedup is first-class (operators/dedup.py).
"""

from __future__ import annotations

import datetime as dt
import os

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from .etl.checkpoint import CheckpointManifest
from .etl.errors import ErrorBudget, ErrorBudgetExceeded
from .etl.ingest import normalize_timestamp
from .etl.rest import Transport, rest_sink, rest_source
from .etl.sink import path_exists, write_partitioned

#: The reference's constants (lambda_function.py:59; CommCareAPIHandler.py:68,24).
REQUEST_LIMIT = 1000
LAG = dt.timedelta(minutes=5)
ERROR_BUDGET = 3
_ISO_Z = "%Y-%m-%dT%H:%M:%S.%fZ"


def _err(msg: str) -> dict:
    """400-style error dict (shape of lambda_function.py:13-18)."""
    return {"statusCode": 400, "error": msg}


def api_base_url(domain: str, data_type: str, version: str, *,
                 base_url: str, staging_base_url: str | None = None,
                 is_staging: bool = False) -> str:
    """The reference's URL construction incl. the staging rewrite (A19).

    Mirrors CommCareAPIHandler.api_base_url (CommCareAPIHandler.py:32-39):
    staging runs swap the base URL for ``staging_base_url`` AND strip a
    ``staging-`` prefix from the request domain (staging domains are
    conventionally named ``staging-<prod-domain>`` but the API itself
    addresses the bare domain). Use the result as the ``url`` option of
    the rest DataSource / HttpTransport:

        url = api_base_url("staging-acme", "case", "v0.5",
                           base_url="https://prod.example.com",
                           staging_base_url="https://staging.example.com",
                           is_staging=True)
        spark.read.format("rest").option("transport", "http")
             .option("url", url)...
    """
    if is_staging:
        if not staging_base_url:
            raise ValueError("is_staging requires staging_base_url")
        base = staging_base_url
        domain = domain.removeprefix("staging-")
    else:
        base = base_url
    return f"{base}/a/{domain}/api/{version}/{data_type}/"


def _parse_range(rng: dict) -> tuple[dt.datetime, dt.datetime]:
    return (dt.datetime.strptime(rng["start_time"], _ISO_Z),
            dt.datetime.strptime(rng["end_time"], _ISO_Z))


def handle_event(spark: SparkSession, event: dict, *, transport: Transport,
                 data_root: str,
                 event_time: dt.datetime | None = None) -> dict:
    """Validate + dispatch one control-plane event. Returns a status dict."""
    event_time = event_time or dt.datetime.now()
    domain = event.get("domain")
    if not domain:
        return _err("domain is required")
    op = event.get("operation_type")
    if op not in ("cc_to_s3", "s3_to_cc"):
        return _err(f"unsupported operation_type: {op!r}")

    if op == "cc_to_s3":
        api_info = event.get("api_info")
        if not api_info:
            return _err("api_info is required for cc_to_s3")
        return _pull(spark, event, transport, data_root, event_time)

    specifiers = event.get("specifiers")
    if not specifiers:
        return _err("specifiers is required for s3_to_cc")
    return _push(spark, event, transport, data_root)


def _window(event: dict, ckpt: CheckpointManifest,
            event_time: dt.datetime) -> tuple[dt.datetime | None,
                                              dt.datetime, bool]:
    """(start, end, is_custom): custom range verbatim (lag disabled),
    else (checkpoint watermark, event_time − lag]."""
    custom = event.get("custom_date_range")
    if custom:
        lo, hi = _parse_range(custom)
        return lo, hi, True
    use_lag = event.get("use_lag", 1) != 0
    return (ckpt.read_watermark(),
            event_time - (LAG if use_lag else dt.timedelta(0)), False)


def _pull(spark: SparkSession, event: dict, transport: Transport,
          data_root: str, event_time: dt.datetime) -> dict:
    domain = event["domain"]
    budget = ErrorBudget(ERROR_BUDGET)
    results: dict[str, dict] = {}

    # test_mode suffixes BOTH the landed-data path and the checkpoint
    # path with '-test' (CommCareAPIHandler.py:71-77: filepath AND
    # _get_stored_param_filepath), so test runs never touch production
    # data or advance the production watermark.
    suffix = "-test" if event.get("test_mode") else ""

    def pull_one(name: str, cfg: dict) -> dict:
        ckpt = CheckpointManifest(os.path.join(data_root, domain),
                                  name + suffix)
        lo, hi, is_custom = _window(event, ckpt, event_time)
        # Per-type window param naming (CommCareAPIHandler.py:185-199):
        # most types filter on indexed_on (with order_by pushdown); types
        # like action_times name the window UTC_start_time_start/end and
        # take no order_by. cfg['window_param'] generalizes the mapping.
        wp = cfg.get("window_param", "indexed_on")
        params = {  # server-side pushdown, the A3/A4 param block
            "domain": domain, "data_type": name,
            "limit": cfg.get("limit", 100),
            f"{wp}_start": lo.strftime(_ISO_Z) if lo else None,
            f"{wp}_end": hi.strftime(_ISO_Z),
        }
        if wp == "indexed_on":
            params["order_by"] = "indexed_on"
        df = rest_source(spark, transport, params,
                         request_limit=REQUEST_LIMIT)
        n = 0
        if wp in df.columns:
            from pyspark.sql import Observation
            df = df.withColumn(
                "indexed_on_ts", normalize_timestamp(F.col(wp)))
            dest = os.path.join(data_root, domain, name + suffix)
            # count THIS run's rows on the write pass itself (same as
            # etl/ingest.py): a re-read of the append-mode dest would be
            # cumulative across runs and cost a second full scan.
            obs = Observation(f"pull_{name}")
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            # aligned: REST pages arrive partitioned by window slice,
            # not by hour, so the write clusters them on the hour keys —
            # see sink.write_partitioned(align_partitions)
            write_partitioned(observed, dest, "indexed_on_ts",
                              align_partitions=True)
            n = int(obs.get["rows"])
        # write-then-commit; custom ranges never advance the watermark
        if not is_custom:
            ckpt.commit(hi, dataset=name)
        return {"rows_landed": n, "window_end": hi.strftime(_ISO_Z)}

    for name, cfg in event["api_info"].items():
        try:
            out = budget.run(name, lambda n=name, c=cfg: pull_one(n, c))
        except ErrorBudgetExceeded as exc:
            return {"statusCode": 500, "error": str(exc),
                    "datasets": results}
        results[name] = out if out else {"error": "failed (within budget)"}
    return {"statusCode": 200, "operation": "cc_to_s3",
            "domain": domain, "datasets": results}


def _push(spark: SparkSession, event: dict, transport: Transport,
          data_root: str) -> dict:
    domain = event["domain"]
    results: dict[str, int] = {}
    for specifier, cfg in event["specifiers"].items():
        src = os.path.join(data_root, domain, "payload", specifier)
        # through the Hadoop FS, so a file:// or object-store root counts
        if not path_exists(spark, src):
            results[specifier] = 0  # missing prefix = clean no-op (A12)
            continue
        results[specifier] = rest_sink(
            spark.read.json(src), transport,
            method=cfg.get("method", "POST"), max_failures=ERROR_BUDGET)
    return {"statusCode": 200, "operation": "s3_to_cc",
            "domain": domain, "pushed": results}
