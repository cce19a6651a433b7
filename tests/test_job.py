"""Event-contract tests: the reference's lambda_handler semantics on Spark.

Table stakes from lambda_function.py:20-84 / CommCareAPIHandler.py:
validation error dicts, windowed pull with server-side params, lag,
checkpoint advance rules (never on custom ranges), error budget,
per-specifier push fan-out, missing-prefix no-op.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pytest

from data_and_analytics_etl_spark.job import handle_event

T0 = dt.datetime(2024, 3, 1, 12, 0, 0)


def make_pull_transport(n_records=25, page=10):
    """Fake API: n_records per data_type, keyset pages, dual-format
    indexed_on (the reference's two formats, alternating)."""
    calls = []

    def t(params):
        calls.append(dict(params))
        start = int(params.get("cursor") or 0)
        end = min(start + int(params["limit"]), n_records)
        objs = []
        for i in range(start, end):
            ts = T0 - dt.timedelta(hours=n_records - i)
            raw = (ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ") if i % 2 == 0
                   else ts.strftime("%Y-%m-%dT%H:%M:%S"))
            objs.append({"case_id": f"c{i}", "indexed_on": raw,
                         "domain": params["domain"]})
        return {"meta": {"next": str(end) if end < n_records else ""},
                "objects": objs}
    t.calls = calls
    return t


class TestValidation:
    def test_missing_domain(self, spark, tmp_path):
        out = handle_event(spark, {"operation_type": "cc_to_s3"},
                           transport=lambda p: {}, data_root=str(tmp_path))
        assert out["statusCode"] == 400 and "domain" in out["error"]

    def test_bad_operation_type(self, spark, tmp_path):
        out = handle_event(spark, {"domain": "d", "operation_type": "nope"},
                           transport=lambda p: {}, data_root=str(tmp_path))
        assert out["statusCode"] == 400 and "operation_type" in out["error"]

    def test_pull_requires_api_info(self, spark, tmp_path):
        out = handle_event(spark, {"domain": "d",
                                   "operation_type": "cc_to_s3"},
                           transport=lambda p: {}, data_root=str(tmp_path))
        assert out["statusCode"] == 400 and "api_info" in out["error"]


class TestPull:
    def test_pull_lands_partitioned_data_and_checkpoints(self, spark,
                                                         tmp_path):
        t = make_pull_transport()
        event = {"domain": "dom", "operation_type": "cc_to_s3",
                 "api_info": {"case": {"limit": 10}}}
        out = handle_event(spark, event, transport=t,
                           data_root=str(tmp_path), event_time=T0)
        assert out["statusCode"] == 200
        assert out["datasets"]["case"]["rows_landed"] == 25
        # hourly layout from the normalized dual-format timestamps
        assert glob.glob(str(tmp_path / "dom" / "case" /
                             "year=2024/month=*/day=*/hour=*/*.parquet"))
        # server-side pushdown params sent (A3/A4)
        assert t.calls[0]["order_by"] == "indexed_on"
        assert t.calls[0]["indexed_on_end"].startswith("2024-03-01T11:55")
        # pagination: 25 records at limit 10 -> 3 requests
        assert len(t.calls) == 3

    def test_second_run_window_starts_at_watermark(self, spark, tmp_path):
        t = make_pull_transport()
        event = {"domain": "dom", "operation_type": "cc_to_s3",
                 "api_info": {"case": {"limit": 10}}}
        handle_event(spark, event, transport=t, data_root=str(tmp_path),
                     event_time=T0)
        t2 = make_pull_transport(n_records=0)
        handle_event(spark, event, transport=t2, data_root=str(tmp_path),
                     event_time=T0 + dt.timedelta(hours=1))
        # run 2's window starts at run 1's committed end (T0 - 5min lag)
        assert t2.calls[0]["indexed_on_start"].startswith("2024-03-01T11:55")

    def test_custom_range_never_advances_checkpoint(self, spark, tmp_path):
        t = make_pull_transport()
        event = {"domain": "dom", "operation_type": "cc_to_s3",
                 "custom_date_range": {
                     "start_time": "2024-02-01T00:00:00.000000Z",
                     "end_time": "2024-02-02T00:00:00.000000Z"},
                 "api_info": {"case": {"limit": 10}}}
        handle_event(spark, event, transport=t, data_root=str(tmp_path),
                     event_time=T0)
        from data_and_analytics_etl_spark.etl.checkpoint import (
            CheckpointManifest)
        ckpt = CheckpointManifest(str(tmp_path / "dom"), "case")
        assert ckpt.read_watermark() is None
        # custom bounds forwarded verbatim, lag not applied
        assert t.calls[0]["indexed_on_start"] == "2024-02-01T00:00:00.000000Z"
        assert t.calls[0]["indexed_on_end"] == "2024-02-02T00:00:00.000000Z"

    def test_error_budget_tolerates_failing_types(self, spark, tmp_path):
        good = make_pull_transport(n_records=5)

        def flaky(params):
            if params["data_type"] == "bad":
                raise ConnectionError("api down")
            return good(params)
        event = {"domain": "dom", "operation_type": "cc_to_s3",
                 "api_info": {"bad": {"limit": 10}, "case": {"limit": 10}}}
        out = handle_event(spark, event, transport=flaky,
                           data_root=str(tmp_path), event_time=T0)
        assert out["statusCode"] == 200
        assert "error" in out["datasets"]["bad"]
        assert out["datasets"]["case"]["rows_landed"] == 5


class TestPush:
    def test_push_fans_out_per_record(self, spark, tmp_path):
        src = tmp_path / "dom" / "payload" / "spec1"
        os.makedirs(src)
        for i in range(7):
            with open(src / f"{i}.json", "w") as f:
                json.dump({"form_id": f"f{i}", "v": i}, f)
        seen = str(tmp_path / "seen")
        os.makedirs(seen)

        def push(req):
            assert req["method"] == "PATCH"
            with open(os.path.join(seen, req["payload"]["form_id"]),
                      "w") as f:
                f.write("1")
        event = {"domain": "dom", "operation_type": "s3_to_cc",
                 "specifiers": {"spec1": {"method": "PATCH"}}}
        out = handle_event(spark, event, transport=push,
                           data_root=str(tmp_path))
        assert out["statusCode"] == 200 and out["pushed"]["spec1"] == 7
        assert len(os.listdir(seen)) == 7

    def test_push_from_file_uri_root(self, spark, tmp_path):
        # a file:// data root: the prefix check goes through the Hadoop
        # FS, so the records are pushed (os.path.isdir saw no prefix)
        src = tmp_path / "dom" / "payload" / "spec1"
        os.makedirs(src)
        with open(src / "part.json", "w") as f:
            for i in range(5):
                f.write(json.dumps({"form_id": f"f{i}"}) + "\n")
        seen = str(tmp_path / "seen")
        os.makedirs(seen)

        def push(req):
            with open(os.path.join(seen, req["payload"]["form_id"]),
                      "w") as f:
                f.write("1")
        event = {"domain": "dom", "operation_type": "s3_to_cc",
                 "specifiers": {"spec1": {"method": "POST"},
                                "ghost": {"method": "POST"}}}
        out = handle_event(spark, event, transport=push,
                           data_root=tmp_path.as_uri())
        assert out["statusCode"] == 200
        assert out["pushed"] == {"spec1": 5, "ghost": 0}
        assert sorted(os.listdir(seen)) == [f"f{i}" for i in range(5)]

    def test_missing_prefix_is_clean_noop(self, spark, tmp_path):
        event = {"domain": "dom", "operation_type": "s3_to_cc",
                 "specifiers": {"ghost": {"method": "POST"}}}
        out = handle_event(spark, event, transport=lambda p: None,
                           data_root=str(tmp_path))
        assert out["statusCode"] == 200 and out["pushed"]["ghost"] == 0


class TestTierAEdges:
    def test_test_mode_suffixes_data_and_checkpoint_paths(self, spark,
                                                          tmp_path):
        # ref CommCareAPIHandler.py:71-77: filepath AND stored-param
        # path get '-test'; production layout stays untouched
        t = make_pull_transport()
        event = {"domain": "dom", "operation_type": "cc_to_s3",
                 "test_mode": 1, "api_info": {"case": {"limit": 10}}}
        out = handle_event(spark, event, transport=t,
                           data_root=str(tmp_path), event_time=T0)
        assert out["statusCode"] == 200
        assert glob.glob(str(tmp_path / "dom" / "case-test" /
                             "year=2024/month=*/day=*/hour=*/*.parquet"))
        assert not (tmp_path / "dom" / "case").exists()
        from data_and_analytics_etl_spark.etl.checkpoint import (
            CheckpointManifest)
        root = str(tmp_path / "dom")
        assert CheckpointManifest(root, "case-test").read_watermark() \
            is not None
        assert CheckpointManifest(root, "case").read_watermark() is None

    def test_action_times_window_param_mapping(self, spark, tmp_path):
        # ref :195-199: the window filter is named UTC_start_time_start/
        # end for action_times-style types, with NO order_by pushdown
        calls = []

        def t(params):
            calls.append(dict(params))
            start = int(params.get("cursor") or 0)
            end = min(start + int(params["limit"]), 8)
            objs = [{"rec_id": f"r{i}",
                     "UTC_start_time":
                         (T0 - dt.timedelta(hours=8 - i))
                         .strftime("%Y-%m-%dT%H:%M:%S.%fZ")}
                    for i in range(start, end)]
            return {"meta": {"next": str(end) if end < 8 else ""},
                    "objects": objs}

        event = {"domain": "dom", "operation_type": "cc_to_s3",
                 "api_info": {"action_times": {
                     "limit": 5, "window_param": "UTC_start_time"}}}
        out = handle_event(spark, event, transport=t,
                           data_root=str(tmp_path), event_time=T0)
        assert out["statusCode"] == 200
        assert out["datasets"]["action_times"]["rows_landed"] == 8
        assert calls[0]["UTC_start_time_end"].startswith("2024-03-01T11:55")
        assert "order_by" not in calls[0]
        assert "indexed_on_start" not in calls[0]
        assert glob.glob(str(tmp_path / "dom" / "action_times" /
                             "year=2024/month=*/day=*/hour=*/*.parquet"))


class TestStagingUrl:
    def test_staging_swaps_base_and_strips_prefix(self):
        from data_and_analytics_etl_spark.job import api_base_url
        url = api_base_url("staging-acme", "case", "v0.5",
                           base_url="https://prod.example.com",
                           staging_base_url="https://staging.example.com",
                           is_staging=True)
        assert url == "https://staging.example.com/a/acme/api/v0.5/case/"

    def test_production_uses_base_verbatim(self):
        from data_and_analytics_etl_spark.job import api_base_url
        url = api_base_url("acme", "form", "v0.5",
                           base_url="https://prod.example.com")
        assert url == "https://prod.example.com/a/acme/api/v0.5/form/"

    def test_staging_requires_staging_base(self):
        import pytest as _pytest
        from data_and_analytics_etl_spark.job import api_base_url
        with _pytest.raises(ValueError):
            api_base_url("acme", "case", "v0.5",
                         base_url="https://prod.example.com",
                         is_staging=True)
