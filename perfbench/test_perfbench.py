"""Tests of the benchmark's own logic; no Spark session needed.

    python -m pytest perfbench -q

They show that a wrong answer is counted as a failure by each
workload's check, and pin the statistics and span arithmetic.
"""

from __future__ import annotations

import json
import math
import os
import sys
import types

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import analytics  # noqa: E402
import common  # noqa: E402
import dashboard  # noqa: E402
import datagen  # noqa: E402
import ingest  # noqa: E402
import tracer  # noqa: E402


# ------------------------------------------------------------- compare

def test_frame_mismatch_is_exact():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, float("nan")]})
    assert common.frame_mismatch(a, a.iloc[::-1]) is None  # order-free, NaN == NaN
    b = pd.DataFrame({"k": [1, 2], "v": [0.3, float("nan")]})
    assert common.frame_mismatch(a, b) is not None  # no tolerance
    assert common.frame_mismatch(a, a.iloc[:1]) is not None
    assert common.frame_mismatch(a, a.rename(columns={"v": "w"})) is not None


def test_checks_count_failures():
    c = common.Checks()
    c.record("ok", None)
    c.record("bad", "wrong")
    assert (c.attempted, c.failed) == (2, 1)


def test_stats():
    assert common.pct([1, 2, 3, 4], 0.5) == 2.5
    assert common.pct(range(11), 0.9) == 9.0
    assert math.isclose(common.geomean([1, 100]), 10.0)


# ----------------------------------------------------------- workloads

@pytest.fixture(scope="module")
def small_data(tmp_path_factory):
    return datagen.write(str(tmp_path_factory.mktemp("data")), 7, 0.001)


def test_datagen_is_seeded(tmp_path):
    a = datagen.build(3, 0.001, ("events", "documents"))
    b = datagen.build(3, 0.001, ("events",))
    c = datagen.build(4, 0.001, ("events",))
    assert a["events"].equals(b["events"])
    assert not a["events"].equals(c["events"])


def _dashboard(sf_dir):
    d = dashboard.Dashboard.__new__(dashboard.Dashboard)
    d.sf_dir = sf_dir
    d.spark = types.SimpleNamespace(version="9.9.9")
    return d


def test_dashboard_wrong_body_is_a_failure(small_data):
    d = _dashboard(small_data)
    oracle = dashboard.Oracle(small_data, "9.9.9")
    path = dashboard.ROUTES["global_recent"]
    status, body = oracle.expect("global_recent", path)
    bad = [dict(body[0], value=body[0]["value"] + 0.01)] + body[1:]
    wrong_status = (404, {"error": "not found"})
    checks = common.Checks()
    d.check(checks, {"responses": [
        ("global_recent", path, (status, body)),
        ("global_recent", path, (status, bad)),
        ("status", dashboard.ROUTES["status"], (200, {
            "status": "ok", "engine": "spark", "spark_version": "9.9.9"})),
        ("latest_info", dashboard.ROUTES["latest_info"].format(1599), wrong_status),
        ("latest_info", dashboard.ROUTES["latest_info"].format(3), wrong_status),
        ("new_count", dashboard.ROUTES["new_count"].format("weekly"), (400, {
            "error": "period must be one of ('hourly', 'daily', '5min')"})),
    ]})
    # the altered body and the 404 for a user that exists fail
    assert (checks.attempted, checks.failed) == (6, 2)


def test_ingest_source_and_wrong_sink_is_a_failure():
    src = ingest.EventSource(5)
    lines = [src.next_file(i) for i in range(4)]
    assert all(len(x) == ingest.PER_FILE for x in lines)
    assert len(src.events) == sum(src.unique_per_file)
    assert src.dups == 4 * ingest.PER_FILE - len(src.events) > 0
    again = ingest.EventSource(5)
    assert lines == [again.next_file(i) for i in range(4)]

    ing = ingest.Ingest.__new__(ingest.Ingest)
    ing.source = src
    ing.progress = {0: {"dropped": src.dups}}
    want = ing._expected()
    wrong = dict(want, latest=want["latest"][1:])
    ing._read = lambda name: wrong[name]
    checks = common.Checks()
    ing.check(checks, {"batches": [{"id": 0}]})
    assert (checks.attempted, checks.failed) == (6, 1)

    ing.progress = {0: {"dropped": src.dups - 1}}
    ing._read = lambda name: want[name]
    checks = common.Checks()
    ing.check(checks, {"batches": []})
    assert (checks.attempted, checks.failed) == (5, 1)


def test_analytics_wrong_result_is_a_failure(small_data, monkeypatch):
    a = analytics.Analytics.__new__(analytics.Analytics)
    a.sf_dir = small_data
    a.oracle_checked = False
    monkeypatch.setattr(analytics, "SLICE", ("value_percentiles", "kmv_distinct_per_type"))
    oracles = {
        "value_percentiles": "SELECT event_type, count(*) AS n FROM events GROUP BY 1",
        "kmv_distinct_per_type": "SELECT 1 AS x",
    }
    a.qm = types.SimpleNamespace(oracle_sql=lambda: oracles)
    right = pd.DataFrame({"x": [1]}).astype("int32")
    a.results = {
        "value_percentiles": pd.DataFrame({"event_type": ["click"], "n": [1]}),
        "kmv_distinct_per_type": right,
    }
    checks = common.Checks()
    a.check(checks, {"runs": [("q", 0.1, False), ("q", 0.2, False)], "errors": ["p0.q: boom"]})
    # two runs pass, one raised; one oracle result is wrong
    assert (checks.attempted, checks.failed) == (5, 2)


# -------------------------------------------------------------- tracer

def test_self_time_and_sql_metric_parsing():
    t = tracer.Tracer()
    t.spans = [
        {"id": 1, "parent": None, "root": "r", "name": "root.x", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "root": "r", "name": "api.a", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "root": "r", "name": "api.b", "start": 3.0, "end": 6.0},
        {"id": 4, "parent": 2, "root": "r", "name": "catalog.table", "start": 2.0, "end": 3.0},
    ]
    assert t.self_times() == {1: 5.0, 2: 2.0, 3: 3.0, 4: 1.0}
    s = t.layer_summary(1)
    assert s["selftime.api_ms_per_op"] == 5000.0
    assert s["catalog.table.calls_per_op"] == 1.0
    assert tracer.covered_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracer.parse_sql_metric("total (min, med, max (stageId: taskId))\n9.2 s (1 ms)") == 9.2
    assert tracer.parse_sql_metric("7.8 KiB") == 7.8 * 1024
    assert tracer.parse_sql_metric("1,000") == 1000
    dot = (
        'label="<b>MapInPandas</b><br><br>time to run Python workers total (min, med, '
        'max (stageId: taskId))<br>3.9 s (1.9 s, 2.0 s, 2.0 s (stage 0.0: task 1))<br>'
        'time to start Python workers total (min, med, max (stageId: taskId))<br>2.4 s '
        '(1.2 s)"\nlabel="<b>ArrowEvalPython</b><br><br>time to run Python workers total '
        '(min, med, max (stageId: taskId))<br>250 ms (250 ms)"'
    )
    assert math.isclose(tracer.python_worker_s_of_dot(dot), 4.15)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == {"dashboard", "ingest", "analytics"}
    per_layer = {m["name"] for m in spec["per_layer"]}
    for q in analytics.SLICE:
        assert {f"query.{q}.s", f"query.{q}.jobs"} <= per_layer
    e2e = {m["name"] for m in spec["end_to_end"]}
    dash = dashboard.Dashboard.end_to_end({
        "requests": [("status", 0.1, 0), ("status", 0.2, 0), ("status", 0.3, 0), ("geo", 0.8, 0)],
        "refresh_s": [(1.0, 0)], "wall_s": 2.0,
    })
    assert math.isclose(dash["latency_p50_ms"]["value"], 400.0)  # geomean of 200 and 800
    ing = ingest.Ingest.end_to_end({
        "freshness_s": [(1.0, 3, 0), (2.0, 1, 0)], "batches": [{"start": 0.0, "end": 1.5}],
        "events_per_s": 900.0,
    })
    ana = analytics.Analytics.end_to_end({
        "runs": [("a", 0.1, 0), ("a", 0.3, 0), ("b", 0.8, 0)],
    })
    assert math.isclose(ana["latency_p50_ms"]["value"], 400.0)  # geomean of 200 and 800
    assert math.isclose(ana["cycle_p50_ms"]["value"], 1000.0)  # 200 + 800
    assert math.isclose(ana["throughput_per_s"]["value"], 2.0)  # 2 queries a second
    assert {"setup_s", *dash} == {"setup_s", *ing} == {"setup_s", *ana} == e2e
    assert ing["latency_p50_ms"]["value"] == 1000.0  # weighted by events per file


def test_subset_splits_traced_from_untraced_ops():
    m = {
        "freshness_s": [(1.0, 3, 0), (2.0, 1, 1)],
        "batches": [{"id": 0, "traced": True, "start": 0, "end": 1},
                    {"id": 1, "traced": False, "start": 1, "end": 2}],
        "events_per_s": 1.0,
    }
    on, off = (ingest.Ingest.end_to_end(ingest.Ingest.subset(m, t)) for t in (True, False))
    assert (on["latency_p50_ms"]["value"], off["latency_p50_ms"]["value"]) == (1000.0, 2000.0)
    d = {"requests": [("a", 0.1, True), ("a", 0.3, False)],
         "refresh_s": [(1.0, True), (2.0, False)], "wall_s": 1.0}
    assert dashboard.Dashboard.subset(d, False)["requests"] == [("a", 0.3, False)]
    a = {"runs": [("q", 0.1, True), ("q", 0.3, False), ("r", 0.2, True)]}
    # a query seen only traced has nothing to be compared with
    assert analytics.Analytics.subset(a, True)["runs"] == [("q", 0.1, True)]
