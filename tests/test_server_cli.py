"""Serving-layer tests: stdlib HTTP adapter wire format + CLI ls/init."""

from __future__ import annotations

import json
import subprocess
import sys
import urllib.request

import pytest

import waddleml_spark as w
from waddleml_spark import state
from waddleml_spark.server import serve_in_thread


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    state.set_active_run(None)
    root = tmp_path_factory.mktemp("srv") / ".waddle"
    run = w.init(
        project="web", name="r1", config={"lr": 1e-3},
        store_path=str(root), system_metrics=False, spark=spark,
    )
    run.log({"loss": 0.9})
    run.log({"loss": 0.4})
    run.finish()
    server = serve_in_thread(run._store, port=0)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    yield base, run
    server.shutdown()
    state.set_active_run(None)


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as r:
        return r.status, json.loads(r.read())


def test_http_runs_and_run(served):
    base, run = served
    status, runs = _get(f"{base}/api/runs")
    assert status == 200
    assert [r["name"] for r in runs] == ["r1"]
    status, detail = _get(f"{base}/api/runs/{run.id}")
    assert status == 200
    assert detail["run"]["status"] == "completed"
    assert detail["params"] == {"lr": 0.001}
    # 404 wire parity (ref _server.py:45-50)
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base}/api/runs/nope")
    assert e.value.code == 404


def test_http_metrics_keys_summary_compare(served):
    base, run = served
    status, series = _get(f"{base}/api/runs/{run.id}/metrics?key=loss")
    assert [m["value"] for m in series] == [0.9, 0.4]
    status, keys = _get(f"{base}/api/metric-keys")
    assert keys == ["loss"]
    status, board = _get(f"{base}/api/metric-summary?key=loss")
    assert board == [{"run_id": run.id, "name": "r1", "value": 0.4}]
    req = urllib.request.Request(
        f"{base}/api/compare",
        data=json.dumps({"run_ids": [run.id]}).encode(),
        method="POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=30) as r:
        cmp = json.loads(r.read())
    assert cmp["metrics"]["loss"][0]["value"] == 0.9


def test_cli_ls_and_init(served, tmp_path, monkeypatch, capsys):
    base, run = served
    from waddleml_spark import cli

    # ls against the served store
    rc = cli.main(["ls", "--db", run._store.root])
    out = capsys.readouterr().out
    assert rc == 0
    assert "web" in out and "r1" in out and "completed" in out

    # init creates .waddle + gitignore entry
    monkeypatch.chdir(tmp_path)
    rc = cli.main(["init"])
    out = capsys.readouterr().out
    assert rc == 0
    assert (tmp_path / ".waddle").is_dir()
    assert ".waddle/" in (tmp_path / ".gitignore").read_text()


def test_dashboard_index_served(served):
    base, run = served
    with urllib.request.urlopen(f"{base}/", timeout=30) as r:
        body = r.read().decode()
    assert r.status == 200
    assert "waddleml-spark" in body and "/api/runs" in body


def test_dashboard_ui_references_parity_endpoints(served):
    """Reference-parity front-end (waddle/static/index.html behaviors:
    per-metric charts :301-414, param-diff :373-389, client search
    :184-213, live socket :443-481): the served page must wire every
    backing endpoint and the live channels."""
    base, run = served
    with urllib.request.urlopen(f"{base}/", timeout=30) as r:
        body = r.read().decode()
    for needle in (
        "/api/runs",            # run list + detail
        "/metrics?limit",       # per-run series for the charts
        "/api/compare",         # multi-run comparison overlays
        "/api/metric-keys",     # overview selector
        "/api/metric-summary",  # final-value-per-run bar chart
        "/ws",                  # true WebSocket live path
        "/events",              # SSE fallback
        "DELETE",               # delete-run action
    ):
        assert needle in body, f"dashboard UI missing {needle}"
    # behavioral surface: search box, param-diff table, tabs, svg charts
    for feature in ("filter runs", "Parameter diff", "Artifacts", "svg"):
        assert feature in body, f"dashboard UI missing feature: {feature}"


def test_cli_module_invocation(served, run=None):
    # the CLI is runnable as a module (python -m waddleml_spark.cli)
    p = subprocess.run(
        [sys.executable, "-m", "waddleml_spark.cli", "--help"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert p.returncode == 0
    assert "init" in p.stdout and "serve" in p.stdout


def test_http_downsampled_metrics(served):
    import json
    import urllib.request

    base, run = served
    with urllib.request.urlopen(
        f"{base}/api/runs/{run.id}/metrics/downsampled?key=loss&points=5",
        timeout=30,
    ) as r:
        rows = json.loads(r.read())
    assert 0 < len(rows) <= 5
    assert all(r["value_min"] <= r["value"] <= r["value_max"] for r in rows)
    assert [r["bucket"] for r in rows] == sorted(r["bucket"] for r in rows)


def test_cli_query_prints_json_rows(capsys):
    from waddleml_spark.cli import main

    rc = main(["query", "forecast_revenue_q6", "--sf-dir", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and len(out) == 1
    import json

    row = json.loads(out[0])
    assert set(row) == {"revenue", "n_items"}


def test_cli_query_unknown_name(capsys):
    from waddleml_spark.cli import main

    assert main(["query", "no_such_query"]) == 1


def test_http_static_route_and_traversal_guard(served):
    import urllib.error
    import urllib.request

    base, _ = served
    with urllib.request.urlopen(f"{base}/static/index.html", timeout=30) as r:
        assert r.status == 200 and b"<" in r.read()
    try:
        urllib.request.urlopen(f"{base}/static/../server.py", timeout=30)
        hit = 200
    except urllib.error.HTTPError as e:
        hit = e.code
    assert hit == 404  # traversal blocked


def _status(url, data=None, method="GET"):
    """(status, JSON body) of one call, error statuses included."""
    req = urllib.request.Request(url, data=data, method=method)
    try:
        with urllib.request.urlopen(req, timeout=30) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_http_malformed_numeric_param_is_400(served):
    base, run = served
    for path in (
        "/api/runs?limit=abc",
        "/api/runs?offset=-1",
        f"/api/runs/{run.id}/metrics?limit=x",
        f"/api/runs/{run.id}/metrics/downsampled?key=loss&points=0",
        "/api/metric-summary?key=loss&limit=1.5",
    ):
        status, body = _status(base + path)
        assert status == 400, path
        assert "must be an integer" in body["error"]
    # the server is still answering
    assert _status(f"{base}/api/runs?limit=1")[0] == 200


def test_http_invalid_compare_body_is_400(served):
    base, _ = served
    for data in (b"{not json", b"[1, 2]", b'{"run_ids": "abc"}', b'{"run_ids": [1]}'):
        status, body = _status(f"{base}/api/compare", data=data, method="POST")
        assert status == 400, data
        assert "error" in body


def test_http_route_exception_is_500(served, monkeypatch):
    from waddleml_spark.operators.dashboard import SparkDashboard

    base, _ = served

    def boom(self):
        raise RuntimeError("mirror unavailable")

    monkeypatch.setattr(SparkDashboard, "metric_keys_global", boom)
    status, body = _status(f"{base}/api/metric-keys")
    assert status == 500
    assert body == {"error": "RuntimeError: mirror unavailable"}


def test_read_routes_start_no_spark_session(tmp_path, monkeypatch):
    """Every GET route that reads the store, and POST /api/compare, are
    answered from the DuckDB mirror: a store opened without a session
    never starts one."""
    monkeypatch.chdir(tmp_path)
    state.set_active_run(None)
    run = w.init(project="nojvm", config={"lr": 0.1}, tags={"t": 1}, system_metrics=False, spark=None)
    for s in range(3):
        run.log({"loss": 1.0 / (s + 1)})
    run.log_artifact("note")
    run.finish()
    store = run._store
    server = serve_in_thread(store, port=0)
    base = "http://%s:%d" % server.server_address
    try:
        for path in (
            "/api/runs",
            f"/api/runs/{run.id}",
            f"/api/runs/{run.id}/metrics",
            f"/api/runs/{run.id}/metrics/downsampled?key=loss",
            "/api/metric-keys",
            "/api/metric-summary?key=loss",
        ):
            assert _status(base + path)[0] == 200, path
        status, cmp = _status(
            f"{base}/api/compare", data=json.dumps({"run_ids": [run.id]}).encode(), method="POST"
        )
        assert status == 200 and len(cmp["metrics"]["loss"]) == 3
        with urllib.request.urlopen(f"{base}/", timeout=30) as r:
            assert r.status == 200
    finally:
        server.shutdown()
        server.server_close()
        state.set_active_run(None)
    assert store._spark is None
