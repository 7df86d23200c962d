"""SparkDashboard behavioral tests: seed a store through the public API,
then assert every dashboard query shape (ref: waddle/_dashboard_api.py) —
including a differential check of every read route (DuckDB SQL on the
mirror) against the Spark views of the Parquet event log.
"""

from __future__ import annotations

import json
import time

import pytest

import waddleml_spark as w
from waddleml_spark import state
from waddleml_spark.operators.dashboard import SparkDashboard


@pytest.fixture(scope="module")
def seeded(spark, tmp_path_factory):
    state.set_active_run(None)
    root = tmp_path_factory.mktemp("dash") / ".waddle"
    runs = []
    for i, (project, status) in enumerate(
        [("alpha", "completed"), ("alpha", "failed"), ("beta", "completed")]
    ):
        r = w.init(
            project=project,
            name=f"run-{i}",
            config={"lr": 0.1 * (i + 1), "layers": i},
            tags={"exp": f"e{i}"},
            store_path=str(root),
            system_metrics=False,
            spark=spark,
        )
        for s in range(5):
            r.log({"loss": 1.0 / (s + 1) + i, "acc": 0.1 * s + i})
        r.log_artifact(f"model-{i}.bin")
        r.finish(status=status)
        runs.append(r)
    # one genuinely-running run, started long ago with stale metrics → P9
    stale = w.init(
        project="alpha", name="stale", store_path=str(root),
        system_metrics=False, spark=spark,
    )
    stale.log_metric("loss", 0, 9.9, ts=time.time() - 1000)
    stale.flush()
    runs.append(stale)
    store = stale._store
    yield store, runs
    stale._finished = True
    state.set_active_run(None)


def test_list_runs_filters_sort_paginate(seeded):
    store, runs = seeded
    dash = SparkDashboard(store)
    out = dash.list_runs()
    assert len(out) == 4
    # default sort: started_at desc → stale run first
    assert out[0]["name"] == "stale"
    alpha = dash.list_runs(project="alpha")
    assert {r["name"] for r in alpha} == {"run-0", "run-1", "stale"}
    fails = dash.list_runs(status="failed")
    assert [r["name"] for r in fails] == ["run-1"]
    page = dash.list_runs(limit=2, offset=1)
    assert len(page) == 2 and page[0]["name"] == "run-2"
    asc = dash.list_runs(sort="name", order="asc")
    assert [r["name"] for r in asc] == ["run-0", "run-1", "run-2", "stale"]
    # unknown sort column falls back to started_at (allowlist, ref O1)
    fallback = dash.list_runs(sort="nope; DROP TABLE runs")
    assert fallback[0]["name"] == "stale"


def test_stale_run_displayed_aborted_not_written(seeded):
    store, runs = seeded
    dash = SparkDashboard(store)
    out = {r["name"]: r["status"] for r in dash.list_runs()}
    assert out["stale"] == "aborted"  # displayed aborted (P9/T3)
    # ...but never written back (ref evaluates lazily, :56-69)
    assert store._duck_row("runs", "id", runs[-1].id)["status"] == "running"


def test_get_run_shape(seeded):
    store, runs = seeded
    dash = SparkDashboard(store)
    d = dash.get_run(runs[0].id)
    assert d["run"]["name"] == "run-0"
    assert d["params"] == {"lr": 0.1, "layers": 0}
    assert d["tags"] == {"exp": "e0"}
    assert [a["name"] for a in d["artifacts"]] == ["model-0.bin"]
    assert d["metric_keys"] == ["acc", "loss"]
    assert isinstance(d["run"]["env"], dict)  # JSON parsed (F2)
    assert dash.get_run("missing") == {}


def test_get_metrics_series_and_quirk(seeded):
    store, runs = seeded
    dash = SparkDashboard(store)
    series = dash.get_metrics(runs[0].id, key="loss")
    assert [m["step"] for m in series] == [0, 1, 2, 3, 4]
    both = dash.get_metrics(runs[0].id)
    assert len(both) == 10
    # cross-key LIMIT quirk preserved (ref O3): limit truncates across keys
    trunc = dash.get_metrics(runs[0].id, limit=7)
    assert len(trunc) == 7
    assert [m["key"] for m in trunc] == ["acc"] * 5 + ["loss"] * 2


def test_compare_runs(seeded):
    store, runs = seeded
    dash = SparkDashboard(store)
    ids = [runs[0].id, runs[1].id]
    cmp = dash.compare_runs(ids)
    assert {r["name"] for r in cmp["runs"]} == {"run-0", "run-1"}
    assert cmp["params"][runs[0].id]["lr"] == 0.1
    assert cmp["params"][runs[1].id]["lr"] == pytest.approx(0.2)
    assert set(cmp["metrics"]) == {"acc", "loss"}
    loss = cmp["metrics"]["loss"]
    assert len(loss) == 10  # 2 runs × 5 steps, one scan
    assert dash.compare_runs([]) == {"runs": [], "param_diff": {}, "metrics": {}}


def test_metric_summary_leaderboard(seeded):
    store, runs = seeded
    dash = SparkDashboard(store)
    board = dash.metric_summary("loss")
    by_run = {r["run_id"]: r["value"] for r in board}
    # final (max-step) loss for run-0 is 1/5 + 0
    assert by_run[runs[0].id] == pytest.approx(0.2)
    assert by_run[runs[1].id] == pytest.approx(1.2)
    # ordered by started_at desc → stale run first
    assert board[0]["run_id"] == runs[-1].id


def test_metric_keys_global_excludes_system(seeded):
    store, runs = seeded
    runs[0]._finished = False
    runs[0].log_system({"system/cpu_percent": 1.0}, 0)
    runs[0].flush()
    runs[0]._finished = True
    dash = SparkDashboard(store)
    keys = dash.metric_keys_global()
    assert "system/cpu_percent" not in keys
    assert keys == ["acc", "loss"]


def test_read_routes_match_spark_views(seeded):
    """Every read route against the same shape computed from the Spark
    last-writer-wins views (store.df) of the Parquet log, after an
    update_run and a params re-upsert, so it also shows that the mirror
    and the log agree.  Rows, keys, order and min/max match exactly;
    downsampled means may differ by 1e-12 relative, because the two
    engines sum in different orders."""
    from pyspark.sql import functions as F

    from waddleml_spark.operators.core import last_per_group
    from waddleml_spark.operators.dashboard import series_downsample

    store, runs = seeded
    rid2 = runs[2].id
    store.update_run(rid2, notes="re-noted")
    store.upsert("params", [{"run_id": rid2, "key": "layers", "value": "7"}])
    dash = SparkDashboard(store)
    assert dash.get_run(rid2)["run"]["notes"] == "re-noted"
    assert dash.get_run(rid2)["params"]["layers"] == 7

    def rows(df):
        return [r.asDict() for r in df.collect()]

    def by_run(df, rid, col="run_id"):
        return df.filter(F.col(col) == rid)

    run_v, params_v, tags_v, art_v, met_v = (
        store.df(t) for t in ("runs", "params", "tags", "artifacts", "metrics")
    )
    cols = ["id", "project", "name", "status", "started_at", "ended_at", "commit_sha"]
    ids = [r.id for r in run_v.collect()]
    assert sorted(ids) == sorted(r.id for r in runs)

    # list_runs: every sort column both ways (NULLS LAST, then id), a
    # filtered page, and the stale reclassification
    for sort in ("started_at", "ended_at", "name", "status", "project"):
        for order in ("asc", "desc"):
            c = F.col(sort)
            key = c.desc_nulls_last() if order == "desc" else c.asc_nulls_last()
            want = rows(run_v.select(*cols).orderBy(key, "id").offset(1).limit(2))
            got = dash.list_runs(sort=sort, order=order, limit=2, offset=1, now=0)
            assert got == want, (sort, order)
    want = rows(
        run_v.filter((F.col("project") == "alpha") & (F.col("status") == "running"))
        .select(*cols)
        .orderBy(F.col("started_at").desc(), "id")
    )
    assert dash.list_runs(project="alpha", status="running", now=0) == want
    now = time.time()
    last_ts = {r.run_id: r.ts for r in met_v.groupBy("run_id").agg(F.max("ts").alias("ts")).collect()}
    want = rows(run_v.select(*cols).orderBy(F.col("started_at").desc(), "id"))
    for d in want:
        if d["status"] == "running" and now - last_ts.get(d["id"], d["started_at"]) > 300:
            d["status"] = "aborted"
    assert dash.list_runs(now=now) == want
    assert "aborted" in {d["status"] for d in want}

    art_cols = ["id", "name", "kind", "created_at", "uri", "sha256", "size_bytes"]
    for run in rows(run_v):
        rid = run["id"]
        want_run = dict(run, env=json.loads(run["env"]), config=json.loads(run["config"]))
        got = dash.get_run(rid)
        assert got["run"] == want_run
        for table, kv in (("params", params_v), ("tags", tags_v)):
            want_kv = [(r.key, json.loads(r.value)) for r in by_run(kv, rid).orderBy("key").collect()]
            assert list(got[table].items()) == want_kv
        assert got["artifacts"] == rows(
            by_run(art_v, rid).select(*art_cols).orderBy("created_at", "id")
        )
        assert got["metric_keys"] == [
            r.key for r in by_run(met_v, rid).select("key").distinct().orderBy("key").collect()
        ]

        series = by_run(met_v, rid).select("key", "step", "ts", "value")
        assert dash.get_metrics(rid) == rows(series.orderBy("key", "step"))
        assert dash.get_metrics(rid, limit=7) == rows(series.orderBy("key", "step").limit(7))
        assert dash.get_metrics(rid, key="loss", limit=3) == rows(
            series.filter(F.col("key") == "loss").orderBy("step").limit(3)
        )

        m = by_run(met_v, rid).filter(F.col("key") == "loss")
        want_ds = series_downsample(
            m.withColumn("__x", F.col("step").cast("double")), ["run_id"], "__x", "value", 3
        ).orderBy("bucket").collect()
        got_ds = dash.get_metrics_downsampled(rid, "loss", points=3)
        assert [(g["bucket"], g["n"], g["value_min"], g["value_max"]) for g in got_ds] == [
            (w_.bucket, w_.n_points, w_.y_min, w_.y_max) for w_ in want_ds
        ]
        for g, w_ in zip(got_ds, want_ds):
            assert g["step"] == pytest.approx(w_.x, rel=1e-12, abs=0)
            assert g["value"] == pytest.approx(w_.y_mean, rel=1e-12, abs=0)

    cmp = dash.compare_runs(ids)
    assert cmp["runs"] == rows(run_v.select(*cols).orderBy(F.col("started_at").desc(), "id"))
    want_params: dict = {}
    for r in params_v.orderBy("key", "run_id").collect():
        want_params.setdefault(r.run_id, {})[r.key] = json.loads(r.value)
    assert cmp["params"] == want_params
    want_series: dict = {}
    for r in met_v.orderBy("key", "step", "run_id").collect():
        want_series.setdefault(r.key, []).append(
            {"run_id": r.run_id, "step": r.step, "value": r.value}
        )
    assert cmp["metrics"] == want_series

    assert dash.metric_keys_global() == [
        r.key
        for r in met_v.filter(~F.col("key").startswith("system/"))
        .select("key").distinct().orderBy("key").collect()
    ]
    names = run_v.select(F.col("id").alias("run_id"), "name", "started_at")
    for key in ("loss", "acc"):
        last = last_per_group(met_v.filter(F.col("key") == key), ["run_id"], "step")
        want = rows(
            last.join(names, on="run_id")
            .orderBy(F.col("started_at").desc(), "run_id", "value")
            .select("run_id", "name", "value")
        )
        assert dash.metric_summary(key) == want


def test_series_downsample_bounds_and_coverage(spark):
    from pyspark.sql import functions as F
    from waddleml_spark.operators.dashboard import series_downsample
    from tests.conftest import SF_SMOKE

    from waddleml_spark.session import read_table

    ev = read_table(spark, SF_SMOKE, "events").withColumn(
        "__x", F.col("ts").cast("double")
    )
    out = series_downsample(ev, ["event_type"], "__x", "value", target_points=20)
    rows = out.collect()
    per_type = {}
    for r in rows:
        per_type.setdefault(r.event_type, []).append(r)
    n_in = {
        r.event_type: r["count"]
        for r in ev.groupBy("event_type").count().collect()
    }
    for et, pts in per_type.items():
        assert len(pts) <= 20
        assert all(0 <= p.bucket < 20 for p in pts)
        assert sum(p.n_points for p in pts) == n_in[et]  # every row counted
        assert all(p.y_min <= p.y_mean <= p.y_max for p in pts)


def test_lttb_keeps_spikes_mean_downsample_flattens(spark):
    from pyspark.sql import functions as F
    from waddleml_spark.operators.dashboard import lttb_downsample

    # flat series with one huge spike mid-way
    rows = [(0, float(i), 1.0 if i != 500 else 100.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "g int, x double, y double")
    out = lttb_downsample(df, ["g"], "x", "y", target_points=20)
    ys = [r.y for r in out.collect()]
    assert 100.0 in ys  # the spike survives
    assert len(ys) <= 20


def test_list_runs_status_sort_uses_stored_status_for_page_membership(seeded):
    # round-6 review find / reference parity (ref :45-69): ORDER BY
    # status runs on STORED values; the stale run (stored 'running')
    # must sort in the 'running' group even though it DISPLAYS aborted
    store, runs = seeded
    dash = SparkDashboard(store)
    out = dash.list_runs(sort="status", order="desc")
    # stored statuses desc: running > failed > completed; the stale run
    # (stored running) leads the page yet displays aborted
    assert out[0]["name"] == "stale" and out[0]["status"] == "aborted"


def test_series_downsample_null_x_rows_do_not_pollute_last_bucket(spark):
    from waddleml_spark.operators.dashboard import series_downsample
    from pyspark.sql import functions as F

    rows = [("g", float(i), 1.0) for i in range(100)] + [("g", None, 1000.0)]
    df = spark.createDataFrame(rows, "g string, x double, v double")
    out = series_downsample(df, ["g"], "x", "v", target_points=4)
    # the NULL-x row (v=1000) must not skew any bucket's mean
    assert all(r.y_max <= 1.0 for r in out.collect())


def test_lttb_single_bucket_group_keeps_both_endpoints(spark):
    from waddleml_spark.operators.dashboard import lttb_downsample

    # constant x -> span 0 -> every row lands in bucket 0
    df = spark.createDataFrame(
        [("g", 5.0, 1.0), ("g", 5.0, 2.0), ("g", 5.0, 3.0)],
        "g string, x double, v double",
    )
    got = sorted(r.v for r in lttb_downsample(df, ["g"], "x", "v", 10).collect())
    assert got == [1.0, 3.0]  # first AND last, not first alone
