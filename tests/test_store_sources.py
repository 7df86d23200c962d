"""Store internals + source connectors: compaction (incl. bucketed metrics
layout), empty-store reads, bulk binary ingest, scalar helpers."""

from __future__ import annotations

import glob
import os

import pytest

import waddleml_spark as w
from waddleml_spark import state
from waddleml_spark.store import WaddleStore


@pytest.fixture(autouse=True)
def reset_state():
    state.set_active_run(None)
    yield
    run = state.get_active_run()
    if run is not None:
        run._finished = True
    state.set_active_run(None)


def test_empty_store_reads(spark, tmp_path):
    store = WaddleStore(str(tmp_path / "empty"), spark=spark)
    assert store.df("runs").count() == 0
    assert store.df("metrics").count() == 0
    from waddleml_spark.operators.dashboard import SparkDashboard

    assert SparkDashboard(store).list_runs() == []
    store.close()


def test_compact_folds_history_and_buckets_metrics(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = w.init(project="cmp", system_metrics=False, spark=spark)
    for i in range(5):
        run.log({"m": float(i)})
        run.flush()  # force many small files
        run.log_param("p", i)  # 5 upsert versions
    run.finish()
    store = run._store
    files_before = len(glob.glob(store._dir("params") + "/*.parquet"))
    assert files_before >= 5
    before = {(r.key, r.value) for r in store.df("params").collect()}
    store.compact()
    after = {(r.key, r.value) for r in store.df("params").collect()}
    assert before == after == {("p", "4")}
    files_after = len(glob.glob(store._dir("params") + "/*.parquet"))
    assert files_after < files_before
    # metrics intact after the bucketed rewrite
    assert store.df("metrics").count() == 5
    assert store.df("runs").filter("status = 'completed'").count() == 1


def test_bulk_binary_ingest(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    art_dir = tmp_path / "arts"
    art_dir.mkdir()
    (art_dir / "a.bin").write_bytes(b"alpha")
    (art_dir / "b.bin").write_bytes(b"beta" * 100)
    run = w.init(project="bulk", system_metrics=False, spark=spark)
    from waddleml_spark.sources.binary import ingest_artifacts

    n = ingest_artifacts(spark, run._store, run.id, str(art_dir), glob="*.bin")
    run.finish()
    assert n == 2
    rows = run._store.duck.execute(
        "SELECT name, size_bytes, sha256, inline_bytes IS NOT NULL FROM artifacts "
        "WHERE run_id = ? ORDER BY name",
        [run.id],
    ).fetchall()
    assert [(r[0], r[1]) for r in rows] == [("a.bin", 5), ("b.bin", 400)]
    import hashlib

    assert rows[0][2] == hashlib.sha256(b"alpha").hexdigest()
    assert all(r[3] for r in rows)  # both under inline threshold


def test_scalar_helpers(spark):
    from pyspark.sql import functions as F

    from waddleml_spark.functions import (
        canonical_json,
        humanize_bytes,
        humanize_duration,
        id8,
        sha256_hex,
    )

    df = spark.range(1).select(
        humanize_duration(F.lit(42.34)).alias("d1"),
        humanize_duration(F.lit(90.0)).alias("d2"),
        humanize_bytes(F.lit(500.0)).alias("b1"),
        humanize_bytes(F.lit(2048.0)).alias("b2"),
        humanize_bytes(F.lit(3.5 * 1024 * 1024)).alias("b3"),
        id8(F.lit("abcdef0123456789")).alias("i"),
        sha256_hex(F.lit("abc")).alias("h"),
        canonical_json(F.lit("x").alias("a"), F.lit(1).alias("b")).alias("j"),
    )
    r = df.head()
    assert r.d1 == "42.3s" and r.d2 == "1.5m"
    assert r.b1 == "500 B" and r.b2 == "2.0 KB" and r.b3 == "3.5 MB"
    assert r.i == "abcdef01"
    assert r.h.startswith("ba7816bf")
    assert r.j == '{"a":"x","b":1}'


def test_run_serve_dashboard(spark, tmp_path, monkeypatch):
    import json
    import urllib.request

    monkeypatch.chdir(tmp_path)
    run = w.init(project="dashsrv", system_metrics=False, spark=spark)
    run.log({"loss": 0.3})
    server = run.serve_dashboard(port=0)
    host, port = server.server_address
    run.flush()
    with urllib.request.urlopen(f"http://{host}:{port}/api/runs", timeout=30) as r:
        runs = json.loads(r.read())
    assert runs[0]["project"] == "dashsrv"
    server.shutdown()
    run.finish()


def test_write_batches_fill_ingest_observations(spark, tmp_path, monkeypatch):
    """Every write batch records its row count in ingest_stats."""
    import waddleml_spark as w

    monkeypatch.chdir(tmp_path)
    run = w.init(project="obs", system_metrics=False, spark=spark)
    run.log({"loss": 1.0, "acc": 0.5})
    run.flush()
    stats = run._store.ingest_stats
    assert stats["metrics"]["rows"] == 2  # one row per metric key
    assert stats["runs"]["rows"] == 1
    run.finish()


def test_store_bucket_table_publishes_zero_exchange_layout(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = w.init(project="bkt", system_metrics=False, spark=spark)
    for i in range(10):
        run.log({"m": float(i)})
    run.finish()
    store = run._store
    name = store.bucket_table("metrics", n_buckets=4)
    try:
        from pyspark.sql import functions as F

        from waddleml_spark.plans.inspect import count_op
        from waddleml_spark.sources.bucketed import read_bucketed

        m = read_bucketed(spark, name)
        agg = m.groupBy("run_id").agg(F.count("*").alias("n"))
        # the bucket spec already satisfies the aggregate's distribution:
        # run-grain rollups on the published layout never shuffle
        assert count_op(agg, "Exchange") == 0
        assert [r.n for r in agg.collect()] == [10]
        with pytest.raises(ValueError):
            store.bucket_table("runs")  # no default keys -> explicit keys required
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    store.close()
