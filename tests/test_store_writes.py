"""Crash-consistent, reader-safe store writes: a part file becomes visible
only once it is complete, and a batch DuckDB rejects leaves no file in
either layer."""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow.parquet as pq
import pytest

from waddleml_spark.store import WaddleStore


def _files(store: WaddleStore, table: str) -> list[str]:
    d = store._dir(table)
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def _metric(step: int) -> dict:
    return {"run_id": "r", "key": "loss", "step": step, "ts": 1.0, "value": 0.5}


def test_failed_part_write_publishes_nothing(spark, tmp_path, monkeypatch):
    """A writer that dies mid-file must not leave a truncated part file
    where Spark's listing (the dashboard, the streaming tail) can see it."""
    store = WaddleStore(str(tmp_path / "s"), spark=spark)
    store.append("metrics", [_metric(0)])
    before = _files(store, "metrics")

    real_write = pq.write_table

    def torn_write(table, where, **kw):
        real_write(table, where, **kw)
        with open(where, "r+b") as f:
            f.truncate(os.path.getsize(where) // 2)
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        store.append("metrics", [_metric(1)])

    assert _files(store, "metrics") == before
    assert store.df("metrics").count() == 1
    assert store.duck.execute("SELECT count(*) FROM metrics").fetchone()[0] == 1
    store.close()


def test_rejected_batch_leaves_no_file_and_no_row(tmp_path):
    store = WaddleStore(str(tmp_path / "s"))
    row = {"id": "r1", "project": "p", "status": None, "started_at": time.time()}
    with pytest.raises(duckdb.ConstraintException):
        store.append("runs", [row])  # runs.status is NOT NULL
    assert _files(store, "runs") == []
    assert store.duck.execute("SELECT count(*) FROM runs").fetchone()[0] == 0
    # the connection is usable again: the failed batch's transaction ended
    store.append("runs", [{**row, "status": "running"}])
    assert store.duck.execute("SELECT count(*) FROM runs").fetchone()[0] == 1
    assert len(_files(store, "runs")) == 1
    store.close()


def test_update_run_unknown_id_raises_and_writes_nothing(tmp_path):
    store = WaddleStore(str(tmp_path / "s"))
    with pytest.raises(KeyError):
        store.update_run("missing", status="completed")
    assert _files(store, "runs") == []
    store.close()

