"""Write-path concurrency: parallel threads logging through one store
(the reference's lock-serialized multi-thread scenario, S5) — no lost
rows, both storage layers converge."""

from __future__ import annotations

import threading

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


def test_parallel_threads_one_run(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    run = w.init(project="conc", system_metrics=False, spark=spark)

    def worker(tid: int):
        for i in range(20):
            # log_metric with explicit steps: no step-counter contention
            run.log_metric(f"t{tid}/m", i, float(tid * 100 + i))

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    run.finish()

    n_duck = run._store.duck.execute(
        "SELECT count(*) FROM metrics WHERE run_id = ?", [run.id]
    ).fetchone()[0]
    assert n_duck == 80
    assert run._store.df("metrics").count() == 80
    # per-thread series intact and ordered
    for t in range(4):
        vals = [
            r[0]
            for r in run._store.duck.execute(
                "SELECT value FROM metrics WHERE run_id=? AND key=? ORDER BY step",
                [run.id, f"t{t}/m"],
            ).fetchall()
        ]
        assert vals == [float(t * 100 + i) for i in range(20)]


def test_two_stores_two_runs(spark, tmp_path):
    s1 = WaddleStore(str(tmp_path / "a"), spark=spark)
    s2 = WaddleStore(str(tmp_path / "b"), spark=spark)
    from waddleml_spark.run import Run

    r1 = Run(store=s1, run_id="r1" * 16, project="p1", system_metrics=False)
    r2 = Run(store=s2, run_id="r2" * 16, project="p2", system_metrics=False)
    r1.log({"m": 1.0})
    r2.log({"m": 2.0})
    r1.finish()
    r2.finish()
    assert s1.df("metrics").count() == 1
    assert s2.df("metrics").count() == 1
    assert s1.duck.execute("SELECT value FROM metrics").fetchone()[0] == 1.0
    assert s2.duck.execute("SELECT value FROM metrics").fetchone()[0] == 2.0
    s1.close()
    s2.close()


def test_concurrent_upserts_of_one_key_converge(spark, tmp_path):
    """8 threads x 25 rounds; in each round every thread upserts the same
    (run_id, key) at once.  DuckDB's ON CONFLICT winner and the Parquet
    view's highest-_seq row must be the same write for every key."""
    import sys

    store = WaddleStore(str(tmp_path / "s"), spark=spark)
    n_threads, rounds = 8, 25
    start = threading.Barrier(n_threads, timeout=60)

    def worker(tid: int):
        for i in range(rounds):
            start.wait()
            store.upsert("params", [{"run_id": "r", "key": f"k{i}", "value": f'"{tid}"'}])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)

    duck = dict(store.duck.execute("SELECT key, value FROM params").fetchall())
    view = {r.key: r.value for r in store.df("params").collect()}
    assert len(duck) == rounds
    assert view == duck
    store.close()
