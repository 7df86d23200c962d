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


def test_readers_poll_while_writer_logs(tmp_path, monkeypatch):
    """One thread logs 20 k rows through Run.log in 500-row flushes while
    six reader threads (more than the host's cores, with a shortened
    switch interval) poll GET /api/runs/{id}/metrics and GET
    /api/runs/{id}.  The routes share the dashboard's DuckDB cursor while
    the writer runs BEGIN ... COMMIT per batch: every poll must answer 200
    with a flushed prefix (whole steps 0..F-1 of every key, since one
    log() call buffers all of a step's keys), ordered by (key, step),
    with the logged values, and no reader may see the prefix shrink."""
    import json
    import sys
    import urllib.request

    from waddleml_spark import run as run_mod
    from waddleml_spark.server import serve_in_thread

    monkeypatch.setattr(run_mod, "FLUSH_ROWS", 499)
    monkeypatch.chdir(tmp_path)
    run = w.init(project="rw", system_metrics=False, spark=None)
    keys, steps, n_readers = ["a", "b", "c", "d"], 5000, 6

    def value(j: int, s: int) -> float:
        return s * 10.0 + j + 0.25

    server = serve_in_thread(run._store, port=0)
    base = "http://%s:%d" % server.server_address
    first_polls = threading.Barrier(n_readers + 1, timeout=60)
    done = threading.Event()

    def writer():
        try:
            first_polls.wait()  # every reader has seen the empty run
            for s in range(steps):
                run.log({k: value(j, s) for j, k in enumerate(keys)})
            run.flush()
        finally:
            done.set()

    def get(path):
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return r.status, json.loads(r.read())

    def poll() -> int:
        status, rows = get(f"/api/runs/{run.id}/metrics?limit=100000")
        assert status == 200
        n = len(rows) // len(keys)
        assert [(r["key"], r["step"]) for r in rows] == [(k, s) for k in keys for s in range(n)]
        assert [r["value"] for r in rows] == [
            value(j, s) for j in range(len(keys)) for s in range(n)
        ]
        status, detail = get(f"/api/runs/{run.id}")
        assert status == 200 and detail["run"]["id"] == run.id
        assert detail["metric_keys"] in ([], keys)
        return n

    prefixes: dict[int, list[int]] = {}
    errors: list[BaseException] = []

    def reader(i: int):
        seen = prefixes.setdefault(i, [])
        try:
            seen.append(poll())
            first_polls.wait()
            while True:
                finished = done.is_set()
                seen.append(poll())
                if finished:
                    break
        except BaseException as e:  # reported by the main thread
            errors.append(e)
            first_polls.abort()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    threads = [threading.Thread(target=writer)]
    threads += [threading.Thread(target=reader, args=(i,)) for i in range(n_readers)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=180)
    finally:
        sys.setswitchinterval(old)
        server.shutdown()
        server.server_close()
    assert not any(t.is_alive() for t in threads)
    run.finish()
    assert not errors, errors[0]
    assert len(prefixes) == n_readers
    for seen in prefixes.values():
        assert seen[0] == 0 and seen[-1] == steps
        assert seen == sorted(seen)  # reads never go back in time
