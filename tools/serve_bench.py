#!/usr/bin/env python
"""Dashboard read-route latency on a seeded tracker store.

Logs --runs runs of --steps steps (two keys per step, seeded values)
through the public tracker API without passing a SparkSession, serves the
store with the stdlib HTTP adapter on a free localhost port, and calls
every read route over HTTP: once cold (the first call of each route, in
route order), then --reps warm calls per route, interleaved round-robin so
host noise falls on every route alike.  Run-scoped routes rotate through
the runs.

Prints one JSON object: per route `first_s`, `p50_s`, `p99_s` (nearest
rank; with 20 reps p99 is the slowest call), plus ingest rows/s, the
host's core count, its steal % over the timed reads, and whether any
route started a SparkSession (`spark_started`).

Usage: python tools/serve_bench.py [--runs 20] [--steps 1000] [--reps 20]
                                   [--seed 0] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import sys
import tempfile
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _cpu_ticks  # noqa: E402


def ingest(root: str, n_runs: int, steps: int, seed: int) -> tuple[list[str], float]:
    import waddleml_spark as w

    rng = random.Random(seed)
    ids = []
    t0 = time.perf_counter()
    for i in range(n_runs):
        run = w.init(
            project=f"p{i % 3}",
            name=f"run-{i:02d}",
            config={"lr": 10 ** rng.uniform(-4, -1), "layers": rng.randint(1, 8)},
            tags={"seed": i},
            store_path=root,
            system_metrics=False,
        )
        for s in range(steps):
            run.log({"loss": rng.random() / (s + 1), "acc": rng.random()})
        run.finish()
        ids.append(run.id)
    return ids, n_runs * steps * 2 / (time.perf_counter() - t0)


def routes(ids: list[str]) -> dict:
    """route name -> call(i) returning (method, path, body) for call i."""
    n = len(ids)
    return {
        "list_runs": lambda i: ("GET", "/api/runs", None),
        "get_run": lambda i: ("GET", f"/api/runs/{ids[i % n]}", None),
        "get_metrics": lambda i: ("GET", f"/api/runs/{ids[i % n]}/metrics", None),
        "get_metrics_downsampled": lambda i: (
            "GET", f"/api/runs/{ids[i % n]}/metrics/downsampled?key=loss&points=200", None,
        ),
        "compare": lambda i: (
            "POST", "/api/compare", {"run_ids": [ids[(i + k) % n] for k in range(3)]},
        ),
        "metric_keys": lambda i: ("GET", "/api/metric-keys", None),
        "metric_summary": lambda i: ("GET", "/api/metric-summary?key=loss", None),
    }


def call(base: str, method: str, path: str, body) -> float:
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(base + path, data=data, method=method)
    t = time.perf_counter()
    with urllib.request.urlopen(req, timeout=600) as r:
        r.read()
        assert r.status == 200, (path, r.status)
    return time.perf_counter() - t


def rank(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=20)
    ap.add_argument("--steps", type=int, default=1000)
    ap.add_argument("--reps", type=int, default=20)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--out", help="also write the JSON here")
    a = ap.parse_args()

    from waddleml_spark.server import serve_in_thread
    from waddleml_spark.store import WaddleStore

    work = tempfile.mkdtemp(prefix="serve_bench_")
    os.chdir(work)  # outside any git checkout: init takes no git snapshot
    try:
        root = os.path.join(work, ".waddle")
        ids, rows_per_s = ingest(root, a.runs, a.steps, a.seed)
        store = WaddleStore._registry[os.path.abspath(root)]
        server = serve_in_thread(store, port=0)
        base = "http://%s:%d" % server.server_address
        table = routes(ids)
        first = {name: call(base, *mk(0)) for name, mk in table.items()}
        s0, c0 = _cpu_ticks()
        warm: dict[str, list[float]] = {name: [] for name in table}
        for i in range(1, a.reps + 1):
            for name, mk in table.items():
                warm[name].append(call(base, *mk(i)))
        s1, c1 = _cpu_ticks()
        server.shutdown()
        server.server_close()
        out = {
            "runs": a.runs,
            "steps": a.steps,
            "metric_rows": a.runs * a.steps * 2,
            "reps": a.reps,
            "seed": a.seed,
            "cores": os.cpu_count(),
            "steal_pct": round(100.0 * (s1 - s0) / max(1, c1 - c0), 2),
            "ingest_rows_per_s": round(rows_per_s),
            "spark_started": store._spark is not None,
            "routes": {
                name: {
                    "first_s": round(first[name], 4),
                    "p50_s": round(rank(warm[name], 0.5), 4),
                    "p99_s": round(rank(warm[name], 0.99), 4),
                }
                for name in table
            },
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    text = json.dumps(out, indent=1)
    print(text)
    if a.out:
        Path(a.out).write_text(text + "\n")


if __name__ == "__main__":
    main()
