"""The tracker side of the benchmark: the seeded run generator, the HTTP
and WebSocket clients, and the store consistency check."""

from __future__ import annotations

import atexit
import base64
import http.client
import json
import math
import os
import random
import socket
import threading
import time
from dataclasses import dataclass

import numpy as np

KEYS = [
    "loss",
    "acc",
    "lr",
    "grad_norm",
    "val_loss",
    "val_acc",
    "throughput",
    "tokens",
    "perplexity",
    "weight_norm",
    "f1",
    "recall",
    "precision",
    "auc",
    "epoch_time",
    "mem_frac",
]
SYSTEM_KEYS = ["system/cpu", "system/mem", "system/gpu_util", "system/disk_io"]
TABLES = ("runs", "params", "tags", "metrics", "artifacts")
# (run-length quarter, keys-per-step quarter) of each run in a block
STRATA = ((0, 1), (3, 3), (1, 0), (2, 2))
BLOCK = len(STRATA)


@dataclass
class RunSpec:
    """One seeded tracked run: its shape and the values it logs."""

    name: str
    steps: int
    keys: list[str]
    config: dict
    tags: dict
    value_seed: int

    def values(self) -> np.ndarray:
        """(steps, keys) array of multiples of 1/1024: every sum of them is
        exact in double precision, so store sums can be compared exactly."""
        rng = np.random.default_rng(self.value_seed)
        return rng.integers(-(1 << 20), 1 << 20, size=(self.steps, len(self.keys))) / 1024.0


def run_specs(seed: int, steps_lo: int, steps_hi: int, keys_lo: int, keys_hi: int):
    """Endless seeded stream of RunSpecs in blocks of BLOCK runs.  Run
    length spans [steps_lo, steps_hi] on a log scale and keys per step
    span [keys_lo, keys_hi], stratified: each block holds one run from the
    middle of each quarter of both ranges, in a fixed order and pairing.
    Every block therefore logs the same rows in the same order for every
    seed, and a window of whole blocks has the same size mix however many
    blocks it holds; the seed changes values, names, key choice and
    configs.  (Drawing sizes inside each quarter moved the rows of a
    two-block window by 5 % between seeds, as much as the host's noise.)
    Every run logs the first two KEYS, so all runs share them."""
    rng = random.Random(seed)
    lo, hi = math.log(steps_lo), math.log(steps_hi)
    block = 0
    while True:
        for i, (j, kj) in enumerate(STRATA):
            u = (j + 0.5) / BLOCK
            steps = int(round(math.exp(lo + u * (hi - lo))))
            v = (kj + 0.5) / BLOCK
            nkeys = int(round(keys_lo + v * (keys_hi - keys_lo)))
            # about one key in five is a system/* key
            nsys = min(len(SYSTEM_KEYS), max(1, nkeys // 5))
            keys = (
                KEYS[:2]
                + rng.sample(KEYS[2:], nkeys - nsys - 2)
                + rng.sample(SYSTEM_KEYS, nsys)
            )
            config = {
                "lr": rng.choice([1e-4, 3e-4, 1e-3, 3e-3]),
                "batch_size": rng.choice([16, 32, 64, 128]),
                "optimizer": rng.choice(["adam", "sgd", "adamw"]),
                "seed": rng.randrange(1 << 16),
            }
            tags = {"team": rng.choice(["vision", "nlp", "rl"]), "sweep": f"s{block}"}
            yield RunSpec(
                f"run-{seed}-{block}-{i}", steps, keys, config, tags, rng.randrange(1 << 30)
            )
        block += 1


def start_run(spec: RunSpec, store_path: str, spark, bus=None):
    """waddleml_spark.init for one spec, optionally wired to a LiveBus."""
    from waddleml_spark import api

    run = api.init(
        project="perfbench",
        name=spec.name,
        config=spec.config,
        tags=spec.tags,
        store_path=store_path,
        system_metrics=False,
        spark=spark,
    )
    # api.init has no bus argument and Run.serve_dashboard would start one
    # server per run; the runs share one server, so attach its bus
    run._live_bus = bus
    # a run cut short by an error must not be finished by the exit hook
    # after the session is gone
    atexit.unregister(run._atexit)
    return run


def log_all(run, spec: RunSpec, latencies: list | None = None) -> float:
    """Log every step of `spec` at full speed; returns the exact sum."""
    vals = spec.values()
    keys = spec.keys
    pc = time.perf_counter
    for row in vals.tolist():
        d = dict(zip(keys, row))
        if latencies is None:
            run.log(d)
        else:
            t = pc()
            run.log(d)
            latencies.append(pc() - t)
    return math.fsum(vals.ravel().tolist())


def isolate_cwd(work: str) -> None:
    """Run the tracker from a directory git never treats as a repository, so
    api.init's git probe costs the same everywhere."""
    os.environ["GIT_CEILING_DIRECTORIES"] = os.path.dirname(work)
    os.chdir(work)


# --- clients ----------------------------------------------------------------


def http_get(port: int, path: str):
    """One GET on a fresh connection; returns (status, bytes)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class WsClient:
    """Minimal WebSocket client for the dashboard's /ws push: records every
    metric frame with its receive time."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall(
            (
                f"GET /ws HTTP/1.1\r\nHost: 127.0.0.1:{port}\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        self.f = self.sock.makefile("rb")
        status = self.f.readline()
        if b" 101 " not in status:
            raise RuntimeError(f"websocket handshake failed: {status!r}")
        while self.f.readline().strip():
            pass
        self.sock.settimeout(None)
        # (run_id, key, step, value, ts, received_at)
        self.rows: list[tuple] = []
        self.frames = 0
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _read(self, n: int) -> bytes | None:
        b = self.f.read(n)
        return b if b is not None and len(b) == n else None

    def _loop(self) -> None:
        try:
            while True:
                hdr = self._read(2)
                if hdr is None:
                    return
                op, n = hdr[0] & 0x0F, hdr[1] & 0x7F
                if n >= 126:
                    ext = self._read(2 if n == 126 else 8)
                    if ext is None:
                        return
                    n = int.from_bytes(ext, "big")
                payload = self._read(n) if n else b""
                if payload is None or op == 0x8:
                    return
                if op == 0x1:
                    now = time.time()
                    m = json.loads(payload)
                    self.frames += 1
                    self.rows.append(
                        (m["run_id"], m["key"], m["step"], m["value"], m["ts"], now)
                    )
        except (OSError, ValueError):
            return

    def wait_for(self, n: int, timeout: float) -> None:
        end = time.monotonic() + timeout
        while len(self.rows) < n and time.monotonic() < end:
            time.sleep(0.05)

    def close(self) -> None:
        mask = os.urandom(4)
        try:
            self.sock.sendall(bytes([0x88, 0x80]) + mask)
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self._t.join(timeout=10)
        self.f.close()
        self.sock.close()


# --- checks -------------------------------------------------------------------


def store_files(root: str) -> dict[str, int]:
    out = {}
    for t in TABLES:
        d = os.path.join(root, "parquet", t)
        out[t] = (
            sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
            if os.path.isdir(d)
            else 0
        )
    return out


def store_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") or f.endswith(".duckdb"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def check_store(store, expected_counts: dict, expected_sums: dict) -> dict[str, bool]:
    """DuckDB mirror and Spark Parquet view against what was logged: row
    count per table, per-run metric count and exact sum(value), and every
    run completed."""
    from pyspark.sql import functions as F

    con = store.duck.cursor()
    try:
        duck_n = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in TABLES}
        duck_sums = {
            r[0]: (r[1], r[2])
            for r in con.execute(
                "SELECT run_id, count(*), sum(value) FROM metrics GROUP BY run_id"
            ).fetchall()
        }
        duck_done = {
            r[0] for r in con.execute("SELECT id FROM runs WHERE status = 'completed'").fetchall()
        }
    finally:
        con.close()
    runs = store.df("runs").select("id", "status").collect()
    spark_sums = {
        r[0]: (r[1], r[2])
        for r in store.df("metrics").groupBy("run_id").agg(F.count("*"), F.sum("value")).collect()
    }
    spark_n = {t: store.df(t).count() for t in ("params", "tags", "artifacts")}
    spark_n["runs"] = len(runs)
    spark_n["metrics"] = sum(n for n, _ in spark_sums.values())
    spark_done = {r.id for r in runs if r.status == "completed"}
    out = {f"rows.{t}": duck_n[t] == spark_n[t] == expected_counts[t] for t in TABLES}
    for rid, (n, s) in expected_sums.items():
        out[f"sum.{rid}"] = duck_sums.get(rid) == spark_sums.get(rid) == (n, s)
        out[f"status.{rid}"] = rid in duck_done and rid in spark_done
    return out
