"""Run lifecycle: the reference's Run class re-expressed over WaddleStore
(ref: waddle/_run.py).  Behavioral parity:

- step semantics: auto-increment member counter; explicit step fast-forwards
  to step+1 (ref :114-119);
- one shared ts per log() call (ref :120); values coerced via float() (:125);
- env capture {python, platform, cwd, argv} as canonical sorted JSON (:40-47);
- config entries are also logged as params (:57-59), tags likewise (:62-64);
- status transitions running → completed/failed/aborted; context-manager
  exit maps exception→failed (:205-211); atexit marks unfinished runs
  aborted (:71, :81-83);
- artifacts: sha256 of file bytes (sha256(b"") when no path), optional
  inline blob (:161-186).

Engine difference (deliberate, SURVEY.md §3.1): metrics buffer into
micro-batches — the reference's row-at-a-time autocommit INSERT is its own
perf ceiling; batching is the idiomatic Spark translation.  `flush()` is
the visibility barrier (finish() always flushes).
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import sys
import threading
import time
import uuid
from typing import Any

from waddleml_spark import state
from waddleml_spark.store import WaddleStore

# Micro-batch sizing: each flush writes one Parquet part file and one DuckDB
# INSERT, so the row threshold bounds the file count under sustained logging
# while the time threshold bounds live-update latency (the reference UI
# debounces at 500 ms and the sampler ticks at 5 s — 2 s latency is inside
# the contract).
FLUSH_ROWS = 5000
FLUSH_SECONDS = 2.0


class Run:
    def __init__(
        self,
        store: WaddleStore,
        run_id: str,
        project: str,
        name: str | None = None,
        config: dict[str, Any] | None = None,
        tags: dict[str, Any] | None = None,
        repo_id: str | None = None,
        commit_sha: str | None = None,
        system_metrics: bool = True,
        live_bus=None,
    ):
        self._store = store
        self.id = run_id
        self.project = project
        self.name = name or run_id[:8]
        self.commit_sha = commit_sha
        self._step = 0
        self._finished = False
        self._sysmon: Any = None
        self._buf: list[dict] = []
        self._buf_lock = threading.Lock()
        self._buf_first_ts: float | None = None
        self._live_bus = live_bus  # streaming broadcast hook (T1)

        env = {
            "python": sys.version,
            "platform": sys.platform,
            "cwd": os.getcwd(),
            "argv": sys.argv,
        }
        store.append(
            "runs",
            [
                {
                    "id": run_id,
                    "project": project,
                    "repo_id": repo_id,
                    "commit_sha": commit_sha,
                    "name": self.name,
                    "status": "running",
                    "started_at": time.time(),
                    "ended_at": None,
                    "env": json.dumps(env, ensure_ascii=False, sort_keys=True),
                    "config": json.dumps(config or {}, ensure_ascii=False, sort_keys=True),
                    "notes": None,
                }
            ],
        )
        if config:
            for k, v in config.items():
                self.log_param(k, v)
        if tags:
            for k, v in tags.items():
                self.log_tag(k, v)
        if system_metrics:
            self._start_sysmetrics()
        atexit.register(self._atexit)

    # --- logging ----------------------------------------------------------

    def log(self, metrics: dict[str, float], step: int | None = None) -> None:
        if step is None:
            step = self._step
            self._step += 1
        else:
            self._step = step + 1
        ts = time.time()
        rows = [
            {"run_id": self.id, "key": k, "step": step, "ts": ts, "value": float(v)}
            for k, v in metrics.items()
        ]
        self._buffer(rows)

    def log_metric(self, key: str, step: int, value: float, ts: float | None = None) -> None:
        self._buffer(
            [
                {
                    "run_id": self.id,
                    "key": key,
                    "step": step,
                    "ts": ts if ts is not None else time.time(),
                    "value": float(value),
                }
            ]
        )

    def log_system(self, metrics: dict[str, float], step: int) -> None:
        """Sampler entry point: system/* keys, sampler-owned step counter."""
        ts = time.time()
        self._buffer(
            [
                {"run_id": self.id, "key": k, "step": step, "ts": ts, "value": float(v)}
                for k, v in metrics.items()
            ]
        )

    def _buffer(self, rows: list[dict]) -> None:
        with self._buf_lock:
            if self._buf_first_ts is None:
                self._buf_first_ts = time.time()
            self._buf.extend(rows)
            should_flush = (
                len(self._buf) >= FLUSH_ROWS
                or time.time() - self._buf_first_ts >= FLUSH_SECONDS
            )
        if should_flush:
            self.flush()

    def flush(self) -> None:
        """Visibility barrier: drain the metric buffer into the store."""
        with self._buf_lock:
            batch, self._buf = self._buf, []
            self._buf_first_ts = None
        if batch:
            self._store.append("metrics", batch)
            if self._live_bus is not None:
                self._live_bus.publish(batch)

    def log_param(self, key: str, value: Any) -> None:
        self._store.upsert(
            "params",
            [{"run_id": self.id, "key": key, "value": json.dumps(value, ensure_ascii=False)}],
        )

    def log_tag(self, key: str, value: Any) -> None:
        self._store.upsert(
            "tags",
            [{"run_id": self.id, "key": key, "value": json.dumps(value, ensure_ascii=False)}],
        )

    def log_artifact(
        self,
        name: str,
        path: str | None = None,
        kind: str = "file",
        inline: bool = False,
    ) -> str:
        aid = uuid.uuid4().hex
        uri = None
        blob = None
        size = None
        if path:
            uri = os.path.abspath(path)
            with open(path, "rb") as f:
                data = f.read()
            sha_hex = hashlib.sha256(data).hexdigest()
            size = len(data)
            if inline:
                blob = data
        else:
            sha_hex = hashlib.sha256(b"").hexdigest()
        self._store.append(
            "artifacts",
            [
                {
                    "id": aid,
                    "run_id": self.id,
                    "name": name,
                    "kind": kind,
                    "created_at": time.time(),
                    "uri": uri,
                    "sha256": sha_hex,
                    "size_bytes": size,
                    "inline_bytes": blob,
                }
            ],
        )
        return aid

    # --- dashboard --------------------------------------------------------

    def serve_dashboard(self, host: str = "127.0.0.1", port: int = 8000):
        """Start the dashboard HTTP server on a background thread, sharing
        this process's store (ref: waddle/_run.py:86-109 — same shared-
        connection model) and wiring live metric delivery to /events."""
        from waddleml_spark.server import serve_in_thread
        from waddleml_spark.streaming.live import LiveBus

        if self._live_bus is None:
            self._live_bus = LiveBus()
        server = serve_in_thread(self._store, host=host, port=port, bus=self._live_bus)
        host_out, port_out = server.server_address
        print(f"Dashboard at http://{host_out}:{port_out}")
        return server

    # --- sysmetrics -------------------------------------------------------

    def _start_sysmetrics(self) -> None:
        try:
            from waddleml_spark.sysmetrics import SystemMonitor

            self._sysmon = SystemMonitor(self)
            self._sysmon.start()
        except Exception:
            pass

    # --- lifecycle --------------------------------------------------------

    def _atexit(self) -> None:
        if not self._finished:
            self.finish(status="aborted")

    def finish(self, status: str = "completed") -> None:
        if self._finished:
            return
        self._finished = True
        if self._sysmon:
            self._sysmon.stop()
        self.flush()
        self._store.update_run(self.id, status=status, ended_at=time.time())

    def __enter__(self) -> "Run":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.finish(status="failed" if exc else "completed")
        state.set_active_run(None)
