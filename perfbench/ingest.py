"""tracker_ingest: the write path beside live readers.

One writer thread runs seeded tracked runs back to back (closed loop), in
whole blocks of four runs of fixed size mix (tracker.run_specs):
init (config -> params, tags), log() at full speed, one small
log_artifact, finish().  One WebSocket client on the in-process dashboard
receives every pushed metric, and one HTTP poller calls
GET /api/runs/{active}/metrics in an open loop at 1 call/s, so reads meet a
growing set of micro-batch files.

Set-up ends after one short run and one poll, which pay the cold start of
every Spark job the workload runs.

One operation is one tracked run, init() to finish(); the gated figures
are the Spark jobs, stages and tasks per run that the writer thread waits
on (common.END_TO_END says why these).  Reported beside them: rows logged
per wall second, the latency of init(), log() and finish(), the push lag
(log() to the row's frame at the WS client) and the poll latency.
"""

from __future__ import annotations

import json
import threading
import time
from collections import Counter
from contextlib import nullcontext

from common import (
    HostStamp,
    JobCounter,
    Result,
    quantile,
    start_session,
    stop_session,
    window_units,
    work_dir,
)
from tracker import (
    BLOCK,
    check_store,
    http_get,
    isolate_cwd,
    log_all,
    run_specs,
    start_run,
    store_bytes,
    store_files,
    WsClient,
)

POLL_PERIOD_S = 1.0
UNIT_S = 7.0  # seconds one block of four runs takes on a 4-core host


class Ingest:
    def __init__(self, ctx, spark, store, port, bus, tracer):
        self.spark, self.store, self.port = spark, store, port
        self.bus, self.tracer = bus, tracer
        self.jobs = JobCounter()
        self.specs = run_specs(
            ctx.seed,
            steps_lo=20,
            steps_hi=200 if ctx.tiny else 3000,
            keys_lo=4,
            keys_hi=8 if ctx.tiny else 16,
        )
        self.logged: dict[str, tuple] = {}  # run_id -> (spec, rows, sum)
        self.artifact = f"{ctx.work}/model.bin"
        with open(self.artifact, "wb") as f:
            f.write(bytes(range(256)) * 16)
        self.active: str | None = None

    def one_run(self, spec, rec: dict | None) -> None:
        pc = time.perf_counter
        group = self.jobs.begin()
        t = pc()
        run = start_run(spec, self.store.root, self.spark, self.bus)
        self.active = run.id
        lat = None
        if rec is not None:
            rec["init"].append(pc() - t)
            lat = rec["log"]
        total = log_all(run, spec, lat)
        run.log_artifact("model.bin", self.artifact)
        t = pc()
        run.finish()
        dt = pc() - t
        self.jobs.end()
        if rec is not None:
            rec["finish"].append(dt)
            # counted after the run, so it costs the run nothing
            rec["work"].append(self.jobs.count(group))
            rec["runs"].append(run.id)
            rec["specs"].append(spec)
        self.logged[run.id] = (spec, spec.steps * len(spec.keys), total)

    def poll(self, stop: threading.Event, t0: float, out: list) -> None:
        """Open loop: call i is due at t0 + i*period and timed from then."""
        tracer = self.tracer
        i = 0
        while True:
            due = t0 + i * POLL_PERIOD_S
            delay = due - time.perf_counter()
            if delay > 0 and stop.wait(delay):
                return
            if stop.is_set():
                return
            rid = self.active
            late = time.perf_counter() - due
            try:
                with tracer.span("client.get_metrics") if tracer else nullcontext() as sp:
                    status, body = http_get(self.port, f"/api/runs/{rid}/metrics")
                    if sp is not None:
                        sp.attrs["bytes"] = len(body)
                rows = json.loads(body) if status == 200 else None
            except (OSError, ValueError):
                status, rows = None, None
            out.append((rid, status, rows, time.perf_counter() - due, late))
            i += 1

    def window(self, units: int, replay=None) -> dict:
        """Run `units` whole blocks of specs, or exactly the specs of an
        earlier window (`replay`)."""
        rec = {k: [] for k in ("init", "log", "finish", "work", "runs", "specs", "polls")}
        stop = threading.Event()
        t0 = time.perf_counter()
        poller = threading.Thread(target=self.poll, args=(stop, t0, rec["polls"]))
        poller.start()
        try:
            specs = replay or [next(self.specs) for _ in range(units * BLOCK)]
            for spec in specs:
                self.one_run(spec, rec)
        finally:
            wall = time.perf_counter() - t0
            stop.set()
            poller.join()
        rec["wall"] = wall
        rec["rows"] = sum(self.logged[r][1] for r in rec["runs"])
        return rec


def check_poll(rows, spec, limit: int = 5000) -> bool:
    """A poll returns the first `limit` rows, ordered by (key, step), of a
    flushed prefix of the run: every key before the last one holds steps
    0..F-1 for one F, the last key holds 0..j-1 with j <= F, and every value
    is the one logged."""
    if rows is None or len(rows) > limit:
        return False
    vals = spec.values()
    col = {k: i for i, k in enumerate(spec.keys)}
    order = sorted(spec.keys)
    per_key: dict[str, list] = {}
    prev = None
    for r in rows:
        cur = (r["key"], r["step"])
        if prev is not None and cur <= prev or r["key"] not in col:
            return False
        prev = cur
        if not 0 <= r["step"] < spec.steps or vals[r["step"], col[r["key"]]] != r["value"]:
            return False
        per_key.setdefault(r["key"], []).append(r["step"])
    got = list(per_key)
    if got != order[: len(got)]:
        return False
    if any(steps != list(range(len(steps))) for steps in per_key.values()):
        return False
    counts = [len(s) for s in per_key.values()]
    if len(set(counts[:-1])) > 1 or (len(counts) > 1 and counts[-1] > counts[0]):
        return False
    if len(rows) < limit and counts and (len(got) != len(order) or counts[-1] != counts[0]):
        return False
    return True


def check_ws(frames, logged: dict) -> int:
    """Rows the WebSocket client got wrong: every logged row must arrive
    exactly once with its logged value, and nothing else may arrive."""
    got = Counter((f[0], f[1], f[2]) for f in frames)
    value = {(f[0], f[1], f[2]): f[3] for f in frames}
    bad = sum(1 for k in got if k[0] not in logged)
    for rid, (spec, _, _) in logged.items():
        vals = spec.values()
        for s in range(spec.steps):
            for j, k in enumerate(spec.keys):
                c = got.get((rid, k, s), 0)
                bad += c != 1 or bool(value[(rid, k, s)] != vals[s, j])
    return bad


def run(ctx, tracer=None) -> Result:
    from waddleml_spark.server import serve_in_thread
    from waddleml_spark.store import WaddleStore
    from waddleml_spark.streaming.live import LiveBus

    res = Result()
    t_setup = time.perf_counter()
    spark, session_s = start_session()
    work = work_dir(ctx.root)
    isolate_cwd(work)
    store = WaddleStore(f"{work}/store", spark=spark)
    bus = LiveBus()
    server = serve_in_thread(store, port=0, bus=bus)
    port = server.server_address[1]
    ws = WsClient(port)
    try:
        ing = Ingest(ctx, spark, store, port, bus, tracer)
        # one short run and one poll pay the cold start of every Spark job
        # the workload runs
        ing.one_run(next(run_specs(ctx.seed + 1, 20, 40, 4, 4)), None)
        http_get(port, f"/api/runs/{ing.active}/metrics")
        res.end_to_end["setup_s"] = time.perf_counter() - t_setup

        stamp = HostStamp()
        stamp.start()
        if tracer is not None:
            tracer.phase = "window"
        rec = ing.window(window_units(ctx.seconds, UNIT_S))
        if tracer is not None:
            tracer.phase = "check"
            tracer.unwrap_all()
            # tracing overhead: the same window again with the wrappers off
            plain = ing.window(0, replay=rec["specs"])
            res.per_layer_extra["trace.overhead_pct"] = 100.0 * (
                rec["wall"] / plain["wall"] - 1.0
            )
        expected_rows = sum(v[1] for v in ing.logged.values())
        ws.wait_for(expected_rows, timeout=60)
        res.stamp = stamp.finish(spark)

        # --- correctness ---------------------------------------------------
        ws_failed = check_ws(ws.rows, ing.logged)
        res.checks["ws_exactly_once"] = ws_failed == 0

        polls = rec["polls"] + (plain["polls"] if tracer is not None else [])
        poll_bad = 0
        for rid, status, rows, _, _ in polls:
            if status != 200 or rid not in ing.logged or not check_poll(rows, ing.logged[rid][0]):
                poll_bad += 1
        res.checks["polls_match"] = poll_bad == 0

        counts = {
            "runs": len(ing.logged),
            "params": sum(len(v[0].config) for v in ing.logged.values()),
            "tags": sum(len(v[0].tags) for v in ing.logged.values()),
            "metrics": expected_rows,
            "artifacts": len(ing.logged),
        }
        sums = {rid: (n, s) for rid, (_, n, s) in ing.logged.items()}
        store_checks = check_store(store, counts, sums)
        res.checks["store_consistent"] = all(store_checks.values())
        store_failed = sum(not ok for ok in store_checks.values())

        n_calls = sum(4 + v[0].steps for v in ing.logged.values())
        res.attempted = n_calls + expected_rows + len(polls) + len(store_checks)
        res.failed = ws_failed + poll_bad + store_failed

        # --- metrics -------------------------------------------------------
        win_ids = set(rec["runs"])
        win_lags = [r[5] - r[4] for r in ws.rows if r[0] in win_ids]
        rows_per_s = rec["rows"] / rec["wall"]
        n_runs = len(rec["runs"])
        for name, n in zip(("jobs", "stages", "tasks"), map(sum, zip(*rec["work"]))):
            res.end_to_end[f"spark_{name}_per_op"] = n / n_runs
        poll_lat = [p[3] for p in rec["polls"] if p[1] == 200]
        res.report = {
            "setup_s": (res.end_to_end["setup_s"], "s"),
            "session_s": (session_s, "s"),
            "error_rate": (res.failed / res.attempted, "1"),
            "ingest_rows_per_s": (rows_per_s, "1/s"),
            "log_p50_ms": (1e3 * quantile(rec["log"], 0.5), "ms"),
            "log_p999_ms": (1e3 * quantile(rec["log"], 0.999), "ms"),
            "finish_p50_s": (quantile(rec["finish"], 0.5), "s"),
            "init_p50_s": (quantile(rec["init"], 0.5), "s"),
            "push_lag_p50_s": (quantile(win_lags, 0.5), "s"),
            "push_lag_p90_s": (quantile(win_lags, 0.9), "s"),
            "push_lag_p99_s": (quantile(win_lags, 0.99), "s"),
            "get_metrics_p50_s": (quantile(poll_lat, 0.5), "s"),
            "poll_late_max_s": (max((p[4] for p in rec["polls"]), default=0.0), "s"),
            "runs_in_window": (len(rec["finish"]), "count"),
            "rows_in_window": (rec["rows"], "count"),
            "log_calls": (len(rec["log"]), "count"),
            "polls": (len(rec["polls"]), "count"),
            "polls_failed": (poll_bad, "count"),
        }
        for n, v in res.end_to_end.items():
            res.report.setdefault(n, (v, "count"))
        files = store_files(store.root)
        for t, n in files.items():
            res.per_layer_extra[f"store.files.{t}"] = n
        res.per_layer_extra["store.bytes_per_row"] = store_bytes(store.root) / max(1, expected_rows)
        res.per_layer_extra["live.ws_frames"] = ws.frames
    finally:
        ws.close()
        server.shutdown()
        server.server_close()
        stop_session(spark)
    return res
