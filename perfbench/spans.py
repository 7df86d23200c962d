"""Spans recorded from outside the program: the benchmark wraps public
functions of waddleml_spark at runtime (never edits them), keeps every span
in memory until the run ends, and derives the per-layer metrics from them.

A span is (id, name, start, end, parent, op, phase).  `op` ties together the
spans of one operation: a root span opens a new op and its descendants on the
same thread inherit it.  Spans that run on a server thread are tied to the
client call that contains them afterwards (`link`).  Self time is a span's
duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from common import quantile
from tracker import TABLES

# the one dashboard route the benchmark calls (the poller of tracker_ingest)
# and the SparkDashboard method behind it
ROUTE = "get_metrics"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    op: int
    phase: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.phase = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        parent = st[-1] if st else None
        sid = next(self._ids)
        sp = Span(
            sid,
            name,
            time.perf_counter(),
            parent.id if parent else None,
            parent.op if parent else sid,
            self.phase,
        )
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, jobs=None) -> None:
        """Replace owner.attr by a span-recording wrapper; with `jobs` (a
        common.JobCounter) the call's Spark jobs and stages are counted."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if jobs is None:
                with tracer.span(name):
                    return orig(*args, **kwargs)
            group = jobs.begin()
            try:
                with tracer.span(name) as sp:
                    return orig(*args, **kwargs)
            finally:
                jobs.end()
                # counted after the span closes, so it costs the span nothing
                sp.attrs["jobs"], sp.attrs["stages"], _ = jobs.count(group)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # --- analysis ---------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        """Spans of `name` from the timed window, or from the whole run when
        the layer only ran during set-up."""
        all_ = [s for s in self.spans if s.name == name]
        win = [s for s in all_ if s.phase == "window"]
        return win or all_

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(kids.get(sp.id, []), key=lambda c: c.start):
            if cur_e is None or c.start > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = c.start, c.end
            else:
                cur_e = max(cur_e, c.end)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.dur - covered

    def descendants(self, sp: Span, kids: dict[int, list[Span]], name: str) -> int:
        n = 0
        todo = list(kids.get(sp.id, []))
        while todo:
            c = todo.pop()
            n += c.name == name
            todo.extend(kids.get(c.id, []))
        return n

    def link(self, client: str, server: str) -> list[tuple[Span, Span]]:
        """Pair each client-side span with the server-side span it contains
        (one client, so calls never overlap) and give both the same op."""
        srv = sorted(self.named(server), key=lambda s: s.start)
        pairs = []
        for c in sorted(self.named(client), key=lambda s: s.start):
            for s in srv:
                if c.start <= s.start and s.end <= c.end:
                    s.op = c.op
                    pairs.append((c, s))
                    break
        return pairs


def _p50(values) -> float:
    return quantile(values, 0.5) if values else 0.0


def per_layer_names(headline) -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order."""
    names = [
        ("session.get_spark_s", "s"),
        ("api.init_s", "s"),
        ("run.flush_s", "s"),
        ("run.flush_calls", "count"),
    ]
    for op in ("append", "upsert", "update_run"):
        names += [(f"store.{op}_s", "s"), (f"store.{op}_calls", "count")]
    names += [(f"store.files.{t}", "count") for t in TABLES]
    names += [("store.bytes_per_row", "B"), ("store.df_s", "s")]
    names += [
        (f"store.df_calls.{ROUTE}", "count"),
        (f"dashboard.{ROUTE}.self_s", "s"),
        (f"dashboard.{ROUTE}.jobs", "count"),
        (f"dashboard.{ROUTE}.stages", "count"),
        (f"server.http_overhead_s.{ROUTE}", "s"),
        (f"server.response_bytes.{ROUTE}", "B"),
    ]
    names += [("live.publish_s", "s"), ("live.ws_frames", "count")]
    for q in headline:
        names += [
            (f"catalog.build_s.{q}", "s"),
            (f"catalog.exec_s.{q}", "s"),
            (f"catalog.jobs.{q}", "count"),
        ]
    names.append(("trace.overhead_pct", "%"))
    return names


def install(tracer: Tracer, jobs) -> None:
    """Wrap the public functions of every traced layer."""
    from waddleml_spark import api, session
    from waddleml_spark.operators.dashboard import SparkDashboard
    from waddleml_spark.run import Run
    from waddleml_spark.server import Routes
    from waddleml_spark.store import WaddleStore
    from waddleml_spark.streaming.live import LiveBus

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(api, "init", "api.init")
    tracer.wrap(Run, "flush", "run.flush")
    for op in ("append", "upsert", "update_run", "df"):
        tracer.wrap(WaddleStore, op, f"store.{op}")
    tracer.wrap(LiveBus, "publish", "live.publish")
    tracer.wrap(Routes, ROUTE, f"server.{ROUTE}")
    tracer.wrap(SparkDashboard, ROUTE, f"dashboard.{ROUTE}", jobs=jobs)


def per_layer(tracer: Tracer, headline, measured: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the spans, plus the values the workload
    measured itself (`measured`: file counts, bytes, frames, client walls,
    response sizes, tracing overhead).  A layer the workload never calls
    reports 0."""
    kids = tracer.children()
    out: dict[str, float] = {}
    out["session.get_spark_s"] = sum(s.dur for s in tracer.named("session.get_spark"))
    out["api.init_s"] = _p50([s.dur for s in tracer.named("api.init")])
    flush = tracer.named("run.flush")
    out["run.flush_s"] = _p50([s.dur for s in flush])
    out["run.flush_calls"] = len(flush)
    for op in ("append", "upsert", "update_run"):
        sp = tracer.named(f"store.{op}")
        out[f"store.{op}_s"] = _p50([s.dur for s in sp])
        out[f"store.{op}_calls"] = len(sp)
    out["store.df_s"] = _p50([s.dur for s in tracer.named("store.df")])
    srv = tracer.named(f"server.{ROUTE}")
    out[f"store.df_calls.{ROUTE}"] = _p50([tracer.descendants(s, kids, "store.df") for s in srv])
    dash = tracer.named(f"dashboard.{ROUTE}")
    out[f"dashboard.{ROUTE}.self_s"] = _p50([tracer.self_time(s, kids) for s in dash])
    out[f"dashboard.{ROUTE}.jobs"] = _p50([s.attrs.get("jobs", 0) for s in dash])
    out[f"dashboard.{ROUTE}.stages"] = _p50([s.attrs.get("stages", 0) for s in dash])
    pairs = tracer.link(f"client.{ROUTE}", f"server.{ROUTE}")
    out[f"server.http_overhead_s.{ROUTE}"] = _p50([c.dur - s.dur for c, s in pairs])
    out[f"server.response_bytes.{ROUTE}"] = _p50(
        [c.attrs.get("bytes", 0) for c in tracer.named(f"client.{ROUTE}")]
    )
    out["live.publish_s"] = _p50([s.dur for s in tracer.named("live.publish")])
    for q in headline:
        out[f"catalog.build_s.{q}"] = _p50(
            [s.dur for s in tracer.named(f"catalog.build.{q}")]
        )
        out[f"catalog.exec_s.{q}"] = _p50(
            [s.dur for s in tracer.named(f"catalog.exec.{q}")]
        )
        out[f"catalog.jobs.{q}"] = _p50(
            [s.attrs.get("jobs", 0) for s in tracer.named(f"catalog.query.{q}")]
        )
    out.update(measured)
    units = dict(per_layer_names(headline))
    return {n: (float(out.get(n, 0.0)), u) for n, u in units.items()}
