"""catalog_headline: bench.py's 16 headline queries on seeded tables.

Set-up starts the session, generates the tables (datagen, sf 0.01) and runs
every query once, collecting its result: that cold pass is what a user pays
before the first answer, and its results are what the correctness check
reads.  WARM_PASSES further passes, forced like the window, let the JIT
compile the hot paths first.  The window runs a fixed number of passes,
each query with fresh lineage, forced with bench.py's noop sink and
counted through its own job group.  After the window the value hash of
minhash_lsh_candidates, which has no oracle, is taken again and must equal
the cold pass's, and each oracle-paired query's cold-pass result is
compared with its catalog.ORACLE twin by waddleml_spark.testing.compare.
No tracker code runs.

One operation is one headline query; the gated figures are the Spark jobs,
stages and tasks per query (common.END_TO_END says why these).  Reported
beside them: queries per second over the window, the median pass, and
each query's least wall over the passes with their geometric mean.
"""

from __future__ import annotations

import hashlib
import statistics
import sys
import time

import datagen
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

SF = 0.01
UNIT_S = 4.5  # seconds one warm pass of the 16 queries takes on a 4-core host
WARM_PASSES = 1


class Collected:
    """A query's result collected once, for checks that take a DataFrame
    (they read only `columns` and `collect()`)."""

    def __init__(self, df):
        self.columns = list(df.columns)
        self._rows = df.collect()

    def collect(self):
        return self._rows


def value_hash(df) -> str:
    from waddleml_spark.testing import normalize_rows

    _, rows = normalize_rows(df.columns, [tuple(r) for r in df.collect()])
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def run(ctx, tracer=None) -> Result:
    from bench import HEADLINE, force
    from waddleml_spark import catalog
    from waddleml_spark.testing import compare, duckdb_conn

    res = Result()
    t_setup = time.perf_counter()
    spark, session_s = start_session()
    data = f"{work_dir(ctx.root)}/data"
    t = time.perf_counter()
    datagen.write(ctx.seed, SF / 10 if ctx.tiny else SF, data)
    gen_s = time.perf_counter() - t
    jobs = JobCounter()

    def one(name: str, traced: bool) -> tuple[float, tuple[int, int, int]]:
        """Wall and (jobs, stages, tasks) of one query, built and forced."""
        group = jobs.begin()
        t0 = time.perf_counter()
        try:
            if not traced:
                force(catalog.QUERIES[name](spark, data))
            else:
                with tracer.span(f"catalog.query.{name}") as sp:
                    with tracer.span(f"catalog.build.{name}"):
                        df = catalog.QUERIES[name](spark, data)
                    with tracer.span(f"catalog.exec.{name}"):
                        force(df)
            dt = time.perf_counter() - t0
        finally:
            jobs.end()
        # counted after the query's wall is taken, so it costs the query nothing
        work = jobs.count(group)
        if traced:
            sp.attrs["jobs"], sp.attrs["stages"], _ = work
        return dt, work

    no_oracle = [n for n in HEADLINE if n not in catalog.ORACLE]

    try:
        cold = {n: Collected(catalog.QUERIES[n](spark, data)) for n in HEADLINE}
        res.end_to_end["setup_s"] = time.perf_counter() - t_setup
        t = time.perf_counter()
        for _ in range(WARM_PASSES):
            for name in HEADLINE:
                force(catalog.QUERIES[name](spark, data))
        warm_s = time.perf_counter() - t

        stamp = HostStamp()
        stamp.start()
        if tracer is not None:
            tracer.phase = "window"
        walls: dict[str, list[float]] = {n: [] for n in HEADLINE}
        work = [0, 0, 0]  # jobs, stages, tasks
        passes = []
        t0 = time.perf_counter()
        for _ in range(window_units(ctx.seconds, UNIT_S)):
            p0 = time.perf_counter()
            for name in HEADLINE:
                dt, counts = one(name, tracer is not None)
                walls[name].append(dt)
                work = [a + b for a, b in zip(work, counts)]
            passes.append(time.perf_counter() - p0)
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.phase = "check"
            tracer.unwrap_all()
            # tracing overhead: the same passes again without spans
            t1 = time.perf_counter()
            for _ in passes:
                for name in HEADLINE:
                    one(name, False)
            res.per_layer_extra["trace.overhead_pct"] = 100.0 * (
                wall / (time.perf_counter() - t1) - 1.0
            )
        res.stamp = stamp.finish(spark)

        # --- correctness, outside every timed figure ----------------------
        stable = [
            value_hash(catalog.QUERIES[n](spark, data)) == value_hash(cold[n]) for n in no_oracle
        ]
        mismatched = []
        con = duckdb_conn(data)
        try:
            for name in HEADLINE:
                if name in catalog.ORACLE:
                    ok, msg = compare(cold[name], con, catalog.ORACLE[name], name=name)
                    if not ok:
                        mismatched.append(msg)
                        print(f"perfbench: {msg}", file=sys.stderr)
        finally:
            con.close()
    finally:
        stop_session(spark)

    res.checks["oracle_match"] = not mismatched
    res.checks["no_oracle_hash_stable"] = all(stable)
    n_queries = sum(len(w) for w in walls.values())
    res.attempted = n_queries + len(HEADLINE) + len(no_oracle)
    res.failed = len(mismatched) + stable.count(False)
    lat = [x for w in walls.values() for x in w]
    for name, n in zip(("jobs", "stages", "tasks"), work):
        res.end_to_end[f"spark_{name}_per_op"] = n / n_queries
    res.report = {
        "setup_s": (res.end_to_end["setup_s"], "s"),
        "session_s": (session_s, "s"),
        "datagen_s": (gen_s, "s"),
        "warm_up_s": (warm_s, "s"),
        "error_rate": (res.failed / res.attempted, "1"),
        "queries_per_s": (n_queries / wall, "1/s"),
        "query_best_geomean_s": (statistics.geometric_mean(min(w) for w in walls.values()), "s"),
        "catalog_pass_s": (statistics.median(passes), "s"),
        "query_p90_s": (quantile(lat, 0.9), "s"),
        "passes": (len(passes), "count"),
    }
    for n, v in res.end_to_end.items():
        res.report.setdefault(n, (v, "count"))
    for n in HEADLINE:
        res.report[f"query_best_s.{n}"] = (min(walls[n]), "s")
    if mismatched:
        res.report["mismatch"] = (len(mismatched), "count")
    return res
