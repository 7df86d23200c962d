"""SparkDashboard: the reference DashboardAPI's read routes
(ref: waddle/_dashboard_api.py:22-249) as parameterised SQL on the store's
DuckDB mirror, in the reference's wire shapes.

Each route is a small interactive lookup, and the store keeps the mirror
in the same logical state as its Parquet event log, so a route costs
milliseconds and starts no JVM (as Spark plans over the event log the same
routes took 0.2-1 s warm and 4-12 s cold: tools/serve_bench.py).  The
Spark versions of these shapes are catalog queries (`runs_list_page`,
`flagship_leaderboard`, `metric_summary_stats`, `series_downsample_50`,
...), checked against the DuckDB oracle: the scale path.  Only
`delete_run` reaches Spark, through the store's Parquet rewrite.

The reference's N+1 loops stay folded (SURVEY.md §3.2/§3.3): list_runs
reclassifies a page's stale runs from one aggregate, compare_runs reads
every series in one scan.  `series_downsample` and `lttb_downsample` are
the DataFrame operators the catalog builds its chart queries from.
"""

from __future__ import annotations

import json
import threading
import time
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from waddleml_spark.store import WaddleStore

_RUN_COLS = "id, project, name, status, started_at, ended_at, commit_sha"
# list_runs sort columns, the first being the fallback (ref O1).  With the
# asc/desc check, this allowlist keeps the caller's strings out of the SQL.
_SORTABLE = ("started_at", "ended_at", "name", "status", "project")
_IN_IDS = "(SELECT unnest(?))"  # IN-list bound as one list parameter
_STALE_AFTER_S = 300


def _loads_tolerant(v):
    # tolerant JSON parse: fall back to the raw string (ref :86-108)
    if v is None or not isinstance(v, str):
        return v
    try:
        return json.loads(v)
    except (json.JSONDecodeError, TypeError):
        return v


class SparkDashboard:
    """Read routes over `store`'s DuckDB mirror.

    All reads share one cursor, serialised by a lock: DuckDB keeps every
    cursor registered with its parent connection until that closes, so a
    cursor per request would grow a long-running server's memory.  The
    cursor is its own connection, so each statement sees the writer's
    last COMMIT and never a batch in flight."""

    def __init__(self, store: WaddleStore):
        self.store = store
        self._cur = store.duck.cursor()
        self._lock = threading.Lock()

    def _rows(self, sql: str, params: Sequence = ()) -> list[dict[str, Any]]:
        with self._lock:
            cur = self._cur.execute(sql, list(params))
            cols = [d[0] for d in cur.description]
            return [dict(zip(cols, r)) for r in cur.fetchall()]

    # --- list_runs (P1 P2 P9 O1 O2) --------------------------------------

    def list_runs(
        self,
        project: str | None = None,
        status: str | None = None,
        sort: str = "started_at",
        order: str = "desc",
        limit: int = 200,
        offset: int = 0,
        now: float | None = None,
    ) -> list[dict[str, Any]]:
        """One page of runs ordered by `sort` (NULLS LAST both ways), then
        id, so pages are deterministic.  The page is cut on the STORED
        status; then a running run with no metric for 300 s (or none
        since it started) shows as aborted, unwritten."""
        col = sort if sort in _SORTABLE else _SORTABLE[0]
        direction = "DESC" if order.lower() == "desc" else "ASC"
        filters = [(c, v) for c, v in (("project", project), ("status", status)) if v is not None]
        where = " WHERE " + " AND ".join(f"{c} = ?" for c, _ in filters) if filters else ""
        page = self._rows(
            f"SELECT {_RUN_COLS} FROM runs{where}"
            f" ORDER BY {col} {direction} NULLS LAST, id LIMIT ? OFFSET ?",
            [*(v for _, v in filters), limit, offset],
        )
        running = [d["id"] for d in page if d["status"] == "running"]
        if running:
            sql = f"SELECT run_id, max(ts) AS ts FROM metrics WHERE run_id IN {_IN_IDS} GROUP BY 1"
            last = {r["run_id"]: r["ts"] for r in self._rows(sql, [running])}
            now_ts = time.time() if now is None else now
            for d in page:
                seen = last.get(d["id"], d["started_at"])
                if d["status"] == "running" and now_ts - seen > _STALE_AFTER_S:
                    d["status"] = "aborted"
        return page

    # --- get_run (P3 P4 A3) ----------------------------------------------

    def get_run(self, run_id: str) -> dict[str, Any]:
        """The run row with its JSON fields parsed, params and tags by
        key, artifacts by (created_at, id), metric keys sorted."""
        found = self._rows("SELECT * FROM runs WHERE id = ?", [run_id])
        if not found:
            return {}
        run = found[0]
        for field in ("env", "config"):
            run[field] = _loads_tolerant(run[field])
        return {
            "run": run,
            "params": self._key_values("params", run_id),
            "tags": self._key_values("tags", run_id),
            "artifacts": self._rows(
                "SELECT id, name, kind, created_at, uri, sha256, size_bytes"
                " FROM artifacts WHERE run_id = ? ORDER BY created_at, id",
                [run_id],
            ),
            "metric_keys": self._keys(
                "SELECT DISTINCT key FROM metrics WHERE run_id = ? ORDER BY key", [run_id]
            ),
        }

    def _keys(self, sql: str, params: Sequence = ()) -> list[str]:
        return [r["key"] for r in self._rows(sql, params)]

    def _key_values(self, table: str, run_id: str) -> dict[str, Any]:
        sql = f"SELECT key, value FROM {table} WHERE run_id = ? ORDER BY key"
        return {r["key"]: _loads_tolerant(r["value"]) for r in self._rows(sql, [run_id])}

    # --- get_metrics (P4 O3, incl. the cross-key LIMIT quirk) ------------

    def get_metrics(
        self, run_id: str, key: str | None = None, limit: int = 5000
    ) -> list[dict[str, Any]]:
        # ref quirk preserved: without a key the limit truncates ACROSS
        # keys (:140-149)
        by_key = " AND key = ?" if key else ""
        return self._rows(
            f"SELECT key, step, ts, value FROM metrics WHERE run_id = ?{by_key}"
            " ORDER BY key, step LIMIT ?",
            [run_id, *([key] if key else []), limit],
        )

    def get_metrics_downsampled(
        self, run_id: str, key: str, points: int = 200
    ) -> list[dict[str, Any]]:
        """Bounded-size chart series (extension route): the buckets of
        `series_downsample` over one (run, key) stream's steps, where the
        reference returns the first `limit` rows and drops the tail."""
        return self._rows(
            """
            WITH m AS (SELECT CAST(step AS DOUBLE) AS x, value FROM metrics
                       WHERE run_id = ? AND key = ?),
                 ext AS (SELECT min(x) AS lo, max(x) AS hi FROM m)
            SELECT CASE WHEN hi - lo <= 0 THEN 0 ELSE least(
                       CAST(floor((x - lo) / (hi - lo) * ?) AS INTEGER), ?)
                   END AS bucket,
                   avg(x) AS step, avg(value) AS value, min(value) AS value_min,
                   max(value) AS value_max, count(*) AS n
            FROM m, ext GROUP BY bucket ORDER BY bucket""",
            [run_id, key, points, points - 1],
        )

    # --- compare_runs (P5 A4 A5) -----------------------------------------

    def compare_runs(self, run_ids: list[str]) -> dict[str, Any]:
        """Runs newest first (started_at DESC, id), params by key, and
        each key's series ordered by (step, run_id)."""
        if not run_ids:
            return {"runs": [], "param_diff": {}, "metrics": {}}
        ids = [list(run_ids)]
        runs = self._rows(
            f"SELECT {_RUN_COLS} FROM runs WHERE id IN {_IN_IDS} ORDER BY started_at DESC, id", ids
        )
        params: dict[str, dict[str, Any]] = {}
        for r in self._rows(
            f"SELECT run_id, key, value FROM params WHERE run_id IN {_IN_IDS}"
            " ORDER BY key, run_id",
            ids,
        ):
            params.setdefault(r["run_id"], {})[r["key"]] = _loads_tolerant(r["value"])
        metrics: dict[str, list[dict[str, Any]]] = {}
        for r in self._rows(
            f"SELECT key, run_id, step, value FROM metrics WHERE run_id IN {_IN_IDS}"
            " ORDER BY key, step, run_id",
            ids,
        ):
            metrics.setdefault(r.pop("key"), []).append(r)
        return {"runs": runs, "params": params, "metrics": metrics}

    # --- metric keys (A3 P6) ---------------------------------------------

    def metric_keys_global(self) -> list[str]:
        return self._keys(
            "SELECT DISTINCT key FROM metrics WHERE NOT starts_with(key, 'system/') ORDER BY key"
        )

    # --- metric_summary / leaderboard (A6: J1+J2+W1+O4) ------------------

    def metric_summary(self, key: str, limit: int = 20) -> list[dict[str, Any]]:
        """Each run's value of `key` at its last step (every row of a
        tied last step), newest run first; ties order by value."""
        return self._rows(
            """
            SELECT m.run_id, r.name, m.value
            FROM metrics m JOIN runs r ON r.id = m.run_id
            WHERE m.key = ?
            QUALIFY rank() OVER (PARTITION BY m.run_id ORDER BY m.step DESC) = 1
            ORDER BY r.started_at DESC, m.run_id, m.value LIMIT ?""",
            [key, limit],
        )

    # --- delete (D6) ------------------------------------------------------

    def delete_run(self, run_id: str) -> bool:
        try:
            self.store.delete_run(run_id)
            return True
        except Exception:
            return False


def series_downsample(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    target_points: int = 1000,
) -> DataFrame:
    """Chart-ready series downsampling: bucket each group's order range
    into ≤target_points equal-width buckets and emit one averaged point
    per bucket (bucket midpoint as x, mean as y, min/max to draw error
    bands).

    The reference CAPS series at 5,000 rows (get_metrics limit —
    _dashboard_api.py:136) and silently drops the rest; this keeps the
    whole series' shape at bounded output size.  Pure two-pass
    aggregate: per-group extent (tiny, broadcast back), then one
    grouped mean over (group, bucket) — no window, no sort, scales to
    series of any length.  Constant-valued order ranges (hi == lo)
    collapse to bucket 0.
    """
    # drop NULL-x rows up front: they belong to no bucket, and the
    # bucket expression would otherwise dump them into the LAST one
    # (F.least SKIPS null args: least(NULL, tp-1) = tp-1 — round-6
    # review find), skewing its stats
    df = df.filter(F.col(order_col).isNotNull())
    ext = df.groupBy(*group_cols).agg(
        F.min(order_col).alias("__lo"), F.max(order_col).alias("__hi")
    )
    j = df.join(F.broadcast(ext), list(group_cols))
    span = F.col("__hi") - F.col("__lo")
    bucket = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col(order_col) - F.col("__lo")) / span * target_points
            ).cast("int"),
            F.lit(target_points - 1),
        )
    )
    return (
        j.withColumn("__b", bucket)
        .groupBy(*group_cols, "__b")
        .agg(
            F.avg(order_col).alias("x"),
            F.avg(value_col).alias("y_mean"),
            F.min(value_col).alias("y_min"),
            F.max(value_col).alias("y_max"),
            F.count("*").alias("n_points"),
        )
        .withColumnRenamed("__b", "bucket")
    )


def lttb_downsample(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    target_points: int = 1000,
    round_digits: int = 6,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets chart downsampling, parallel variant.

    Classic LTTB selects, per bucket, the point forming the largest
    triangle with the PREVIOUS SELECTED point and the next bucket's mean
    — a sequential dependency chain.  The standard parallel relaxation
    anchors on the neighbor buckets' MEANS instead (both sides), which
    breaks the chain: every bucket selects independently, one window
    pass over bucket-level rows.  First/last buckets keep their
    first/last points exactly (LTTB's endpoint rule).

    Cross-engine determinism: bucket means are floor-rounded before the
    area formula (double SUM order is engine-dependent; everything after
    is per-row IEEE arithmetic), and the per-bucket argmax is a
    row_number ordered by (area DESC, order_col) — ties break on the
    x position, never on float identity.
    """
    # Built from parsed expr strings (round-8 conversion): the Column-API
    # build — two windows with seven window Columns, the area formula,
    # three row_numbers — paid 0.37 s of driver py4j per invocation at
    # sf0.1, half this query's wall; the parsed strings produce the
    # identical Catalyst plan (oracle parity re-certified).  0.5D in the
    # rounding literal: a bare SQL 0.5 parses as DECIMAL and would
    # insert a cast the Column build never had.
    def bq(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    g = [bq(c) for c in group_cols]
    gl = ", ".join(g)
    x, y = bq(order_col), bq(value_col)
    tp = int(target_points)
    # drop NULL-x rows up front: they belong to no bucket, and the
    # bucket expression would otherwise dump them into the LAST one
    # (least() SKIPS null args: least(NULL, tp-1) = tp-1 — round-6
    # review find), skewing its stats
    df = df.filter(f"{x} IS NOT NULL")
    ext = df.groupBy(*group_cols).agg(
        F.expr(f"min({x}) AS __lo"), F.expr(f"max({x}) AS __hi")
    )
    j = df.join(F.broadcast(ext), list(group_cols))
    bucket = (
        "CASE WHEN __hi - __lo <= 0 THEN 0 ELSE least("
        f"CAST(floor(({x} - __lo) / (__hi - __lo) * {tp}) AS INT), {tp - 1})"
        " END"
    )
    d = j.selectExpr("*", f"{bucket} AS __b").drop("__lo", "__hi")
    p = 10 ** int(round_digits)
    rr = lambda e: f"floor(({e}) * {p} + 0.5D) / {p}"  # noqa: E731
    means = d.groupBy(*group_cols, "__b").agg(
        F.expr(f"{rr(f'avg({x})')} AS __mx"),
        F.expr(f"{rr(f'avg({y})')} AS __my"),
    )
    wb = ("PARTITION BY " + gl + " " if g else "") + "ORDER BY __b"
    anchors = means.selectExpr(
        "*",
        f"lag(__mx) OVER ({wb}) AS __px",
        f"lag(__my) OVER ({wb}) AS __py",
        f"lead(__mx) OVER ({wb}) AS __nx",
        f"lead(__my) OVER ({wb}) AS __ny",
    )
    cand = d.join(anchors, [*group_cols, "__b"])
    area = (
        f"abs(__px * ({y} - __ny) + {x} * (__ny - __py)"
        f" + __nx * (__py - {y}))"
    )
    interior = "(__px IS NOT NULL AND __nx IS NOT NULL)"
    pb = "PARTITION BY " + (gl + ", __b" if g else "__b")
    # value_col joins every tie-break: duplicate timestamps must not make
    # the selection depend on row order
    wsel = f"{pb} ORDER BY __area DESC, {x}, {y}"
    wfirst = f"{pb} ORDER BY {x}, {y}"
    wlast = f"{pb} ORDER BY {x} DESC, {y} DESC"
    out = (
        cand.selectExpr(
            "*", f"CASE WHEN {interior} THEN {area} END AS __area"
        )
        .selectExpr(
            "*",
            f"row_number() OVER ({wsel}) AS __rsel",
            f"row_number() OVER ({wfirst}) AS __rfirst",
            f"row_number() OVER ({wlast}) AS __rlast",
        )
        # no px-NOT-NULL requirement on the last-bucket branch: a
        # group collapsing to ONE bucket (constant x / short series)
        # has px AND nx NULL, and the docstring's endpoint rule must
        # still keep BOTH its first and last points (round-6 fix,
        # mirrored in the SQL oracle)
        .filter(
            f"({interior} AND __rsel = 1)"
            " OR (__px IS NULL AND __rfirst = 1)"
            " OR (__nx IS NULL AND __rlast = 1)"
        )
    )
    return out.selectExpr(*g, "__b AS bucket", x, y)
