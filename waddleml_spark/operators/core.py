"""Generic relational operators, column-parameterized.

Each maps a reference query shape (SURVEY.md §2 table row, cited per
function) onto a declarative DataFrame plan.  Design rules:

- Filters are plain Column predicates → Catalyst pushes them into the
  parquet scan (PushedFilters) and prunes partitions.
- "Last value per group" is a window rank, not a correlated re-query —
  the reference's N+1 loops (waddle/_dashboard_api.py:61-68,190-198)
  collapse into single shuffles.
- Sorts feeding LIMIT become TakeOrderedAndProject (top-K), never a full
  global sort.
- At 100 TB: every groupBy/window here partitions by the natural key
  (run_id / user key); with the fact table bucketed by that key these
  plans shuffle zero bytes (see store.py for the layout contract).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def equality_filter(df: DataFrame, conditions: Mapping[str, object]) -> DataFrame:
    """Dynamic conjunctive equality filter; None values are skipped.

    Ref shape P2/P3/P4 (waddle/_dashboard_api.py:34-43,77-80): the reference
    assembles WHERE strings conditionally; here each condition is a pushed
    predicate.  Composite point-lookups are conjunctions of equalities.
    """
    for col_name, val in conditions.items():
        if val is not None:
            df = df.filter(F.col(col_name) == F.lit(val))
    return df


def in_list_filter(df: DataFrame, col_name: str, values: Sequence) -> DataFrame:
    """IN-list predicate (ref P5: waddle/_dashboard_api.py:160-196)."""
    return df.filter(F.col(col_name).isin(list(values)))


def paginate(df: DataFrame, limit: int = 200, offset: int = 0) -> DataFrame:
    """LIMIT/OFFSET pagination (ref O2: waddle/_dashboard_api.py:50-51).

    With a preceding orderBy this compiles to TakeOrderedAndProject — a
    distributed top-(offset+limit) with per-partition pruning, not a global
    sort.  Offset pagination is O(offset) at scale; callers paging deep
    should switch to keyset pagination (filter > last_seen_key).
    """
    df = df.offset(offset) if offset else df
    return df.limit(limit)


def search_filter(df: DataFrame, cols: Sequence[str], query: str) -> DataFrame:
    """Case-insensitive substring search over concatenated fields.

    Promotes the reference's client-side JS search
    (waddle/static/index.html:185-191) to a server-side pushed predicate.
    The haystack expression is THE shared one (functions.scalars
    .search_haystack) so server-side search can never drift from other
    consumers of the F8 scalar.
    """
    from waddleml_spark.functions.scalars import search_haystack

    return df.filter(search_haystack(*cols).contains(query.lower()))


def last_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    keep_ties: bool = True,
    descending: bool = True,
) -> DataFrame:
    """Last (max-order_col) row per group — the reference's flagship shape.

    Ref J2/W1 (waddle/_dashboard_api.py:227): a correlated scalar subquery
    `step = (SELECT MAX(step) ...)` selecting each run's final metric value.
    Window rank replaces the subquery; `keep_ties=True` uses rank() to keep
    all max rows (exact parity with the ref's equality-on-max semantics),
    row_number() otherwise.

    Scale: one shuffle on group_cols; with the fact table bucketed on the
    leading group col this is shuffle-free.  AQE splits skewed groups.
    """
    order = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(*group_cols).orderBy(order)
    fn = F.rank() if keep_ties else F.row_number()
    return df.withColumn("__rk", fn.over(w)).filter(F.col("__rk") == 1).drop("__rk")


def top_n_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_exprs: Sequence[Column],
    n: int,
) -> DataFrame:
    """Top-N rows per group (extension of W1; standard OLAP top-k).

    Pass fully-deterministic order_exprs (include a unique tiebreaker) so
    results are stable across partitionings.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_exprs)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def stale_status(
    runs: DataFrame,
    metrics: DataFrame,
    now_ts: float,
    threshold_s: float = 300.0,
    run_id_col: str = "id",
    status_col: str = "status",
    started_col: str = "started_at",
) -> DataFrame:
    """Query-time stale-run reclassification (ref P9/T3).

    Ref: waddle/_dashboard_api.py:56-69 — a per-row correlated MAX(ts)
    re-query in a Python loop (N+1).  Here: one aggregate + one broadcastable
    left join + a CASE expression, evaluated lazily (never written back),
    exactly the reference's semantics at threshold 300 s.
    """
    last = metrics.groupBy(F.col("run_id").alias("__rid")).agg(
        F.max("ts").alias("__last_ts")
    )
    joined = runs.join(last, runs[run_id_col] == F.col("__rid"), "left")
    effective = F.when(
        (F.col(status_col) == "running")
        & (F.coalesce(F.col("__last_ts"), F.col(started_col)) < F.lit(now_ts - threshold_s)),
        F.lit("aborted"),
    ).otherwise(F.col(status_col))
    return joined.withColumn(status_col, effective).drop("__rid", "__last_ts")


def pivot_wide(
    df: DataFrame,
    row_key: str,
    pivot_col: str,
    value_col: str,
    pivot_values: Sequence[str] | None = None,
    agg: str = "first",
) -> DataFrame:
    """Pivot an EAV/tall table to wide (ref A4 param-diff:
    waddle/_dashboard_api.py:171-183 + index.html:373-389, done in
    Python/JS there; a single relational pivot here).

    Always pass `pivot_values` in production: it avoids the extra distinct
    pass over the data and keeps the output schema stable.
    """
    aggfn = {"first": F.first, "avg": F.avg, "sum": F.sum, "max": F.max}[agg]
    piv = df.groupBy(row_key).pivot(
        pivot_col, list(pivot_values) if pivot_values is not None else None
    )
    return piv.agg(aggfn(value_col))


def distinct_values(df: DataFrame, col_name: str, exclude_prefix: str | None = None) -> DataFrame:
    """DISTINCT key discovery, optionally excluding a namespace prefix.

    Ref A3+P6 (waddle/_dashboard_api.py:117-120,211-213): distinct metric
    keys with `key NOT LIKE 'system/%'`.  The prefix filter is a pushed
    StringStartsWith predicate.
    """
    if exclude_prefix is not None:
        df = df.filter(~F.col(col_name).startswith(exclude_prefix))
    return df.select(col_name).distinct().orderBy(col_name)


def anti_insert(new_rows: DataFrame, existing: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Idempotent-insert candidate set: rows whose key is absent.

    Ref J5/D4 (waddle/_db.py:111-133): `SELECT 1 ...` existence probe then
    INSERT ON CONFLICT DO NOTHING, as a set-based left-anti join.
    """
    return new_rows.join(existing.select(*key_cols), on=list(key_cols), how="left_anti")


def profile_columns(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column data-profile: (column, n_rows, n_nulls, n_distinct,
    min_s, max_s) — the pre-flight audit every ingest pipeline runs
    before committing a corpus version.

    ONE action over the table (two single-row aggregate branches:
    count/min/max distinct-free, all exact distinct counts together),
    then the combined 1-row result fans out to one row per column via
    an array explode — no per-column rescans, unlike the naive loop
    (or the oracle's UNION ALL twin, which scans once per column).

    min/max render as strings: timestamps via an explicit pattern,
    other types via cast.  Doubles are engine-renderable but their
    shortest-repr formatting is not guaranteed stable across engines —
    oracle-paired profiles should stick to integer/string/timestamp
    columns (see catalog `profile_orders`).

    CONTRACT: the timestamp pattern is SECOND precision by design —
    the oracle twin renders with strftime('%Y-%m-%d %H:%M:%S'), so both
    engines truncate sub-second digits identically.  Profiling a
    micro-precision column (events.ts) therefore reports second-level
    min/max; if fractional seconds are ever needed, extend BOTH
    renderers in lockstep ('.SSSSSS' / '%f').
    """
    cols = list(cols or df.columns)

    # Parsed expr strings (round-8 conversion): the Column-API build of
    # this 5-column profile — ~16 aggregate Columns + a 5-struct array —
    # paid 0.29 s of driver py4j per invocation at sf0.1; the parsed
    # strings produce the identical Catalyst plan (oracle re-certified).
    def _bq(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    def _render(c: str, x: str) -> str:
        if isinstance(df.schema[c].dataType, (T.TimestampType, T.TimestampNTZType)):
            return f"date_format({x}, 'yyyy-MM-dd HH:mm:ss')"
        return f"CAST({x} AS STRING)"

    # Two cheap aggregate branches instead of one Expand-heavy one.
    # Mixing count/min/max INTO a multi-distinct aggregate drags every
    # expression through Catalyst's Expand, which multiplies each input
    # row (N+1)x into wide mostly-null rows before the shuffle (measured
    # 2.0 s for the 5-column sf0.1 orders profile).  Split: (1) count/
    # min/max in one distinct-free pass — plain partial aggregation,
    # tiny exchange (0.31 s); (2) all N count_distincts in their own
    # aggregate — the Expand there carries only the grouping keys, and
    # partial distinct collapses it map-side (0.58 s; an exploded
    # (column, value-string) melt measures 0.90 s, so Expand wins when
    # it is distinct-only).  Both branches are single rows, so they
    # combine with a 1x1 cross join — no shuffle, one action.
    aggs = [F.expr("count(*) AS __n")]
    for c in cols:
        q = _bq(c)
        aggs += [
            F.expr(f"count({q}) AS {_bq('__cnt_' + c)}"),
            F.expr(f"{_render(c, f'min({q})')} AS {_bq('__min_' + c)}"),
            F.expr(f"{_render(c, f'max({q})')} AS {_bq('__max_' + c)}"),
        ]
    one = df.agg(*aggs)
    nd = df.agg(
        *[
            F.expr(f"count(DISTINCT {_bq(c)}) AS {_bq('__nd_' + c)}")
            for c in cols
        ]
    )
    lit = lambda c: "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"  # noqa: E731
    rows = "array(" + ", ".join(
        "named_struct("
        f"'column', {lit(c)}, "
        "'n_rows', __n, "
        f"'n_nulls', __n - {_bq('__cnt_' + c)}, "
        f"'n_distinct', {_bq('__nd_' + c)}, "
        f"'min_s', {_bq('__min_' + c)}, "
        f"'max_s', {_bq('__max_' + c)})"
        for c in cols
    ) + ")"
    return (
        one.crossJoin(F.broadcast(nd))
        .selectExpr(f"explode({rows}) AS p")
        .select("p.*")
    )
