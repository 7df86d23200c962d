"""WaddleStore: dual-layer storage — Parquet event-log (Spark-native scale
path) with DuckDB write-through mirror (reference-parity single-file
artifact + oracle).

Reference storage is one DuckDB file with row-at-a-time autocommit INSERTs
(waddle/_db.py:27-68, waddle/_run.py:122-125).  Spark translation
(SURVEY.md §1.3, §4.3):

- every write lands as a micro-batch: rows → ONE driver-local Arrow table →
  (a) a Parquet part file published into the table's directory,
  (b) the same Arrow table handed to DuckDB (INSERT / ON CONFLICT), so the
  tracker's write path runs no Spark job and never needs a SparkSession;
- mutable semantics (upsert D3, update D5, delete D6) on immutable Parquet
  use an event-log discipline: versioned tables carry a monotonic `_seq`;
  the read view is last-writer-wins per primary key (window dedupe).
  DuckDB gets real ON CONFLICT/UPDATE/DELETE, so both layers converge to
  identical logical state;
- deletes rewrite Parquet with an anti-filter (at scale: partition drop by
  run_id) and cascade in FK order, mirroring waddle/_dashboard_api.py:237-249.

Scale posture: metrics is the tall fact table — at 100 TB it is written
partitioned by run_id bucket and sorted within partitions by (key, step) so
parquet min/max stats replace the reference's secondary index
(waddle/_schema.py:59).  `compact()` folds the event log so dedupe views
stay cheap.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time
import uuid

import duckdb
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from waddleml_spark import schemas

# tables whose reads are last-writer-wins per PK (the event-log tables)
_VERSIONED: dict[str, list[str]] = {
    "runs": ["id"],
    "params": ["run_id", "key"],
    "tags": ["run_id", "key"],
    "repos": ["name"],  # ref upserts repos BY NAME (waddle/_db.py:76-98)
    "commits": ["repo_id", "commit_sha"],  # idempotent: first writer wins
}
_APPEND_ONLY = ("metrics", "artifacts")

_seq_lock = threading.Lock()
_seq_counter = itertools.count()


def _parallelism(spark: SparkSession) -> int:
    """defaultParallelism with a Spark Connect fallback (no SparkContext
    there; 8 output files is a sane compaction width either way)."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return 8


def _discard(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.unlink(path)


def _next_seq() -> int:
    """Monotonic write sequence: epoch-micros * 1000 + counter mod 1000.
    Orders writes across restarts (wall clock) and within a process
    (counter); collisions would need >1000 writes in one microsecond."""
    with _seq_lock:
        return int(time.time() * 1e6) * 1000 + next(_seq_counter) % 1000


class WaddleStore:
    # open stores by root — same-process readers (CLI ls, dashboard) reuse
    # the writer's connection as a cursor instead of fighting the file lock
    # (ref S4 shared-connection cursor, waddle/_dashboard_api.py:16-19)
    _registry: dict[str, "WaddleStore"] = {}

    def __init__(self, root: str, spark: SparkSession | None = None):
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)
        self._spark = spark
        self.duck_path = os.path.join(self.root, "waddle.duckdb")
        self.duck = duckdb.connect(self.duck_path)
        # single-writer (ref S5); re-entrant because update_run and the
        # versioned-table path of _write_batch hold it around locked calls
        self._duck_lock = threading.RLock()
        # row count of the last write batch per table ({"rows": n}),
        # set by _write_batch from the batch it wrote
        self.ingest_stats: dict[str, dict] = {}
        for stmt in schemas.DUCKDB_DDL.split(";"):
            if stmt.strip():
                self.duck.execute(stmt)
        WaddleStore._registry[self.root] = self

    @classmethod
    def reader_conn(cls, root: str):
        """A DuckDB connection for read paths: the open writer's cursor when
        this process owns the store, else a fresh read_only connection."""
        root = os.path.abspath(root)
        store = cls._registry.get(root)
        if store is not None:
            return store.duck.cursor()
        return duckdb.connect(os.path.join(root, "waddle.duckdb"), read_only=True)

    # --- session ----------------------------------------------------------

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            from waddleml_spark.session import get_spark

            self._spark = get_spark(app_name="waddleml-store")
        return self._spark

    def _dir(self, table: str) -> str:
        return os.path.join(self.root, "parquet", table)

    # --- write path -------------------------------------------------------

    def _spark_schema(self, table: str, versioned: bool) -> T.StructType:
        base = schemas.WADDLE_TABLES[table]
        if not versioned:
            return base
        return T.StructType(list(base.fields) + [T.StructField("_seq", T.LongType(), False)])

    _ARROW_TYPES = {
        "string": "string",
        "double": "float64",
        "int": "int32",
        "bigint": "int64",
        "binary": "binary",
    }

    @classmethod
    def _arrow_schema(cls, struct: T.StructType):
        """Arrow twin of a Spark schema.  Every field stays nullable: NOT
        NULL is DuckDB's to enforce, and a rejected batch is never
        published."""
        import pyarrow as pa

        return pa.schema(
            [
                pa.field(f.name, getattr(pa, cls._ARROW_TYPES[f.dataType.simpleString()])())
                for f in struct.fields
            ]
        )

    def _stage(self, table: str, arrow_tbl) -> tuple[str, str]:
        """Write one part file of `table` under a hidden temp name and
        return (temp path, final path); the caller publishes it with
        os.replace.  Spark's file listing and the streaming tail skip
        dot-prefixed names, so no reader ever sees a half-written part
        file, and a failed write leaves nothing behind."""
        import pyarrow.parquet as pq

        d = self._dir(table)
        os.makedirs(d, exist_ok=True)  # Spark's writer created dirs; pyarrow doesn't
        name = f"part-{uuid.uuid4().hex}.snappy.parquet"
        tmp = os.path.join(d, "." + name)
        try:
            pq.write_table(arrow_tbl, tmp, compression="snappy")
        except BaseException:
            _discard(tmp)
            raise
        return tmp, os.path.join(d, name)

    def _write_batch(self, table: str, rows: list[dict], duck_sql: str | None) -> None:
        """One micro-batch: rows → ONE Arrow table → parquet part file +
        DuckDB SQL, all driver-local.  Every row batch the store writes
        goes through here; delete tombstones, which have no DuckDB mirror,
        use `_stage` alone.

        No Spark job on the write path: a 5 k-row batch is driver-scale
        data, and a one-partition Spark DataFrame write job costs
        ~150 ms of scheduling for ~10 ms of IO (measured: the swap took
        the hot logging path from ~18 k to >40 k rows/s).  The Arrow
        schema mirrors schemas.WADDLE_TABLES exactly, so Spark's
        analytical readers (and the streaming parquet tail, which
        declares the same schema) see files identical to what a Spark
        write would produce.  Spark remains the ANALYTICS engine; using
        it as a row-batch writer was overhead, not parallelism.

        Commit order: the part file is staged under a hidden name, the
        DuckDB statement runs inside BEGIN, the file is os.replace'd into
        place, then COMMIT.  If DuckDB rejects the batch (or COMMIT
        fails) the transaction rolls back and the file is removed, so
        neither layer keeps it.  A crash between the replace and the
        COMMIT leaves the part file published while DuckDB, on reopen,
        has discarded the open transaction: Parquet is then ahead of the
        mirror by that one batch (replace and COMMIT run under one lock,
        so at most one batch is in that window).

        Versioned tables draw `_seq` under the same lock as their DuckDB
        statement, so concurrent writers of one key apply in `_seq` order
        in both layers and both keep the same last writer.  Metrics and
        artifact appends stage their file outside the lock.
        """
        if not rows:
            return
        import pyarrow as pa

        versioned = table in _VERSIONED
        cols = [f.name for f in schemas.WADDLE_TABLES[table].fields]
        data = {c: [r.get(c) for r in rows] for c in cols}
        with self._duck_lock if versioned else contextlib.nullcontext():
            if versioned:
                data["_seq"] = [_next_seq()] * len(rows)
            schema = self._arrow_schema(self._spark_schema(table, versioned))
            arrow_full = pa.table(data, schema=schema)
            tmp, final = self._stage(table, arrow_full)
            arrow_tbl = arrow_full.drop_columns(["_seq"]) if versioned else arrow_full
            with self._duck_lock:
                published = False
                try:
                    self.duck.execute("BEGIN")
                    self.duck.register("_batch", arrow_tbl)
                    try:
                        self.duck.execute(duck_sql or f"INSERT INTO {table} SELECT * FROM _batch")
                    finally:
                        self.duck.unregister("_batch")
                    os.replace(tmp, final)
                    published = True
                    self.duck.execute("COMMIT")
                except BaseException:
                    # a failed COMMIT has already ended the transaction
                    with contextlib.suppress(duckdb.TransactionException):
                        self.duck.execute("ROLLBACK")
                    _discard(final if published else tmp)
                    raise
        self.ingest_stats[table] = {"rows": len(rows)}
        # the parquet dir just gained a file: drop fan_out's stale
        # partition-count memo so same-shape re-reads re-probe
        from waddleml_spark.session import reset_fan_out_memo

        reset_fan_out_memo()

    def append(self, table: str, rows: list[dict]) -> None:
        """Plain append (D1/D2: metrics, artifacts, new runs/commits...)."""
        self._write_batch(table, rows, None)

    def upsert(self, table: str, rows: list[dict]) -> None:
        """Upsert by the table's PK (D3: params/tags ON CONFLICT DO UPDATE,
        ref waddle/_run.py:139-150; D4 commits DO NOTHING)."""
        keys = _VERSIONED[table]
        cols = [f.name for f in schemas.WADDLE_TABLES[table].fields]
        # DuckDB forbids assigning UNIQUE/PK columns in DO UPDATE (repos is
        # keyed by name but carries an id PK) — exclude them from the SET
        pk_cols = {"repos": ["id"]}.get(table, [])
        non_keys = [c for c in cols if c not in keys and c not in pk_cols]
        if table == "commits":
            action = "DO NOTHING"
        else:
            sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in non_keys)
            action = f"DO UPDATE SET {sets}"
        conflict = ", ".join(keys)
        self._write_batch(
            table,
            rows,
            f"INSERT INTO {table} SELECT * FROM _batch ON CONFLICT ({conflict}) {action}",
        )

    def update_run(self, run_id: str, **fields) -> None:
        """D5: UPDATE runs SET ... WHERE id (ref waddle/_run.py:198-201),
        written as an upsert of the full merged row: DuckDB's ON CONFLICT
        (id) DO UPDATE of every non-key column reaches the same state as
        the UPDATE, and the Parquet side gains a new row version
        (last-writer-wins).  The lock spans read, merge and write, so
        concurrent updates of one run cannot drop each other's fields."""
        with self._duck_lock:
            current = self._duck_row("runs", "id", run_id)
            if current is None:
                raise KeyError(f"run {run_id} not found")
            current.update(fields)
            self.upsert("runs", [current])

    def delete_run(self, run_id: str) -> None:
        """D6: cascading delete in FK order (ref _dashboard_api.py:237-249).
        DuckDB: real DELETEs.  Parquet: anti-filter rewrite per table (at
        scale this is a partition drop when tables partition by run_id).

        A tombstone per (table, run_id) lands in the _cdc_deletes log FIRST
        so the change feed (changes()) can report the delete even though the
        data files are physically rewritten."""
        self._append_tombstones(run_id)
        with self._duck_lock:
            for tbl in ("metrics", "artifacts", "tags", "params"):
                self.duck.execute(f"DELETE FROM {tbl} WHERE run_id = ?", [run_id])
            self.duck.execute("DELETE FROM runs WHERE id = ?", [run_id])
        import shutil

        for tbl, key in (
            ("metrics", "run_id"),
            ("artifacts", "run_id"),
            ("tags", "run_id"),
            ("params", "run_id"),
            ("runs", "id"),
        ):
            d = self._dir(tbl)
            if os.path.exists(d):
                versioned = tbl in _VERSIONED
                df = self.spark.read.schema(self._spark_schema(tbl, versioned)).parquet(d)
                kept = df.filter(F.col(key) != run_id)
                tmp = d + ".rewrite"
                kept.write.mode("overwrite").parquet(tmp)
                shutil.rmtree(d)
                os.rename(tmp, d)

    # --- change data capture ---------------------------------------------

    _CDC_SCHEMA = T.StructType(
        [
            T.StructField("table", T.StringType(), False),
            T.StructField("run_id", T.StringType(), False),
            T.StructField("_seq", T.LongType(), False),
        ]
    )

    def _append_tombstones(self, run_id: str) -> None:
        import pyarrow as pa

        tables = ["metrics", "artifacts", "tags", "params", "runs"]
        n = len(tables)
        tombs = pa.table(
            {"table": tables, "run_id": [run_id] * n, "_seq": [_next_seq()] * n},
            schema=self._arrow_schema(self._CDC_SCHEMA),
        )
        os.replace(*self._stage("_cdc_deletes", tombs))

    def changes(self, table: str, since_seq: int = 0) -> DataFrame:
        """Change-data feed for a versioned table: every version row with
        `_seq > since_seq`, classified as op ∈ insert/update/delete (the
        Delta-CDF shape, built on the engine's own event log — no extra
        write-path cost; deletes come from the tombstone log).

        Consumers poll with their last-seen `_seq` as the cursor; the feed
        is totally ordered by `_seq`.  Replay from an old cursor is exact
        until compact()/delete_run rewrite history (compaction keeps only
        the latest version per PK; a from-scratch consumer then sees it as
        the insert — eventually-consistent, like Delta CDF across VACUUM).
        op classification: the FIRST version of a PK ever
        seen is 'insert', later versions 'update' — one window over the PK,
        the same shuffle the read view already pays.  For commits
        (first-writer-wins) duplicate inserts are no-ops and are omitted.

        Append-only tables (metrics, artifacts) need no CDC machinery:
        the parquet append log IS the change feed — tail it with
        changes_stream()/MetricStream.
        """
        if table not in _VERSIONED:
            raise ValueError(
                f"{table} is append-only; its append log is the change feed"
            )
        d = self._dir(table)
        keys = _VERSIONED[table]
        schema = self._spark_schema(table, True)
        cols = [f.name for f in schemas.WADDLE_TABLES[table].fields]
        if not os.path.exists(d):
            data = self.spark.createDataFrame([], schema)
        else:
            data = self.spark.read.schema(schema).parquet(d)
        w = Window.partitionBy(*keys).orderBy(F.col("_seq").asc())
        versions = data.withColumn("__rn", F.row_number().over(w))
        if table == "commits":
            versions = versions.filter(F.col("__rn") == 1)
        op = F.when(F.col("__rn") == 1, "insert").otherwise("update")
        feed = (
            versions.filter(F.col("_seq") > since_seq)
            .select(op.alias("op"), "_seq", *cols)
        )
        # deletes: tombstones are per run_id; runs key on id, EAV tables on
        # run_id — both match the tombstone's run_id column
        td = self._dir("_cdc_deletes")
        if os.path.exists(td):
            key_col = "id" if table == "runs" else "run_id"
            tombs = (
                self.spark.read.schema(self._CDC_SCHEMA)
                .parquet(td)
                .filter((F.col("table") == table) & (F.col("_seq") > since_seq))
            )
            dels = tombs.select(
                F.lit("delete").alias("op"),
                "_seq",
                *[
                    F.col("run_id").alias(c) if c == key_col else F.lit(None).cast(f.dataType).alias(c)
                    for c, f in zip(cols, schemas.WADDLE_TABLES[table].fields)
                ],
            )
            feed = feed.unionByName(dels)
        return feed.orderBy("_seq")

    def changes_stream(self, table: str) -> DataFrame:
        """Streaming change feed: Structured Streaming tail of a table's
        version log (each appended version row is one change event; op
        classification needs history, so the stream emits the raw upsert
        feed — downstream stateful consumers derive insert-vs-update if
        they need it).  Works for versioned AND append-only tables."""
        versioned = table in _VERSIONED
        schema = self._spark_schema(table, versioned)
        return (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 64)
            .parquet(self._dir(table))
        )

    def _duck_row(self, table: str, key_col: str, key_val) -> dict | None:
        with self._duck_lock:
            cur = self.duck.execute(
                f"SELECT * FROM {table} WHERE {key_col} = ?", [key_val]
            )
            row = cur.fetchone()
            if row is None:
                return None
            return dict(zip([d[0] for d in cur.description], row))

    # --- read path --------------------------------------------------------

    def df(self, table: str) -> DataFrame:
        """Current logical state as a DataFrame (dedupe view for versioned
        tables — window last-writer-wins, one shuffle on the PK)."""
        d = self._dir(table)
        versioned = table in _VERSIONED
        schema = self._spark_schema(table, versioned)
        if not os.path.exists(d):
            return self.spark.createDataFrame([], schema if not versioned else schemas.WADDLE_TABLES[table])
        df = self.spark.read.schema(schema).parquet(d)
        if not versioned:
            return df
        keys = _VERSIONED[table]
        order = F.col("_seq").desc() if table != "commits" else F.col("_seq").asc()
        w = Window.partitionBy(*keys).orderBy(order)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "_seq")
        )

    def compact(self, table: str | None = None) -> None:
        """Fold the event log: rewrite each versioned table to its deduped
        state (keeps read-side windows O(current) instead of O(history));
        coalesce small append files.  Run periodically / post-ingest.

        Caveat: a running MetricStream checkpoints against the file listing
        of metrics/ — stop streams before compacting that table (rewritten
        files would be re-delivered or missed by the file-source log)."""
        tables = [table] if table else list(_VERSIONED) + list(_APPEND_ONLY)
        import shutil

        for tbl in tables:
            d = self._dir(tbl)
            if not os.path.exists(d):
                continue
            cur = self.df(tbl)
            if tbl in _VERSIONED:
                cur = cur.withColumn("_seq", F.lit(_next_seq()))
            tmp = d + ".compact"
            if tbl == "metrics":
                # the 100 TB layout: cluster by run_id, sort by (key, step)
                # within partitions — parquet min/max stats then serve the
                # role of the reference's (run_id,key,step) index
                # (waddle/_schema.py:59): per-run/per-key scans prune files
                # and row groups instead of walking a B-tree.
                n = max(1, _parallelism(self.spark) // 4)
                (
                    cur.repartition(n, "run_id")
                    .sortWithinPartitions("run_id", "key", "step")
                    .write.mode("overwrite")
                    .parquet(tmp)
                )
            else:
                cur.coalesce(
                    max(1, _parallelism(self.spark) // 4)
                ).write.mode("overwrite").parquet(tmp)
            shutil.rmtree(d)
            os.rename(tmp, d)

    def bucket_table(
        self,
        table: str,
        keys: list[str] | None = None,
        n_buckets: int = 32,
        name: str | None = None,
    ) -> str:
        """Publish the CURRENT state of a store table as a BUCKETED
        catalog table (opt-in layout; the store's parquet dirs stay the
        write path).  Returns the catalog table name for
        sources.bucketed.read_bucketed.

        The 100 TB metrics layout in one call: bucketed+sorted by
        (run_id, key, step) per sources.bucketed.FACT_KEYS, every
        subsequent run-grain join/aggregate on the published table plans
        with ZERO Exchange and point lookups prune row groups via the
        in-bucket sort's min/max stats (the reference's B-tree index
        role, waddle/_schema.py:59).  Re-run after ingest batches to
        refresh — like compact, this is a periodic maintenance call.
        """
        from waddleml_spark.sources.bucketed import FACT_KEYS, write_bucketed

        default_keys, default_sort = FACT_KEYS.get(table, (None, None))
        keys = keys or default_keys
        if not keys:
            raise ValueError(
                f"no default bucket keys for table {table!r}; pass keys="
            )
        sort_by = default_sort if keys == default_keys else keys
        name = name or f"waddle_{table}_bucketed"
        write_bucketed(
            self.df(table), name, keys, n_buckets=n_buckets, sort_by=sort_by
        )
        return name

    def close(self) -> None:
        WaddleStore._registry.pop(self.root, None)
        self.duck.close()
