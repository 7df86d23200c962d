"""The benchmark's own tests.  Slow (they start Spark); run from the root of
a checkout with

    python3 -m pytest perfbench/test_perfbench.py -q

- a tiny-size run of each workload emits every metric BENCHMARK.json names,
  with its unit, traced and untraced;
- each workload's correctness check flags a copy with one wrong row.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

WORKLOADS = ("tracker_ingest", "catalog_headline")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_metric(workload, trace):
    spec = _spec()
    want = {m["name"]: m["unit"] for m in spec["end_to_end" if not trace else "per_layer"]}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {n: m["unit"] for n, m in res["metrics"].items()} == want
    assert all(isinstance(m["value"], (int, float)) for m in res["metrics"].values())
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tracker_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout == ""


# --- checks flag a wrong row --------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from waddleml_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def _rewrite_one_metric(root: str, run_id: str) -> None:
    """Change the value of one metrics row of `run_id` in the Parquet files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = os.path.join(root, "parquet", "metrics")
    for f in sorted(os.listdir(d)):
        t = pq.read_table(os.path.join(d, f))
        hit = pc.equal(t["run_id"], run_id).to_pylist()
        if any(hit):
            i = hit.index(True)
            vals = t["value"].to_pylist()
            vals[i] += 1.0
            t = t.set_column(t.schema.get_field_index("value"), "value", [vals])
            pq.write_table(t, os.path.join(d, f))
            return
    raise AssertionError("no metrics row found")


def _small_store(tmp_path, spark, n_runs=2):
    from tracker import log_all, run_specs, start_run

    from waddleml_spark.store import WaddleStore

    root = str(tmp_path / "store")
    store = WaddleStore(root, spark=spark)
    specs = run_specs(5, 20, 40, 4, 6)
    logged = {}
    for _ in range(n_runs):
        spec = next(specs)
        run = start_run(spec, root, spark)
        total = log_all(run, spec)
        run.log_artifact("a.bin")
        run.finish()
        logged[run.id] = (spec, spec.steps * len(spec.keys), total)
    store.close()
    return root, logged


def _open_copy(src: str, dst: str, spark):
    from waddleml_spark.store import WaddleStore

    shutil.copytree(src, dst)
    return WaddleStore(dst, spark=spark)


def test_ingest_checks_flag_a_wrong_row(tmp_path, spark):
    from ingest import check_poll, check_ws
    from tracker import check_store

    root, logged = _small_store(tmp_path, spark)
    counts = {
        "runs": len(logged),
        "params": sum(len(v[0].config) for v in logged.values()),
        "tags": sum(len(v[0].tags) for v in logged.values()),
        "metrics": sum(v[1] for v in logged.values()),
        "artifacts": len(logged),
    }
    sums = {rid: (n, s) for rid, (_, n, s) in logged.items()}
    good = _open_copy(root, str(tmp_path / "good"), spark)
    assert all(check_store(good, counts, sums).values())
    good.close()
    bad = _open_copy(root, str(tmp_path / "bad"), spark)
    rid = next(iter(logged))
    _rewrite_one_metric(bad.root, rid)
    assert not check_store(bad, counts, sums)[f"sum.{rid}"]
    bad.close()

    spec = logged[rid][0]
    vals = spec.values()
    rows = [
        {"key": k, "step": s, "ts": 0.0, "value": float(vals[s, spec.keys.index(k)])}
        for k in sorted(spec.keys)
        for s in range(spec.steps)
    ]
    assert check_poll(rows, spec)
    wrong = copy.deepcopy(rows)
    wrong[3]["value"] += 1.0
    assert not check_poll(wrong, spec)
    assert not check_poll(rows[:3] + rows[4:], spec)

    frames = [
        (rid, k, s, float(vals[s, j]), 0.0, 0.0)
        for s in range(spec.steps)
        for j, k in enumerate(spec.keys)
    ]
    only = {rid: logged[rid]}
    assert check_ws(frames, only) == 0
    assert check_ws(frames + frames[:1], only) == 1
    wrong_frames = list(frames)
    wrong_frames[0] = wrong_frames[0][:3] + (wrong_frames[0][3] + 1.0,) + wrong_frames[0][4:]
    assert check_ws(wrong_frames, only) == 1


def test_catalog_check_flags_a_wrong_row(tmp_path, spark):
    import datagen
    from catalog_headline import value_hash

    from waddleml_spark import catalog
    from waddleml_spark.testing import compare, duckdb_conn

    data = str(tmp_path / "data")
    datagen.write(1, 0.001, data)
    con = duckdb_conn(data)
    try:
        df = catalog.QUERIES["tpch_q1"](spark, data)
        assert compare(df, con, catalog.ORACLE["tpch_q1"])[0]
        rows = [list(r) for r in df.collect()]
        i = df.columns.index("sum_qty")
        rows[0][i] += 1.0
        wrong = spark.createDataFrame([tuple(r) for r in rows], df.schema)
        assert not compare(wrong, con, catalog.ORACLE["tpch_q1"])[0]
    finally:
        con.close()
    df = catalog.QUERIES["minhash_lsh_candidates"](spark, data)
    rows = [list(r) for r in df.collect()]
    assert rows, "minhash_lsh_candidates found no candidate pairs"
    rows[0][-1] = rows[0][-1] + 1 if isinstance(rows[0][-1], (int, float)) else None
    wrong = spark.createDataFrame([tuple(r) for r in rows], df.schema)
    assert value_hash(wrong) != value_hash(df)
