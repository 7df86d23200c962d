"""Benchmark of waddleml_spark: tracker ingest beside live readers and the
headline catalog, timed end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tracker_ingest --seed 1 --seconds 10 --trace 0

Workloads (each module's docstring says what one operation is):
  tracker_ingest    writer + WebSocket push + HTTP poller     (ingest.py)
  catalog_headline  bench.py's 16 headline queries            (catalog_headline.py)

The session is the shipped waddleml_spark.session.get_spark() default on
local[nproc].  After set-up and an untimed warm-up, the timed window runs a
fixed number of whole units sized by --seconds (common.window_units).  The
end-to-end metrics are set-up wall time and the Spark jobs, stages and
tasks one operation costs (common.END_TO_END says why not its wall time).

Every line before the last is a report for people: every named metric of
the workload with its unit, and the host stamp (steal %, bench.py
calibration probes).  The last line is one JSON object with
correct/attempted/failed and, with --trace 0, the end-to-end metrics, or,
with --trace 1, the per-layer metrics from a separate traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from dataclasses import dataclass

WORKLOADS = ("tracker_ingest", "catalog_headline")


@dataclass
class Context:
    root: str
    work: str
    seed: int
    seconds: float
    tiny: bool


def _prepare_env(root: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout and
    size the session to this host before waddleml_spark is imported."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(root, ".perfbench_work", f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true", help="smallest sizes, for the benchmark's own tests"
    )
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "waddleml_spark", "__init__.py"))
        and os.path.isfile(os.path.join(root, "bench.py"))
    ):
        print(
            "perfbench: run from the root of a waddleml_spark checkout "
            "(waddleml_spark/ and bench.py not found)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))
    _prepare_env(root)

    import common
    import spans as tracing
    from bench import HEADLINE

    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracing.install(tracer, common.JobCounter())
    ctx = Context(root, common.work_dir(root), args.seed, args.seconds, args.tiny)
    if args.workload == "tracker_ingest":
        import ingest as mod
    else:
        import catalog_headline as mod
    try:
        res = mod.run(ctx, tracer)
    finally:
        os.chdir(root)
        scratch = os.path.join(root, ".perfbench_work")
        for d in (ctx.work, os.environ["TMPDIR"]):
            shutil.rmtree(d, ignore_errors=True)
        if not os.listdir(scratch):
            os.rmdir(scratch)

    if args.trace:
        metrics = tracing.per_layer(tracer, HEADLINE, res.per_layer_extra)
    else:
        metrics = {n: (res.end_to_end[n], u) for n, u in common.END_TO_END.items()}
    report = {n: {"value": v, "unit": u} for n, (v, u) in res.report.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "report": report}))
    print(json.dumps({"host": res.stamp, "checks_failed": [k for k, ok in res.checks.items() if not ok]}))
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": int(res.attempted),
                "failed": int(res.failed),
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
