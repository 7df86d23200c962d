"""Shared pieces of the benchmark: session lifetime, statistics, the host
stamp, Spark job counting and the result every workload returns."""

from __future__ import annotations

import itertools
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

# Every workload reports the same end-to-end metrics; what "one operation"
# is differs per workload and is stated in each workload module.  Besides
# set-up time they are the Spark work one operation makes its caller wait
# on: jobs (each a scheduling round trip, shown in the console's progress
# bar), stages (one per shuffle boundary) and tasks (the partitions that
# the plan and the session's defaults give each stage), counted through a
# job group on the calling thread.  An operation's wall and CPU time are
# printed in the report but not gated: the CPU the host steals from this
# 4-core VM varies between 0 and 20 % from run to run, and across runs the
# quartile distance of those figures was 10-56 % of their median.  CPU
# time is no steadier than wall time, because it follows how far JIT
# warm-up has got, and steal slows the compiler threads.
END_TO_END = {
    "setup_s": "s",
    "spark_jobs_per_op": "count",
    "spark_stages_per_op": "count",
    "spark_tasks_per_op": "count",
}


# The timed window runs a fixed number of whole units (an ingest block or a
# catalog pass), --seconds / unit_s of them, where unit_s is what one unit
# of the workload takes on a 4-core host.  A fixed amount of work from the
# same warm state keeps runs comparable; a window cut by the clock would
# hold more units on a faster host, later in JIT warm-up.
def window_units(seconds: float, unit_s: float) -> int:
    return max(1, round(seconds / unit_s))


@dataclass
class Result:
    """What a workload hands back to run.py."""

    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    end_to_end: dict[str, float] = field(default_factory=dict)
    # per-layer values the workload measures itself (file counts, bytes,
    # frames, tracing overhead); the rest come from spans
    per_layer_extra: dict[str, float] = field(default_factory=dict)
    # every named metric of the workload, {name: (value, unit)}, printed
    # before the result line
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    stamp: dict[str, float] = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return bool(self.checks) and all(self.checks.values())


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]); 0.5 is the plain median."""
    if not values:
        return float("nan")
    if q == 0.5:
        return float(statistics.median(values))
    s = sorted(values)
    return float(s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))])


def work_dir(root: str) -> str:
    """Fresh per-process scratch directory inside the checkout."""
    d = os.path.join(root, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def start_session():
    """The shipped session default; returns (spark, seconds to start)."""
    from waddleml_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark()
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _cpu_ticks() -> tuple[int, int]:
    import bench

    return bench._cpu_ticks()


class HostStamp:
    """Steal share of the timed window plus bench.py's calibration probes.
    Reported with every run; never a gate."""

    def start(self) -> None:
        self._t0 = _cpu_ticks()

    def finish(self, spark) -> dict[str, float]:
        import bench

        s1, c1 = _cpu_ticks()
        s0, c0 = self._t0
        single, parallel = bench._calibrate(spark)
        return {
            "steal_pct": 100.0 * (s1 - s0) / max(1, c1 - c0),
            "calib_single_sec": single,
            "calib_parallel_sec": parallel,
        }


class JobCounter:
    """Spark jobs, stages and tasks run by one call, counted through a job
    group the benchmark sets on the calling thread: `begin` tags the jobs
    that follow, `end` stops tagging and `count` reads them back.  Counting
    drains the listener bus, so callers do it outside any timed span.
    Group names are unique across instances, which count on different
    threads at once."""

    _ids = itertools.count(1)

    def begin(self) -> str:
        from pyspark import SparkContext

        group = f"perfbench-{os.getpid()}-{next(self._ids)}"
        SparkContext._active_spark_context.setJobGroup(group, group)
        return group

    def end(self) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    def count(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of `group`."""
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        # job events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        ids = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stages += 1
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return len(ids), stages, tasks
