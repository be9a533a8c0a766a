"""SSTable engine benchmark: one command that sets up Spark, runs one
seeded workload for a fixed time, checks every operation's output and
prints every metric by name and unit.

Run from the repository root::

    python3 perfbench/run.py --workload merge_snapshot --seed 1 \
        --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` alternates traced and untraced operations, reports the
per-layer metrics and the tracing overhead (traced − untraced).  The
last line of standard output is the result object; the line before it
is a report with host facts and fixture properties.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = ".perfbench_work"   # fixtures, sink output, Spark scratch
SETUP_CYCLES = 2               # setup_s is the median of these
MIN_OPS = 3                    # per run, even past --seconds
OP_TIMEOUT_S = 90              # an operation slower than this fails
LAUNCH_DEADLINE_S = 110        # no new operation after this much run time
DRIVER_MEM = "1g"

#: every metric the command prints, with its unit (BENCHMARK.json lists
#: the same names); --trace 0 prints END_TO_END, --trace 1 PER_LAYER
END_TO_END = {"setup_s": "s", "cells_per_s": "1/s", "peak_rss_mib": "MiB"}
PER_LAYER = {
    "codec.decode_cells_per_s": "1/s",
    "codec.decode_mib_per_s": "MiB/s",
    "codec.decode_rows_per_s": "1/s",
    "codec.encode_cells_per_s": "1/s",
    "datasource.plan_ms": "ms",
    "datasource.splits": "count",
    "datasource.splits_read_ratio": "ratio",
    "datasource.read_split_ms_p50": "ms",
    "datasource.read_cells_per_s": "1/s",
    "spark.scan.tasks": "count",
    "spark.scan.run_s": "s",
    "spark.scan.run_ms_per_task": "ms",
    "spark.scan.cpu_s": "s",
    "spark.scan.deser_s": "s",
    "spark.scan.overhead_s": "s",
    "spark.shuffle.write_mib": "MiB",
    "spark.shuffle.read_mib": "MiB",
    "spark.merge.run_s": "s",
    "spark.write.run_s": "s",
    "spark.jobs_per_op": "count",
    "compaction.bytes_written": "B",
    "compaction.files_written": "count",
    "compaction.write_amp": "ratio",
    "lww.winners_ratio": "ratio",
    "lww.shadowed": "count",
    "lww.tombstones": "count",
    "lww.expired": "count",
    "session.jvm_start_s": "s",
    "session.register_s": "s",
    "session.warmup_s": "s",
    "trace.untraced_op_s": "s",
    "trace.traced_op_s": "s",
    "trace.overhead_s": "s",
}


def warm_page_cache() -> None:
    """Read the Spark jars, the PyArrow/PySpark trees and the JDK's
    library once before any timing.  A 4-core VM host was seen to drop
    its page cache within a minute of idling, and a cold read of the
    jars alone cost ~4 s, which would otherwise land in the set-up and
    first operations of some runs and not others."""
    import shutil

    import pyarrow
    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    tops = [os.path.join(_find_spark_home(), "jars"),
            os.path.dirname(pyspark.__file__),
            os.path.dirname(pyarrow.__file__)]
    java = shutil.which("java")
    if java:  # the JDK's class library (lib/modules)
        tops.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(java))), "lib"))
    for top in tops:
        for root, _dirs, files in os.walk(top):
            for fn in files:
                try:
                    with open(os.path.join(root, fn), "rb") as f:
                        while f.read(1 << 20):
                            pass
                except OSError:
                    continue


def _builder(work: str):
    from sstable_hadoop_spark.plans import session_builder

    tmp = os.path.join(work, "tmp")
    return (session_builder("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", tmp)
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))


def _warm_up(spark, fx: dict) -> None:
    """First job of a session: read the fixture's smallest Index.db
    through the source, which starts the Python workers and loads the
    source in them."""
    files = [os.path.join(fx["dir"], f) for f in os.listdir(fx["dir"])
             if f.endswith("-Index.db")]
    smallest = min(files, key=os.path.getsize)
    (spark.read.format("sstable").option("kind", "index").load(smallest)
     .write.format("noop").mode("overwrite").save())


def set_up(builder, fx: dict):
    """Start a session, register the source and warm up, SETUP_CYCLES
    times; the first cycle launches the JVM, later ones restart the
    session inside it.  Returns the last session and per-cycle times."""
    from sstable_hadoop_spark.sources.datasource import register

    cycles, spark = [], None
    for _ in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        register(spark)
        t2 = time.perf_counter()
        _warm_up(spark, fx)
        t3 = time.perf_counter()
        cycles.append({"session_s": t1 - t0, "register_s": t2 - t1,
                       "warmup_s": t3 - t2, "total_s": t3 - t0})
    return spark, cycles


def shut_down(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this one
    started has exited."""
    from pyspark import SparkContext

    from procmon import children

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on end of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while children().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in children().get(os.getpid(), []):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (OSError, ChildProcessError):
            pass


class Runner:
    """Runs one workload's operation repeatedly and checks each output."""

    def __init__(self, spark, workload: str, fx: dict, work: str,
                 rss=None) -> None:
        from workloads import OPS

        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.op = OPS[workload]
        self.fx = fx
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.facts: list[dict] = []
        self.rss = rss
        self.op_peaks: list[int] = []   # tree RSS peak of each operation

    def once(self, group: str | None = None):
        """One operation; returns (wall seconds, stage metrics or None),
        or None when it failed.  With ``group`` the jobs are tagged and
        the status store is read inside the timed span."""
        from layers import spark_stages
        from workloads import WRITES, check

        self.attempted += 1
        watchdog = threading.Timer(OP_TIMEOUT_S, self.sc.cancelAllJobs)
        watchdog.start()
        try:
            stages = None
            if self.rss is not None:
                self.rss.take()
            t = time.perf_counter()
            if group:
                self.sc.setJobGroup(group, f"perfbench {self.workload}")
            result = self.op(self.spark, self.fx, self.work)
            if group:
                stages = spark_stages(self.sc, group,
                                      WRITES[self.workload])
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            wall = time.perf_counter() - t
            if self.rss is not None:
                self.op_peaks.append(self.rss.take())
            ok, facts = check(self.workload, self.fx, result)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        finally:
            watchdog.cancel()
        if not ok:
            self.failed += 1
            print(f"perfbench: {self.workload} operation "
                  f"{self.attempted} failed its output check",
                  file=sys.stderr)
            return None
        if facts:
            self.facts.append(facts)
        return wall, stages


def measure(runner: Runner, seconds: float, started: float) -> list[float]:
    """Untraced operations, back to back, for ``seconds``, after one
    checked but untimed operation: the first run of a query in a session
    compiles its code paths and starts every Python worker, and costs
    1.3–2× a steady one."""
    runner.once()
    walls = []
    t_end = time.perf_counter() + seconds
    while (len(walls) < MIN_OPS or time.perf_counter() < t_end) \
            and time.perf_counter() - started < LAUNCH_DEADLINE_S:
        got = runner.once()
        if got:
            walls.append(got[0])
    return walls


def measure_traced(runner: Runner, seconds: float, started: float):
    """After one untimed operation (as in ``measure``), alternate
    untraced and traced operations (the order flips every pair) for
    ``seconds``, at least two pairs; returns both wall-time lists and
    the traced operations' stage metrics."""
    runner.once()
    plain, traced, stages = [], [], []
    t_end = time.perf_counter() + seconds
    pair = 0
    while (pair < 2 or time.perf_counter() < t_end) \
            and time.perf_counter() - started < LAUNCH_DEADLINE_S:
        for tagged in ((False, True) if pair % 2 == 0 else (True, False)):
            got = runner.once(f"perfbench-{pair}" if tagged else None)
            if got and tagged:
                traced.append(got[0])
                stages.append(got[1])
            elif got:
                plain.append(got[0])
        pair += 1
    return plain, traced, stages


def _median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(runner: Runner, fx: dict, cycles: list[dict], plain,
              traced, stages, work: str) -> dict:
    from layers import codec_layer, datasource_layer
    from workloads import KIND

    m = {}
    for key in (stages[0] if stages else {}):
        m[key] = statistics.median(s[key] for s in stages)
    m["spark.scan.run_ms_per_task"] = (
        1000 * m["spark.scan.run_s"] / m["spark.scan.tasks"]
        if m.get("spark.scan.tasks") else 0.0)
    m["session.jvm_start_s"] = cycles[0]["session_s"]
    m["session.register_s"] = statistics.median(
        c["register_s"] for c in cycles)
    m["session.warmup_s"] = statistics.median(c["warmup_s"] for c in cycles)
    m.update(codec_layer(fx, work))
    m.update(datasource_layer(fx, KIND[runner.workload]))
    merge = fx["expected"]["merge"]
    m["lww.winners_ratio"] = merge["n"] / fx["cells"]
    m["lww.shadowed"] = fx["cells"] - merge["n"]
    m["lww.tombstones"] = merge["tombstones"]
    m["lww.expired"] = merge["expired"]
    written = runner.facts[-1] if runner.facts else {"bytes": 0, "files": 0}
    m["compaction.bytes_written"] = written["bytes"]
    m["compaction.files_written"] = written["files"]
    m["compaction.write_amp"] = (written["bytes"]
                                 / fx["expected"]["compact"]["live_bytes"])
    m["trace.untraced_op_s"] = _median_or_zero(plain)
    m["trace.traced_op_s"] = _median_or_zero(traced)
    m["trace.overhead_s"] = (m["trace.traced_op_s"]
                             - m["trace.untraced_op_s"])
    return m


def host_facts(workload: str, seed: int, fx: dict) -> dict:
    import pyarrow
    import pyspark

    from fixtures import GENERATOR_VERSION

    return {"workload": workload, "seed": seed,
            "generator_version": GENERATOR_VERSION,
            "nproc": len(os.sched_getaffinity(0)),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "fixture": fx["properties"], "cells": fx["cells"],
            "generate_s": fx.get("generate_s")}


def main(argv: list[str] | None = None) -> int:
    from workloads import OPS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sstable_hadoop_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root; no "
              "sstable_hadoop_spark package here", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    # everything the run writes stays under the checkout
    work = os.path.join(root, WORK_DIR)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    tempfile.tempdir = tmp

    from fixtures import ensure, fixture_dir
    from procmon import PeakRss

    cache = os.path.join(work, "fixtures")
    fx = ensure(cache, args.workload, args.seed)
    fx["dir"] = fixture_dir(cache, args.workload, args.seed)

    warm_page_cache()
    spark, cycles = set_up(_builder(work), fx)
    try:
        with PeakRss() as rss:
            runner = Runner(spark, args.workload, fx, work, rss)
            if args.trace:
                plain, traced, stages = measure_traced(runner, args.seconds,
                                                       started)
            else:
                walls = measure(runner, args.seconds, started)
        if args.trace:
            values = per_layer(runner, fx, cycles, plain, traced, stages,
                               work)
        else:
            values = {
                "setup_s": statistics.median(c["total_s"] for c in cycles),
                "cells_per_s": (fx["cells"] / statistics.median(walls)
                                if walls else 0.0),
                # median over timed operations (the first is priming)
                "peak_rss_mib": _median_or_zero(runner.op_peaks[1:])
                / (1024 * 1024),
            }
    finally:
        shut_down(spark)

    report = host_facts(args.workload, args.seed, fx)
    report["error_rate"] = runner.failed / runner.attempted
    report["setup_cycles"] = cycles
    if not args.trace:
        report["op_walls_s"] = walls
    print(json.dumps({"report": report}))
    units = PER_LAYER if args.trace else END_TO_END
    missing = set(units) - set(values)
    if missing and not runner.failed:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": values.get(k, 0.0), "unit": unit}
                    for k, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
