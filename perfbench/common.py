"""Shared plumbing for the perfbench workloads.

Everything a run writes goes under ``<checkout>/.bench_build/perfbench``:
Spark's local dir, the JVM temp dir, the snapshot stores and (traced
runs) the event log.  The directory of one run is removed
when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected")


def cores() -> int:
    return len(os.sched_getaffinity(0))


@contextlib.contextmanager
def run_dir():
    """Fresh per-run scratch directory inside the checkout, removed after."""
    path = os.path.join(ROOT, ".bench_build", "perfbench", f"run-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def prepare_env(work: str) -> None:
    """Environment for the JVM and its Python workers; must run before
    the first SparkSession is built (both inherit it at launch)."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher too: temp files in the run dir,
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    os.environ.pop("SPARK_GRAFT_PROFILE", None)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def start_spark(work: str, event_log: bool = False):
    from scrapy_cluster_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None and proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over the JVM and every process below it (the Python
    worker daemon and its workers)."""
    proc = _jvm_proc()
    if proc is None:
        return float("nan")
    total_kb, stack, seen = 0, [proc.pid], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            stack += _children(pid)
        except OSError:
            pass
    return total_kb / 1024.0


def storage_leaks(spark) -> list[str]:
    """Names of RDDs still held in executor storage (bench's enforced
    persist-lifecycle check, reported instead of raised)."""
    import bench

    spark.catalog.clearCache()
    try:
        bench._assert_no_cached_storage(spark)
    except AssertionError as e:
        return [str(e)]
    return []


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, int, int]:
    """Highest integer percentile with at least ``min_beyond`` samples
    above it: (value, percentile, samples beyond).  With too few samples
    for any such percentile the maximum is returned as p100."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 0, -1):
        k = max(0, math.ceil(p / 100 * n) - 1)  # nearest-rank
        beyond = n - (k + 1)
        if beyond >= min_beyond:
            return xs[k], p, beyond
    return xs[-1], 100, 0


def median(values: list[float]) -> float:
    return statistics.median(values)


class Timer:
    def __init__(self):
        self.t0 = time.perf_counter()

    def __call__(self) -> float:
        return time.perf_counter() - self.t0


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def save_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(tmp, path)
