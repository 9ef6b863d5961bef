"""corpus_suite: a fixed slice of the bench.py query leaves over the
sf0.01 testdata (a read-only copy under ``data/``).

Each leaf runs through ``bench._materialize``; the digest it collects is
captured on the way and checked against ``expected/``.  As in bench.py,
``bench.warmup`` pays the first-touch costs in set-up and the sweeps
that follow are measured; they repeat until ``--seconds`` pass.  The
seed does not change the input: the corpus is fixed testdata.
"""

from __future__ import annotations

import os
import time

from perfbench import common
from perfbench.layers import SUITE_LEAVES

SIZES = {"full": "sf0.01", "tiny": "sf0.001"}
SETUPS = 3


class _Capture:
    """Stands in for the leaf DataFrame inside ``bench._materialize``: the
    digest aggregate runs unchanged, plus a row count, and its one result
    row is kept for the output check."""

    def __init__(self, df):
        self._df = df
        self.row = None

    @property
    def columns(self):
        return self._df.columns

    def agg(self, *exprs):
        from pyspark.sql import functions as F

        out = self._df.agg(*exprs, F.count(F.lit(1)).alias("_rows"))
        cap = self

        class _Result:
            def collect(self):
                rows = out.collect()
                cap.row = rows[0]
                return rows

        return _Result()


def _run_leaf(spark, qs, name: str, sf_dir: str) -> tuple[float, list | None, str | None]:
    import bench

    t = common.Timer()
    try:
        cap = _Capture(qs[name](spark, sf_dir))
        bench._materialize(cap)
    except Exception as e:  # a raised leaf is a failed operation
        return t(), None, f"{type(e).__name__}: {e}"
    wall = t()
    dig = cap.row["dig"]
    return wall, [int(dig) if dig is not None else 0, int(cap.row["_rows"])], None


def _check(name: str, got: list | None, err: str | None, expected: dict) -> str | None:
    if err is not None:
        return f"{name} raised {err}"
    want = expected.get(name)
    if want is None:
        return f"{name}: no expected digest"
    if want["check"] == "rows":
        return None if got[1] == want["rows"] else f"{name} rows {got[1]} != {want['rows']}"
    return None if got == [want["digest"], want["rows"]] else (
        f"{name} digest {got} != expected {[want['digest'], want['rows']]}")


def _sweep(spark, qs, sf_dir: str, expected: dict, record: dict | None,
           tracer=None) -> tuple[dict[str, float], list[str]]:
    walls, fails = {}, []
    for name in SUITE_LEAVES:
        if tracer is not None:
            with tracer.span("leaf", f"leaf.{name}"):
                wall, got, err = _run_leaf(spark, qs, name, sf_dir)
        else:
            wall, got, err = _run_leaf(spark, qs, name, sf_dir)
        walls[name] = wall
        if record is not None and got is not None:
            record.setdefault(name, []).append(got)
        elif record is None:
            f = _check(name, got, err, expected)
            if f:
                fails.append(f)
    fails += common.storage_leaks(spark)
    return walls, fails


def run(args) -> dict:
    with common.run_dir() as work:
        return _run(args, work)


def _run(args, work: str) -> dict:
    t_proc = time.perf_counter()
    size = "tiny" if args.tiny else "full"
    sf = SIZES[size]
    sf_dir = os.path.join(common.DATA, sf)
    exp_path = args.expected or os.path.join(common.EXPECTED, f"corpus_suite.{sf}.json")
    expected = {} if args.record else common.load_json(exp_path)["leaves"]

    common.prepare_env(work)
    import bench
    import __spark_entry__ as entrymod

    spark = common.start_spark(work, event_log=bool(args.trace))
    record = {} if args.record else None
    try:
        bench.warmup(spark)
        qs = entrymod.queries()
        one_shot = time.perf_counter() - t_proc
        from scrapy_cluster_spark.sources.tables import TESTDATA_TABLES, load_table

        setups = []
        for _ in range(SETUPS):
            t = common.Timer()
            for tname in TESTDATA_TABLES:
                load_table(spark, sf_dir, tname)
            setups.append(t())
        sweeps, fails = [], []
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            tracer.install()
        try:
            clock = common.Timer()
            while not sweeps or clock() < args.seconds:
                walls, f = _sweep(spark, qs, sf_dir, expected, record, tracer=tracer)
                sweeps.append(walls)
                fails += f
        finally:
            if tracer is not None:
                tracer.uninstall()
        rss = common.peak_rss_mb()
    finally:
        common.stop_spark(spark)

    if record is not None:
        leaves = {}
        for name, digs in record.items():
            stable = all(d == digs[0] for d in digs)
            leaves[name] = {"digest": digs[0][0], "rows": digs[0][1],
                            "check": "digest" if stable else "rows"}
            if not stable:
                leaves[name]["reason"] = "digest differed between sweeps of one recording run"
        common.save_json(exp_path, {"sf": sf, "leaves": leaves})

    per_leaf = {n: common.median([s[n] for s in sweeps]) for n in SUITE_LEAVES}
    sweep_walls = [sum(s.values()) for s in sweeps]
    all_leaf = [w for s in sweeps for w in s.values()]
    tail, tail_p, tail_n = common.tail(all_leaf)
    n_ops = len(SUITE_LEAVES) * len(sweeps)
    report = {
        "workload": "corpus_suite", "sf": sf, "sweeps": len(sweeps),
        "setup_one_shot_s": one_shot, "setup_repeats_s": setups,
        "suite_s": common.median(sweep_walls), "leaf_geomean_s": common.geomean(list(per_leaf.values())),
        "leaf_s": per_leaf, "leaf_tail_percentile": tail_p, "leaf_tail_beyond": tail_n,
        "peak_rss_mb": rss, "op_failure_ratio": len(fails) / n_ops, "failures": fails,
    }
    metrics = {
        "setup_s": (one_shot + common.median(setups), "s"),
        "cycle_s": (common.median(sweep_walls), "s"),
        "step_p50_s": (common.median(list(per_leaf.values())), "s"),
        "step_geomean_s": (common.geomean(list(per_leaf.values())), "s"),
        "throughput_per_s": (len(all_leaf) / sum(sweep_walls), "1/s"),
        "request_p50_s": (common.median(all_leaf), "s"),
        "request_tail_s": (tail, "s"),
    }
    layers = None
    if tracer is not None:
        from perfbench import layers as L

        layers = L.suite_layers(tracer, sweep_walls, per_leaf, rss, os.path.join(work, "eventlog"))
    return {"attempted": n_ops, "failed": len(fails), "metrics": metrics,
            "layers": layers, "report": report}
