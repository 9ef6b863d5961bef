"""Per-layer metrics of a traced run, folded from spans and the event log.

Every traced run prints every name in ``PER_LAYER``; a layer the
workload never enters reads 0.  Crawl figures are per round of the
traced pass, corpus figures per sweep.
"""

from __future__ import annotations

import statistics

from perfbench import trace

CRAWL = [
    ("plans.round.self_s", "s"), ("plans.round.spark_jobs", "count"),
    ("operators.throttle.s", "s"), ("operators.ranking.s", "s"),
    ("operators.fetch.s", "s"), ("operators.fetch.rows", "count"),
    ("operators.parse.s", "s"), ("operators.parse.children_per_page", "ratio"),
    ("operators.robots.s", "s"), ("operators.limits.s", "s"),
    ("operators.dedupe.s", "s"), ("operators.dedupe.candidates", "count"),
    ("operators.dedupe.new_ratio", "ratio"), ("operators.dedupe.seen_rows", "count"),
    ("store.append_s", "s"), ("store.append_many_s", "s"), ("store.overwrite_s", "s"),
    ("store.overwrite_partitions_s", "s"), ("store.compact_s", "s"),
    ("store.commits", "count"), ("store.files_written", "count"),
    ("store.bytes_written", "B"), ("store.frontier_bucket_skew", "ratio"),
    ("store.bytes_per_page", "B"),
    ("operators.control.feed_action_s", "s"), ("operators.control.process_actions_s", "s"),
    ("operators.control.poll_outbound_s", "s"), ("operators.control.fail_acks", "count"),
    ("operators.stats.s", "s"),
    ("plans.crawl.feed_requests_s", "s"), ("plans.crawl.compact_state_s", "s"),
]
# one leaf or more per functions module, the cheapest that reaches it;
# neardup_clusters is the iterative one (dedup pairs + graph components).
# An even count makes the median leaf wall the mean of two leaves, so no
# single leaf's noise sets it.
SUITE_LEAVES = [
    "schedule_round_analog", "doc_quality", "stratified_sample", "token_entropy",
    "bpe_pair_counts", "shared_spans", "cosine_topk", "neardup_clusters",
]
FUNCTION_MODULES = ["bpe", "graph", "lm", "text", "dedup", "spans", "vectors", "corpus"]
SUITE = (
    [(f"leaf.{n}.s", "s") for n in SUITE_LEAVES]
    + [(f"functions.{m}.s", "s") for m in FUNCTION_MODULES]
    + [("sources.tables.load_table_s", "s")]
)
ENGINE = [("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"), ("spill_bytes", "B"),
          ("executor_run_s", "s"), ("python_worker_s", "s"), ("task_skew", "ratio")]
ENGINE_LAYERS = ["plans.round", "operators.fetch", "operators.parse", "operators.dedupe",
                 "store", "operators.control", "functions.bpe", "functions.graph",
                 "functions.text", "functions.lm", "functions.dedup"]
PER_LAYER = (
    CRAWL + SUITE
    + [("trace.cycle_s", "s"), ("trace.overhead_ratio", "ratio"), ("process.peak_rss_mb", "MB")]
    + [(f"spark.{f}", u) for f, u in ENGINE]
    + [(f"spark.{f}.{layer}", u) for layer in ENGINE_LAYERS for f, u in ENGINE]
)


def _engine(folded: dict, per: float) -> dict[str, float]:
    out = {}
    traced = [v for layer, v in folded.items() if layer != "untraced"]
    for f, _u in ENGINE:
        vals = [v.get(f, 0.0) for v in traced]
        if f == "task_skew":
            out[f"spark.{f}"] = max([v for v in vals if v] or [1.0])
        else:
            out[f"spark.{f}"] = sum(vals) / per
        for layer in ENGINE_LAYERS:
            v = folded.get(layer, {}).get(f, 0.0)
            out[f"spark.{f}.{layer}"] = v if f == "task_skew" else v / per
    return out


def _rows(spans: list[dict], name: str) -> float:
    """Rows of the first DataFrame each ``name`` call returned."""
    return float(sum(s["rows"][0] for s in spans if s["name"] == name and s["rows"]))


def _arg_rows(spans: list[dict], name: str, idx: int) -> float:
    return float(sum(s["arg_rows"][idx] for s in spans
                     if s["name"] == name and s.get("arg_rows")))


def _tracing(tracer, walls: list[float], rss: float) -> dict[str, float]:
    """``trace.cycle_s`` is the traced cycle or sweep, to set against the
    untraced runs' ``cycle_s``; ``trace.overhead_ratio`` is the wall the
    tracer added inside it (forced counts, input probes) over the rest."""
    total = sum(walls)
    return {
        "trace.cycle_s": statistics.median(walls),
        "trace.overhead_ratio": tracer.added_s / (total - tracer.added_s) if total > tracer.added_s else 0.0,
        "process.peak_rss_mb": rss,
    }


def _full(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    return {n: (float(values.get(n, 0.0)), u) for n, u in PER_LAYER}


def crawl_layers(tracer, out: dict, skew: float, bytes_per_page: float, rss: float,
                 log_dir: str) -> dict:
    spans = tracer.finished()
    n = max(1, len([r for r in out["rounds"] if r]))
    layer_s = trace.layer_seconds(spans)
    name_s = trace.name_seconds(spans)
    folded = trace.fold_event_log(log_dir, spans)
    v: dict[str, float] = {}
    v["plans.round.self_s"] = trace.self_seconds(spans, "plans.round.run_round") / n
    v["plans.round.spark_jobs"] = folded.get("plans.round", {}).get("round_jobs", 0.0) / n
    for layer in ["throttle", "ranking", "fetch", "parse", "robots", "limits", "dedupe", "stats"]:
        v[f"operators.{layer}.s"] = layer_s.get(f"operators.{layer}", 0.0) / n
    fetched = _rows(spans, "operators.fetch.fetch_batch")
    v["operators.fetch.rows"] = fetched / n
    v["operators.parse.children_per_page"] = (
        _rows(spans, "operators.parse.child_candidates") / fetched if fetched else 0.0)
    cands = _arg_rows(spans, "operators.dedupe.apply_dupefilter", 0)
    v["operators.dedupe.candidates"] = cands / n
    v["operators.dedupe.new_ratio"] = (
        _rows(spans, "operators.dedupe.apply_dupefilter") / cands if cands else 0.0)
    v["operators.dedupe.seen_rows"] = _arg_rows(spans, "operators.dedupe.apply_dupefilter", 1) / n
    for m in ["append", "append_many", "overwrite", "overwrite_partitions", "compact"]:
        v[f"store.{m}_s"] = name_s.get(f"store.{m}", 0.0) / n
    for k in ["store.commits", "store.files_written", "store.bytes_written"]:
        v[k] = tracer.counters.get(k, 0.0) / n
    v["store.frontier_bucket_skew"] = skew
    v["store.bytes_per_page"] = bytes_per_page
    for f in ["feed_action", "process_actions", "poll_outbound"]:
        v[f"operators.control.{f}_s"] = name_s.get(f"operators.control.{f}", 0.0) / n
    v["operators.control.fail_acks"] = float(
        sum(1 for f in out["failures"] if f.startswith("fail ack")))
    v["plans.crawl.feed_requests_s"] = name_s.get("plans.crawl.feed_requests", 0.0) / n
    v["plans.crawl.compact_state_s"] = name_s.get("plans.crawl.compact_state", 0.0) / n
    v.update(_engine(folded, n))
    v.update(_tracing(tracer, out["cycles"], rss))
    return {"metrics": _full(v), "folded": folded, "layer_s": layer_s,
            "name_s": _calls(spans, name_s)}


def _calls(spans: list[dict], name_s: dict[str, float]) -> dict[str, tuple[int, float]]:
    calls: dict[str, int] = {}
    for s in spans:
        calls[s["name"]] = calls.get(s["name"], 0) + 1
    return {n: (calls[n], sec) for n, sec in name_s.items()}


def suite_layers(tracer, sweep_walls: list[float], leaf_s: dict[str, float], rss: float,
                 log_dir: str) -> dict:
    spans = tracer.finished()
    sweeps = len(sweep_walls)
    layer_s = trace.layer_seconds(spans)
    name_s = trace.name_seconds(spans)
    folded = trace.fold_event_log(log_dir, spans)
    v: dict[str, float] = {}
    for name, s in leaf_s.items():
        v[f"leaf.{name}.s"] = s
    for m in FUNCTION_MODULES:
        v[f"functions.{m}.s"] = layer_s.get(f"functions.{m}", 0.0) / sweeps
    v["sources.tables.load_table_s"] = name_s.get("sources.tables.load_table", 0.0) / sweeps
    v.update(_engine(folded, sweeps))
    v.update(_tracing(tracer, sweep_walls, rss))
    return {"metrics": _full(v), "folded": folded, "layer_s": layer_s,
            "name_s": _calls(spans, name_s)}
