"""crawl_live: a politeness-bound crawl with an API client beside it.

Every cycle the client feeds a seeded mix of control actions (``info``,
``stats``, ``zk-update``, ``stop``) through ``feed_action`` plus a small
``feed_requests`` batch; then the control pass (``process_actions``) and
one scheduling round run, compaction runs after every round, and the client
polls each ack with ``poll_outbound``.  The seen history is preloaded
with fingerprints of URLs outside the corpus, at least 100x the
candidates of any round, so the seen side dominates dedupe.

Set-up builds a fresh store twice; the first takes one warm-up round
and is thrown away, and the measured cycles run on the second.

The seed picks one of ``VARIANTS`` input variants: a permutation of the
seed priorities, the action mix and the preloaded history.  Per-round
counts and the final seen set are checked against the values committed
for that variant in ``expected/``.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from perfbench import common

VARIANTS = 4
SIZES = {
    # ~3.5k pages; 5 hits per domain and round keep ~500 URLs per round
    "full": dict(domains=100, base_pages=100, zipf=0.3, hits=5, history=100_000,
                 actions=3, feed=20, max_cycles=3, setups=2),
    "tiny": dict(domains=12, base_pages=12, zipf=0.3, hits=3, history=2_000,
                 actions=2, feed=4, max_cycles=2, setups=2),
}
STATS_KINDS = ["queue", "spider", "machine", "crawler", "kafka-monitor", "redis-monitor"]
ACTION_KINDS = ["info", "stats", "zk-update", "stop"]


def _cfg(p: dict):
    from scrapy_cluster_spark.config import EngineConfig

    return EngineConfig(queue_hits=p["hits"], frontier_buckets=32,
                        compact_every=1, compact_min_files=4)


def _inputs(spark, p: dict, variant: int):
    """Corpus pages, seed requests and preloaded history (cached once)."""
    import numpy as np
    from pyspark.sql import functions as F

    import bench
    from scrapy_cluster_spark.operators.ingest import bucket_expr
    from scrapy_cluster_spark.synth import generate_pages

    cfg = _cfg(p)
    pages = generate_pages(spark, p["domains"], p["base_pages"], p["zipf"]).persist()
    n_pages = pages.count()
    perm = np.random.RandomState(1000 + variant).permutation(100) + 1
    seeds = bench._seeds_df(spark, p["domains"], p["base_pages"], p["zipf"]).withColumn(
        "priority",
        F.element_at(F.array(*[F.lit(int(x)) for x in perm]), F.col("priority")).cast("int"),
    ).persist()
    seeds.count()
    # sha1("GET" + url) is the engine's request fingerprint of these
    # already-canonical urls; computing it in SQL keeps set-up off the UDFs
    url = F.concat(F.lit(f"http://hist{variant}-"), (F.col("id") % 997).cast("string"),
                   F.lit(".org/p/"), F.col("id").cast("string"))
    domain = F.concat(F.lit(f"hist{variant}-"), (F.col("id") % 997).cast("string"), F.lit(".org"))
    history = spark.range(p["history"]).select(
        F.lit("link").alias("spiderid"), F.lit("bench").alias("crawlid"),
        F.sha1(F.concat(F.lit("GET"), url)).alias("fingerprint"),
        F.lit(0).cast("long").alias("seen_round"), domain.alias("domain"),
    ).withColumn("bucket", bucket_expr("domain", cfg.frontier_buckets)).drop("domain").persist()
    history.count()
    return pages, n_pages, seeds, history


def _fresh_store(spark, work: str, idx: int, p: dict, seeds, history):
    from scrapy_cluster_spark.plans.crawl import feed_requests
    from scrapy_cluster_spark.store import SnapshotStore

    root = os.path.join(work, f"store-{idx}")
    store = SnapshotStore(spark, root)
    store.append("seen", history, meta={"preload": True})
    feed_requests(store, seeds, _cfg(p))
    return store


def _warm_up(store, pages, p: dict) -> list[str]:
    """One scheduling round on the first set-up store, which is then
    thrown away, so the measured round runs on a JVM that has already
    planned, code-generated and JIT-compiled every query of a round (a
    cold round took ~1.5x as long).  It
    also spins up the Python workers and runs the fingerprint UDF and
    the windowed top-k, all that ``bench.warmup`` touches."""
    from scrapy_cluster_spark.plans.round import run_round

    try:
        run_round(store, pages, 1, _cfg(p))
    except Exception as e:
        return [f"warm-up round: {e}"]
    return []


def _client_plan(p: dict, variant: int, cycle: int) -> tuple[list[dict], list[dict]]:
    """Seeded actions and feed batch the client sends before ``cycle``."""
    from scrapy_cluster_spark.synth import domain_name

    rng = random.Random(f"{variant}:{cycle}")
    actions = []
    for i in range(p["actions"]):
        kind = rng.choice(ACTION_KINDS)
        a = {"action": kind, "uuid": f"v{variant}-c{cycle}-{i}", "spiderid": "link",
             "appid": "benchapp", "ts": float(cycle * 60)}
        if kind == "info":
            a["crawlid"] = "bench"
        elif kind == "stats":
            a["stats"] = rng.choice(STATS_KINDS)
        elif kind == "zk-update":
            a.update(domain=domain_name(rng.randrange(p["domains"])),
                     hits=rng.randint(2, 8), window=60, scale=1.0)
        else:  # stop the decoy crawl fed one cycle earlier
            a["crawlid"] = f"feed{cycle - 1}"
        actions.append(a)
    # decoy crawl on hosts outside the corpus: its fetches miss and retry,
    # and it never competes with the seeded crawl's per-domain order
    feed = [
        {"appid": "benchapp", "crawlid": f"feed{cycle}", "spiderid": "link",
         "url": f"http://decoy{k % 5}.example/v{variant}/c{cycle}/{rng.randrange(10**6)}",
         "priority": rng.randint(1, 100), "maxdepth": 0}
        for k in range(p["feed"])
    ]
    return actions, feed


def _crawl(spark, store, pages, p: dict, variant: int, seconds: float,
           n_cycles: int | None, record: bool = False) -> dict:
    """The measured loop: API traffic + control pass + round per cycle."""
    from scrapy_cluster_spark.operators.control import feed_action, poll_outbound, process_actions
    from scrapy_cluster_spark.plans.crawl import compact_state, feed_requests
    from scrapy_cluster_spark.plans.round import run_round

    cfg = _cfg(p)
    clock = common.Timer()
    cycles, rounds, rtts, failures, seen = [], [], [], [], []
    attempted = 0
    c = 0
    while True:
        c += 1
        t_cycle = common.Timer()
        actions, feed = _client_plan(p, variant, c)
        sent = {}
        for a in actions:
            sent[a["uuid"]] = common.Timer()
            attempted += 1
            try:
                feed_action(store, a)
            except Exception as e:  # a failed feed is a failed operation
                failures.append(f"feed_action {a['uuid']}: {e}")
                sent.pop(a["uuid"])
        attempted += 1
        try:
            feed_requests(store, feed, cfg, round_id=c - 1)
        except Exception as e:
            failures.append(f"feed_requests cycle {c}: {e}")
        attempted += 1
        try:
            process_actions(store, c, cfg=cfg)
        except Exception as e:
            failures.append(f"process_actions cycle {c}: {e}")
        attempted += 1
        t_round = common.Timer()
        try:
            lin = run_round(store, pages, c, cfg)
            rounds.append({"wall": t_round(), "scheduled": lin["scheduled"],
                           "candidates": lin["candidates"], "crawled_ok": lin["crawled_ok"],
                           "frontier_depth": lin["frontier_depth"]})
        except Exception as e:
            failures.append(f"round {c}: {e}")
            rounds.append(None)
        if cfg.compact_every and c % cfg.compact_every == 0:
            attempted += 1
            try:
                compact_state(store, cfg)
            except Exception as e:
                failures.append(f"compact_state cycle {c}: {e}")
        for uuid, t_sent in sent.items():
            try:
                ack = poll_outbound(store, uuid)
            except Exception as e:
                ack, err = None, e
            else:
                err = "no ack"
            if ack is None:
                failures.append(f"poll {uuid}: {err}")
            elif isinstance(ack.get("payload"), dict) and ack["payload"].get("error"):
                failures.append(f"fail ack {uuid}: {ack['payload']['error']}")
            else:
                rtts.append(t_sent())
        cycles.append(t_cycle())
        if record:
            seen.append(_seen_digest(spark, store))
        if c >= (n_cycles or p["max_cycles"]) or (n_cycles is None and clock() >= seconds):
            break
    return {"cycles": cycles, "rounds": rounds, "rtts": rtts, "failures": failures,
            "attempted": attempted, "seen": seen}


def _seen_digest(spark, store) -> list[int]:
    from pyspark.sql import functions as F

    from scrapy_cluster_spark.schemas import SEEN_SCHEMA

    row = store.read("seen", SEEN_SCHEMA).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("spiderid", "crawlid", "fingerprint")), F.lit(0)).alias("d"),
    ).collect()[0]
    return [int(row["n"]), int(row["d"])]


def _fed(store):
    """Priorities of the seed feed as the frontier holds them (cached:
    compaction later expires that frontier snapshot)."""
    from scrapy_cluster_spark.schemas import FRONTIER_SCHEMA

    fed = store.read("frontier", FRONTIER_SCHEMA).filter("crawlid = 'bench'").select(
        "spiderid", "domain", "url", "priority").persist()
    fed.count()
    return fed


def _ordering(store, fed) -> float:
    from scrapy_cluster_spark.plans.ordering import ordering_match_rate
    from scrapy_cluster_spark.schemas import FETCH_LOG_SCHEMA

    # round 1 pops from the seed feed alone; later rounds also pop
    # discovered duplicates of seed urls, which carry other priorities
    m = ordering_match_rate(store.read("fetch_log", FETCH_LOG_SCHEMA).filter("round = 1"), fed)
    fed.unpersist()
    return float(m["match_rate"])


def _store_bytes_per_page(store) -> float:
    from scrapy_cluster_spark.schemas import CRAWLED_SCHEMA

    tables = [t for t in os.listdir(store.root) if os.path.isdir(os.path.join(store.root, t))]
    live = 0
    for t in tables:
        try:
            live += sum(os.path.getsize(f) for f in store.files(t))
        except (OSError, ValueError, KeyError):
            pass
    pages = store.read("crawled", CRAWLED_SCHEMA).filter("success").count()
    return live / max(pages, 1)


def _check(spark, store, out: dict, expected: dict | None, fed,
           record: bool) -> tuple[list[str], dict]:
    """Output checks of one pass; returns (failures, observed)."""
    fails = list(out["failures"])
    observed_rounds = [
        [r["scheduled"], r["candidates"], r["crawled_ok"], r["frontier_depth"]] if r else None
        for r in out["rounds"]
    ]
    seen = _seen_digest(spark, store)
    rate = _ordering(store, fed)
    observed = {"rounds": observed_rounds, "seen": out["seen"]}
    if rate != 1.0:
        fails.append(f"ordering_match_rate {rate} != 1.0")
    if record:
        return fails, observed
    if expected is None:
        fails.append("no expected values for this variant")
        return fails, observed
    n = len(observed_rounds)
    for i, got in enumerate(observed_rounds):
        want = expected["rounds"][i] if i < len(expected["rounds"]) else None
        if got != want:
            fails.append(f"round {i + 1} counts {got} != expected {want}")
    want_seen = expected["seen"][n - 1] if n - 1 < len(expected["seen"]) else None
    if seen != want_seen:
        fails.append(f"seen set {seen} != expected {want_seen} after {n} rounds")
    return fails, observed


def run(args) -> dict:
    with common.run_dir() as work:
        return _run(args, work)


def _run(args, work: str) -> dict:
    t_proc = time.perf_counter()
    size = "tiny" if args.tiny else "full"
    p = SIZES[size]
    variant = args.seed % VARIANTS
    exp_path = args.expected or os.path.join(common.EXPECTED, f"crawl_live.{size}.json")
    exp_all = common.load_json(exp_path) if os.path.exists(exp_path) else {"params": p, "variants": {}}
    if not args.record and exp_all.get("params") != p:
        raise SystemExit(f"{exp_path} was recorded for other sizes")
    expected = exp_all["variants"].get(str(variant))

    common.prepare_env(work)

    spark = common.start_spark(work, event_log=bool(args.trace))
    try:
        pages, n_pages, seeds, history = _inputs(spark, p, variant)
        one_shot = time.perf_counter() - t_proc
        setups, store, warm_fails = [], None, []
        for i in range(p["setups"]):
            if store is not None:
                shutil.rmtree(store.root, ignore_errors=True)
            t = common.Timer()
            store = _fresh_store(spark, work, i, p, seeds, history)
            setups.append(t())
            if i == 0:
                t = common.Timer()
                warm_fails = _warm_up(store, pages, p)
                warm_s = t()
        fed = _fed(store)
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            tracer.install()
        try:
            out = _crawl(spark, store, pages, p, variant, args.seconds,
                         p["max_cycles"] if args.record else None, record=args.record)
        finally:
            if tracer is not None:
                tracer.uninstall()
        fails, observed = _check(spark, store, out, expected, fed, args.record)
        fails = warm_fails + fails
        bytes_per_page = _store_bytes_per_page(store)
        skew = None
        if tracer is not None:
            from scrapy_cluster_spark.plans.balance import bucket_balance

            skew = bucket_balance(store, "frontier").get("skew_ratio") or 1.0
        rss = common.peak_rss_mb()
        for df in (pages, seeds, history):
            df.unpersist()
        fails += common.storage_leaks(spark)
    finally:
        common.stop_spark(spark)

    if args.record:
        exp_all["params"] = p
        exp_all["variants"][str(variant)] = observed
        common.save_json(exp_path, exp_all)

    ok_rounds = [r for r in out["rounds"] if r]
    walls = [r["wall"] for r in ok_rounds] or [float("nan")]
    urls = sum(r["scheduled"] + r["candidates"] for r in ok_rounds)
    tail, tail_p, tail_n = common.tail(out["rtts"] or [float("nan")])
    n_checks = 3  # counts, seen set, ordering
    attempted = 1 + out["attempted"] + n_checks  # the warm-up round first
    report = {
        "workload": "crawl_live", "variant": variant, "pages": n_pages,
        "rounds": [dict(r, index=i + 1) if r else None for i, r in enumerate(out["rounds"])],
        "setup_one_shot_s": one_shot, "setup_warm_up_s": warm_s, "setup_repeats_s": setups,
        "crawl_urls_per_s": urls / sum(walls), "round_p50_s": common.median(walls),
        "action_rtt_p50_s": common.median(out["rtts"]) if out["rtts"] else None,
        "action_rtt_tail_s": tail, "action_rtt_tail_percentile": tail_p,
        "action_rtt_tail_beyond": tail_n, "action_rtt_samples": len(out["rtts"]),
        "store_bytes_per_page": bytes_per_page,
        "peak_rss_mb": rss, "op_failure_ratio": len(fails) / attempted, "failures": fails,
    }
    metrics = {
        "setup_s": (one_shot + warm_s + common.median(setups), "s"),
        "cycle_s": (common.median(out["cycles"]), "s"),
        "step_p50_s": (common.median(walls), "s"),
        "step_geomean_s": (common.geomean(walls), "s"),
        "throughput_per_s": (urls / sum(walls), "1/s"),
        "request_p50_s": (common.median(out["rtts"]) if out["rtts"] else float("nan"), "s"),
        "request_tail_s": (tail, "s"),
    }
    layers = None
    if tracer is not None:
        from perfbench import layers as L

        layers = L.crawl_layers(tracer, out, skew, bytes_per_page, rss,
                                os.path.join(work, "eventlog"))
    return {"attempted": attempted, "failed": len(fails), "metrics": metrics,
            "layers": layers, "report": report}
