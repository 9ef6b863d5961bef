#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (sf0.001, a 12-domain crawl).

    python3 perfbench/selftest.py

Each case runs ``run.py`` in a fresh process and checks that

- every end-to-end metric (``--trace 0``) and every per-layer metric
  (``--trace 1``) prints, by name and with its unit;
- corrupting one expected digest or one expected round count makes the
  run report a failure and exit non-zero.

Takes several minutes; it is not part of the tier-1 pytest suite.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402


def _run(*args: str) -> tuple[int, dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--tiny", "--seed", "0",
           "--seconds", "1", *args]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last), p.stdout


def _expect_metrics(result: dict, stdout: str, names: list[tuple[str, str]], what: str) -> None:
    got = result.get("metrics", {})
    assert [n for n, _ in names] == list(got), f"{what}: metric names differ"
    for n, u in names:
        assert got[n]["unit"] == u, f"{what}: {n} unit {got[n]['unit']} != {u}"
        assert f"metric {n} " in stdout and stdout.split(f"metric {n} ", 1)[1].split("\n")[0].endswith(f" {u}"), \
            f"{what}: report line for {n} missing"


def _corrupted(src: str, mutate) -> str:
    dst_dir = os.path.join(ROOT, ".bench_build", "selftest")
    os.makedirs(dst_dir, exist_ok=True)
    obj = common.load_json(src)
    mutate(obj)
    dst = os.path.join(dst_dir, "corrupt-" + os.path.basename(src))
    common.save_json(dst, obj)
    return dst


def main() -> int:
    cases = 0
    for workload in ("corpus_suite", "crawl_live"):
        code, res, out = _run("--workload", workload, "--trace", "0")
        assert code == 0 and res["correct"] and res["failed"] == 0, f"{workload} failed:\n{out}"
        _expect_metrics(res, out, END_TO_END, f"{workload} --trace 0")
        code, res, out = _run("--workload", workload, "--trace", "1")
        assert code == 0 and res["correct"], f"{workload} traced run failed:\n{out}"
        _expect_metrics(res, out, PER_LAYER, f"{workload} --trace 1")
        cases += 2

    def bad_digest(obj):
        leaf = sorted(obj["leaves"])[0]
        obj["leaves"][leaf]["digest"] += 1
        obj["leaves"][leaf]["check"] = "digest"

    def bad_count(obj):
        obj["variants"]["0"]["rounds"][0][0] += 1

    for workload, src, mutate in (
        ("corpus_suite", os.path.join(common.EXPECTED, "corpus_suite.sf0.001.json"), bad_digest),
        ("crawl_live", os.path.join(common.EXPECTED, "crawl_live.tiny.json"), bad_count),
    ):
        code, res, out = _run("--workload", workload, "--trace", "0",
                              "--expected", _corrupted(src, mutate))
        assert code != 0 and not res["correct"] and res["failed"] >= 1, \
            f"{workload}: corrupted expected values went unnoticed:\n{out}"
        cases += 1
    print(f"selftest: {cases} cases passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
