#!/usr/bin/env python3
"""Check that the benchmark is steady: run one workload on several seeds
and compare each end-to-end metric's spread with its bound.

    python3 perfbench/steady.py --workload llm_dedup --seeds 1-10

For every metric it prints the median, the inter-quartile distance over
the median (``statistics.quantiles(values, n=4)``) and the bound from
``BENCHMARK.json``; a spread above a third of the bound is flagged
(``setup_s`` is exempt, as its spread is not gated). Each run is a fresh
process, as the benchmark requires; run records are appended to
``--log`` as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--log", default=os.path.join(HERE, ".cache", "steady.jsonl"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.dirname(args.log), exist_ok=True)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in seeds(args.seeds):
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=180)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        *_, report, result = (json.loads(line) for line in proc.stdout.splitlines()[-2:])
        with open(args.log, "a") as f:
            f.write(json.dumps({"wall_s": wall, **report, "result": result}) + "\n")
        for k in values:
            values[k].append(result["metrics"][k]["value"])
        print(f"seed {seed}: wall {wall:.1f}s correct={result['correct']} "
              f"steal={report['report']['host']['steal_share']:.3f} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    worst = 0.0
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        s = spread(vals)
        gated = m["name"] != "setup_s"
        flag = "TOO WIDE" if gated and s > m["bound"] / 3 else "ok"
        worst = max(worst, s / m["bound"] if gated else 0.0)
        print(f"{m['name']:>12}: median {statistics.median(vals):.4g} {m['unit']}  "
              f"spread {s:.3f}  bound {m['bound']}  {flag}")
    return 0 if worst <= 1 / 3 else 1


if __name__ == "__main__":
    sys.exit(main())
