#!/usr/bin/env python3
"""Steadiness check: run one workload once per seed and report, for each
metric, the median over the runs and the spread (inter-quartile distance
over the median) next to the bound BENCHMARK.json gives it.

    python3 perfbench/check_steady.py --workload lineitem-session --seeds 1-10

Run from the root of the repository. ``--record`` also records each seed's
output digests in perfbench/expected/.
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
sys.path.insert(0, HERE)

from digest import parse_result, spread  # noqa: E402


def seed_list(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--verbose", action="store_true", help="also print each run's summary line to stderr")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seed_list(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        if args.record:
            cmd.append("--record")
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {proc.returncode}")
            return 1
        res = parse_result(proc.stdout)
        if args.verbose:  # the run's own summary line: samples, set-up parts, steal
            print(next(line for line in proc.stderr.splitlines() if line.startswith("perfbench ")), file=sys.stderr)
        print(f"seed {seed}: {time.time() - t0:.0f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"{'metric':28s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for k, v in values.items():
        sp = spread(v) if len(v) >= 2 and statistics.median(v) else float("nan")
        b = bounds.get(k)
        flag = "" if b is None or sp < b / 3 else ("  > bound/3" if sp <= b else "  > BOUND")
        print(f"{k:28s} {statistics.median(v):12.4f} {sp:8.3f} {b if b is not None else '':>6}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
