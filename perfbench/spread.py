#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end
metric's median and spread (the distance between the first and third
quartile as a share of the median), against the bounds in BENCHMARK.json.

    python3 perfbench/spread.py --workload batch --seeds 1-10 --out set1.jsonl
    python3 perfbench/spread.py --compare set1.jsonl set2.jsonl

``--compare`` checks that the second set's medians are no worse than the
first's by more than each metric's bound, and that both sets failed the
same share of operations. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def load_spec() -> dict:
    with open("BENCHMARK.json") as fh:
        return {m["name"]: m for m in json.load(fh)["end_to_end"]}


def spread(values: list[float]) -> tuple[float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def run_set(workload: str, seeds: list[int], seconds: int, out: str | None) -> list[dict]:
    results = []
    for seed in seeds:
        t = time.time()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=900,
        )
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        res = {"seed": seed, "exit": proc.returncode, "wall_s": time.time() - t, **json.loads(line)}
        results.append(res)
        print(json.dumps(res), flush=True)
        if out:
            with open(out, "a") as fh:
                fh.write(json.dumps(res) + "\n")
    return results


def report(results: list[dict]) -> bool:
    spec, ok = load_spec(), True
    bad = [r["seed"] for r in results if r.get("exit") != 0 or not r.get("correct")]
    if bad:
        print(f"runs failed or incorrect: seeds {bad}")
        ok = False
    shares = {r["failed"] / r["attempted"] for r in results if r.get("attempted")}
    print(f"failed share per run: {sorted(shares)}")
    walls = [r["wall_s"] for r in results if "wall_s" in r]
    if walls:
        print(f"wall seconds per run: median {statistics.median(walls):.1f}, max {max(walls):.1f}")
    for name, m in spec.items():
        vals = [r["metrics"][name]["value"] for r in results if name in r.get("metrics", {})]
        med, sp = spread(vals)
        limit = m["bound"] / 3 if name != "setup_s" else m["bound"]
        flag = "ok" if sp < limit else "WIDE"
        ok &= flag == "ok" or name == "setup_s"
        print(f"{name:20s} median {med:12.4f} {m['unit']:5s} spread {sp:6.3f} "
              f"(bound {m['bound']}, target < {limit:.3f}) {flag}")
    return ok


def compare(a: list[dict], b: list[dict]) -> bool:
    spec, ok = load_spec(), True
    for name, m in spec.items():
        ma = statistics.median(r["metrics"][name]["value"] for r in a)
        mb = statistics.median(r["metrics"][name]["value"] for r in b)
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        flag = "ok" if worse <= m["bound"] else "WORSE"
        ok &= flag == "ok"
        print(f"{name:20s} {ma:12.4f} -> {mb:12.4f} worse by {worse:+.3f} (bound {m['bound']}) {flag}")
    fa = sorted({r["failed"] / r["attempted"] for r in a})
    fb = sorted({r["failed"] / r["attempted"] for r in b})
    print(f"failed share: {fa} vs {fb}")
    return ok and fa == fb


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10", help="a range 'a-b' or a list 'a,b,c'")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("SET1", "SET2"))
    args = ap.parse_args()
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as fh:
                sets.append([json.loads(line) for line in fh if line.strip()])
        return 0 if compare(*sets) else 1
    if "-" in args.seeds:
        lo, hi = map(int, args.seeds.split("-"))
        seeds = list(range(lo, hi + 1))
    else:
        seeds = [int(s) for s in args.seeds.split(",")]
    if args.seconds is None:
        with open("BENCHMARK.json") as fh:
            args.seconds = json.load(fh)["run_seconds"]
    return 0 if report(run_set(args.workload, seeds, args.seconds, args.out)) else 1


if __name__ == "__main__":
    sys.exit(main())
