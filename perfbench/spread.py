"""Run-to-run spread of the end-to-end metrics: runs ``run.py`` on a list of
seeds (or reads saved outputs) and prints, per metric, the median and the
interquartile distance as a share of the median.

    python3 perfbench/spread.py --workload hot_keys --seeds 1-10 --seconds 16
    python3 perfbench/spread.py --files out1.txt out2.txt ...
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def last_json(text: str) -> dict:
    return json.loads(text.strip().splitlines()[-1])


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--files", nargs="*")
    args = ap.parse_args(argv)
    results = []
    if args.files:
        for p in args.files:
            with open(p) as f:
                results.append(last_json(f.read()))
    else:
        for s in seeds(args.seeds):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                 "--seed", str(s), "--seconds", str(args.seconds), "--trace", "0"],
                capture_output=True, text=True, timeout=600,
            )
            results.append(last_json(out.stdout))
    bad = [r for r in results if not r["correct"]]
    values: dict[str, list[float]] = {}
    for r in results:
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    report = {}
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        report[k] = {"n": len(xs), "median": med,
                     "spread": (q[2] - q[0]) / med if med else 0.0}
    print(json.dumps({"runs": len(results), "not_correct": len(bad), "metrics": report}, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
