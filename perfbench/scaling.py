"""Scaling mode (informational, not gated): the same run at local[1] and at
local[<all cores>], reporting bulk-replay throughput at each and the 1→N
parallel efficiency (the north rule asks for >= 0.8).

    python3 perfbench/scaling.py --workload hot_keys --seed 1 --seconds 16

Each side is one full ``run.py`` process, run one after the other.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one(cores: int, args) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
         "--cores", str(cores)],
        capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="hot_keys")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    args = ap.parse_args(argv)
    n = os.cpu_count() or 1
    rates = {}
    for cores in (1, n):
        res = one(cores, args)
        if not res["correct"]:
            print(json.dumps({"cores": cores, "error": "run not correct", "result": res}))
            return 1
        rates[cores] = res["metrics"]["replay_events_per_s"]["value"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "replay_events_per_s": {f"local[{c}]": r for c, r in rates.items()},
        "speedup": rates[n] / rates[1],
        "efficiency": rates[n] / rates[1] / n,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
