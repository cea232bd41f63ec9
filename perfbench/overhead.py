"""Tracing overhead: traced minus untraced end-to-end metrics.

    python3 perfbench/overhead.py --workload etl_batch --seed 1 --seconds 5 [--pairs 2]

Runs ``run.py`` untraced and traced on the same seed, alternating which
goes first, and prints each end-to-end metric's median per side and the
traced-minus-untraced difference (absolute and as a share of untraced).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _end_to_end(workload: str, seed: int, seconds: float, trace: int) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-2])["end_to_end"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--pairs", type=int, default=2)
    args = p.parse_args()
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for i in range(args.pairs):
        for trace in (0, 1) if i % 2 == 0 else (1, 0):
            runs[trace].append(_end_to_end(args.workload, args.seed, args.seconds, trace))
    out = {}
    for name in runs[0][0]:
        off = statistics.median(r[name] for r in runs[0])
        on = statistics.median(r[name] for r in runs[1])
        out[name] = {
            "untraced": off,
            "traced": on,
            "overhead": on - off,
            "overhead_share": (on - off) / off if off else None,
        }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "pairs": args.pairs,
                      "tracing_overhead": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
