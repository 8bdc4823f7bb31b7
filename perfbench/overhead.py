"""Tracing overhead: run one workload untraced and traced with the same seed
and print, per end-to-end metric, the traced value minus the untraced one.

    python3 perfbench/overhead.py --workload tail --seed 7 --seconds 8

The traced run reports its end-to-end values in its detail line
(``end_to_end_traced``); peak RSS is not sampled there.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def sample(workload: str, seed: int, seconds: int, trace: int) -> list[dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    ).stdout
    return [json.loads(ln) for ln in out.splitlines() if ln.startswith("{")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    plain = sample(args.workload, args.seed, args.seconds, 0)[-1]["metrics"]
    traced = sample(args.workload, args.seed, args.seconds, 1)[-2]["end_to_end_traced"]
    print(json.dumps({
        "tracing_overhead": {
            k: {"untraced": plain[k]["value"], "traced": v, "delta": v - plain[k]["value"]}
            for k, v in traced.items()
        }
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
