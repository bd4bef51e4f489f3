"""Tracing overhead: run one workload untraced and traced, each in a
fresh process with the same seed, and print the traced minus the
untraced value of every end-to-end metric.

    python3 perfbench/overhead.py --workload serve --seed 1 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args(argv)
    plain = _run(args.workload, args.seed, args.seconds, 0)
    traced = _run(args.workload, args.seed, args.seconds, 1)
    out = {
        name: {
            "untraced": m["value"],
            "traced": traced[f"traced.{name}"]["value"],
            "overhead": traced[f"traced.{name}"]["value"] - m["value"],
            "unit": m["unit"],
        }
        for name, m in plain.items()
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
