"""Tracing overhead: run one workload and seed untraced, then traced,
and print how much slower the traced run's median call was.

    python3 perfbench/overhead.py --workload fold --seed 1 --seconds 5
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def metrics(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    a = ap.parse_args(argv)
    off = metrics(a.workload, a.seed, a.seconds, 0)
    on = metrics(a.workload, a.seed, a.seconds, 1)
    p50_off, p50_on = off["op_p50_s"]["value"], on["trace.op_p50_s"]["value"]
    print(json.dumps({
        "workload": a.workload, "seed": a.seed,
        "op_p50_s": {"untraced": p50_off, "traced": p50_on,
                     "overhead_s": p50_on - p50_off,
                     "overhead_frac": (p50_on - p50_off) / p50_off},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
