"""Tracing overhead: traced median minus untraced median of each end-to-end metric.

    python3 perfbench/overhead.py --workload mor_mixed --seeds 1,2,3 --seconds 10

Runs ``perfbench/run.py`` once per seed with ``--trace 0`` and once with
``--trace 1``, alternating which goes first, and prints one JSON line per
end-to-end metric: both medians, their difference and the difference as a
share of the untraced median. A traced run reports its end-to-end metrics in
its record line, measured the same way as an untraced run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload: str, seed: int, seconds: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", seconds, "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(p.stdout.splitlines()[-2])["record"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated")
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args(argv)
    values: dict[int, dict[str, list[float]]] = {0: {}, 1: {}}
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            rec = one_run(args.workload, seed, args.seconds, trace)
            for k, v in rec["end_to_end"].items():
                values[trace].setdefault(k, []).append(v)
    for k, untraced in values[0].items():
        m0 = statistics.median(untraced)
        m1 = statistics.median(values[1][k])
        print(json.dumps({
            "workload": args.workload, "metric": k, "untraced": m0, "traced": m1,
            "overhead": m1 - m0, "overhead_share": (m1 - m0) / m0 if m0 else None,
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
