"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload c360_daily --seeds 1-10 --seconds 20

Runs ``run.py`` once per seed, sequentially, and prints for each metric the
median and the quartile spread (Q3 - Q1) / median that a change to this
workload must stay within. Each run's record and result lines go to ``--out`` as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="20")
    ap.add_argument("--out")
    a = ap.parse_args()
    values: dict[str, list[float]] = {}
    lines = []
    for seed in seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", a.seconds, "--trace", "0"],
            capture_output=True, text=True, check=False,
        )
        if p.returncode != 0:
            print(p.stderr[-2000:], file=sys.stderr)
            return 1
        record, last = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
        lines.append({"record": record, "result": last})
        print(seed, last["correct"], last["failed"],
              {k: round(v["value"], 4) for k, v in last["metrics"].items()}, flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if a.out:
        with open(a.out, "w") as f:
            f.writelines(json.dumps(x) + "\n" for x in lines)
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        print(f"{k:14s} median {med:10.4f}  spread {(q3 - q1) / med:7.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
