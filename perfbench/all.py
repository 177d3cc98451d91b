"""Run every workload once and print each metric with its unit.

    python3 perfbench/all.py --seed 1 [--trace 1]

Each workload runs as its own ``run.py`` process, as BENCHMARK.json's
command does; the exit code is non-zero if any run fails or is incorrect.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for w in spec["workloads"]:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", w["name"], "--seed", str(args.seed),
             "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{w['name']}: failed with exit code {proc.returncode}")
            ok = False
            continue
        r = json.loads(lines[-1])
        ok = ok and r["correct"]
        print(f"{w['name']}: correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']}")
        for name, m in r["metrics"].items():
            print(f"  {name:36s} {m['value']:16.4f} {m['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
