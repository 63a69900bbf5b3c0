"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/stability.py --workloads ingest,curation --seeds 1-5

Runs ``run.py`` once per (workload, seed), one run at a time, then prints
per workload and metric the median, the quartile spread as a share of the
median (``statistics.quantiles(values, n=4)``), and whether that spread is
under a third of the metric's bound in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_list(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    failed = False
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {m: [] for m in bounds}
        for seed in seed_list(args.seeds):
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                capture_output=True, text=True, cwd=ROOT,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                failed = True
                continue
            res = json.loads(lines[-1])
            failed |= not res["correct"]
            for m, v in res["metrics"].items():
                values[m].append(v["value"])
            print(f"{wl} seed {seed} ({time.monotonic() - t0:.0f} s wall): " + ", ".join(
                f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()), flush=True)
        for m, vs in values.items():
            if len(vs) < 2:
                continue
            spread = quartile_spread(vs)
            ok = spread < bounds[m] / 3
            print(f"{wl} {m}: median {statistics.median(vs):.4g} spread {spread:.3f}"
                  f" bound {bounds[m]} {'ok' if ok else 'WIDE'}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
