"""Run a set of benchmark runs and keep each run's full output.

    python3 perfbench/runset.py OUT_DIR --seeds 1-10 [--trace 0]

Runs ``perfbench/run.py`` once per (seed, workload), one at a time, from
the current directory (a checkout root), alternating the workload order
from seed to seed. The workloads and the run length are always those of
BENCHMARK.json, so two sets measure the same thing. Each run's stdout
lands in ``OUT_DIR/<workload>.s<seed>.t<trace>.out``; ``compare.py``
reads them.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    workloads = [w["name"] for w in bench["workloads"]]
    for i, seed in enumerate(_seeds(args.seeds)):
        for w in (workloads if i % 2 == 0 else workloads[::-1]):
            path = os.path.join(args.out, f"{w}.s{seed}.t{args.trace}.out")
            t0 = time.time()
            with open(path, "w") as out, open(path[:-4] + ".err", "w") as err:
                rc = subprocess.call(
                    [sys.executable, os.path.join(HERE, "run.py"),
                     "--workload", w, "--seed", str(seed),
                     "--seconds", str(bench["run_seconds"]),
                     "--trace", str(args.trace)], stdout=out, stderr=err)
            print(f"{w} seed={seed} rc={rc} wall={time.time() - t0:.1f}s",
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
