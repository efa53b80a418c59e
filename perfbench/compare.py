"""Summarise one run set, or compare two, metric by metric.

    python3 perfbench/compare.py SET_A [SET_B]

A run set is a directory of ``<workload>.s<seed>.t<trace>.out`` files as
written by ``runset.py`` (each holds one run's stdout; the last line is
the result JSON). For every workload and metric the script prints each
side's median and quartiles (``statistics.quantiles(n=4)``), the spread
(quartile distance / median) and the bound from BENCHMARK.json. With two
sets it adds the change of B's median against A's in the metric's "worse"
direction and a verdict:

* ``regressed`` — B is worse than A by more than the bound;
* ``unresolved`` — a side's spread exceeds the bound, so the sets cannot
  tell the change from noise (unless every B run beats every A run);
* ``ok`` otherwise.

Beside the figures it prints the host diagnostics each run logged
(``cpu_control_ms``: a fixed numpy loop; ``steal_ticks``: hypervisor
steal), so host drift can be told apart from a code change, and it flags
seeds whose input digest or exact counts differ between the sets.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
_NAME = re.compile(r"(?P<w>.+)\.s(?P<seed>\d+)\.t(?P<t>[01])\.out$")
EXACT = ("index_bytes_per_token",)


def load(set_dir: str) -> dict:
    """{workload: {seed: {"metrics": {..}, "host": {..}, "digest": str}}}
    of the untraced runs; traced runs (``.t1.out``) carry per-layer
    metrics only and are skipped."""
    runs: dict = {}
    for path in sorted(glob.glob(os.path.join(set_dir, "*.out"))):
        m = _NAME.match(os.path.basename(path))
        if not m or m["t"] != "0":
            continue
        with open(path) as f:
            lines = [ln.strip() for ln in f if ln.strip()]
        if not lines or not lines[-1].startswith("{"):
            print(f"# skipped {path}: no result line", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        rec = {"metrics": {k: v["value"] for k, v in res["metrics"].items()},
               "correct": res["correct"], "host": {}, "digest": ""}
        for ln in lines:
            if ln.startswith("# host "):
                rec["host"] = json.loads(ln[len("# host "):])
            elif ln.startswith("# inputs sha256="):
                rec["digest"] = ln.split()[2].split("=")[1]
        runs.setdefault(m["w"], {})[int(m["seed"])] = rec
    return runs


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def spread(vals: list[float]) -> float:
    q1, q2, q3 = quartiles(vals)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def _fmt(v: float) -> str:
    return f"{v:.4g}"


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"]}
    sets = [load(d) for d in argv]
    worst = 0
    for w in sorted(set().union(*sets)):
        sides = [s.get(w, {}) for s in sets]
        print(f"\n== {w}  runs: " + " / ".join(str(len(s)) for s in sides))
        for i, side in enumerate(sides):
            host = [r["host"] for r in side.values() if r["host"]]
            bad = [sd for sd, r in side.items() if not r["correct"]]
            if host:
                cpu = statistics.median(h["cpu_control_ms"] for h in host)
                steal = statistics.median(h["steal_ticks"] for h in host)
                print(f"   set {'AB'[i]}: host cpu_control_ms={_fmt(cpu)} "
                      f"steal_ticks={_fmt(steal)}"
                      + (f"  INCORRECT seeds {bad}" if bad else ""))
        hdr = f"   {'metric':24s} {'A median [q1,q3]':>28s} {'spread':>7s}"
        if len(sides) == 2:
            hdr += f" {'B median [q1,q3]':>28s} {'spread':>7s} {'worse':>7s}"
        print(hdr + f" {'bound':>6s}  verdict")
        for name, m in spec.items():
            vals = [[r["metrics"][name] for r in s.values()
                     if name in r["metrics"]] for s in sides]
            if not all(vals):
                continue
            row = f"   {name:24s}"
            spreads = []
            for v in vals:
                q1, q2, q3 = quartiles(v)
                spreads.append(spread(v))
                row += (f" {_fmt(q2):>10s} [{_fmt(q1)},{_fmt(q3)}]".rjust(29)
                        + f" {spreads[-1]:7.3f}")
            sign = 1 if m["better"] == "lower" else -1
            verdict = "ok" if max(spreads) <= m["bound"] else "unresolved"
            if len(vals) == 2:
                a, b = statistics.median(vals[0]), statistics.median(vals[1])
                worse = sign * (b - a) / abs(a) if a else 0.0
                all_better = (max(vals[1]) < min(vals[0]) if sign == 1
                              else min(vals[1]) > max(vals[0]))
                if worse > m["bound"]:
                    verdict = "regressed"
                elif verdict == "unresolved" and all_better:
                    verdict = "ok (every B run better)"
                row += f" {worse:+7.3f}"
            elif max(spreads) <= m["bound"] / 3:
                verdict = "ok (< bound/3)"
            print(row + f" {m['bound']:6.2f}  {verdict}")
            worst = max(worst, verdict not in ("ok", "ok (< bound/3)",
                                               "ok (every B run better)"))
        if len(sides) == 2:
            for seed in sorted(set(sides[0]) & set(sides[1])):
                a, b = sides[0][seed], sides[1][seed]
                if a["digest"] != b["digest"]:
                    print(f"   seed {seed}: input digest differs")
                for name in EXACT:
                    if a["metrics"].get(name) != b["metrics"].get(name):
                        print(f"   seed {seed}: {name} differs "
                              f"({a['metrics'].get(name)} vs "
                              f"{b['metrics'].get(name)})")
    return 1 if worst else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
