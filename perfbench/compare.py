"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py RUNS_A [RUNS_B] [--bench BENCHMARK.json]

Each set is a directory of run records (what run.py writes to
.perfbench_out/runs/) or a list of record files separated by commas.
For every workload x metric it prints the sample count, first quartile,
median and third quartile of each set, and the spread: the distance
between the quartiles as a share of the median. Per-layer metrics from
traced runs are printed without a verdict.

The sets agree when, for every end-to-end metric of every workload,
each set's spread is within the metric's bound (setup_s excepted) and
the second set's median is not worse than the first's by more than the
bound. With one set, only the spreads are judged. Exit status 0 means
the sets agree, 1 that they do not.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import quartiles  # noqa: E402


def load_set(spec: str) -> dict:
    """{(workload, trace): {metric: [values]}} from one set of records."""
    files = (sorted(glob.glob(os.path.join(spec, "*.json")))
             if os.path.isdir(spec) else spec.split(","))
    out: dict = {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        cfg, res = rec["config"], rec["result"]
        if not res["correct"]:
            print(f"warning: {f} failed its output check", file=sys.stderr)
        by = out.setdefault((cfg["workload"], cfg["trace"]), {})
        for name, m in res["metrics"].items():
            by.setdefault(name, []).append(m["value"])
    return out


def spread(values: list[float]) -> float:
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else float("inf")


def worse_by(a: float, b: float, better: str) -> float:
    """How much worse b is than a, as a share of a (negative: better)."""
    if a == 0:
        return 0.0 if b == a else float("inf")
    return (b - a) / abs(a) if better == "lower" else (a - b) / abs(a)


def fmt(values: list[float]) -> str:
    q1, med, q3 = quartiles(values)
    return f"n={len(values):<3d} {q1:>12.5g} {med:>12.5g} {q3:>12.5g}  spread {spread(values):6.3f}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sets", nargs="+", help="one or two sets of run records")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    if len(args.sets) > 2:
        ap.error("give one or two sets")
    with open(args.bench) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    sets = [load_set(s) for s in args.sets]
    agree = True
    keys = sorted(set().union(*sets))
    for wl, trace in keys:
        print(f"\n== {wl} ({'traced, per-layer' if trace else 'end-to-end'})")
        names = sorted(set().union(*(s.get((wl, trace), {}) for s in sets)))
        for name in names:
            cols = [s.get((wl, trace), {}).get(name) for s in sets]
            print(f"  {name}")
            for label, vals in zip("AB", cols):
                if vals:
                    print(f"    {label}: {fmt(vals)}")
            if trace or name not in e2e:
                continue
            m = e2e[name]
            verdicts = []
            for label, vals in zip("AB", cols):
                if not vals:
                    verdicts.append(f"{label} missing")
                elif name != "setup_s" and spread(vals) > m["bound"]:
                    verdicts.append(f"{label} spread {spread(vals):.3f} > bound {m['bound']}")
            if len(cols) == 2 and cols[0] and cols[1]:
                w = worse_by(quartiles(cols[0])[1], quartiles(cols[1])[1], m["better"])
                print(f"    B vs A: {100 * w:+.2f} % worse (bound {100 * m['bound']:.0f} %)")
                if w > m["bound"]:
                    verdicts.append("B median worse than A by more than the bound")
            if verdicts:
                agree = False
                print("    DISAGREE: " + "; ".join(verdicts))
    print("\nAGREE" if agree else "\nDISAGREE")
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())
