#!/usr/bin/env python3
"""Summarise one set of benchmark runs, or compare two.

    python3 perfbench/diff.py RUNS.jsonl
    python3 perfbench/diff.py BASE.jsonl NEW.jsonl

Each file holds run records as ``perfbench/run.py --out`` appends them.  For
every workload and end-to-end metric it prints each side's median and
quartiles, the change of the medians, and how many run pairs (i-th base run
against i-th new run) the new side won, ties counting for neither.  A gain
is called only when the new side wins at least nine tenths of the pairs and
the medians differ by more than the base's quartile spread; a loss beyond
the metric's bound is a regression; a base spread wider than the bound is
unresolved.  Per-layer metrics from traced runs are listed by median
change, largest first.

Given one file, it prints for each workload the median, quartiles and
spread (quartile distance over median) of every end-to-end metric, the
tracing overhead (traced runs' medians minus untraced ones), and the
per-layer medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict:
    """(workload, trace) → list of records, in file order."""
    out = defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                out[(r["workload"], r["trace"])].append(r)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def compare(base: list, new: list, m: dict) -> dict:
    lower = m["better"] == "lower"
    b1, bm, b3 = quartiles(base)
    n1, nm, n3 = quartiles(new)
    wins = sum((n < b) if lower else (n > b) for b, n in zip(base, new))
    pairs = min(len(base), len(new))
    change = (nm - bm) / bm if bm else 0.0
    worse = change if lower else -change
    spread = (b3 - b1) / bm if bm else 0.0
    if pairs and wins >= 0.9 * pairs and abs(nm - bm) > (b3 - b1):
        verdict = "gain"
    elif worse > m["bound"]:
        verdict = "regression"
    elif spread > m["bound"]:
        verdict = "unresolved"
    else:
        verdict = "same"
    return {"base": (b1, bm, b3), "new": (n1, nm, n3), "change": change,
            "wins": wins, "pairs": pairs, "verdict": verdict}


def _steal(records) -> float:
    xs = [s["steal_pct"] for r in records for s in r["samples"]]
    return statistics.median(xs) if xs else 0.0


def summary(spec: dict, runs: dict) -> None:
    for w in (x["name"] for x in spec["workloads"]):
        plain, traced = runs.get((w, 0), []), runs.get((w, 1), [])
        if not plain and not traced:
            continue
        print(f"\n== {w}: {len(plain)} untraced, {len(traced)} traced runs; "
              f"median steal {_steal(plain + traced):.1f}%")
        for m in spec["end_to_end"]:
            name = m["name"]
            line = f"  {name:<16}"
            if plain:
                q1, q2, q3 = quartiles([r["end_to_end"][name] for r in plain])
                spread = (q3 - q1) / q2 if q2 else 0.0
                line += f"median {q2:<10.4g} q1 {q1:<10.4g} q3 {q3:<10.4g} spread {spread:.3f}"
            if plain and traced:
                t = statistics.median(r["end_to_end"][name] for r in traced)
                line += f"  tracing overhead {t - q2:+.4g} {m['unit']}"
            print(line)
        for m in spec["per_layer"] if traced else ():
            v = statistics.median(r["per_layer"][m["name"]] for r in traced)
            if v:
                print(f"  {m['name']:<38}{v:>12.4g} {m['unit']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new", nargs="?")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.new is None:
        summary(spec, load(args.base))
        return 0
    base, new = load(args.base), load(args.new)
    regressions = 0
    for w in (x["name"] for x in spec["workloads"]):
        b, n = base.get((w, 0), []), new.get((w, 0), [])
        if b and n:
            print(f"\n== {w}: {len(b)} base runs, {len(n)} new runs; "
                  f"median steal {_steal(b):.1f}% / {_steal(n):.1f}%")
            print(f"{'metric':<16}{'base q1/med/q3':>30}{'new q1/med/q3':>30}"
                  f"{'change':>9}{'wins':>8}  verdict")
            for m in spec["end_to_end"]:
                c = compare([r["end_to_end"][m["name"]] for r in b],
                            [r["end_to_end"][m["name"]] for r in n], m)
                regressions += c["verdict"] == "regression"
                fmt = lambda q: "/".join(f"{v:.4g}" for v in q)  # noqa: E731
                print(f"{m['name']:<16}{fmt(c['base']):>30}{fmt(c['new']):>30}"
                      f"{100 * c['change']:>8.1f}%{c['wins']:>4}/{c['pairs']:<3}  {c['verdict']}")
        bt, nt = base.get((w, 1), []), new.get((w, 1), [])
        if bt and nt:
            print(f"-- {w} per-layer ({len(bt)} / {len(nt)} traced runs), largest change first")
            rows = []
            for m in spec["per_layer"]:
                bm = statistics.median(r["per_layer"][m["name"]] for r in bt)
                nm = statistics.median(r["per_layer"][m["name"]] for r in nt)
                rel = (nm - bm) / abs(bm) if bm else (0.0 if nm == bm else float("inf"))
                rows.append((abs(rel), m["name"], bm, nm, rel, m["unit"]))
            for _, name, bm, nm, rel, unit in sorted(rows, reverse=True):
                if bm != nm:
                    print(f"  {name:<38}{bm:>12.4g} -> {nm:<12.4g}{unit:<7}{100 * rel:+.1f}%")
    return 1 if regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
