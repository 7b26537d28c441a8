#!/usr/bin/env python3
"""Compare result sets of the benchmark.

    python3 perfbench/compare.py A.jsonl [B.jsonl]

A result set is a JSON-lines file, one run per line:
``{"workload": W, "seed": N, "result": <the benchmark's last stdout line>}``
(NOTES.md shows a loop that writes one). For each workload and metric
the tool prints the median and quartiles of each set (quartiles are
``statistics.quantiles(n=4)``) and the spread, the quartile distance
over the median. With two sets it adds the pair win counts (runs paired
by seed) and a verdict: ``unresolved`` when either set's spread exceeds
the metric's bound, ``worse``/``better`` when the medians differ by more
than the bound, else ``flat``. With one set the verdict is
``unresolved`` or ``steady``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict[tuple[str, str], dict[int, float]]:
    """(workload, metric) -> {seed: value}"""
    out: dict[tuple[str, str], dict[int, float]] = {}
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = json.loads(line)
            for name, m in rec["result"]["metrics"].items():
                out.setdefault((rec["workload"], name), {})[rec["seed"]] = m["value"]
    return out


def stats(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, spread as a share of the median)"""
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a")
    ap.add_argument("b", nargs="?")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    a = load(args.a)
    b = load(args.b) if args.b else {}
    print(f"{'workload':15} {'metric':32} {'n':>3} {'median A':>11} {'q1-q3 A':>21} {'spread':>6}"
          + (f" {'median B':>11} {'q1-q3 B':>21} {'spread':>6} {'B wins':>6} {'A wins':>6}" if b else "")
          + "  verdict")
    for key in sorted(a if not b else set(a) & set(b)):
        w, name = key
        m = meta.get(name, {})
        lower = m.get("better", "lower") == "lower"
        bound = m.get("bound")
        ma, qa1, qa3, sa = stats(list(a[key].values()))
        row = f"{w:15} {name:32} {len(a[key]):3} {ma:11.4f} {qa1:10.3f}-{qa3:10.3f} {sa:6.3f}"
        spreads = [sa]
        if b:
            mb, qb1, qb3, sb = stats(list(b[key].values()))
            seeds = sorted(set(a[key]) & set(b[key]))
            b_wins = sum((b[key][s] < a[key][s]) if lower else (b[key][s] > a[key][s]) for s in seeds)
            a_wins = sum((a[key][s] < b[key][s]) if lower else (a[key][s] > b[key][s]) for s in seeds)
            row += f" {mb:11.4f} {qb1:10.3f}-{qb3:10.3f} {sb:6.3f} {b_wins:6d} {a_wins:6d}"
            spreads.append(sb)
        if bound is None:
            verdict = "-"
        elif max(spreads) > bound:
            verdict = "unresolved"
        elif not b:
            verdict = "steady"
        else:
            change = (mb - ma) / ma if ma else 0.0
            worse = change > bound if lower else change < -bound
            better = change < -bound if lower else change > bound
            verdict = "worse" if worse else ("better" if better else "flat")
        print(f"{row}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
