#!/usr/bin/env python3
"""Compare two sets of benchmark records (``RECORD`` lines or the
``perfbench/.work/records.jsonl`` they are appended to).

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

For each workload and end-to-end metric it prints both medians, the
change, each side's quartile spread as a share of its median, and
whether the change exceeds the metric's bound in BENCHMARK.json.
Records taken on different cpu counts are refused: a 4-core figure
says nothing about a 32-core one.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> list[dict]:
    recs = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("RECORD "):
                line = line[len("RECORD "):]
            if line.startswith("{") and '"env"' in line:
                recs.append(json.loads(line))
    return recs


def spread(xs: list[float]) -> float:
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q[2] - q[0]) / med if med else float("nan")


def compare(base: list[dict], new: list[dict], bench: dict) -> tuple[list[str], int]:
    cpus = {r["env"]["cpus"] for r in base + new}
    if len(cpus) != 1:
        return [f"refused: records come from different cpu counts {sorted(cpus)}"], 2
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    by: dict = defaultdict(lambda: ([], []))
    for side, recs in ((0, base), (1, new)):
        for r in recs:
            if r.get("trace"):
                continue
            for k, v in r["metrics"].items():
                if k in bounds:
                    by[(r["workload"], k)][side].append(v["value"])
    lines = [f"{'workload':13s} {'metric':14s} {'base':>12s} {'new':>12s} "
             f"{'change':>8s} {'spread_b':>8s} {'spread_n':>8s}  verdict"]
    worse = 0
    for (wl, k), (a, b) in sorted(by.items()):
        if not a or not b:
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        change = (mb - ma) / ma if ma else 0.0
        m = bounds[k]
        loss = -change if m["better"] == "higher" else change
        verdict = "worse" if loss > m["bound"] else "ok"
        worse += verdict == "worse"
        lines.append(f"{wl:13s} {k:14s} {ma:12.4f} {mb:12.4f} {change:+8.3f} "
                     f"{spread(a):8.3f} {spread(b):8.3f}  {verdict}")
    return lines, 1 if worse else 0


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lines, code = compare(load(argv[0]), load(argv[1]), bench)
    print("\n".join(lines))
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
