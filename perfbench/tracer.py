"""In-memory span recorder and the self-time reader.

A span is one timed call into a layer: ``name``, ``start``/``end``
(``time.perf_counter`` seconds), ``parent`` (the enclosing span's id or
None) and ``trace`` (one id per unit of work, e.g. one document or
one pass). Spans stay in memory and are written out once, at the end
of a traced run, as JSON lines.

Self time of a span = its duration minus the part of its interval that
its direct children cover (overlapping children are merged first, so
parallel children are not subtracted twice).

Read a span file:  python3 perfbench/tracer.py perfbench/.work/trace-*.jsonl
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Collects spans. ``span()`` nests through an explicit stack, so a
    span opened inside another becomes its child."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_trace = 0

    def new_trace(self) -> int:
        self._next_trace += 1
        return self._next_trace

    @contextmanager
    def span(self, name: str, trace: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if trace is None:
            trace = self.spans[parent]["trace"] if parent is not None else 0
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent, "trace": trace,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent=None,
            trace: int = 0) -> dict:
        """Record an already-timed interval (used by timing shims that
        see a call's start and end but not the enclosing stack)."""
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "trace": trace, "start": start, "end": end}
        self.spans.append(rec)
        return rec

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        elif b > cur_b:
            cur_b = b
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time (duration minus merged child coverage,
    children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s["parent"]
        if p is not None and p in by_id:
            ps = by_id[p]
            kids[p].append((max(s["start"], ps["start"]),
                            min(s["end"], ps["end"])))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(kids.get(s["id"], []))
        for s in spans
    }


def summarize(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total duration and total self time."""
    st = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        d = out.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                       "self_s": 0.0})
        d["count"] += 1
        d["total_s"] += s["end"] - s["start"]
        d["self_s"] += st[s["id"]]
    return out


def read_spans(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main(argv: list[str]) -> int:
    if not argv:
        print("usage: python3 perfbench/tracer.py SPANS.jsonl", file=sys.stderr)
        return 2
    for path in argv:
        print(f"# {path}")
        print(f"{'span':40s} {'count':>8s} {'total_s':>12s} {'self_s':>12s}")
        rows = sorted(summarize(read_spans(path)).items(),
                      key=lambda kv: -kv[1]["self_s"])
        for name, d in rows:
            print(f"{name:40s} {d['count']:8d} {d['total_s']:12.6f} "
                  f"{d['self_s']:12.6f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
