"""In-memory spans around the benchmark's calls into each engine layer.

A span carries its name, start, end, parent span and the op id it serves;
spans stay in memory and are written out as JSON lines when the run ends.
A layer's self time is its spans' duration minus the part covered by
child spans (one client thread, so children never overlap).

Run as a script to print the self-time report of a written trace::

    python3 perfbench/spans.py .perfbench/traces/dashboard-seed1.jsonl
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else nullcontext({})

    @contextmanager
    def _span(self, name: str, attrs: dict):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total and self seconds."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, dict] = {}
    for s in spans:
        d = s["end"] - s["start"]
        e = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
        e["n"] += 1
        e["total_s"] += d
        e["self_s"] += d - child.get(s["id"], 0.0)
    return out


def format_self_times(spans: list[dict]) -> str:
    rows = sorted(self_times(spans).items(), key=lambda kv: -kv[1]["self_s"])
    lines = [f"{'span':<28}{'n':>6}{'total_s':>10}{'self_s':>10}"]
    for name, e in rows:
        lines.append(f"{name:<28}{e['n']:>6}{e['total_s']:>10.3f}{e['self_s']:>10.3f}")
    return "\n".join(lines)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        print(format_self_times([json.loads(line) for line in f]))
