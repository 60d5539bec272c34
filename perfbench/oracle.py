"""Pure-Python/numpy oracle for the answers the benchmark checks.

It follows the engine's documented query semantics (seriesly_spark/plans/
query.py, operators/reducers.py, operators/rate.py), computed from the
generator's live key -> doc map, never from the engine:

* the range is inclusive on both ends, over the last-write-wins view;
* bucket = floor(ts_ns / (group_ms * 1e6)) * group_ms, and a bucket exists
  iff some in-range document falls in it, before filters apply;
* a document passes iff every filter pointer holds a non-null scalar whose
  text equals the filter value; failing documents only mark buckets;
* numeric reducers see values that parse as floats (JSON numbers and
  numeric strings); ``count`` counts every non-null value;
* rates pair consecutive parseable samples of the passing documents, and
  each pair belongs to the earlier sample's bucket;
* empty inputs: sum/c -> 0.0, count -> 0, avg/min/max/c_max -> null, list
  reducers -> [].

Counts and lists must match exactly, floats to a relative 1e-9 (the
engine sums doubles in partition order).
"""

from __future__ import annotations

import json
import math
import re
from datetime import datetime, timezone

import numpy as np

LIST = {"identity", "distinct", "obj_keys"}
RATE = {"c", "c_max"}
REL_TOL = 1e-9

_NUM_RE = re.compile(r"^\s*[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?\s*$")
_MISSING = object()


def resolve(obj, ptr: str):
    """JSON Pointer lookup; None for missing or JSON null."""
    cur = obj
    for tok in ptr.split("/")[1:]:
        tok = tok.replace("~1", "/").replace("~0", "~")
        if isinstance(cur, dict):
            cur = cur.get(tok, _MISSING)
        elif isinstance(cur, list) and tok.isdigit() and int(tok) < len(cur):
            cur = cur[int(tok)]
        else:
            return None
        if cur is _MISSING:
            return None
    return cur


def as_number(v) -> float:
    """The engine's string -> double try_cast; NaN when not parseable."""
    if isinstance(v, bool) or v is None:
        return math.nan
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str) and _NUM_RE.match(v):
        return float(v)
    return math.nan


def as_text(v) -> str:
    """Scalar as the engine's pointer extraction renders it (strings
    dequoted). Only string-valued pointers feed list reducers and
    filters here, so numbers need no float-formatting parity."""
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def canonical_key(ts_ns: int) -> str:
    """RFC3339Nano key, trailing fractional zeros stripped."""
    secs, rem = divmod(ts_ns, 1_000_000_000)
    base = datetime.fromtimestamp(secs, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    frac = f"{rem:09d}".rstrip("0")
    return base + ("." + frac if frac else "") + "Z"


class Snapshot:
    """Key-ordered view of a live map, with per-pointer columns built on
    first use. ``parsed`` is shared across snapshots of one store so a
    document is parsed once."""

    def __init__(self, live: dict[int, str], parsed: dict[int, object]):
        keys = sorted(live)
        self.ts = np.array(keys, dtype=np.int64)
        self.docs = [live[k] for k in keys]
        for k in keys:
            if k not in parsed or parsed[k][0] is not live[k]:
                parsed[k] = (live[k], json.loads(live[k]))
        self.objs = [parsed[k][1] for k in keys]
        self._vals: dict[str, list] = {}
        self._nums: dict[str, np.ndarray] = {}

    def vals(self, ptr: str) -> list:
        if ptr not in self._vals:
            self._vals[ptr] = [resolve(o, ptr) for o in self.objs]
        return self._vals[ptr]

    def nums(self, ptr: str) -> np.ndarray:
        if ptr not in self._nums:
            self._nums[ptr] = np.array([as_number(v) for v in self.vals(ptr)])
        return self._nums[ptr]

    def span(self, lo_ns: int, hi_ns: int) -> tuple[int, int]:
        return (
            int(np.searchsorted(self.ts, lo_ns, "left")),
            int(np.searchsorted(self.ts, hi_ns, "right")),
        )

    def query(self, spec: dict) -> dict[str, list]:
        """Expected ``to_seriesly_json`` object for one query spec:
        {"from", "to", "group_ms", "fields": [(ptr, red)], "filters"}."""
        a, b = self.span(spec["from"], spec["to"])
        if a == b:
            return {}
        g = spec["group_ms"]
        bucket = self.ts[a:b] // (g * 1_000_000) * g
        starts = np.concatenate(([0], np.flatnonzero(np.diff(bucket)) + 1))
        ends = np.append(starts[1:], b - a)
        keys = [str(int(bucket[s])) for s in starts]

        passing = np.ones(b - a, dtype=bool)
        for ptr, val in spec["filters"]:
            vs = self.vals(ptr)[a:b]
            passing &= np.array(
                [v is not None and not isinstance(v, (dict, list)) and as_text(v) == val
                 for v in vs],
                dtype=bool,
            )

        cols = []
        for ptr, red in spec["fields"]:
            if red in RATE:
                cols.append(self._rate(ptr, red, a, b, passing, bucket, starts, g))
            elif red in LIST:
                cols.append(self._list(ptr, red, a, b, passing, starts, ends))
            else:
                cols.append(self._plain(ptr, red, a, b, passing, starts))
        return {k: [c[i] for c in cols] for i, k in enumerate(keys)}

    def _plain(self, ptr, red, a, b, passing, starts) -> list:
        if red == "count":
            present = np.array([v is not None for v in self.vals(ptr)[a:b]]) & passing
            return [int(x) for x in np.add.reduceat(present.astype(np.int64), starts)]
        x = self.nums(ptr)[a:b]
        ok = passing & ~np.isnan(x)
        n = np.add.reduceat(ok.astype(np.int64), starts)
        if red in ("sum", "avg"):
            s = np.add.reduceat(np.where(ok, x, 0.0), starts)
            if red == "sum":
                return [float(v) if c else 0.0 for v, c in zip(s, n)]
            return [float(v / c) if c else None for v, c in zip(s, n)]
        fill, fn = (np.inf, np.minimum) if red == "min" else (-np.inf, np.maximum)
        m = fn.reduceat(np.where(ok, x, fill), starts)
        return [float(v) if c else None for v, c in zip(m, n)]

    def _list(self, ptr, red, a, b, passing, starts, ends) -> list:
        vs = self.vals(ptr)[a:b]
        out = []
        for s, e in zip(starts, ends):
            chunk = [vs[i] for i in range(s, e) if passing[i]]
            if red == "identity":
                out.append([None if v is None else _list_text(v) for v in chunk])
            elif red == "distinct":
                seen = {
                    None if v is None else as_text(v)
                    for v in chunk
                    if not isinstance(v, (dict, list))
                }
                out.append(sorted(seen, key=lambda t: (t is not None, t or "")))
            else:  # obj_keys
                out.append([k for v in chunk if isinstance(v, dict) for k in v])
        return out

    def _rate(self, ptr, red, a, b, passing, bucket, starts, g) -> list:
        x = self.nums(ptr)[a:b]
        sel = np.flatnonzero(passing & ~np.isnan(x))
        t = self.ts[a:b][sel]
        xs = x[sel]
        with np.errstate(divide="ignore", invalid="ignore"):
            r = (xs[1:] - xs[:-1]) / ((t[1:] - t[:-1]) / 1e9)
        fin = np.isfinite(r)
        r, rb = r[fin], bucket[sel[:-1]][fin]
        by = {}
        for v, k in zip(r.tolist(), rb.tolist()):
            by.setdefault(k, []).append(v)
        out = []
        for s in starts:
            rs = by.get(int(bucket[s]))
            if red == "c":
                out.append(math.fsum(rs) if rs else 0.0)
            else:
                out.append(max(rs) if rs else None)
        return out

    def get(self, ts_ns: int) -> str | None:
        i = int(np.searchsorted(self.ts, ts_ns))
        return self.docs[i] if i < len(self.ts) and self.ts[i] == ts_ns else None

    def all_docs(self, from_ns: int, limit: int) -> list[tuple[str, str]]:
        i = int(np.searchsorted(self.ts, from_ns, "left"))
        return [
            (canonical_key(int(k)), d)
            for k, d in zip(self.ts[i : i + limit].tolist(), self.docs[i : i + limit])
        ]


def _list_text(v) -> str:
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"))
    return as_text(v)


def diff_query(expected: dict[str, list], actual: dict[str, list]) -> str | None:
    """First difference between an expected and an emitted result, or
    None when they agree."""
    if expected.keys() != actual.keys():
        missing = sorted(expected.keys() - actual.keys())[:3]
        extra = sorted(actual.keys() - expected.keys())[:3]
        return f"bucket sets differ: missing {missing}, extra {extra}"
    for k, exp_row in expected.items():
        act_row = actual[k]
        if len(exp_row) != len(act_row):
            return f"bucket {k}: {len(act_row)} values, expected {len(exp_row)}"
        for j, (e, a) in enumerate(zip(exp_row, act_row)):
            if not _same(e, a):
                return f"bucket {k} field {j}: got {a!r:.80}, expected {e!r:.80}"
    return None


def _same(e, a) -> bool:
    if isinstance(e, float) and not isinstance(a, bool) and isinstance(a, (int, float)):
        return math.isclose(a, e, rel_tol=REL_TOL, abs_tol=0.0)
    if isinstance(e, int) and not isinstance(e, bool):
        return type(a) is int and a == e
    return e == a
