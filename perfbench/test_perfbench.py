"""The benchmark's own tests: the oracle against a plain-loop reference, a
perturbed answer counted as an error, and a tiny-size smoke run of each
workload. Run from the repository root::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from gen import DocGen  # noqa: E402
from oracle import Snapshot, as_number, diff_query, resolve  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from workloads import DAY, HOUR, MIN, NS_PER_MS, Client, Dashboard  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
SPECS = [
    ([("/cpu/user", "avg"), ("/cpu/user", "count"), ("/mem/used", "max")], [], HOUR),
    ([("/cpu/user", "sum"), ("/mem/free", "min")], [("/host", "h2")], 5 * MIN),
    ([("/net/rx", "c"), ("/net/rx", "c_max")], [("/host", "h5")], HOUR),
    ([("/net/rx", "c"), ("/status", "distinct"), ("/cpu", "obj_keys")], [], DAY),
    ([("/status", "identity"), ("/tags/0", "distinct")], [("/host", "h1")], HOUR),
]


@pytest.fixture(scope="module")
def store():
    gen = DocGen(5, 20 * 60 * 10**9)
    gen.commit(gen.new_docs(3000))
    gen.commit(gen.resend(100))
    return gen


def reference(live: dict, spec: dict) -> dict:
    """The query semantics as one plain loop per bucket."""
    g = spec["group_ms"]
    keys = sorted(k for k in live if spec["from"] <= k <= spec["to"])
    buckets: dict[int, list] = {}
    for k in keys:
        buckets.setdefault(k // (g * NS_PER_MS) * g, []).append((k, json.loads(live[k])))
    passing = {
        k for k, o in ((k, json.loads(live[k])) for k in keys)
        if all(resolve(o, p) == v for p, v in spec["filters"])
    }
    out = {}
    for b, docs in buckets.items():
        row = []
        for ptr, red in spec["fields"]:
            vals = [resolve(o, ptr) for k, o in docs if k in passing]
            nums = [x for x in map(as_number, vals) if not math.isnan(x)]
            if red == "count":
                row.append(sum(v is not None for v in vals))
            elif red == "sum":
                row.append(math.fsum(nums))
            elif red == "avg":
                row.append(math.fsum(nums) / len(nums) if nums else None)
            elif red in ("min", "max"):
                row.append((min if red == "min" else max)(nums) if nums else None)
            elif red == "identity":
                row.append(vals)
            elif red == "distinct":
                row.append(sorted(set(vals), key=lambda t: (t is not None, t or "")))
            elif red == "obj_keys":
                row.append([k for v in vals if isinstance(v, dict) for k in v])
            else:  # c / c_max: pairs over all passing samples in range
                samples = [(k, as_number(resolve(json.loads(live[k]), ptr)))
                           for k in keys if k in passing]
                samples = [(k, x) for k, x in samples if not math.isnan(x)]
                rates = [
                    (x2 - x1) / ((k2 - k1) / 1e9)
                    for (k1, x1), (k2, x2) in zip(samples, samples[1:])
                    if k1 // (g * NS_PER_MS) * g == b
                ]
                row.append(math.fsum(rates) if red == "c" else (max(rates) if rates else None))
        out[str(b)] = row
    return out


@pytest.mark.parametrize("fields,filters,group_ms", SPECS)
def test_oracle_matches_loop_reference(store, fields, filters, group_ms):
    keys = sorted(store.live)
    spec = {"from": keys[40], "to": keys[-60], "group_ms": group_ms,
            "fields": fields, "filters": filters}
    got = Snapshot(store.live, {}).query(spec)
    assert diff_query(reference(store.live, spec), got) is None


def test_generator_is_seeded():
    a, b = DocGen(9, 10**9), DocGen(9, 10**9)
    assert a.new_docs(50) == b.new_docs(50)
    assert DocGen(10, 10**9).new_docs(50) != DocGen(9, 10**9).new_docs(50)


class _FakeSpark:
    class sparkContext:  # noqa: N801 - mirrors SparkSession.sparkContext
        @staticmethod
        def setJobGroup(group, description):
            pass


def test_perturbed_answer_counts_as_error(store):
    wl = Dashboard(1, 1.0, engine=None, tracer=Tracer(False))
    wl.gen = store
    wl._panels()
    spec = wl.pinned[0]
    right = wl.expected(spec)
    key = next(iter(right))
    wrong_value = dict(right, **{key: [right[key][0] * (1 + 1e-6)] + right[key][1:]})
    missing_bucket = {k: v for k, v in right.items() if k != key}
    client = Client(_FakeSpark, Tracer(False), "t")
    for text in (json.dumps(right), json.dumps(wrong_value), json.dumps(missing_bucket)):
        client.op("query", lambda: text, wl.check_query(spec))
    assert ["error" in r for r in client.records] == [False, True, True]
    doc_key = min(store.live)
    client.op("lookup", lambda: store.live[doc_key] + " ", wl.check_get(doc_key))
    assert "error" in client.records[-1]


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    st = self_times(t.spans)
    outer = t.spans[0]["end"] - t.spans[0]["start"]
    inner = t.spans[1]["end"] - t.spans[1]["start"]
    assert st["outer"]["self_s"] == pytest.approx(outer - inner)


def run_bench(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,trace", [("dashboard", 0), ("ingest_live", 1)])
def test_smoke_run(workload, trace):
    p = run_bench(HERE.parent, workload, trace)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stdout
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench(tmp_path, "dashboard", 0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
