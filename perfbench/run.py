"""Seriesly serving benchmark: one seeded, closed-loop client driving the
public API (``SerieslyDB``, ``QueryCache``, ``to_seriesly_json``) on
``local[k]``, with every answer checked against an oracle.

Run from the repository root::

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``dashboard`` (cache hits, plus one
uncached history drill-down per cycle) and ``ingest_live`` (writes,
compaction, cache misses). The lines before the last describe the run
(environment stamp, every metric with its unit, workload-specific metrics
that BENCHMARK.json does not declare); the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). A
traced run records spans around each call into a layer and writes them to
``.perfbench/traces/``; per-run results go to ``.perfbench/results/``, and
a traced run prints its overhead against the untraced result of the same
workload and seed when one exists.

Set-up is timed as Spark start + median over 3 repetitions of
(generate + preload) + warm-up. Ops run in whole cycles, each a fixed op
mix; a run does round(seconds / NOMINAL_CYCLE_S) of them, so the same
``--seconds`` is the same work on every commit (about that many seconds
of measured op time on a 4-vCPU machine). A faster engine then shows as
lower latency, not as a run with more, warmer cycles. The measured time
is the sum of op latencies.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path

T_PROCESS = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["dashboard", "ingest_live"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="store size multiplier (the smoke tests use a tiny one)")
    return p.parse_args(argv)


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Latency at the highest percentile with at least 10 samples beyond
    it: (value, percentile, samples), or None below 11 samples."""
    if len(xs) < 11:
        return None
    n = len(xs)
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def descendants(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids = [int(x) for x in f.read().split()]
        except FileNotFoundError:
            continue
        for k in kids:
            out += [k] + descendants(k)
    return out


def start_spark(run_dir: Path):
    from seriesly_spark.session import get_spark

    tmp = run_dir / "tmp"
    return get_spark(
        "perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # A fixed, pre-touched heap: peak RSS then moves with what a
            # change does to off-heap and Python memory, not with when
            # the collector happened to grow the heap.
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # The status tracker must still hold every job of the run
            # when the traced run reads the per-op counts at the end.
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark, then end the JVM and its Python workers and wait."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    kids = descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on end of its stdin
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 15
    while kids and time.time() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.05)
    for k in kids:
        try:
            os.kill(k, 9)
        except ProcessLookupError:
            pass


def spark_work(sc, groups: list[str]) -> dict[str, dict]:
    """Jobs, stages and tasks run per job group, from the status tracker.
    The listener bus runs behind the actions, so read until two reads
    agree."""
    st = sc.statusTracker()

    def read():
        out = {}
        for g in groups:
            stages, tasks, failed = set(), 0, 0
            jobs = list(st.getJobIdsForGroup(g))
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = st.getStageInfo(s)
                    if s in stages or si is None:
                        continue
                    ran = si.numCompletedTasks + si.numFailedTasks
                    if ran:
                        stages.add(s)
                        tasks += ran
                        failed += si.numFailedTasks
            out[g] = {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
                      "failed_tasks": failed}
        return out

    prev = None
    for _ in range(20):
        cur = read()
        if cur == prev:
            break
        prev = cur
        time.sleep(0.25)
    return cur


def end_to_end(client, setup_s, rss_mb, space_amp, errors, attempted) -> tuple[dict, dict]:
    """The declared end-to-end metrics, and the workload-specific ones
    that are printed but not declared (not every workload has them)."""
    recs = client.records
    ms = lambda kind: [r["ms"] for r in recs if r["kind"] == kind]  # noqa: E731
    busy = client.busy_s
    q, commits, lookups = ms("query"), ms("commit"), ms("lookup")
    out = {
        "setup_s": (setup_s, "s"),
        "query_p50_ms": (p50(q), "ms"),
        "ops_per_s": (len(recs) / busy, "1/s"),
        "space_amp": (space_amp, "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    extra = {"error_share": (errors / attempted, "ratio")}
    for name, xs in (("query", q), ("commit", commits)):
        t = tail(xs)
        if t:
            extra[f"{name}_tail_ms"] = (t[0], f"ms (p{t[1]:.0f} of n={t[2]})")
    if commits:
        extra["commit_p50_ms"] = (p50(commits), "ms")
        docs = sum(r["docs"] for r in recs if r["kind"] == "commit")
        extra["ingest_docs_per_s"] = (docs / busy, "1/s")
    if lookups:
        extra["lookup_p50_ms"] = (p50(lookups), "ms")
    return out, extra


def per_layer(wl, client, tracer, work, start_s, info) -> dict:
    measured = {r["id"] for r in client.records}
    spans = [s for s in tracer.spans if s["op"] in measured]
    dur = lambda name, **a: [  # noqa: E731
        (s["end"] - s["start"]) * 1e3 for s in spans
        if s["name"] == name and all(s["attrs"].get(k) == v for k, v in a.items())
    ]
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    queries = [r for r in client.records if r["kind"] == "query"]
    commits = [r for r in client.records if r["kind"] == "commit"]
    gets = [r for r in client.records if r.get("call") == "get"]
    cached = [r for r in queries if "hit" in r]
    hits = sum(1 for r in cached if r["hit"])
    # Latency by reducer class counts the queries the engine executed:
    # direct ones and cache misses.
    run = [r for r in queries if not r.get("hit")]
    compacts = dur("db.compact")
    L = wl.layer
    return {
        "session.start_s": (start_s, "s"),
        "db.write_batch.commits": (len(commits), "count"),
        "db.write_batch.p50_ms": (p50(dur("db.write_batch")), "ms"),
        "db.write_batch.spark_jobs": (mean([work[r["id"]]["jobs"] for r in commits]), "count"),
        "db.write_batch.files_added": (mean(L["files_added"]), "count"),
        "db.write_batch.bytes_per_user_byte": (
            L["bytes_added"] / L["user_bytes"] if L["user_bytes"] else 0.0, "ratio"),
        "db.compact.runs": (len(compacts), "count"),
        "db.compact.busy_s": (mean(compacts) / 1e3, "s"),
        "db.compact.bytes_rewritten": (L["compact_rewritten"] / max(1, len(compacts)), "bytes"),
        "db.compact.files_removed": (L["compact_removed"] / max(1, len(compacts)), "count"),
        "db.files_per_partition": (info["n_files"] / max(1, info["n_partitions"]), "ratio"),
        "db.query.plan_ms": (p50(dur("db.query")), "ms"),
        "db.df.scan_ms": (p50(dur("db.df.scan")), "ms"),
        "db.get.p50_ms": (p50(dur("db.get")), "ms"),
        "db.get.spark_jobs": (mean([work[r["id"]]["jobs"] for r in gets]), "count"),
        "db.all_docs.p50_ms": (p50(dur("db.all_docs")), "ms"),
        "plans.cache.lookups": (len(cached), "count"),
        "plans.cache.hit_ratio": (hits / len(cached) if cached else 0.0, "ratio"),
        "plans.cache.hit_ms": (p50(dur("plans.cache.query", hit=True)), "ms"),
        "plans.cache.miss_ms": (p50(dur("plans.cache.query", hit=False)), "ms"),
        "plans.cache.db_version_ms": (p50(dur("plans.cache.db_version")), "ms"),
        "plans.emit.p50_ms": (p50(dur("plans.emit")), "ms"),
        "plans.emit.buckets": (p50([r["buckets"] for r in queries if "buckets" in r]), "count"),
        "plans.emit.bytes": (p50([r["bytes"] for r in queries if "bytes" in r]), "bytes"),
        "spark.queries": (len(queries), "count"),
        "spark.jobs_per_query": (mean([work[r["id"]]["jobs"] for r in queries]), "count"),
        "spark.stages_per_query": (mean([work[r["id"]]["stages"] for r in queries]), "count"),
        "spark.tasks_per_query": (mean([work[r["id"]]["tasks"] for r in queries]), "count"),
        "spark.failed_tasks": (sum(w["failed_tasks"] for w in work.values()), "count"),
        "operators.reducers.plain_p50_ms": (p50([r["ms"] for r in run if r["cls"] == "plain"]), "ms"),
        "operators.reducers.list_p50_ms": (p50([r["ms"] for r in run if r["cls"] == "list"]), "ms"),
        "operators.rate.p50_ms": (p50([r["ms"] for r in run if r["cls"] == "rate"]), "ms"),
        "plans.query.filter_p50_ms": (p50([r["ms"] for r in run if r["filtered"]]), "ms"),
    }


def overhead(traced: dict, untraced_path: Path) -> str:
    if not untraced_path.exists():
        return "tracing overhead: n/a (no untraced result for this workload and seed yet)"
    base = json.loads(untraced_path.read_text())["end_to_end"]
    parts = []
    for k, (v, unit) in traced.items():
        if k in base and base[k][0]:
            parts.append(f"{k} {v - base[k][0]:+.4g} {unit} ({(v / base[k][0] - 1) * 100:+.1f}%)")
    return "tracing overhead (traced - untraced): " + "; ".join(parts)


def main(argv=None) -> int:
    args = parse_args(argv)
    work_root = ROOT / ".perfbench"
    run_dir = work_root / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    for d in ("results", "traces"):
        (work_root / d).mkdir(exist_ok=True)
    # Keep every temporary file of Python, Spark and the JVM inside the
    # checkout.
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    )
    sys.path.insert(0, str(ROOT))

    from spans import Tracer, format_self_times
    from workloads import NOMINAL_CYCLE_S, WORKLOADS, Client, Engine

    tracer = Tracer(args.trace == 1)
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_spark(run_dir)
        start_s = time.perf_counter() - t0
        phases = {"process_to_start": t0 - T_PROCESS, "spark_start": start_s}
        t = time.perf_counter()
        engine = Engine(spark, str(run_dir), tracer)
        wl = WORKLOADS[args.workload](args.seed, args.scale, engine, tracer)
        reps = [wl.setup_rep() for _ in range(SETUP_REPS)]
        phases["setup_reps"] = time.perf_counter() - t
        t = time.perf_counter()
        warm = Client(spark, tracer, "w")
        wl.warmup(warm)
        phases["warmup"] = time.perf_counter() - t
        rep_s = p50([r["generate_s"] + r["preload_s"] for r in reps])
        setup_s = start_s + rep_s + warm.busy_s
        docs_at_start = len(wl.gen.live)

        wl.reset_layer_stats()
        client = Client(spark, tracer, "m")
        t = time.perf_counter()
        cycles = max(1, round(args.seconds / NOMINAL_CYCLE_S))
        for _ in range(cycles):
            wl.cycle(client)
        phases["measure"] = time.perf_counter() - t
        t = time.perf_counter()

        spark.sparkContext.setJobGroup("verify", "end-of-run checks")
        info = engine.dbs.info(engine.name)
        count_ok = info["doc_count"] == len(wl.gen.live)
        user_bytes = sum(len(d) for d in wl.gen.live.values())
        space_amp = sum(engine.files().values()) / user_bytes
        rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(spark.sparkContext._gateway.proc.pid)) / 1024
        work = spark_work(spark.sparkContext, [r["id"] for r in client.records]) if tracer.enabled else {}
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "nproc": os.cpu_count(),
            "local_k": CPUS, "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(), "docs_at_start": docs_at_start,
            "docs_live_end": len(wl.gen.live), "ops_warmup": len(warm.records),
            "ops_measured": len(client.records), "cycles": cycles,
            "busy_s": round(client.busy_s, 3),
        }
        phases["end_checks"] = time.perf_counter() - t
        t = time.perf_counter()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    phases["stop"] = time.perf_counter() - t
    env["phases_s"] = {k: round(v, 3) for k, v in phases.items()}

    all_recs = warm.records + client.records
    errors = [r for r in all_recs if "error" in r]
    attempted = len(all_recs) + 1
    failed = len(errors) + (0 if count_ok else 1)
    e2e, extra = end_to_end(client, setup_s, rss_mb, space_amp, failed, attempted)
    layer = per_layer(wl, client, tracer, work, start_s, info) if tracer.enabled else {}

    tag = f"{args.workload}-seed{args.seed}"
    print("env " + json.dumps(env))
    print(f"setup: session start {start_s:.3f} s, generate+preload per rep "
          f"{[round(r['generate_s'] + r['preload_s'], 3) for r in reps]} s, "
          f"warm-up {warm.busy_s:.3f} s")
    for k, (v, unit) in {**e2e, **extra}.items():
        print(f"metric {k} = {v:.6g} {unit}")
    for r in errors[:5]:
        print(f"error op {r['id']} ({r['kind']}): {r['error']}")
    if not count_ok:
        print(f"error live doc count {info['doc_count']}, expected {len(wl.gen.live)}")
    for r in client.records:
        r["spark"] = work.get(r["id"])
    result = {"env": env, "end_to_end": e2e, "extra": extra, "per_layer": layer,
              "ops": client.records, "errors": [r["error"] for r in errors]}
    (work_root / "results" / f"{tag}-trace{args.trace}.json").write_text(json.dumps(result))
    if tracer.enabled:
        tracer.write(str(work_root / "traces" / f"{tag}.jsonl"))
        for k, (v, unit) in layer.items():
            print(f"layer {k} = {v:.6g} {unit}")
        print("self time by span:\n" + format_self_times(tracer.spans))
        print(overhead(e2e, work_root / "results" / f"{tag}-trace0.json"))

    print(f"wall {time.perf_counter() - T_PROCESS:.1f} s")
    metrics = layer if tracer.enabled else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
