import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest

from seriesly_spark.session import get_spark

ENTRY_SF_DIR = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
)

# Queries whose construction starts/stops streaming queries or spends
# real wall-clock on staged micro-batches: never prefetched — their
# oracle tests construct them directly, and their plans are audited by
# the dedicated streaming tests.
ENTRY_STREAMING = {
    "streaming_bucket_agg",
    "streaming_score_drift",
    "streaming_watermarked_agg",
    "streaming_sessionize",
    "streaming_dedup",
    "streaming_decontam",
    "streaming_distinct",
    "streaming_join",
    "continuous_rollup",
    "s13_changes_feed",
}

# Queries whose construction flips session-wide Spark conf (e.g.
# salted_join disables autoBroadcastJoinThreshold around its collect):
# built OUTSIDE the thread pool, serially, so the flipped conf can
# never leak into a concurrently-planning query (an unkeyed join
# planned while broadcast is off becomes a CartesianProduct and would
# trip the plan gate flakily).
ENTRY_SERIAL = {"salted_join"}


@pytest.fixture(scope="session")
def spark():
    # Env knobs for partition-sensitivity shake-outs: results must be
    # invariant to cores and shuffle-partition count (hash-based
    # sampling, window determinism, decimal-exact sums). CI default
    # stays 4/4.
    cpus = int(os.environ.get("SPARK_TEST_CPUS", "4"))
    sp = int(os.environ.get("SPARK_TEST_SHUFFLE_PARTITIONS", str(cpus)))
    s = get_spark("seriesly-spark-tests", cpus=cpus, shuffle_partitions=sp)
    yield s


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn`` under its own job group and returns
    its result and how many Spark jobs it launched."""

    def run(fn):
        sc = spark.sparkContext
        group, marker = (f"jobs-{uuid.uuid4().hex}" for _ in range(2))
        try:
            sc.setJobGroup(group, group)
            out = fn()
            # The status tracker hears of jobs through the asynchronous
            # listener bus, in order: once a marker job run afterwards is
            # seen, every job fn launched is seen too.
            sc.setJobGroup(marker, marker)
            spark.range(1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(marker):
            assert time.monotonic() < deadline, "marker job never reported"
            time.sleep(0.05)
        return out, len(tracker.getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def entry_artifacts(spark, request):
    """ONE construction pass over every batch ``queries()`` entry, shared
    by test_entry_oracle (columns/rows/dtypes) and test_plan_quality
    (executedPlan string). Replaces the two serial per-test construction
    passes those modules used to pay (the suite's top cost: 263 queries
    x 2 builds, each with eager persists and dozens of tiny Spark jobs)
    with one pass whose independent jobs overlap on the scheduler
    (optimization guide section 2.6). The artifacts each test asserts on
    are IDENTICAL to what it built for itself before:

    * the plan string is captured at construction time, before the
      collect, so it is the same AQE initial plan test_plan_quality
      always audited;
    * rows come from a plain ``collect()`` of the same DataFrame.

    Concurrency failure mode and why a serial retry is sound: iterative
    queries rotate localCheckpoints (CheckpointRotator diffs the GLOBAL
    persistentRdds map around its call, so under concurrency it can
    attribute — and later evict — another in-flight query's checkpoint
    blocks, surfacing as CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). That race
    always surfaces as an exception, never as silent wrong rows
    (scoped_persist eviction merely recomputes; temp views are
    idempotent). So any query whose pooled build raises is rebuilt ONCE,
    serially, after the pool drains — the identical environment the old
    per-test serial construction gave it. A pooled build that returns NO
    rows is rebuilt the same way: full tier-1 runs have seen
    ``kmeans_lloyd`` and ``decontam_normalized`` come back empty, with
    no error, from the pool and whole from a serial build (likely a
    concurrent build unpersisting a shared ``scoped_persist`` scope under
    a built-but-uncollected plan). A truly empty answer rebuilds as
    empty. A query broken for real fails its serial rebuild too and the
    error is re-raised inside the owning test, so one broken query fails
    its own test, not the fixture.
    """
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    # Build only the queries this pytest session actually collected
    # tests for (a `-k`/path-targeted run shouldn't pay the full
    # registry); a full run collects everything, so nothing changes
    # there. Param names are the bracketed test ids.
    wanted = set()
    for item in request.session.items:
        callspec = getattr(item, "callspec", None)
        if callspec is not None:
            p = callspec.params.get("name")
            if isinstance(p, str):
                wanted.add(p)
    names = [
        n for n in qs if n not in ENTRY_STREAMING and n in wanted
    ]
    arts: dict[str, dict] = {}

    def build(name: str) -> None:
        art: dict = {}
        try:
            df = qs[name](spark, ENTRY_SF_DIR)
            art["plan"] = (
                df._jdf.queryExecution().executedPlan().toString()
            )
            art["cols"] = df.columns
            art["dtypes"] = df.dtypes
            art["rows"] = [tuple(r) for r in df.collect()]
        except Exception as exc:  # re-raised in the owning test
            art["err"] = exc
        arts[name] = art

    pooled = [n for n in names if n not in ENTRY_SERIAL]
    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(build, pooled))
    for n in names:  # conf-mutating queries: serial by design
        if n in ENTRY_SERIAL:
            build(n)
    for n in pooled:  # serial retry of pooled-build races (see above)
        if "err" in arts[n] or not arts[n]["rows"]:
            build(n)
    return arts
