#!/usr/bin/env python
"""Compact-versus-read race probe for ``SerieslyDB``.

A store of 120 keys over 5 days is written once. One writer thread then
loops: a batch of new revisions of every key, then ``compact``. Four
reader threads loop against it, each with one kind of read:

* ``count``: ``df().count()``. The live key count never changes, so it
  is wrong unless it is 120.
* ``get``: ``get`` of one fixed key. It is wrong unless it returns a
  revision at least as new as the last batch committed before the read
  started, and no newer than the batch being written when it ended.
* ``change_log``: ``change_log()``. It is wrong unless it holds each seq
  once, in order, and at least every commit (batch or compact) finished
  before the read started, and no more than were started by its end.
* ``cache_count``: a per-day count panel through ``QueryCache``. It is
  wrong unless every day counts 24 keys. Each day is one cache unit; a
  reused unit is a stored entry whose stamp was current. The line also
  counts the units reused and those of them whose stored answer was
  wrong: a wrong answer from a fresh compute is the count reader's race,
  but a reused unit must never be wrong.

A read either returns such an answer, raises (an error), or returns
another one (a wrong answer, with no error).

Usage: python scripts/race_compact_read.py SECONDS

Prints one line per reader: reads, errors, wrong answers and the wrong
values seen (at most five), then the units the cache reader reused and
how many of those were wrong, then the number of compactions the writer
finished.
"""
from __future__ import annotations

import collections
import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from seriesly_spark import SerieslyDB, SerieslyQuery  # noqa: E402
from seriesly_spark.plans import cache as cache_mod  # noqa: E402
from seriesly_spark.session import get_spark  # noqa: E402

DAYS, PER_DAY = 5, 24
DAY_MS = 86_400_000
DAY0_MS = 1_704_067_200_000  # 2024-01-01


def main() -> None:
    seconds = float(sys.argv[1])
    spark = get_spark(
        "race-compact-read", cpus=2, shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("OFF")
    root = tempfile.mkdtemp(prefix="race-compact-read-")
    dbs = SerieslyDB(spark, root)
    dbs.create("t")
    keys = [f"2024-01-0{d + 1}T{h:02d}:00:00Z" for d in range(DAYS) for h in range(PER_DAY)]
    fixed = keys[len(keys) // 2]
    # Revisions committed / being written, and commits finished / started.
    revs = {"done": 0, "started": 0}
    commits = {"done": 0, "started": 0}

    def commit(fn) -> None:
        commits["started"] += 1
        fn()
        commits["done"] += 1

    def revise(rev: int) -> None:
        revs["started"] = rev
        commit(lambda: dbs.write_batch("t", [(k, json.dumps({"rev": rev})) for k in keys]))
        revs["done"] = rev

    revise(0)
    stop = threading.Event()
    compactions = [0]

    def writer() -> None:
        rev = 1
        while not stop.is_set():
            revise(rev)
            commit(lambda: dbs.compact("t"))
            compactions[0] += 1
            rev += 1

    def count() -> object:
        n = dbs.df("t").count()
        return None if n == len(keys) else n

    def get() -> object:
        lo = revs["done"]
        doc = dbs.get("t", fixed)
        hi = revs["started"]
        rev = None if doc is None else json.loads(doc)["rev"]
        return None if rev is not None and lo <= rev <= hi else (lo, rev, hi)

    def change_log() -> object:
        lo = commits["done"]
        seqs = [r.seq for r in dbs.change_log("t").collect()]
        hi = commits["started"]
        ok = seqs == sorted(set(seqs)) and lo <= len(seqs) <= hi
        return None if ok else (lo, len(seqs), len(set(seqs)), hi)

    qc = cache_mod.QueryCache(dbs, os.path.join(root, ".query-cache"))
    panel = SerieslyQuery(group_ms=DAY_MS, fields=[("/rev", "count")], aliases=["n"])
    want = [{"bucket_ms": DAY0_MS + d * DAY_MS, "n": PER_DAY} for d in range(DAYS)]
    reused = {"units": 0, "wrong": 0}
    reuse = qc._reuse

    def checked_reuse(unit):
        # The cache asks this for each unit's table: one that comes back
        # is from an entry whose stamp is current, and is reused as it is.
        table = reuse(unit)
        if table is not None:
            rows = table.to_pylist()
            reused["units"] += 1
            reused["wrong"] += not (len(rows) == 1 and rows[0] in want)
        return table

    qc._reuse = checked_reuse

    def cache_count() -> object:
        rows = qc.query("t", panel).to_pylist()
        return None if rows == want else tuple((r["bucket_ms"], r["n"]) for r in rows)

    readers = {"count": count, "get": get, "change_log": change_log,
               "cache_count": cache_count}
    stats = {name: [0, 0, collections.Counter()] for name in readers}

    def loop(name: str) -> None:
        st = stats[name]
        while not stop.is_set():
            st[0] += 1
            try:
                wrong = readers[name]()
            except Exception:
                st[1] += 1
                continue
            if wrong is not None:
                st[2][wrong] += 1

    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=loop, args=(name,)) for name in readers
    ]
    for t in threads:
        t.start()
    try:
        time.sleep(seconds)
    finally:
        stop.set()
        for t in threads:
            t.join()
    for name, (reads, errors, wrong) in stats.items():
        shown = dict(wrong.most_common(5))
        print(
            f"{name}: reads {reads} errors {errors} "
            f"wrong {sum(wrong.values())} wrong_values {shown}",
            flush=True,
        )
    print(
        f"cache_count: units reused {reused['units']} wrong {reused['wrong']}",
        flush=True,
    )
    print(f"seconds {seconds:g} compactions {compactions[0]}", flush=True)
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
