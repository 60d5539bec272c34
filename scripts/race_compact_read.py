#!/usr/bin/env python
"""Compact-versus-read race probe for ``SerieslyDB``.

A store of 120 keys over 5 days is written once. One writer thread then
loops: a batch of new revisions of every key, then ``compact``. The main
thread loops ``df().count()`` against it. The live key count never
changes, so a read either returns 120, raises (an error), or returns
another number (a wrong count, with no error).

Usage: python scripts/race_compact_read.py SECONDS

Prints one line: reads, errors, wrong counts, the wrong values seen, and
the number of compactions the writer finished.
"""
from __future__ import annotations

import collections
import json
import os
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from seriesly_spark import SerieslyDB  # noqa: E402
from seriesly_spark.session import get_spark  # noqa: E402

DAYS, PER_DAY = 5, 24


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

    def revise(rev: int) -> None:
        dbs.write_batch("t", [(k, json.dumps({"rev": rev})) for k in keys])

    revise(0)
    stop = threading.Event()
    compactions = [0]

    def writer() -> None:
        rev = 1
        while not stop.is_set():
            revise(rev)
            dbs.compact("t")
            compactions[0] += 1
            rev += 1

    t = threading.Thread(target=writer)
    t.start()
    reads = errors = 0
    wrong: collections.Counter = collections.Counter()
    deadline = time.monotonic() + seconds
    try:
        while time.monotonic() < deadline:
            reads += 1
            try:
                n = dbs.df("t").count()
            except Exception:
                errors += 1
                continue
            if n != len(keys):
                wrong[n] += 1
    finally:
        stop.set()
        t.join()
    print(
        f"seconds {seconds:g} reads {reads} errors {errors} "
        f"wrong {sum(wrong.values())} wrong_values {dict(sorted(wrong.items()))} "
        f"compactions {compactions[0]}",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
