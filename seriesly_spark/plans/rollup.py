"""Continuous aggregate — an incrementally maintained rollup over a
SerieslyDB.

The reference's only answer to repeated aggregation is whole-result
memoization (C1, reference cache.go:54-155), which any write fully
invalidates. A time-partitioned store can do much better: one hot day of
writes should never force a rescan of years of cold partitions. This is
the hypertable "continuous aggregate" pattern expressed Spark-first:

  * the db is hive-partitioned by ``date`` (db.py layout), so each date
    is an independently refreshable unit;
  * the rollup keeps one cache entry per date (``plans/cache.py``'s one
    entry rule: ``<date>.arrow``, stamped with the version it answers),
    and the stamp is the date partition's fingerprint from the store's
    one data-file listing (``SerieslyDB._partition_versions``: sorted
    names + sizes, FILE METADATA only — no data read). The stamps of the
    entries on disk are the rollup's whole state; no other file records
    which dates are current;
  * ``refresh()`` recomputes, in one Spark plan, ONLY the dates whose
    entry is missing or stale (writes, deletes, compaction), splits the
    answer per date on the driver and replaces those entries; entries of
    dates that disappeared from the db (range delete) are unlinked;
    everything else is untouched.

The rollup stores per (date, bucket) rows: doc count and the
decimal-accumulated sum of a JSON-pointer value — the partial-aggregate
granularity from which coarser grains (weekly/total) are one cheap
re-aggregate of the rollup, never of the raw log. LWW upsert semantics
hold because a key's revisions share ts_ns and therefore a date
partition: per-partition last-write-wins equals global last-write-wins.
"""

from __future__ import annotations

import contextlib
import os

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from seriesly_spark.db import SerieslyDB
from seriesly_spark.functions.bucketing import bucket_ms_sql
from seriesly_spark.functions.coerce import to_num_sql
from seriesly_spark.functions.jsonptr import extract_ptr_sql
from seriesly_spark.plans.cache import entry_keys, entry_path, read_entry, write_entry

_DEC = "decimal(38,18)"


class ContinuousRollup:
    """Incrementally maintained (date, bucket_ms) -> (cnt, sum) rollup of
    one database's documents."""

    def __init__(
        self,
        dbs: SerieslyDB,
        name: str,
        rollup_dir: str,
        group_ms: int,
        pointer: str,
    ):
        self.dbs = dbs
        self.name = name
        self.rollup_dir = rollup_dir
        self.group_ms = group_ms
        self.pointer = pointer
        os.makedirs(rollup_dir, exist_ok=True)

    def _aggregate(self, dates: list[str]) -> DataFrame:
        live = self.dbs._live(self.name, dates=dates)
        val = to_num_sql(extract_ptr_sql("doc", self.pointer))
        return (
            live.selectExpr(
                "date",
                f"{bucket_ms_sql('ts_ns', self.group_ms)} AS bucket_ms",
                f"cast({val} as {_DEC}) AS __v",
            )
            .groupBy("date", "bucket_ms")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("__v").cast("double").alias("sum_v"),
            )
        )

    def refresh(self) -> dict[str, int]:
        """Bring the rollup up to date. Returns counts of partitions
        {"changed": recomputed, "removed": dropped, "unchanged": kept} —
        the driver-checkable evidence that cold history is not rescanned.
        """
        current = self.dbs._partition_versions(self.name)
        changed = [
            d for d, fp in current.items()
            if read_entry(entry_path(self.rollup_dir, d), fp) is None
        ]
        removed = [d for d in entry_keys(self.rollup_dir) if d not in current]
        if changed:
            table = self._aggregate(changed).toArrow()
            dates = table.column("date").cast(pa.string())
            table = table.drop_columns("date")
            for d in changed:
                write_entry(
                    entry_path(self.rollup_dir, d),
                    table.filter(pc.equal(dates, d)),
                    current[d],
                )
        for d in removed:
            with contextlib.suppress(FileNotFoundError):
                os.remove(entry_path(self.rollup_dir, d))
        return {
            "changed": len(changed),
            "removed": len(removed),
            "unchanged": len(current) - len(changed),
        }

    def read(self) -> DataFrame:
        """The maintained rollup (bucket_ms, cnt, sum_v), one row per
        bucket — re-aggregate this for any coarser grain."""
        spark = self.dbs.spark
        entries = [
            read_entry(entry_path(self.rollup_dir, d))
            for d in entry_keys(self.rollup_dir)
        ]
        tables = [e.read_all() for e in entries if e is not None]
        if not tables:
            return spark.createDataFrame([], "bucket_ms long, cnt long, sum_v double")
        return (
            spark.createDataFrame(pa.concat_tables(tables))
            .groupBy("bucket_ms")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.sum(F.col("sum_v").cast(_DEC)).cast("double").alias("sum_v"),
            )
        )
