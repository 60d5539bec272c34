"""Continuous aggregate — an incrementally maintained rollup over a
SerieslyDB.

The reference's only answer to repeated aggregation is whole-result
memoization (C1, reference cache.go:54-155), which any write fully
invalidates. A time-partitioned store can do much better: one hot day of
writes should never force a rescan of years of cold partitions. This is
the hypertable "continuous aggregate" pattern expressed Spark-first:

  * the db is hive-partitioned by ``date`` (db.py layout), so each date
    is an independently refreshable unit;
  * ``refresh()`` takes every date partition's fingerprint from the
    store's one data-file listing (``SerieslyDB._partition_versions``:
    sorted names + sizes, FILE METADATA only — no data read), diffs them
    against the manifest stored with the rollup, and recomputes the
    aggregate ONLY for dates whose fingerprint changed (writes, deletes,
    compaction);
  * recomputed dates dynamically overwrite just their partitions of the
    rollup table; dates that disappeared from the db (range delete) drop
    from the rollup; everything else is untouched.

The rollup stores per (date, bucket) rows: doc count and the
decimal-accumulated sum of a JSON-pointer value — the partial-aggregate
granularity from which coarser grains (weekly/total) are one cheap
re-aggregate of the rollup, never of the raw log. LWW upsert semantics
hold because a key's revisions share ts_ns and therefore a date
partition: per-partition last-write-wins equals global last-write-wins.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from seriesly_spark.db import SerieslyDB
from seriesly_spark.functions.bucketing import bucket_ms_sql
from seriesly_spark.functions.coerce import to_num_sql
from seriesly_spark.functions.jsonptr import extract_ptr_sql

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

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.rollup_dir, "_manifest.json")

    def _load_manifest(self) -> dict[str, str]:
        try:
            with open(self._manifest_path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

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
        seen = self._load_manifest()
        changed = [d for d, fp in current.items() if seen.get(d) != fp]
        removed = [d for d in seen if d not in current]
        if changed:
            spark = self.dbs.spark
            prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                (
                    self._aggregate(changed)
                    .repartition("date")
                    .write.partitionBy("date")
                    .mode("overwrite")
                    .parquet(self.rollup_dir)
                )
            finally:
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev
                )
        for d in removed:
            shutil.rmtree(
                os.path.join(self.rollup_dir, f"date={d}"), ignore_errors=True
            )
        os.makedirs(self.rollup_dir, exist_ok=True)
        # Written whole under a hidden name, then renamed over the old
        # manifest: a failed write leaves the previous manifest intact.
        fd, tmp = tempfile.mkstemp(
            prefix="_manifest.", suffix=".tmp", dir=self.rollup_dir
        )
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(current, fh)
            os.replace(tmp, self._manifest_path)
        except BaseException:
            os.unlink(tmp)
            raise
        return {
            "changed": len(changed),
            "removed": len(removed),
            "unchanged": len(current) - len(changed),
        }

    def read(self) -> DataFrame:
        """The maintained rollup (bucket_ms, cnt, sum_v), one row per
        bucket — re-aggregate this for any coarser grain."""
        df = self.dbs.spark.read.parquet(self.rollup_dir)
        return (
            df.groupBy("bucket_ms")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.sum(F.col("sum_v").cast(_DEC)).cast("double").alias("sum_v"),
            )
        )
