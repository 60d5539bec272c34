"""Loaders for the driver's testdata tables (TESTDATA.md).

``events.parquet`` has shipped ``ts`` in two physical forms across
driver rounds: parquet TIMESTAMP(NANOS) (arrives as a LONG of ns with
``spark.sql.legacy.parquet.nanosAsLong``, set in session.get_spark) and
parquet timestamp[us] with no timezone (arrives as TIMESTAMP_NTZ).
``normalize_events`` accepts all three arrival types (bigint ns,
timestamp, timestamp_ntz) and normalizes to the engine's canonical
event-table schema (SURVEY §7): ``ts`` (µs TIMESTAMP, session tz is
UTC) + ``ts_ns`` (LONG ns epoch, for bucket math and key rendering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seriesly_spark.functions.sqltext import sql_ident
from seriesly_spark.functions.timeparse import (
    timestamp_from_ts_ns,
    ts_ns_from_timestamp,
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events(df)
    return df


def normalize_events(df: DataFrame) -> DataFrame:
    if "ts_ns" in df.columns:  # already normalized — idempotent
        return df
    dtypes = dict(df.dtypes)
    t = dtypes.get("ts")
    if t == "bigint":  # ns epoch via legacy nanosAsLong
        return df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", timestamp_from_ts_ns("ts_ns")
        )
    if t == "timestamp_ntz":
        # µs parquet timestamp without tz; session tz is UTC, so the cast
        # is value-preserving (same µs instant, now comparable/joinable).
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.withColumn("ts_ns", ts_ns_from_timestamp("ts"))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def latest_by_key(
    df: DataFrame, key_cols: list[str], seq_col: str
) -> DataFrame:
    """Last-write-wins compaction view — the reference's upsert semantics
    (same key overwrites, reference database.go:293-302 via couchstore
    set): keep, per key, the row with the highest ``seq_col``. One shuffle
    on the key, map-side partial max_by, no window sort. Delta MERGE is the
    mutable-table equivalent; this is the read-side view of the same
    semantics over an append-only log."""
    others = ", ".join(sql_ident(c) for c in df.columns if c not in key_cols)
    best = F.expr(f"max_by(struct({others}), {sql_ident(seq_col)}) AS __r")
    return df.groupBy(*key_cols).agg(best).select(*key_cols, "__r.*")


def parse_json_quarantine(
    df: DataFrame, schema: str, raw_col: str = "raw"
) -> DataFrame:
    """PERMISSIVE JSON-line ingestion with corrupt-record quarantine —
    the production NDJSON intake shape: never fail the job on a bad
    line, never silently drop it either. Parses ``raw_col`` against
    ``schema`` (a DDL string); unparseable lines land verbatim in the
    ``_corrupt`` column (Spark's columnNameOfCorruptRecord channel)
    with NULL data fields, parseable lines get NULL ``_corrupt``.
    Splitting good/bad is then a filter; counting the quarantine is an
    aggregate — both downstream of ONE narrow parse (no Python, no
    second pass, codegen-friendly).

    Note Spark's PERMISSIVE semantics: a line that IS valid JSON but
    has a field that cannot be coerced to the schema type also lands
    in ``_corrupt`` (with the coercible fields still populated) — this
    is the engine's malformed-record definition, not just a JSON
    validity test.

    The parsed field names must be disjoint from the input columns and
    must not include ``_corrupt`` (it is claimed for the quarantine
    channel) — the flattening ``__p.*`` select would otherwise emit
    duplicate column names that fail only later, at first reference.
    Checked eagerly here so the error names the collision.
    """
    from pyspark.sql.types import StructType

    # Collisions compare case-INSENSITIVELY: Spark resolves column
    # names per spark.sql.caseSensitive (default false), so 'Lang' vs
    # 'lang' is exactly the AMBIGUOUS_REFERENCE this guard exists to
    # surface eagerly.
    parsed_names = {f.name for f in StructType.fromDDL(schema).fields}
    parsed_folded = {n.casefold() for n in parsed_names}
    input_folded = {c.casefold() for c in df.columns}
    if "_corrupt" in parsed_folded:
        raise ValueError(
            "parse_json_quarantine: '_corrupt' is reserved for the "
            "quarantine channel; rename that field in the schema"
        )
    clash = parsed_folded & input_folded
    if clash:
        raise ValueError(
            "parsed field(s) "
            f"{sorted(clash)} collide with input column(s) "
            "(case-insensitively, matching Spark's resolution); rename "
            "one side or drop the input column before parsing"
        )
    if "_corrupt" in input_folded:
        raise ValueError(
            "parse_json_quarantine: input already has a '_corrupt' "
            "column; drop or rename it before parsing"
        )
    full = f"{schema}, _corrupt string"
    parsed = F.from_json(
        F.col(raw_col),
        full,
        {"columnNameOfCorruptRecord": "_corrupt", "mode": "PERMISSIVE"},
    )
    return df.withColumn("__p", parsed).select(
        *[c for c in df.columns], F.col("__p.*")
    )
