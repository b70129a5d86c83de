"""Parquet table sources for the synthetic test corpus.

One parquet file per table under an ``sf_dir`` (see TESTDATA.md).
In production these would be Delta/partitioned-parquet table roots;
every reader here goes through ``spark.read.parquet`` so Catalyst
gets filter pushdown + column pruning for free.

Scale note: ``documents`` at 100 TB would be written partitioned by
``collection_id`` (the reference filters on it in every query —
``src/core/vector_store.py:223`` — so partition pruning replaces the
B-tree index) — see ``catalog.py``. The flat test files carry no
partitioning; all operators only rely on predicates, never layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # The corpus's timestamps are UTC wall-clock and the DuckDB oracle
    # treats naive timestamps as exactly that, so every timestamp
    # expression (NTZ→LTZ casts, unix_millis, year/date_trunc) must
    # run under a UTC session — a driver session inheriting a non-UTC
    # host TZ would otherwise shift every event-time result (caught by
    # a TZ=America/New_York mimic run, r3). Same session-conf channel
    # the nanosAsLong fallback below already uses.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _ntz_to_ltz(_load_events(spark, path))
    return _ntz_to_ltz(spark.read.parquet(path))


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to TIMESTAMP (LTZ).

    The test corpus has been generated both ways across rounds
    (timezone-naive micros → Spark reads TIMESTAMP_NTZ; UTC-adjusted
    nanos → TIMESTAMP). Everything downstream — event-time watermarks
    (which REQUIRE LTZ), ``unix_millis`` epoch outputs, the DuckDB
    oracle compare (naive, interpreted as UTC; Spark session TZ is
    pinned to UTC in ``session.get_spark``) — is written against LTZ
    semantics, so coerce at the source. With a UTC session the cast is
    value-identity."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects ([PARQUET_TYPE_ILLEGAL]). Read nanos as
    long (``spark.sql.legacy.parquet.nanosAsLong``) and convert to a
    proper TimestampType with integer arithmetic (``DIV`` keeps full
    precision — a double round-trip would corrupt epoch-nano values,
    which exceed 2^53)."""
    from pyspark.sql import functions as F

    try:
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts", "").startswith("timestamp"):
            return df
    except Exception:
        pass
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def parallelize_scan(df: DataFrame, spark: SparkSession, min_ratio: float = 0.5) -> DataFrame:
    """Repartition a scan ONLY when the source yields fewer input
    splits than the cluster has cores (the local test corpus is one
    single-row-group parquet file per table → 1-task scans). At real
    scale (many files / row groups) the condition is false and this is
    a no-op — we never shuffle 100 TB just to repartition; the scan
    already parallelizes. Use on compute-heavy plans where per-row work
    dwarfs the one small exchange."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target * min_ratio:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` can be used
    interchangeably with the DataFrame API (same Catalyst plans)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
