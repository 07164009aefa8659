"""Fixture table reads — the source side of the reference's
``Coordinator.mount``.

Reference behavior (SURVEY.md §1.1/§3.3): each attribute is
"mounted" from a csv/jdbc/restapi source into an in-heap per-attribute map +
index (``Coordinator.java:237-800``, ``manager/ingested/DataIngestor.java``).

Spark-first rebuild: a source is a DataFrame read.  Parquet is already
columnar, so the reference's vertical decomposition into per-attribute maps
is free; indexes are replaced by Catalyst's pushdown + TakeOrderedAndProject
(SURVEY.md §4), and the trained artifacts live in ``simsearch_spark.mount``.

Scale note (100 TB): sources should point at partitioned/bucketed Parquet or
Iceberg/Delta tables; ``load_table`` only issues ``spark.read`` so partition
pruning and predicate pushdown reach the scan untouched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: tables the driver fixtures provide (TESTDATA.md)
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Runtime-settable SQL confs every fixture read depends on, set
    defensively on EVERY session (the repo's own ``session.py`` sets them at
    build time, but external harnesses construct their own SparkSession):

    - ``spark.sql.legacy.parquet.nanosAsLong`` — without it, reading a
      TIMESTAMP(NANOS) ``events.parquet`` raises ``PARQUET_TYPE_ILLEGAL``
      before the bigint fallback in ``normalize_events_ts`` can run;
    - ``spark.sql.session.timeZone = UTC`` — the µs-NTZ fixture encoding is
      normalized by an NTZ→TIMESTAMP cast, which reinterprets the wall time
      in the SESSION time zone; only under UTC does ``unix_micros`` agree
      with the oracle's ``epoch_ns // 1000`` (DuckDB reads naive parquet
      timestamps verbatim).  A harness session pinned to any other zone
      would silently shift every event by its UTC offset."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. ``spark.read.parquet`` keeps column pruning and
    predicate pushdown available to every downstream facet scan.

    ``events.ts`` is normalized to the canonical session-TZ TIMESTAMP (µs)
    regardless of the fixture's physical encoding, of which three have been
    observed across driver generations:

    * TIMESTAMP(NANOS) → (with ``spark.sql.legacy.parquet.nanosAsLong``) long
      nanoseconds, FLOORED to microseconds (``div 1000`` integer division — a
      double division would lose precision above 2^53 ns);
    * ``timestamp[us]`` without TZ → Spark TIMESTAMP_NTZ, cast to TIMESTAMP.
      The session TZ is pinned to UTC (session.py), so the cast is lossless
      and µs-exact — and required, since ``unix_micros()`` rejects NTZ input;
    * ``timestamp[us, tz=UTC]`` → already TIMESTAMP, untouched.

    Every timestamp-sensitive oracle shares the same µs floor
    (``epoch_ns(ts) // 1000`` under nanos fixtures, native µs otherwise — see
    the SESSION_GAP_US contract in queries/pipeline.py and FIXTURES.md §F5)."""
    ensure_nanos_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to session-TZ TIMESTAMP whatever the physical fixture
    encoding (see ``load_table``).  Works on batch and streaming frames alike
    — both are pure column expressions."""
    from pyspark.sql import functions as F

    ts_dtype = dict(df.dtypes).get("ts")
    if ts_dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
