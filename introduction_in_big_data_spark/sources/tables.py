"""Catalog of the driver's synthetic test tables (TESTDATA.md).

TPC-H-ish star schema (region nation customer supplier part orders
lineitem) plus `events` (stream fixture), `documents` (dedup/text
fixture) and `embeddings` (similarity fixture). One parquet file per
table under /root/testdata/sf{0.001,0.01,0.1}/.

Scale notes: parquet scans get column pruning + predicate pushdown from
Catalyst for free as long as queries stay declarative; at cluster scale
these would be multi-file datasets and the same `read_parquet`
call parallelizes by row-group/file split automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .readers import read_parquet

TABLE_NAMES = [
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
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    # every table loads under one nanosAsLong value (events needs it,
    # below): read_parquet's memo keys on it, so flipping it at the
    # first events load would re-infer every table loaded before
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) and
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) across driver
        # testdata generations. Normalize every variant to a TIMESTAMP
        # (LTZ) whose epoch equals the file's wall time read as UTC —
        # session-timezone-independently — so downstream epoch
        # arithmetic (unix_timestamp div 3600 buckets), watermarks
        # (which REQUIRE TimestampType, not NTZ), and the DuckDB
        # oracles (naive-as-UTC) all agree:
        #  - NANOS: Spark 4 rejects it ([PARQUET_TYPE_ILLEGAL]) unless
        #    nanosAsLong maps it to raw longs; rebuild with exact
        #    integer division (`div`, not `/`: ~1.7e18 ns exceeds
        #    double's 2^53 integer range).
        #  - MICROS-NTZ: cast NTZ → string (timezone-free wall
        #    rendering) + explicit 'Z' suffix → TIMESTAMP. The literal
        #    zone makes the parse session-tz-independent, unlike a
        #    bare NTZ→LTZ cast or to_utc_timestamp, which both consult
        #    the session timezone.
        df = read_parquet(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # nanos-as-long file
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn(
                "ts", F.expr("cast(concat(cast(ts as string), 'Z') as timestamp)")
            )
        return df
    return read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql(...) works too."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
