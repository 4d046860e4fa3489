"""`read_table(spark, path)` — one entry point over every table
layout the engine reads, dispatched by the format's own on-disk
marker (each format is self-describing by design):

    _delta_log/            -> Delta Lake log replay  (deltalog.py)
    metadata/v*.metadata.json / version-hint.text
                           -> Iceberg metadata walk  (iceberg.py)
    _log/                  -> engine AcidTable       (acidtable.py)
    *.parquet / directory of parquet -> plain parquet scan
    *.csv                  -> CSV with header inference (readers.py)
    *.warc / *.warc.gz     -> WARC records           (warc.py)

A directory carrying BOTH a `_delta_log` and Iceberg `metadata/` (an
exported AcidTable readable by either ecosystem) dispatches to the
Delta replay — richer feature coverage on the read path (deletion
vectors, column mapping) — unless `format=` forces a choice.

`predicates=` forwards to the lakehouse readers' metadata file
skipping (sources/skipping.py) and is applied as a plain `.filter()`
for formats without a pruning metadata layer, so callers get one
semantics everywhere. Reference parity: the reference hard-codes one
CSV layout per script (Part_A_Q1.py:21, Part_B.py:18); this is the
generalized front door.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from .readers import read_parquet


def detect_format(path: str) -> str:
    """The format marker present at `path` ('delta' | 'iceberg' |
    'acid' | 'parquet' | 'csv' | 'warc'). Raises ValueError when
    nothing identifiable is found."""
    if os.path.isdir(path):
        if os.path.isdir(os.path.join(path, "_delta_log")):
            return "delta"
        meta = os.path.join(path, "metadata")
        if os.path.isdir(meta) and (
            os.path.exists(os.path.join(meta, "version-hint.text"))
            or glob.glob(os.path.join(meta, "*.metadata.json"))
        ):
            return "iceberg"
        if os.path.isdir(os.path.join(path, "_log")):
            return "acid"
        if glob.glob(os.path.join(path, "*.parquet")) or glob.glob(
            os.path.join(path, "**", "*.parquet"), recursive=True
        ):
            return "parquet"
    if path.endswith(".parquet"):
        return "parquet"
    if path.endswith(".csv"):
        return "csv"
    if path.endswith((".warc", ".warc.gz")):
        return "warc"
    raise ValueError(f"no recognizable table format at {path!r}")


def read_table(
    spark: SparkSession,
    path: str,
    format: str | None = None,  # noqa: A002 - mirrors spark.read API
    predicates: list | None = None,
) -> DataFrame:
    fmt = format or detect_format(path)
    if fmt == "delta":
        from .deltalog import DeltaLogReader

        return DeltaLogReader(spark, path).read(predicates=predicates)
    if fmt == "iceberg":
        from .iceberg import IcebergTableReader

        return IcebergTableReader(spark, path).read(predicates=predicates)
    if fmt == "acid":
        from .acidtable import AcidTable

        # native path: manifest stats prune when the table maintains
        # them (create(stats=True)); exact either way
        return AcidTable(spark, path).read(predicates=predicates)
    if fmt == "parquet":
        return _residual(read_parquet(spark, path), predicates)
    if fmt == "csv":
        return _residual(
            spark.read.option("header", "true")
            .option("inferSchema", "true")
            .csv(path),
            predicates,
        )
    if fmt == "warc":
        from .warc import read_warc

        return _residual(read_warc(spark, path), predicates)
    raise ValueError(f"unknown format {fmt!r}")


def _residual(df: DataFrame, predicates: list | None) -> DataFrame:
    if not predicates:
        return df
    from . import skipping

    skipping.validate(predicates, df.columns)
    return df.filter(skipping.residual_filter(predicates))
