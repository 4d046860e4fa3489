"""Typed readers.

Covers the reference's ingest surface (SURVEY.md §2.1):
- S1/S2: projected / plain CSV with custom separator + encoding
  (Part_A_Q1.py:10-13 — `;`-separated latin-1 Book-Crossing CSVs).
- S3: drop-malformed CSV (Part_A_Q2.py:74-76 `error_bad_lines=False`)
  → Spark `mode=DROPMALFORMED`.
- S4 batch shape: newline-delimited JSON with an explicit nested schema
  (Part_B.py:36 `json.loads` per line). The streaming variant lives in
  `streaming/stream.py`.

Design decision (SURVEY.md §1.3): schemas are always explicit
`StructType`s — no inference in production paths. Inference requires an
extra pass over the data (a full scan at 100 TB) and produces unstable
types across partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sep: str = ",",
    encoding: str = "UTF-8",
    header: bool = True,
    drop_malformed: bool = False,
    columns: list[str] | None = None,
) -> DataFrame:
    """CSV scan with scan-time projection (S1) and drop-malformed (S3).

    `columns` mirrors pandas `usecols` (Part_A_Q1.py:10-11); Catalyst
    prunes unused columns anyway, but an explicit .select documents the
    projected schema at the API boundary.
    """
    reader = (
        spark.read.schema(schema)
        .option("sep", sep)
        .option("encoding", encoding)
        .option("header", str(header).lower())
    )
    if drop_malformed:
        reader = reader.option("mode", "DROPMALFORMED")
    df = reader.csv(path)
    if columns:
        df = df.select(*columns)
    return df


def read_ndjson(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Newline-delimited JSON with explicit (possibly nested) schema (S4, batch)."""
    return spark.read.schema(schema).json(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC table source — the read half of the S6 warehouse contract
    (round-trip-tested against the embedded Derby engine that ships on
    Spark's own classpath; see tests/test_sources.py).

    Without partitioning options the whole table arrives through ONE
    connection — fine for dimension tables, wrong for facts. For scale,
    pass (partition_column, lower_bound, upper_bound, num_partitions)
    so each executor reads its own key range in parallel; Catalyst
    still pushes projected columns and filters into the generated SQL.
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
            .option("numPartitions", num_partitions or 4)
        )
    return reader.load()


# The confs that change what parquet schema inference returns for the
# same bytes; each is part of the memo key.
_INFERENCE_CONFS = (
    # NANOS timestamps: bigint when true, a [PARQUET_TYPE_ILLEGAL]
    # error when false
    "spark.sql.legacy.parquet.nanosAsLong",
    # BINARY without a UTF8 annotation: string vs binary
    "spark.sql.parquet.binaryAsString",
    # INT96: timestamp vs binary
    "spark.sql.parquet.int96AsTimestamp",
    # TIMESTAMP(isAdjustedToUTC=false): timestamp_ntz vs timestamp
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    # one footer vs the union of every file's schema
    "spark.sql.parquet.mergeSchema",
    # whether field names differing only in case are one field
    "spark.sql.caseSensitive",
)
# abspath -> (key, StructType), shared by every session in the process
# (the key names the bytes and the confs): one entry per path, replaced
# when the file or a conf changes, so it grows with the paths read only
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def file_identity(path: str) -> tuple:
    """What identifies the bytes at `path` without reading them: its
    absolute path, and (path, size, mtime_ns, inode) of the file or,
    for a directory, of each file under it, sorted, skipping the names
    Spark's file listing skips (a leading '.' or '_', unless a
    partition 'k=v'). Rewriting a file changes its mtime or inode.
    Raises OSError when `path` is not a local file or directory."""
    root = os.path.abspath(path)
    files = [root]
    if os.path.isdir(root):
        files = []
        for d, subdirs, names in os.walk(root):
            subdirs[:] = [n for n in subdirs if not _hidden(n)]
            files += [os.path.join(d, n) for n in names if not _hidden(n)]
        files.sort()
    stats = [os.stat(f) for f in files]
    return root, tuple(
        (f, st.st_size, st.st_mtime_ns, st.st_ino) for f, st in zip(files, stats)
    )


def _hidden(name: str) -> bool:
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The engine's one parquet reader. `spark.read.parquet` infers the
    schema on every call, with a Spark job that reads file footers;
    here the inferred `StructType` is memoized, and a hit plans
    `spark.read.schema(S).parquet(path)`: the same scan, and no job.

    The memo key is `file_identity(path)` plus the session's values of
    the confs in `_INFERENCE_CONFS`: each changes what inference
    returns for the same bytes (see the comment on each), so flipping
    one re-infers. A path with no local identity (a glob, a remote
    URI) is read without the memo."""
    try:
        ident = file_identity(path)
    except OSError:
        return spark.read.parquet(path)
    root = ident[0]
    key = (ident, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    held_key, schema = _SCHEMAS.get(root, (None, None))
    if held_key == key:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[root] = (key, df.schema)
    return df


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Directory of opaque media blobs as a DataFrame — Spark's
    `binaryFile` source: (path, modificationTime, length, content:
    binary). This is the REAL ingestion path for the multimodal
    operators (operators/multimodal.py): raw image/audio files land in
    object storage, this scan turns them into the binary column the
    decode kernels consume. Filter with `pathGlobFilter` (pushed into
    file listing, not a post-filter) and prune `content` away for
    metadata-only queries — the reader only materializes the bytes
    when the column is selected."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same predicate-pushdown/column-pruning contract as
    parquet (both are columnar with min/max stats); ships with Spark,
    no extra jars."""
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: T.StructType | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """XML scan — Spark 4's built-in XML data source (the spark-xml
    package merged into core; no extra jars). Each element matching
    `row_tag` becomes a row; nested elements become structs/arrays,
    attributes surface as `_attrName` columns, and mixed
    element-with-attributes text lands in `_VALUE`. Schema inference
    samples the files like JSON; pass `schema` to pin types (numeric
    strings otherwise infer as LONG/DOUBLE). XML has no columnar
    pushdown — at scale, land XML once and convert to parquet; this
    reader is the ingestion edge, not a query-time format."""
    r = spark.read.format("xml").option("rowTag", row_tag)
    for k, v in (options or {}).items():
        r = r.option(k, v)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)
