"""Structured Streaming counterparts of the reference's hand-rolled
micro-batch processor (Part_B.py, SURVEY.md §2.9).

Reference model → Spark model:
- directory-as-queue, files pulled in order (Part_B.py:18-36)
  → file stream source with maxFilesPerTrigger (S4)
- ≤1000-record batches (Part_B.py:21) → micro-batch per trigger
  (files-per-trigger is the Spark idiom; row-capped triggers don't
  exist for file sources)
- unbounded dict/set state folded across batches (Part_B.py:93-182)
  → stateful streaming aggregation, complete/update output modes
- per-batch printed reports (Part_B.py:108-114) → foreachBatch
- "stream end" final report (Part_B.py:156-157) → Trigger.AvailableNow
  bounded runs (streams don't end; availableNow drains then stops)

Scale notes: a real deployment swaps the staged file source for
Kafka/object-store listings; everything downstream (stateful aggs,
watermarks, foreachBatch sinks) is unchanged. State lives in the
executor state store (RocksDB at scale), checkpointed for
exactly-once — none of which the reference's in-memory dicts survive.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.readers import file_identity, read_parquet

STAGE_ROOT = "/tmp/ibd_spark_stream"


def _stage_dir(sf_dir: str, suffix: str) -> str:
    """The stage dir under STAGE_ROOT for `sf_dir`'s events file, keyed
    on that file's identity (`readers.file_identity`): two data dirs
    with the same basename, or a rewritten file, never share staged
    files."""
    ident = file_identity(os.path.join(sf_dir, "events.parquet"))
    digest = hashlib.sha1(repr(ident).encode()).hexdigest()[:16]
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(STAGE_ROOT, f"{tag}_{digest}_{suffix}")


def stage_events_dir(spark: SparkSession, sf_dir: str, n_files: int = 5) -> str:
    """Materialize the events table as an n-file parquet directory under
    /tmp (the read-only testdata dir holds one file per table; a file
    *stream* source needs a directory of files to treat as a queue).
    Deterministic content per file via range-partitioning on event_id;
    idempotent per (events file, n_files)."""
    # "v2": ts normalized to TIMESTAMP (LTZ) in sources/tables — the
    # version suffix keeps stale stage dirs written under an older
    # events schema from being reused across engine versions
    out = _stage_dir(sf_dir, f"{n_files}_v2")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        from ..sources.tables import load_table

        events = load_table(spark, sf_dir, "events")
        (
            events.repartitionByRange(n_files, "event_id")
            .write.mode("overwrite")
            .parquet(out)
        )
    return out


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 5,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """The events table as a bounded file stream: one staged file per
    micro-batch — the analog of the reference's file-queue pull loop.

    `max_files_per_trigger=None` removes the admission cap: an
    availableNow drain then processes all staged files in one batch —
    the production shape for a bounded catch-up run (the per-file cap
    exists to SIMULATE an arrival cadence, and each forced micro-batch
    pays the full fixed cost of a streaming stage round: measured
    2.13s capped at 1 vs 0.63s uncapped for the hourly aggregate at
    sf0.1, identical drained rows). Order-sensitive demonstrations
    (watermark flush sentinels, incremental per-batch semantics) must
    keep a cap so files arrive across batches."""
    staged = stage_events_dir(spark, sf_dir, n_files)
    schema = read_parquet(spark, staged).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(staged)


def events_stream_with_flush(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 5,
    flush_days: int = 3652,
) -> DataFrame:
    """The events file stream plus a FINAL micro-batch containing only
    watermark-flush sentinels: two rows (user_id −1 'view', −2
    'click') whose ts sits `flush_days` beyond the real maximum.

    Outer stream-stream joins emit their null-padded rows only when
    the watermark proves no match can still arrive; a bounded
    availableNow run over finite data would otherwise terminate with
    every unmatched row still parked in the state store. The sentinel
    batch advances the event-time watermark past every real row's
    join horizon, flushing them — the bounded-run analog of the
    endless production stream, where time itself does this. Sentinels
    ride THROUGH the watermark operators (the query filters them out
    only downstream — negative user ids) and the staged files carry
    strictly increasing mtimes so the file source serves the flush
    file last. In production there is no sentinel: the operator is
    identical, late time does the flushing.
    """
    import datetime as _dt
    import glob

    from ..sources.tables import load_table

    out = _stage_dir(sf_dir, f"{n_files}_flush_v1")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        events = load_table(spark, sf_dir, "events")
        (
            events.repartitionByRange(n_files, "event_id")
            .write.mode("overwrite")
            .parquet(out)
        )
        parts = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
        base = 1_000_000_000  # fixed mtimes: deterministic file order
        for i, p in enumerate(parts):
            os.utime(p, (base + i, base + i))
        mx = events.agg(F.max("ts")).collect()[0][0]
        flush_ts = mx + _dt.timedelta(days=flush_days)
        sentinels = local_frame(
            spark,
            [
                tuple(
                    {
                        "event_id": -1,
                        "user_id": -1,
                        "event_type": "view",
                        "ts": flush_ts,
                    }.get(f.name)
                    for f in events.schema.fields
                ),
                tuple(
                    {
                        "event_id": -2,
                        "user_id": -2,
                        "event_type": "click",
                        "ts": flush_ts,
                    }.get(f.name)
                    for f in events.schema.fields
                ),
            ],
            events.schema,
        )
        sentinels.coalesce(1).write.mode("append").parquet(out)
        for p in sorted(glob.glob(os.path.join(out, "part-*.parquet"))):
            if p not in parts:
                os.utime(p, (base + n_files, base + n_files))
    schema = read_parquet(spark, out).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )


def ndjson_stream(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int = 1
) -> DataFrame:
    """S4 — newline-delimited JSON directory stream with explicit
    (nested) schema, e.g. the Twitter-post shape of FIXTURES.md A4."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def run_to_memory(
    result_stream: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    no_data_batches: bool | None = None,
) -> DataFrame:
    """Drain a (bounded) streaming result into an in-memory table with
    Trigger.AvailableNow and return it as a batch DataFrame — the
    reference's 'process the whole directory then report' semantics
    with real incremental micro-batch execution underneath.

    `state_partitions` sizes the state store: a streaming aggregation
    shards its state into `spark.sql.shuffle.partitions` HDFS/RocksDB
    stores, fixed at the first checkpoint — AQE never coalesces
    micro-batch shuffles, so a low-cardinality aggregate (a handful of
    event types x windows) pays 32 state-store tasks PER BATCH for a
    few dozen keys unless sized down. This is the standard streaming
    deployment knob (state shards ≈ key cardinality / target shard
    size, NOT cpu count); the conf is set only while the bounded query
    drains, then restored.

    `no_data_batches=False` skips the trailing empty micro-batch the
    engine otherwise schedules after the last data batch (round 12,
    measured ~25% of this bounded run's wall clock). No-data batches
    exist to let EVENT-TIME state advance — flush watermark-gated
    windows/joins and fire timeouts — after data stops; for a
    watermark-free query (complete/update-mode aggregation over all
    input) the extra batch re-emits what the last data batch already
    emitted, so skipping it cannot change the drained table. Callers
    with watermarks or stateful timeouts MUST leave it None: their
    final emissions happen IN the no-data batch."""
    spark = result_stream.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    _NDB = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_ndb = spark.conf.get(_NDB)
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    if no_data_batches is not None:
        spark.conf.set(_NDB, "true" if no_data_batches else "false")
    try:
        q = (
            result_stream.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if no_data_batches is not None:
            spark.conf.set(_NDB, prev_ndb)
    return spark.table(name)


def cumulative_counts(stream: DataFrame, keys: list[str]) -> DataFrame:
    """A13 — running exact frequency count per key across batches
    (Part_B.py:90-110's dict folding), as a stateful streaming agg."""
    return stream.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))


def tumbling_counts(
    stream: DataFrame, ts_col: str, duration: str, keys: list[str]
) -> DataFrame:
    """Tumbling event-time windows (the idiomatic superset the reference
    lacks, SURVEY.md §2.9). Window start is emitted as epoch seconds —
    timezone-free on every engine."""
    win = F.window(F.col(ts_col), duration)
    return (
        stream.groupBy(win.alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").cast("long").alias("window_epoch"), *keys, "cnt"
        )
    )


def enrich_with_static(
    stream: DataFrame,
    static_dim: DataFrame,
    on: list[tuple[str, str]],
    broadcast: bool = True,
) -> DataFrame:
    """Stream-static dimension enrichment — the most common streaming
    join in practice (fact stream ⋈ slowly-changing dimension). The
    join is STATELESS on the stream side: each micro-batch probes the
    static relation and nothing is buffered across batches, so it
    scales with batch size, not stream history. The dimension is
    broadcast by default (dims are small relative to a fact stream);
    pass broadcast=False for a dimension too large to fit an executor,
    which shuffles each micro-batch instead.

    `on` is [(stream_col, static_col), ...] and must be non-empty — an
    empty key list would silently degenerate into an unconstrained
    cartesian join of the stream with the dimension.
    """
    if not on:
        raise ValueError("on must be non-empty: [(stream_col, static_col), ...]")
    dim = F.broadcast(static_dim) if broadcast else static_dim
    cond = None
    for s_col, d_col in on:
        clause = stream[s_col] == dim[d_col]
        cond = clause if cond is None else (cond & clause)
    return stream.join(dim, cond, "inner")


def streaming_distinct_count(stream: DataFrame, key: str) -> DataFrame:
    """A16 — exact distinct via streaming dropDuplicates state + count."""
    return (
        stream.select(key)
        .dropDuplicates([key])
        .agg(F.count(F.lit(1)).alias("distinct_cnt"))
    )


def per_batch_topk(
    stream: DataFrame,
    keys: list[str],
    k: int,
    collector: list | None = None,
) -> tuple[list, Callable]:
    """K6 — per-micro-batch top-k heavy hitters via foreachBatch over a
    complete-mode cumulative count (Part_B.py:112-114's per-batch
    report). Returns (reports, start_fn); each report is
    (batch_id, [(key..., cnt), ...]). Driver-side collection is for
    report sinks only — the top-k itself runs distributed."""
    reports: list = collector if collector is not None else []
    counts = stream.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        top = (
            batch_df.orderBy(F.desc("cnt"), *[F.asc(c) for c in keys])
            .limit(k)
            .collect()
        )
        reports.append((batch_id, [tuple(r) for r in top]))

    def start():
        return (
            counts.writeStream.outputMode("complete")
            .foreachBatch(_emit)
            .trigger(availableNow=True)
            .start()
        )

    return reports, start
