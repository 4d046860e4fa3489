"""Streaming queries with batch-SQL oracles — stream-batch parity is
the correctness gate (SURVEY.md §5 item 5): each query drains the
events file stream with Trigger.AvailableNow through real incremental
micro-batches (5 staged files, 1 per trigger), and the result must
hash-match the equivalent batch SQL over the same rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import local_frame
from ..streaming import stream as st
from . import cdf_fixture as _cdf
from .registry import register, t

N_FILES = 5


@register(
    "stream_user_counts",
    oracle="SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id",
    tags=("streaming", "agg"),
)
def stream_user_counts(spark, sf_dir):
    """A13 — cumulative per-user frequency across micro-batches
    (Part_B.py:90-110's dict folding as stateful streaming agg,
    complete mode)."""
    s = st.events_stream(spark, sf_dir, n_files=N_FILES)
    return st.run_to_memory(
        st.cumulative_counts(s, ["user_id"]), "complete", no_data_batches=False
    )


@register(
    "stream_top5_event_types",
    oracle="""
        SELECT event_type, count(*) AS cnt
        FROM events
        GROUP BY event_type
        ORDER BY cnt DESC, event_type
        LIMIT 5
    """,
    tags=("streaming", "topk"),
)
def stream_top5_event_types(spark, sf_dir):
    """K6 — heavy hitters at stream end (per-batch reports are
    exercised in tests/test_streaming.py via foreachBatch)."""
    s = st.events_stream(spark, sf_dir, n_files=N_FILES)
    counts = st.run_to_memory(
        st.cumulative_counts(s, ["event_type"]), "complete", no_data_batches=False
    )
    return counts.orderBy(F.desc("cnt"), F.asc("event_type")).limit(5)


@register(
    "stream_hourly_by_type",
    oracle="""
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_epoch,
               event_type, count(*) AS cnt
        FROM events
        GROUP BY window_epoch, event_type
    """,
    tags=("streaming", "window", "time"),
    bench=True,  # VERDICT r2 item 5: keep the streaming engine in the
    # headline so round-over-round regressions are visible
)
def stream_hourly_by_type(spark, sf_dir):
    """Tumbling 1-hour event-time windows — the idiomatic superset the
    reference lacks (no timestamps processed in Part_B). Window starts
    are epoch-aligned instants, so the bucket is timezone-free.

    state_partitions=4: the aggregate keys on (hour window x ~5 event
    types) — a few thousand keys — so 32 cpu-count state shards mean 32
    state-store tasks per micro-batch for near-empty stores (AQE never
    coalesces micro-batch shuffles). Sizing state shards to key
    cardinality is the streaming deployment knob, measured 4.3s -> 1.8s
    over 5 batches at sf0.1.

    max_files_per_trigger=None (r13): this bounded availableNow drain
    runs with the engine's own admission control — one data batch over
    the staged files — instead of the simulated 1-file-per-trigger
    cadence (2.13s -> 0.63s at sf0.1, drained table row-identical;
    paired A/B in OPTIMIZATION_r13.md). The cap only exists to mimic
    slow arrival; a catch-up drain in production takes everything
    available per batch. The five registry twins (cumulative counts,
    distinct users, sessionization, watermark/sentinel queries) keep
    the per-file cadence — their point IS the incremental semantics,
    and the sentinel-flush queries are order-dependent."""
    s = st.events_stream(spark, sf_dir, n_files=N_FILES, max_files_per_trigger=None)
    return st.run_to_memory(
        st.tumbling_counts(s, "ts", "1 hour", ["event_type"]),
        "complete",
        state_partitions=4,
        # watermark-free complete-mode agg: the trailing no-data
        # micro-batch re-emits the final batch's table — skipping it
        # is free correctness-wise and ~25% of the bounded run
        # (round 12)
        no_data_batches=False,
    )


@register(
    "stream_nation_event_revenue",
    oracle="""
        SELECT c.c_nationkey, count(*) AS cnt,
               round(sum(e.value), 2) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_nationkey
    """,
    tags=("streaming", "join", "agg"),
)
def stream_nation_event_revenue(spark, sf_dir):
    """Stream-static join: the events stream enriched with the static
    customer dimension (broadcast — stateless per micro-batch, nothing
    buffered across batches), then a cumulative per-nation aggregate in
    complete mode. This is the canonical production streaming topology
    (fact stream ⋈ dimension → rollup) that the reference's file-queue
    loop (Part_B.py:12-36) could never express."""
    from ..sources.tables import load_table

    s = st.events_stream(spark, sf_dir, n_files=N_FILES)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = st.enrich_with_static(s, dim, [("user_id", "c_custkey")])
    agg = joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return st.run_to_memory(agg, "complete", no_data_batches=False)


@register(
    "stream_distinct_users",
    oracle="SELECT count(DISTINCT user_id) AS distinct_cnt FROM events",
    tags=("streaming", "distinct"),
)
def stream_distinct_users(spark, sf_dir):
    """A16 — exact distinct via streaming dropDuplicates state, the
    intended semantics of the reference's set-based counter
    (Part_B.py:136-157)."""
    s = st.events_stream(spark, sf_dir, n_files=N_FILES)
    return st.run_to_memory(
        st.streaming_distinct_count(s, "user_id"), "complete", no_data_batches=False
    )


@register(
    "stream_dedup_unique_users_by_type",
    oracle="""
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS unique_users
        FROM events GROUP BY event_type
    """,
    tags=("streaming", "dedup", "agg"),
)
def stream_dedup_unique_users_by_type(spark, sf_dir):
    """Streaming DEDUP-then-AGGREGATE — the ingest-time dedup shape of
    a training-data pipeline (drop records already seen, then account
    per category): dropDuplicates state on (user_id, event_type)
    across micro-batches feeding a downstream streaming aggregate.
    Order-insensitive output (counts per type), so stream-batch parity
    is exact regardless of arrival order."""
    s = st.events_stream(spark, sf_dir, n_files=N_FILES)
    agg = (
        s.select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("unique_users"))
    )
    return st.run_to_memory(agg, "complete", no_data_batches=False)


@register(
    "stream_stream_view_click",
    oracle="""
        SELECT v.user_id,
               CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch
        FROM events v JOIN events c
          ON v.user_id = c.user_id
         AND v.event_type = 'view' AND c.event_type = 'click'
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "join", "stateful"),
)
def stream_stream_view_click(spark, sf_dir):
    """STREAM-STREAM inner join (§2.9's last uncovered join shape):
    each 'view' joined to same-user 'click's within the following 30
    minutes. Both sides are independent file-stream readers of the
    same staged queue; the time-range predicate bounds the join state
    (a view matches only clicks in [view_ts, view_ts+30m], so state
    for older views is reclaimable once the watermark passes).

    The watermark delay here is set LARGER than the bounded run's time
    span: with Trigger.AvailableNow over a finite file queue the goal
    is exact batch parity (the oracle is the batch self-join), and a
    short delay would let one side's watermark evict view-state that a
    later-arriving file still matches — the staged files are
    event_id-ranged, only approximately time-ordered. A production
    deployment sets the delay to its real out-of-orderness bound and
    accepts dropping matches older than that; the OPERATOR is
    identical, only the delay constant changes. Epochs emitted as
    longs — session-timezone-free."""
    s = st.events_stream(spark, sf_dir, n_files=N_FILES)
    views = (
        s.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "3650 days")
    )
    clicks = (
        s.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "3650 days")
    )
    joined = views.join(
        clicks,
        F.expr(
            "user_id = c_user_id AND click_ts >= view_ts "
            "AND click_ts <= view_ts + interval 30 minutes"
        ),
    ).select(
        "user_id",
        F.unix_timestamp("view_ts").alias("view_epoch"),
        F.unix_timestamp("click_ts").alias("click_epoch"),
    )
    return st.run_to_memory(joined, "append")


@register(
    "stream_stream_view_click_outer",
    oracle="""
        SELECT v.user_id,
               CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch
        FROM events v LEFT JOIN events c
          ON v.user_id = c.user_id
         AND c.event_type = 'click'
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
        WHERE v.event_type = 'view'
    """,
    tags=("streaming", "join", "stateful", "outer"),
)
def stream_stream_view_click_outer(spark, sf_dir):
    """STREAM-STREAM **LEFT OUTER** join — the watermark-gated outer
    shape (round 7): every 'view' joined to same-user 'click's within
    the following 30 minutes, and views with NO such click emit a
    null-padded row once the watermark PROVES no match can still
    arrive (state eviction time = view_ts + 30min + delay; inner joins
    drop these rows, outer joins must emit them, which is why outer
    results are inherently watermark-delayed). A bounded availableNow
    run would terminate with every unmatched view still in state, so
    the staged queue ends with a far-future flush-sentinel batch
    (events_stream_with_flush) that advances the watermark past every
    real view's horizon — the bounded-run analog of production time
    passing. Sentinels pass THROUGH the watermark operators and are
    dropped downstream by sign (negative user ids). Exact parity with
    the batch LEFT JOIN oracle: the 3650-day delay exceeds the staged
    queue's out-of-orderness, so nothing real is ever late-dropped."""
    s = st.events_stream_with_flush(spark, sf_dir, n_files=N_FILES)
    views = (
        s.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "3650 days")
    )
    clicks = (
        s.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "3650 days")
    )
    joined = views.join(
        clicks,
        F.expr(
            "user_id = c_user_id AND click_ts >= view_ts "
            "AND click_ts <= view_ts + interval 30 minutes"
        ),
        "left_outer",
    ).select(
        "user_id",
        F.unix_timestamp("view_ts").alias("view_epoch"),
        F.unix_timestamp("click_ts").alias("click_epoch"),
    )
    # state shards ≈ live-key cardinality, not cpu count — the same
    # sizing argument as stream_hourly_by_type (default 200 stores
    # would run 200 state tasks per micro-batch for a few thousand
    # in-flight views)
    drained = st.run_to_memory(joined, "append", state_partitions=8)
    return drained.filter(F.col("user_id") >= 0)


@register(
    "stream_stream_view_click_full",
    oracle="""
        WITH v AS (
            SELECT user_id, ts FROM events WHERE event_type = 'view'
        ),
        c AS (
            SELECT user_id, ts FROM events WHERE event_type = 'click'
        )
        SELECT coalesce(v.user_id, c.user_id) AS user_id,
               CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch
        FROM v FULL JOIN c
          ON v.user_id = c.user_id
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "join", "stateful", "outer"),
)
def stream_stream_view_click_full(spark, sf_dir):
    """STREAM-STREAM **FULL OUTER** join — completing the
    stream-stream join-mode matrix (inner r7s2 / left outer r7s2 /
    full outer): views and clicks pair within the 30-minute window,
    AND both sides' unmatched rows emit null-padded once the
    watermark proves no partner can still arrive — unmatched views
    when their [view_ts, view_ts+30m] horizon passes, unmatched
    clicks when no earlier view can appear. Same flush-sentinel
    bounded-run shape as the left-outer twin
    (events_stream_with_flush advances the watermark past every real
    row's eviction horizon; sentinels drop by sign after the join —
    the coalesce sees a negative user id on whichever side carried
    the sentinel). Exact parity with the batch FULL JOIN oracle."""
    s = st.events_stream_with_flush(spark, sf_dir, n_files=N_FILES)
    views = (
        s.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "3650 days")
    )
    clicks = (
        s.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "3650 days")
    )
    joined = views.join(
        clicks,
        F.expr(
            "user_id = c_user_id AND click_ts >= view_ts "
            "AND click_ts <= view_ts + interval 30 minutes"
        ),
        "full_outer",
    ).select(
        F.coalesce("user_id", "c_user_id").alias("user_id"),
        F.unix_timestamp("view_ts").alias("view_epoch"),
        F.unix_timestamp("click_ts").alias("click_epoch"),
    )
    drained = st.run_to_memory(joined, "append", state_partitions=8)
    return drained.filter(F.col("user_id") >= 0)


@register(
    "stream_session_stats",
    oracle=f"""
        WITH e AS (
            SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events
        ),
        flagged AS (
            SELECT user_id, ep,
                   CASE WHEN lag(ep) OVER w IS NULL
                             OR ep - lag(ep) OVER w > 1800
                        THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep)
        ),
        sessions AS (
            SELECT user_id, ep,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ep
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM flagged
        ),
        per_session AS (
            SELECT user_id, session_id, count(*) AS n_events,
                   max(ep) - min(ep) AS dur_s
            FROM sessions GROUP BY user_id, session_id
        )
        SELECT user_id,
               count(*) AS n_sessions,
               round(avg(dur_s), 4)    AS avg_session_sec,
               round(avg(n_events), 4) AS avg_events_per_session
        FROM per_session GROUP BY user_id
    """,
    tags=("streaming", "session", "window"),
)
def stream_session_stats(spark, sf_dir):
    """STREAMING sessionization via session_window(ts, gap) — the
    native stateful merging-window operator (the batch twin
    session_stats_by_user builds the same sessions with lag + running
    sum; both hash-match ONE oracle). Boundary semantics agree: a new
    session starts when the gap EXCEEDS 1800s (session_window merges
    events while next_ts <= prev_ts + gap). Per-session durations come
    from the window bounds (end = last_ts + gap, so dur = end - start
    - gap); the per-user summary over the drained session table is a
    plain batch aggregate — cascading two stateful aggs in one stream
    is not supported, and the second level is not stateful work.

    state_partitions=4: same state-shard sizing argument as
    stream_hourly_by_type (sessions key on user_id; a few thousand
    live sessions don't need 32 stores per batch)."""
    s = st.events_stream(spark, sf_dir, n_files=N_FILES)
    # sessionize on SECOND-truncated event time: the oracle (and the
    # batch twin) build sessions from integer epoch seconds, and
    # microsecond tails would shift both gap decisions and durations
    s = s.withColumn("ts_s", F.timestamp_seconds(F.col("ts").cast("long")))
    win = F.session_window(F.col("ts_s"), "1800 seconds")
    per_session = (
        s.groupBy(F.col("user_id"), win.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            (
                F.col("w.end").cast("long") - F.col("w.start").cast("long") - 1800
            ).alias("dur_s"),
            "n_events",
        )
    )
    sessions = st.run_to_memory(per_session, "complete", state_partitions=4)
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(F.avg("dur_s"), 4).alias("avg_session_sec"),
        F.round(F.avg("n_events"), 4).alias("avg_events_per_session"),
    )


@register(
    "stream_dedup_within_watermark",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
        FROM (
            SELECT DISTINCT user_id, event_type,
                   CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket
            FROM events
        )
        GROUP BY event_type
    """,
    tags=("streaming", "dedup", "watermark"),
)
def stream_dedup_within_watermark(spark, sf_dir):
    """Ingest-time dedup with BOUNDED state:
    `dropDuplicatesWithinWatermark` keeps a key's dedup state only
    until the watermark passes it, unlike plain `dropDuplicates`
    whose state grows with every distinct key forever — on a 100 TB
    stream the within-watermark form is the only deployable one
    (state ~ keys per watermark horizon, not keys ever seen). Key =
    (user_id, event_type, epoch-hour bucket): "count a user's repeated
    events of a type within an hour once". The delay (90 days) covers
    the staged data's full 30-day span, so no duplicate arrives after
    its first occurrence's state expired and the append-mode output
    equals batch DISTINCT exactly — stream-batch parity stays a
    value-hash check. Epoch-hour buckets are timezone-free."""
    s = st.events_stream(spark, sf_dir, n_files=N_FILES)
    keyed = s.select(
        "user_id",
        "event_type",
        F.floor(F.col("ts").cast("long") / F.lit(3600)).cast("long").alias(
            "hour_bucket"
        ),
        "ts",
    )
    deduped = (
        keyed.withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hour_bucket"])
        .select("user_id", "event_type", "hour_bucket")
    )
    out = st.run_to_memory(deduped, "append", state_partitions=8)
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "stream_acid_user_state",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_type,
                   CAST(epoch_us(ts) AS BIGINT) AS ep, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ),
        agg AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id
        )
        SELECT a.user_id, a.n_events,
               r.ep AS last_epoch_us, r.event_type AS last_event_type
        FROM agg a JOIN ranked r ON r.user_id = a.user_id AND r.rn = 1
    """,
    tags=("streaming", "acid", "cdc", "merge"),
)
def stream_acid_user_state(spark, sf_dir):
    """Streaming CDC upsert into the ACID table — the lakehouse
    standard topology (stream -> foreachBatch MERGE -> queryable
    snapshot) that Delta/Iceberg sinks provide, run here against
    sources/acidtable.py: each micro-batch reduces to per-user deltas
    (count + argmax-by-(ts, event_id) last event), merges them with
    the table's current rows for the touched users ONLY, and upserts
    via copy-on-write MERGE. Both per-batch reductions are associative
    (sums; max of a lexicographic struct), so the final snapshot is
    independent of batch boundaries and hash-matches batch SQL — the
    same stream-batch parity gate as every other streaming query. At
    scale each merge rewrites only the data files containing touched
    keys; the events scan itself never re-reads the table."""
    import tempfile

    from ..sources.acidtable import AcidTable

    s = st.events_stream(spark, sf_dir, n_files=N_FILES)
    path = tempfile.mkdtemp(prefix="acid_stream_") + "/t"
    # the table persists last_event_id purely as the argmax tiebreak:
    # two events can share a microsecond across batches, and the
    # across-batch winner must match the oracle's (ts, event_id) order
    empty = local_frame(
        spark,
        [],
        "user_id long, n_events long, last_epoch_us long, "
        "last_event_id long, last_event_type string",
    )
    table = AcidTable.create(spark, path, empty)

    def upsert(batch_df, batch_id):
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(
                F.struct(
                    F.unix_micros("ts").alias("ep"),
                    F.col("event_id").alias("eid"),
                    F.col("event_type").alias("et"),
                )
            ).alias("last"),
        )
        cur = table.read().select(
            "user_id",
            F.col("n_events").alias("cur_n"),
            F.struct(
                F.col("last_epoch_us").alias("ep"),
                F.col("last_event_id").alias("eid"),
                F.col("last_event_type").alias("et"),
            ).alias("cur_last"),
        )
        merged = (
            delta.join(cur, "user_id", "left")
            .select(
                "user_id",
                (F.col("n_events") + F.coalesce(F.col("cur_n"), F.lit(0))).alias(
                    "n_events"
                ),
                F.when(
                    F.col("cur_last").isNull()
                    | (F.col("last") > F.col("cur_last")),
                    F.col("last"),
                )
                .otherwise(F.col("cur_last"))
                .alias("last"),
            )
            .select(
                "user_id",
                "n_events",
                F.col("last.ep").alias("last_epoch_us"),
                F.col("last.eid").alias("last_event_id"),
                F.col("last.et").alias("last_event_type"),
            )
        )
        table.merge(merged, "user_id")

    q = (
        s.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", path + "_ckpt")
        .start()
    )
    q.awaitTermination()
    return table.read().select(
        "user_id", "n_events", "last_epoch_us", "last_event_type"
    )


@register(
    "stream_delta_source_counts",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
        WHERE o_totalprice > 500.0
        GROUP BY o_orderpriority
    """,
    tags=("streaming", "delta", "lakehouse", "interop", "source"),
)
def stream_delta_source_counts(spark, sf_dir):
    """Streaming FROM an externally-written Delta table
    (sources/deltastream.py, round 5 — the interop twin of
    stream_acid_user_state's engine-table source): stage orders as a
    Delta log of one create + two append commits, then tail it with
    the Spark-4 Python DataSource whose offsets are DELTA VERSIONS —
    micro-batch (start, end] emits exactly the files those commits
    added (one input partition per file, pyarrow worker reads,
    startingVersion=0 replays the whole history). The cumulative
    aggregate over the drained stream must hash-match batch SQL over
    the same rows — stream-batch parity end to end through the log
    walk, the offset contract, and the worker-side reads. Non-append
    commits refuse per Delta's documented option semantics
    (tests/test_deltastream.py)."""
    import tempfile

    from ..sources.deltalog import commit_append, create_minimal_table
    from ..sources.deltastream import register_delta_stream
    from .registry import t

    base = t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 500.0
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")
    path = tempfile.mkdtemp(prefix="delta_stream_") + "/t"
    create_minimal_table(spark, path, base.filter("o_orderkey % 3 = 0"))
    commit_append(spark, path, base.filter("o_orderkey % 3 = 1"))
    commit_append(spark, path, base.filter("o_orderkey % 3 = 2"))
    register_delta_stream(spark)
    s = (
        spark.readStream.format("delta_stream")
        .option("path", path)
        .option("startingVersion", "0")
        .load()
    )
    agg = s.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_sum"),
    )
    return st.run_to_memory(agg, "complete", state_partitions=8)


@register(
    "stream_delta_cdf_feed",
    oracle=_cdf.CDF_DML_CTES + """
        , feed AS (
            SELECT 'update_preimage' AS _change_type, o_cents
            FROM base WHERE o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT 'update_postimage', o_cents * 2
            FROM base WHERE o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT 'update_preimage', o_cents
            FROM u WHERE o_orderkey % 97 = 0
            UNION ALL
            SELECT 'update_postimage', o_cents
            FROM src WHERE o_orderpriority = '0-MERGED'
            UNION ALL
            SELECT 'insert', o_cents
            FROM src WHERE o_orderpriority = '9-NEW'
            UNION ALL
            SELECT 'delete', o_cents
            FROM m WHERE o_orderpriority = '3-MEDIUM'
        )
        SELECT _change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(o_cents) AS BIGINT) AS sum_o_cents
        FROM feed
        GROUP BY _change_type
    """,
    tags=("streaming", "delta", "cdf", "lakehouse", "incremental"),
)
def stream_delta_cdf_feed(spark, sf_dir):
    """STREAMING the change data feed of an externally-written Delta
    table (sources/deltastream.py readChangeFeed=true, round 5 —
    Delta's `readStream.option("readChangeFeed")`): stage orders with
    CDF enabled, push UPDATE WHERE / MERGE / DELETE WHERE commits
    through it (each writing protocol-shaped cdc actions), then tail
    the table as a stream whose micro-batches render each commit's
    row-level changes — cdc files read as-is (the complete
    description), append commits as inserts, remove-only commits as
    deletes, `_commit_version` stamped per batch. The cumulative
    per-change-type aggregate over the drained stream must hash-match
    a full SQL replay of all three DML steps — stream-batch parity
    through the offset contract, the cdc walk, and the worker-side
    reads. At 100 TB this is the standing-pipeline shape: downstream
    consumers (IVM, replication, audit) follow the feed at
    change-batch cost without ever rescanning the table."""
    from ..sources.deltastream import register_delta_stream

    reader, v0, _base = _cdf.stage_cdf_dml_table(
        spark, sf_dir, "delta_cdf_stream_"
    )
    path = reader.path
    register_delta_stream(spark)
    s = (
        spark.readStream.format("delta_stream")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", str(v0 + 1))
        .load()
    )
    agg = s.groupBy("_change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_cents").alias("sum_o_cents"),
    )
    return st.run_to_memory(agg, "complete", state_partitions=4)


@register(
    "stream_delta_append_sink",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(user_id) AS BIGINT) AS sum_user
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("streaming", "delta", "sink", "exactly-once", "lakehouse"),
)
def stream_delta_append_sink(spark, sf_dir):
    """Streaming INTO an external Delta table with EXACTLY-ONCE
    appends (round 8 — deltalog.delta_append_sink, the write
    direction the matrix lacked): each events micro-batch commits
    with a SetTransaction stamp (app_id, batch_id), the protocol's
    idempotent-writer primitive; after the bounded run, a REPLAY of
    the last batch — foreachBatch's documented at-least-once
    delivery after restart — is proven a no-op IN-PLAN (the
    replayed commit count rides the txn watermark), and the final
    table read hash-matches batch SQL over all events. At 100 TB
    this is the standing ingest topology: stream → foreachBatch →
    Delta table, restartable without duplicates."""
    import tempfile

    from ..sources.deltalog import (
        DeltaLogReader,
        create_minimal_table,
        delta_append_sink,
        txn_version,
    )

    s = st.events_stream(spark, sf_dir, n_files=N_FILES)
    path = tempfile.mkdtemp(prefix="delta_sink_") + "/t"
    empty = t(spark, sf_dir, "events").limit(0).select(
        "event_id", "user_id", "event_type"
    )
    create_minimal_table(spark, path, empty)
    sink = delta_append_sink(path, "events-ingest")
    last = {"df": None, "bid": -1}

    def write(batch_df, batch_id):
        batch_df = batch_df.select("event_id", "user_id", "event_type")
        sink(batch_df, batch_id)
        last["df"], last["bid"] = batch_df, batch_id

    q = (
        s.writeStream.foreachBatch(write)
        .trigger(availableNow=True)
        .option("checkpointLocation", path + "_ckpt")
        .start()
    )
    q.awaitTermination()
    # restart-replay of the final batch: the txn watermark makes it a
    # no-op — version count unchanged
    reader = DeltaLogReader(spark, path)
    v_before = reader.latest_version()
    sink(last["df"], last["bid"])
    assert DeltaLogReader(spark, path).latest_version() == v_before
    assert txn_version(path, "events-ingest") == last["bid"]
    snap = DeltaLogReader(spark, path).read()
    return (
        snap.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("user_id").alias("sum_user"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_delta_dv_cdf_feed",
    oracle="""
        SELECT 'delete' AS _change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        FROM orders
        WHERE o_totalprice >= 300000.0
           OR (o_orderkey < 1000 AND o_totalprice < 300000.0)
    """,
    tags=("streaming", "delta", "cdf", "deletion-vectors", "lakehouse"),
)
def stream_delta_dv_cdf_feed(spark, sf_dir):
    """STREAMING the CDF of a DELETION-VECTOR table (round 8 —
    delta_stream readChangeFeed over delete_where_dv commits, the
    Delta 3.x/Databricks write shape): two overlapping DV deletes
    write NO cdc files — each micro-batch renders its commit's
    deleted rows from the bitmap DIFF, decoded driver-side in
    partitions() so the stdlib-only worker just receives position
    lists. The overlap must not re-emit (the second commit's diff
    nets out rows the first already tombstoned); the drained
    per-change-type aggregate hash-matches a full SQL replay of both
    deletes — stream == batch changes() through the offset contract,
    the bitmap decode, and the position-filtered worker reads."""
    import tempfile

    from ..sources.deltalog import DeltaLogReader, create_minimal_table
    from ..sources.deltastream import register_delta_stream

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartitionByRange(6, "o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="delta_dv_stream_") + "/t"
    create_minimal_table(spark, path, base, stats=True)
    reader = DeltaLogReader(spark, path)
    reader.delete_where_dv([("o_totalprice", ">=", 300000.0)])
    reader.delete_where_dv([("o_orderkey", "<", 1000)])
    register_delta_stream(spark)
    s = (
        spark.readStream.format("delta_stream")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load()
    )
    agg = s.groupBy("_change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("sum_key"),
    )
    return st.run_to_memory(agg, "complete", state_partitions=2)


@register(
    "stream_cdf_standing_aggregate",
    oracle=_cdf.CDF_DML_CTES + """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(o_cents) AS BIGINT) AS sum_o_cents
        FROM f
        GROUP BY o_orderpriority
    """,
    tags=("streaming", "delta", "cdf", "ivm", "incremental"),
)
def stream_cdf_standing_aggregate(spark, sf_dir):
    """STREAMING incremental view maintenance with Spark's OWN state
    store (round 5 — the standing-pipeline composition of the CDF
    stream and operators/ivm.py's algebra): tail an external Delta
    table's change feed from version 0 (creation inserts included),
    map each change row to its SIGN (+1 insert/update_postimage, −1
    delete/update_preimage), and let a complete-mode streaming
    aggregate maintain Σsign and Σ(sign·cents) per priority — the
    state store IS the materialized view, updated per micro-batch at
    change-batch cost. After UPDATE WHERE + MERGE + DELETE WHERE
    commits, the drained stream's final state must hash-match a full
    SQL recompute of the table — the strongest parity form: stream ==
    batch == oracle across three DML kinds. On a real cluster this
    query never terminates and never rescans the base; checkpointed
    state survives restarts exactly-once (offsets are Delta
    versions)."""
    from ..sources.deltastream import register_delta_stream

    reader, _v0, _base = _cdf.stage_cdf_dml_table(
        spark, sf_dir, "delta_cdf_ivm_"
    )
    path = reader.path
    register_delta_stream(spark)
    s = (
        spark.readStream.format("delta_stream")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
    )
    signed = s.select(
        "o_orderpriority",
        "o_cents",
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        )
        .when(
            F.col("_change_type").isin("delete", "update_preimage"),
            F.lit(-1),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("unknown change type: "), F.col("_change_type")
                )
            )
        )
        .cast("long")
        .alias("__sign"),
    )
    agg = signed.groupBy("o_orderpriority").agg(
        F.sum("__sign").alias("n_rows"),
        F.sum(F.col("__sign") * F.col("o_cents")).alias("sum_o_cents"),
    )
    out = st.run_to_memory(agg, "complete", state_partitions=4)
    return out.filter("n_rows > 0")


@register(
    "stream_kafka_event_counts",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(user_id) AS BIGINT) AS user_sum
        FROM events
        GROUP BY event_type
    """,
    tags=("streaming", "kafka", "source", "sink", "interop"),
)
def stream_kafka_event_counts(spark, sf_dir):
    """KAFKA round trip over the REAL wire protocol, no jar and no
    external broker (round 5 — closing the last 'untestable
    connector' gap the same way the Avro codec closed its own:
    implement the published format): start the in-process MiniKafka
    broker (sources/kafkabroker.py — ApiVersions/Metadata/Produce/
    Fetch, RecordBatch v2 with CRC32C, per the protocol spec),
    PRODUCE every event through the foreachPartition sink
    (sources/kafka_io.write_kafka — executor sockets, one batch per
    task), then consume the topic back with the Spark-4 streaming
    Python DataSource `kafka_py` whose offsets are per-partition log
    positions (the built-in kafka source's checkpoint contract), and
    aggregate. The drained stream's per-type counts and user-id sums
    must hash-match batch SQL over the raw events table — parity
    through the producer framing, the broker's offset assignment,
    CRC verification, and the consumer's offset-range reads."""
    from ..sources import kafka_io as kio
    from ..sources.kafkabroker import MiniKafka
    from .registry import t

    events = t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k"),
        F.col("event_type").alias("v"),
    )
    with MiniKafka(partitions=4) as broker:
        bs = broker.bootstrap
        kio.write_kafka(
            events.repartition(8), bs, "events", key_col="k", value_col="v"
        )
        kio.register_kafka_source(spark)
        s = (
            spark.readStream.format("kafka_py")
            .option("bootstrap", bs)
            .option("topic", "events")
            .option("startingOffsets", "earliest")
            .load()
        )
        agg = s.groupBy(
            F.col("value").cast("string").alias("event_type")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("key").cast("string").cast("long")).alias(
                "user_sum"
            ),
        )
        return st.run_to_memory(agg, "complete", state_partitions=4)


@register(
    "stream_kafka_windowed_counts",
    oracle="""
        SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS epoch_hour,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1, 2
    """,
    tags=("streaming", "kafka", "window", "eventtime"),
)
def stream_kafka_windowed_counts(spark, sf_dir):
    """EVENT-TIME windows over a queue (round 5): events PRODUCE into
    MiniKafka with their real epoch-millisecond timestamps riding
    RecordBatch v2's timestamp field, the `kafka_py` stream consumes
    them, the wire timestamp converts back to an event-time column,
    and tumbling hourly windows aggregate per type — so the TIMESTAMP
    ROUND TRIP through the producer framing, the broker, and the
    consumer is itself under the value-hash check (a one-tick skew
    anywhere moves rows across hour buckets and breaks the hash).
    Complete mode over the bounded drain; watermarked append-mode
    windowing is pinned separately by the file-source queries
    (stream_hourly_by_type and friends) — composing it with this
    source is the same one-line withWatermark. Epoch-hour buckets are
    timezone-free on both engines."""
    from ..sources import kafka_io as kio
    from ..sources.kafkabroker import MiniKafka
    from .registry import t

    events = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("v"),
        (F.unix_micros(F.col("ts")) / 1000).cast("long").alias("ts_ms"),
    )
    with MiniKafka(partitions=4) as broker:
        bs = broker.bootstrap
        kio.write_kafka(
            events.repartition(8), bs, "events",
            value_col="v", ts_col="ts_ms",
        )
        kio.register_kafka_source(spark)
        s = (
            spark.readStream.format("kafka_py")
            .option("bootstrap", bs)
            .option("topic", "events")
            .option("startingOffsets", "earliest")
            .load()
        )
        typed = s.select(
            F.col("value").cast("string").alias("event_type"),
            F.timestamp_millis(F.col("timestamp")).alias("ts"),
        )
        win = typed.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n_events"))
        out = st.run_to_memory(win, "complete", state_partitions=4)
        return out.select(
            (F.unix_micros(F.col("w.start")) / 3600000000)
            .cast("long")
            .alias("epoch_hour"),
            "event_type",
            "n_events",
        )


@register(
    "stream_iceberg_source_counts",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
    """,
    tags=("streaming", "iceberg", "lakehouse", "interop", "source"),
)
def stream_iceberg_source_counts(spark, sf_dir):
    """Streaming FROM an externally-written Iceberg table
    (sources/icebergstream.py, round 5 — the Iceberg twin of
    stream_delta_source_counts, completing the lakehouse streaming
    matrix): stage documents as a create + two append snapshots, then
    tail the table with the Spark-4 Python DataSource whose offsets
    are SNAPSHOT ORDINALS — each micro-batch renders exactly the data
    files its snapshots appended, computed as a driver-side
    manifest-walk diff (incremental()'s math, micro-batched), one
    pyarrow task per file. The cumulative aggregate over the drained
    stream must hash-match batch SQL over the same rows; snapshots
    that add delete files or remove data files refuse loudly
    (tests/test_icebergstream.py)."""
    from ..sources.iceberg import append_data_snapshot, create_minimal_table
    from ..sources.icebergstream import register_iceberg_stream
    from .registry import t

    import tempfile

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_stream_") + "/t"
    create_minimal_table(spark, path, docs.filter("doc_id % 3 = 0"))
    append_data_snapshot(spark, path, docs.filter("doc_id % 3 = 1"), sequence=1)
    append_data_snapshot(spark, path, docs.filter("doc_id % 3 = 2"), sequence=2)
    register_iceberg_stream(spark)
    s = (
        spark.readStream.format("iceberg_stream")
        .option("path", path)
        .option("startingSnapshotIndex", "0")
        .load()
    )
    agg = s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return st.run_to_memory(agg, "complete", state_partitions=4)


@register(
    "stream_acid_cdf_feed",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderpriority,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                       AS o_cents
            FROM orders
        ),
        src AS (
            SELECT o_orderkey,
                   '0-MERGED' AS o_orderpriority,
                   o_cents * 3 AS o_cents
            FROM base WHERE o_orderkey % 97 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, '9-NEW', o_cents
            FROM base WHERE o_orderkey % 101 = 0
        ),
        m AS (
            SELECT o_orderkey, o_orderpriority, o_cents FROM base
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
            UNION ALL
            SELECT * FROM src
        ),
        feed AS (
            SELECT 'update_preimage' AS _change_type, o_cents
            FROM base WHERE o_orderkey % 97 = 0
            UNION ALL
            SELECT 'update_postimage', o_cents
            FROM src WHERE o_orderpriority = '0-MERGED'
            UNION ALL
            SELECT 'insert', o_cents
            FROM src WHERE o_orderpriority = '9-NEW'
            UNION ALL
            SELECT 'delete', o_cents
            FROM m WHERE o_orderpriority = '3-MEDIUM'
        )
        SELECT _change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(o_cents) AS BIGINT) AS sum_o_cents
        FROM feed
        GROUP BY _change_type
    """,
    tags=("streaming", "acid", "cdf", "incremental"),
)
def stream_acid_cdf_feed(spark, sf_dir):
    """STREAMING the AcidTable's CHANGE LOG (acid_table_stream
    readChangeFeed=true, round 5 — the engine-table twin of
    stream_delta_cdf_feed): stage orders in an AcidTable with the
    change log on (create(cdf=True)), push a MERGE (re-priced +
    inserted orders — the commit persists update_preimage/
    update_postimage/insert rows as change files) and a DELETE
    (change files of the removed rows) through it, then tail the
    table's feed as a stream whose micro-batches render each commit's
    persisted change files as-is. The per-change-type aggregate over
    the drained stream must hash-match a full SQL replay of both DML
    steps — the batch twin (AcidTable.changes_feed) shares the SAME
    feed_actions dispatch, so batch and stream cannot drift by
    construction."""
    import tempfile

    from ..sources.acidstream import register_acid_stream
    from ..sources.acidtable import AcidTable
    from . import cdf_fixture as _cdf

    base = _cdf.cents_base(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="acid_cdf_stream_") + "/t"
    table = AcidTable.create(
        spark, path, base.repartitionByRange(8, "o_orderkey"), cdf=True
    )
    v0 = table.latest_version()
    source = (
        base.filter("o_orderkey % 97 = 0")
        .select(
            "o_orderkey",
            F.lit("0-MERGED").alias("o_orderpriority"),
            (F.col("o_cents") * 3).alias("o_cents"),
        )
        .unionByName(
            base.filter("o_orderkey % 101 = 0").select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                F.lit("9-NEW").alias("o_orderpriority"),
                "o_cents",
            )
        )
    )
    table.merge(source, "o_orderkey")
    table.delete("o_orderpriority = '3-MEDIUM'")
    register_acid_stream(spark)
    s = (
        spark.readStream.format("acid_table_stream")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", str(v0 + 1))
        .load()
    )
    agg = s.groupBy("_change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_cents").alias("sum_o_cents"),
    )
    return st.run_to_memory(agg, "complete", state_partitions=4)


@register(
    "stream_iceberg_partitioned_sink",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        WHERE epoch(ts) >= 1705708800
        GROUP BY event_type
    """,
    tags=("streaming", "iceberg", "lakehouse", "partitioning", "sink"),
)
def stream_iceberg_partitioned_sink(spark, sf_dir):
    """STREAMING INGEST into a DAY-PARTITIONED Iceberg table (round
    7) — the canonical event-lake landing topology (stream ->
    foreachBatch -> partitioned table -> pruned serving reads): each
    micro-batch commits one append snapshot whose files carry day(ts)
    partition tuples and whose manifest-list entry carries the batch's
    day-range field summary, so the serving read below prunes at BOTH
    tiers — whole per-batch manifests outside the queried window are
    never opened. Exactly-once across restarts comes from the
    checkpoint + the append commit being atomic (exclusive metadata
    create); ingest cost per batch is O(batch), never O(table) —
    bounds=False skips per-file column stats on the hot ingest path
    (partition pruning doesn't need them; a compaction pass adds them
    back when it bin-packs). The final trailing-window aggregate is
    value-hash checked against DuckDB on the raw events; the pruning
    facts are asserted in-plan (the read must skip files AND manifests
    or the query aborts). The hour-grain twin of this layout is
    iceberg_hour_partitioned_events."""
    import datetime
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        append_partitioned_snapshot,
        create_partitioned_table,
    )
    from ..sources.tables import load_table

    s = st.events_stream(spark, sf_dir, n_files=N_FILES)
    path = tempfile.mkdtemp(prefix="iceberg_sink_") + "/t"
    empty = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "ts")
        .limit(0)
    )
    create_partitioned_table(spark, path, empty, spec=[("ts", "day")])

    def sink(batch_df, batch_id):
        append_partitioned_snapshot(
            spark,
            path,
            batch_df.select("event_id", "user_id", "event_type", "ts"),
            spec=[("ts", "day")],
            bounds=False,
        )

    q = (
        s.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", path + "_ckpt")
        .start()
    )
    q.awaitTermination()

    reader = IcebergTableReader(spark, path)
    cut = datetime.datetime(2024, 1, 20, tzinfo=datetime.timezone.utc)
    snap = reader.read(predicates=[("ts", ">=", cut)])
    if reader.last_scan["skipped_files"] == 0:
        raise AssertionError("day partition pruning did not engage")
    if reader.last_scan["skipped_manifests"] == 0:
        raise AssertionError("manifest-tier pruning did not engage")
    return snap.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
