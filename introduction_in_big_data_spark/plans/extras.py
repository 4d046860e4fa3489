"""Coverage-completing queries: Pearson correlation (F7), outer joins
(§2.3 'free' variants), rollup (grouping sets — absent in the reference,
zero-cost in Spark), and a TPC-H-Q3-shaped 3-way join for the bench."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..session import barrier, local_frame

from . import cdf_fixture as _cdf
from .registry import register, t


@register(
    "corr_quantity_price",
    oracle="""
        SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               round(corr(l_discount, l_tax), 6)           AS corr_disc_tax
        FROM lineitem
    """,
    tags=("stats",),
)
def corr_quantity_price(spark, sf_dir):
    """F7 — Pearson correlation, the built-in replacement for the
    reference's hand-written mean-centered cosine (Part_A_Q2.py:106-107).
    Single-pass co-moment aggregate."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("corr_disc_tax"),
    )


@register(
    "left_join_order_gaps",
    oracle="""
        SELECT c_mktsegment,
               count(*)                                        AS n_customers,
               count(*) FILTER (WHERE order_cnt = 0)           AS n_without_orders
        FROM (
            SELECT c.c_custkey, c.c_mktsegment, count(o.o_orderkey) AS order_cnt
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_mktsegment
        )
        GROUP BY c_mktsegment
    """,
    tags=("join", "outer"),
)
def left_join_order_gaps(spark, sf_dir):
    """Left outer join + null-aware count — the outer-join surface the
    reference lacks (SURVEY.md §2.3). count(o_orderkey) skips nulls, so
    customers with no orders count 0."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )
    return per_cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(F.col("order_cnt") == 0, 1).otherwise(0)).alias("n_without_orders"),
    )


@register(
    "rollup_flag_status",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty_i,
               count(*) AS cnt
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def rollup_flag_status(spark, sf_dir):
    """Hierarchical rollup (grouping sets) — not in the reference
    (SURVEY.md §2.4 notes the absence); Spark provides it natively and
    the subtotal rows are computed map-side in the same aggregate.
    Quantities are summed as integers so subtotal rows hash exactly."""
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty_i"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "q3_shipping_priority",
    oracle="""
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(epoch(o_orderdate) AS BIGINT)                AS orderdate_epoch
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, orderdate_epoch
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    tags=("join", "agg", "topk"),
    bench=True,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H-Q3-shaped: selective dimension filter → 3-way join →
    grouped revenue → top-10. The probe for join-order/pushdown
    quality: the segment filter prunes customer before the join, both
    date filters reach the scans, customer broadcasts."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
    )
    # o_orderdate is TIMESTAMP_NTZ (parquet millis, not UTC-adjusted);
    # NTZ→long isn't castable and NTZ→timestamp is session-TZ-dependent.
    # Day arithmetic on the calendar date is exact and timezone-free.
    orderdate_epoch = (
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        * 86400
    )
    return (
        joined.groupBy("l_orderkey", orderdate_epoch.alias("orderdate_epoch"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "orderdate_epoch")
    )


@register(
    "top5pct_parts_percentile",
    oracle="""
        WITH counts AS (
            SELECT l_partkey, count(*) AS cnt
            FROM lineitem GROUP BY l_partkey
        )
        SELECT l_partkey, cnt
        FROM (
            SELECT l_partkey, cnt,
                   percent_rank() OVER (ORDER BY cnt DESC, l_partkey) AS pr
            FROM counts
        )
        WHERE pr <= 0.05
    """,
    tags=("topk", "window"),
)
def top5pct_parts_percentile(spark, sf_dir):
    """K4's true-fraction semantics via percent_rank (SURVEY.md §2.5).

    percent_rank = (rank-1)/(n-1) under (cnt DESC, key ASC); the key
    tiebreak makes the ordering total, so rank == row_number and
    `pr <= f` selects exactly the first floor(f*(n-1)) + 1 rows.
    Scale plan (VERDICT r1 item 1): rather than rank the whole part
    dictionary through a single-partition WindowExec, size k with one
    scalar job and take the prefix via `orderBy(...).limit(k)`
    (TakeOrderedAndProject: per-partition heaps, driver merge). Same
    rows/hashes as the window form, no global sort anywhere."""
    li = t(spark, sf_dir, "lineitem")
    # lazy localCheckpoint: count() materializes it once for both
    # consumers; blocks are GC-freed, unlike CacheManager persist()
    counts = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(barrier)
    )
    n = counts.count()
    k = int(0.05 * (n - 1)) + 1 if n > 0 else 0
    return (
        counts.orderBy(F.desc("cnt"), F.asc("l_partkey"))
        .limit(k)
        .select("l_partkey", "cnt")
    )


@register(
    "merge_upsert_customers",
    oracle="""
        WITH updates AS (
            SELECT c_custkey, c_acctbal * 1.1 AS acctbal, 'updated' AS src
            FROM customer WHERE c_mktsegment = 'BUILDING'
        )
        SELECT c_custkey, c_acctbal AS acctbal, 'base' AS src
        FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
        UNION ALL
        SELECT c_custkey, acctbal, src FROM updates
    """,
    tags=("merge", "cdc"),
)
def merge_upsert_customers(spark, sf_dir):
    """MERGE-upsert (CDC apply) emulated with anti-join + union — the
    lakehouse-free WHEN MATCHED UPDATE / NOT MATCHED INSERT. The
    updates batch is the small side → broadcast anti-join.

    The updated balance is the RAW product c_acctbal * 1.1 — per-row
    IEEE arithmetic is bit-identical across engines, so the canonical
    %.9g compare is exact. Rounding it to 2 decimals (the original
    form) DIVERGED at sf0.1: decimal rounding of a binary double is
    engine-specific at boundary digits (Spark rounds the shortest
    decimal repr HALF_UP, DuckDB rounds the binary value), e.g.
    c_acctbal*1.1 landing on x.xx5. Round accumulations, never per-row
    arithmetic (PLANS.md item 10)."""
    from ..operators import scd

    c = t(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey", F.col("c_acctbal").alias("acctbal"), F.lit("base").alias("src")
    )
    updates = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .select(
            "c_custkey",
            (F.col("c_acctbal") * 1.1).alias("acctbal"),
            F.lit("updated").alias("src"),
        )
    )
    return scd.merge_upsert(base, updates, "c_custkey")


@register(
    "acid_merge_customers",
    oracle="""
        WITH updates AS (
            SELECT c_custkey, c_acctbal * 1.1 AS acctbal, 'updated' AS src
            FROM customer WHERE c_mktsegment = 'BUILDING'
        )
        SELECT c_custkey, c_acctbal AS acctbal, 'base' AS src
        FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
        UNION ALL
        SELECT c_custkey, acctbal, src FROM updates
    """,
    tags=("merge", "cdc", "acid"),
)
def acid_merge_customers(spark, sf_dir):
    """The SAME MERGE semantics as merge_upsert_customers, but through
    the persisted copy-on-write table (sources/acidtable.py): create an
    AcidTable from the base frame (4 range-partitioned data files),
    MERGE the updates batch (file-pruned rewrite + manifest swap), and
    return the post-merge SNAPSHOT read. The oracle is identical to
    merge_upsert_customers' — what's under test here is that the full
    persist → commit-log → snapshot-read cycle preserves MERGE
    semantics, not just the in-memory plan. A fresh temp table dir per
    invocation keeps the query deterministic and re-runnable."""
    import tempfile

    from ..sources.acidtable import AcidTable

    c = t(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey", F.col("c_acctbal").alias("acctbal"), F.lit("base").alias("src")
    )
    updates = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        (F.col("c_acctbal") * 1.1).alias("acctbal"),
        F.lit("updated").alias("src"),
    )
    path = tempfile.mkdtemp(prefix="acid_merge_") + "/t"
    table = AcidTable.create(spark, path, base.repartitionByRange(4, "c_custkey"))
    table.merge(updates, "c_custkey")
    return table.read()


@register(
    "iceberg_interop_read",
    oracle="""
        SELECT c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(sum(c_acctbal), 2) AS total_bal
        FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY segment
    """,
    tags=("iceberg", "lakehouse", "interop", "source"),
)
def iceberg_interop_read(spark, sf_dir):
    """Iceberg metadata-walk interop (sources/iceberg.py, round 4):
    stage two customer segments as a format-v1 Iceberg table —
    parquet data files + Avro manifest + Avro manifest list (written
    with the spec-pinned pure-Python Avro codec) + vN.metadata.json —
    then read the snapshot back through the pointer walk
    (version-hint → metadata → manifest list → manifests → live data
    files) and aggregate. The oracle recomputes from raw parquet, so
    metadata staging → Avro decode → snapshot scan is value-hash
    checked with no Iceberg jar anywhere."""
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_minimal_table

    base = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_acctbal", "c_mktsegment")
    )
    path = tempfile.mkdtemp(prefix="iceberg_io_") + "/t"
    create_minimal_table(spark, path, base.repartition(3))
    snap = IcebergTableReader(spark, path).read()
    return snap.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "iceberg_v3_dv_dml_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        FROM orders
        WHERE o_totalprice < 300000.0 AND o_orderkey >= 1000
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("iceberg", "lakehouse", "dml", "deletion-vectors"),
)
def iceberg_v3_dv_dml_read(spark, sf_dir):
    """Predicate-driven DELETE via FORMAT-V3 DELETION VECTORS on an
    Iceberg table (IcebergTableReader.delete_where_dv, round 8 — the
    Spark 4 / Iceberg 1.8+ writer shape, twin of Delta's
    delete_where_dv): two overlapping deletes commit as
    roaring-bitmap puffin blobs — zero data files rewritten, manifest
    bounds prune the candidate scan, matched positions compute
    distributed with existing tombstones anti-joined out, and the
    second commit MERGES each hit file's previous vector (the spec's
    one-DV-per-file rule: old entries retire from the rewritten
    delete manifests). The snapshot read decodes the puffin blobs and
    anti-joins them away; the DuckDB oracle recomputes the survivor
    set from raw parquet, so prune → position-scan → puffin-encode →
    manifest-rewrite → replay → DV-apply is value-hash checked end to
    end."""
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_minimal_table

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartitionByRange(6, "o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="iceberg_v3dv_dml_") + "/t"
    create_minimal_table(spark, path, base, bounds=True)
    reader = IcebergTableReader(spark, path)
    reader.delete_where_dv([("o_totalprice", ">=", 300000.0)])
    IcebergTableReader(spark, path).delete_where_dv(
        [("o_orderkey", "<", 1000)]
    )
    snap = IcebergTableReader(spark, path).read()
    return (
        snap.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "iceberg_row_lineage_read",
    oracle="""
        WITH ranked AS (
            SELECT o_orderkey, o_orderpriority,
                   row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
            FROM orders
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(rid) AS BIGINT) AS sum_row_id,
               CAST(max(rid) AS BIGINT) AS max_row_id
        FROM ranked
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("iceberg", "lakehouse", "row-lineage"),
)
def iceberg_row_lineage_read(spark, sf_dir):
    """Iceberg FORMAT-V3 ROW LINEAGE read (round 8 — the v3 twin of
    Delta row tracking): stage orders as ONE key-sorted file, enable
    row lineage (first_row_id per manifest entry, next-row-id in the
    metadata — the spec's enablement backfill), and read with
    `with_row_ids=True` — each row's `_row_id` is its file's
    first_row_id + position, which on the sorted single-file staging
    equals the global o_orderkey rank, so the DuckDB oracle
    reproduces every id with a window rank (sum/max per priority pins
    the exact id assignment)."""
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        create_minimal_table,
        enable_row_lineage,
    )

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="iceberg_rowlineage_") + "/t"
    create_minimal_table(spark, path, base, bounds=True)
    enable_row_lineage(spark, path)
    snap = IcebergTableReader(spark, path).read(with_row_ids=True)
    return (
        snap.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("_row_id").alias("sum_row_id"),
            F.max("_row_id").alias("max_row_id"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "iceberg_row_lineage_dml_read",
    oracle="""
        WITH ranked AS (
            SELECT o_orderkey, o_orderpriority,
                   row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
            FROM orders
        ),
        live AS (
            SELECT o_orderpriority, rid FROM ranked
            WHERE o_orderkey >= 1000
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(rid) AS BIGINT) AS sum_row_id,
               CAST(min(rid) AS BIGINT) AS min_row_id,
               CAST(max(rid) AS BIGINT) AS max_row_id
        FROM live
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("iceberg", "lakehouse", "dml", "lineage", "v3"),
)
def iceberg_row_lineage_dml_read(spark, sf_dir):
    """ROW-LINEAGE DML on Iceberg (round 9 — the v3 twin of
    delta_row_tracking_dml_read): stage orders as a lineage table
    (enablement backfill: _row_id = global o_orderkey rank), DV-DELETE
    the small keys (survivors keep their ids — the DV tombstones
    positions without renumbering), then UPDATE one priority class
    in place via update_where_dv — a PRESERVED update whose image
    file materializes each row's OLD _row_id (the read path's
    override) while the o_orderpriority value itself stays the
    GROUPING key, so a single moved or renumbered id flips the
    sum/min/max fingerprint. The DuckDB oracle reproduces every id
    with a window rank; the update sets o_orderpriority to itself
    (an identity update), making 'ids stable through an image
    rewrite' the exact property under test."""
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        create_minimal_table,
        enable_row_lineage,
    )

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="iceberg_rl_dml_") + "/t"
    create_minimal_table(spark, path, base, bounds=True)
    enable_row_lineage(spark, path)
    IcebergTableReader(spark, path).delete_where_dv(
        [("o_orderkey", "<", 1000)]
    )
    # identity update: rewrites every surviving '1-URGENT' row into an
    # image file — values unchanged, so any id drift is isolated
    IcebergTableReader(spark, path).update_where_dv(
        [("o_orderpriority", "=", "1-URGENT")],
        {"o_orderpriority": "o_orderpriority"},
    )
    snap = IcebergTableReader(spark, path).read(with_row_ids=True)
    return (
        snap.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("_row_id").alias("sum_row_id"),
            F.min("_row_id").alias("min_row_id"),
            F.max("_row_id").alias("max_row_id"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "iceberg_row_lineage_mapped_read",
    oracle="""
        WITH ranked AS (
            SELECT o_orderkey, o_orderpriority,
                   row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
            FROM orders
        )
        SELECT o_orderpriority AS priority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(rid) AS BIGINT) AS sum_row_id,
               CAST(min(rid) AS BIGINT) AS min_row_id,
               CAST(max(rid) AS BIGINT) AS max_row_id
        FROM ranked
        GROUP BY o_orderpriority
        ORDER BY priority
    """,
    tags=("iceberg", "lakehouse", "lineage", "name-mapping", "v3"),
)
def iceberg_row_lineage_mapped_read(spark, sf_dir):
    """ROW LINEAGE on the HIVE-MIGRATED shape (round 10, VERDICT r9
    item 4): orders imported zero-copy via snapshot_parquet_dir (an
    ID-LESS file under schema.name-mapping.default), lineage enabled
    (enablement backfill: _row_id = global o_orderkey rank), then a
    lineage-MATERIALIZING writer touches it (update_where_dv identity
    update on one priority class — its image file embeds field ids
    AND a physical _row_id) and the schema EVOLVES on top (rename
    o_orderpriority -> priority, multi-schema + field-id projection).
    read(with_row_ids=True) must project all three file shapes
    correctly: the mapped id-less original (mapping projection + null
    _row_id -> first_row_id derivation), the id-carrying image
    (field-id projection + materialized override), under the renamed
    column. A single misprojected value or drifted id flips the
    per-priority sum/min/max fingerprint the window-rank oracle
    pins."""
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        enable_row_lineage,
        snapshot_parquet_dir,
    )

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    root = tempfile.mkdtemp(prefix="iceberg_rl_mapped_")
    src = root + "/src"
    base.write.parquet(src)
    path = root + "/t"
    snapshot_parquet_dir(spark, src, path)
    enable_row_lineage(spark, path)
    # materializing identity update: image file carries field ids and
    # each row's OLD _row_id; values unchanged so any drift is isolated
    IcebergTableReader(spark, path).update_where_dv(
        [("o_orderpriority", "=", "1-URGENT")],
        {"o_orderpriority": "o_orderpriority"},
    )
    IcebergTableReader(spark, path).update_schema(
        renames={"o_orderpriority": "priority"}
    )
    # NOTE: src must outlive the returned frame — the zero-copy import
    # points the table's manifests at the src file itself
    snap = IcebergTableReader(spark, path).read(with_row_ids=True)
    return (
        snap.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("_row_id").alias("sum_row_id"),
            F.min("_row_id").alias("min_row_id"),
            F.max("_row_id").alias("max_row_id"),
        )
        .orderBy("priority")
    )


@register(
    "iceberg_lineage_seq_read",
    oracle="""
        WITH evens AS (
            SELECT doc_id, lang,
                   row_number() OVER (ORDER BY doc_id) - 1 AS rid
            FROM documents WHERE doc_id % 2 = 0
        ),
        odds AS (
            SELECT doc_id, lang,
                   (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)
                   + row_number() OVER (ORDER BY doc_id) - 1 AS rid
            FROM documents WHERE doc_id % 2 = 1
        ),
        u AS (
            SELECT doc_id, lang, rid,
                   CASE WHEN lang = 'de' THEN 2
                        WHEN doc_id % 2 = 1 THEN 1
                        ELSE 0 END AS lus
            FROM (SELECT * FROM evens UNION ALL SELECT * FROM odds)
        )
        SELECT CAST(doc_id % 2 AS BIGINT) AS parity, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(rid) AS BIGINT) AS sum_row_id,
               CAST(sum(lus) AS BIGINT) AS sum_last_updated
        FROM u
        GROUP BY parity, lang
        ORDER BY parity, lang
    """,
    tags=("iceberg", "lakehouse", "lineage", "v3"),
)
def iceberg_lineage_seq_read(spark, sf_dir):
    """The PAIRED v3 row-lineage column (round 10):
    `_last_updated_sequence_number` inherits each file's data sequence
    number (create=0, append=1), an UPDATE's image rows pick up the
    update commit's sequence (2), and a COMPACTION materializes both
    lineage columns into the rewrite — a compaction is NOT an update,
    so the fingerprint must be identical before and after it. Staging:
    even docs (seq 0, ids = even rank), odd docs appended (seq 1, ids
    offset past the evens), identity-update of lang='de' (seq 2),
    then compact. One drifted id or sequence flips the per-(parity,
    lang) sums the window-rank oracle pins."""
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        append_data_snapshot,
        create_minimal_table,
        enable_row_lineage,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    path = tempfile.mkdtemp(prefix="iceberg_lus_") + "/t"
    create_minimal_table(
        spark,
        path,
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(1)
        .sortWithinPartitions("doc_id"),
        bounds=True,
    )
    enable_row_lineage(spark, path)
    append_data_snapshot(
        spark,
        path,
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(1)
        .sortWithinPartitions("doc_id"),
        sequence=1,
    )
    IcebergTableReader(spark, path).update_where_dv(
        [("lang", "=", "de")], {"lang": "lang"}
    )
    IcebergTableReader(spark, path).compact(target_bytes=1 << 30)
    snap = IcebergTableReader(spark, path).read(with_row_ids=True)
    return (
        snap.groupBy(
            (F.col("doc_id") % 2).alias("parity"), F.col("lang")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_row_id").alias("sum_row_id"),
            F.sum("_last_updated_sequence_number").alias(
                "sum_last_updated"
            ),
        )
        .orderBy("parity", "lang")
    )


@register(
    "iceberg_v3_dv_update_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(CASE WHEN o_totalprice >= 400000.0
                              THEN o_totalprice * 2
                              ELSE o_totalprice END), 2) AS total_price
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("iceberg", "lakehouse", "dml", "deletion-vectors"),
)
def iceberg_v3_dv_update_read(spark, sf_dir):
    """MERGE-ON-READ UPDATE via FORMAT-V3 DELETION VECTORS
    (IcebergTableReader.update_where_dv, round 8 — the v3 twin of the
    v2 position-delete update, and the Iceberg analog of Delta's
    update_where_dv): double every high-value order's price as ONE
    snapshot that tombstones the matched rows with puffin
    roaring-bitmap vectors and appends their updated images — no
    existing data file rewrites, cost ∝ matched rows. The snapshot
    read decodes the vectors, anti-joins them away and unions the
    image file in; the DuckDB oracle replays the assignment from raw
    parquet, value-hash checking skip → position-scan →
    puffin-encode+append commit → replay end to end."""
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_minimal_table

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartitionByRange(6, "o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="iceberg_v3dv_upd_") + "/t"
    create_minimal_table(spark, path, base, bounds=True)
    IcebergTableReader(spark, path).update_where_dv(
        [("o_totalprice", ">=", 400000.0)],
        {"o_totalprice": "o_totalprice * 2"},
    )
    snap = IcebergTableReader(spark, path).read()
    return (
        snap.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "iceberg_v3_dv_read",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, lang,
                   row_number() OVER (ORDER BY doc_id) - 1 AS pos
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        FROM ranked
        WHERE pos % 9 <> 0 AND pos % 9 <> 1
        GROUP BY lang
    """,
    tags=("iceberg", "lakehouse", "interop", "source", "deletion-vectors"),
)
def iceberg_v3_dv_read(spark, sf_dir):
    """Iceberg FORMAT-V3 DELETION-VECTOR read (round 8 — the last
    VERDICT r7 'What's missing' item): stage documents as one
    doc_id-sorted data file, commit a v3 DV snapshot — the tombstoned
    positions serialize as a roaring-bitmap `deletion-vector-v1` blob
    inside a PUFFIN container (functions/puffin.py: the published
    blob layout, length + D1D33964 magic + portable-64 bitmap +
    CRC-32), referenced from the delete manifest by file_format
    PUFFIN + referenced_data_file + content_offset/size — then read
    the snapshot back: the reader locates the blob from the manifest
    entry, CRC-verifies and decodes it driver-side, and anti-joins
    the positions against _metadata.row_index exactly like v2
    position deletes. Sorted staging makes position == doc_id rank,
    so the DuckDB oracle replays the survivor set with a window rank
    — the whole puffin-decode path is value-hash checked. This is
    what Spark 4 / Iceberg 1.8+ DV writers produce."""
    import os
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        add_deletion_vectors,
        create_minimal_table,
    )

    base = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    path = tempfile.mkdtemp(prefix="iceberg_v3dv_") + "/t"
    create_minimal_table(spark, path, base)
    data_dir = os.path.join(path, "data")
    data_file = next(
        os.path.join(data_dir, f)
        for f in sorted(os.listdir(data_dir))
        if f.endswith(".parquet")
    )
    n = spark.read.parquet(data_file).count()
    # two stacked DV snapshots: both puffin vectors must apply
    add_deletion_vectors(
        spark, path, [(data_file, list(range(0, n, 9)))]
    )
    add_deletion_vectors(
        spark, path, [(data_file, list(range(1, n, 9)))]
    )
    snap = IcebergTableReader(spark, path).read()
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


@register(
    "iceberg_v2_deletes_read",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, lang,
                   row_number() OVER (ORDER BY doc_id) - 1 AS pos
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        FROM ranked
        WHERE pos % 7 <> 0
        GROUP BY lang
    """,
    tags=("iceberg", "lakehouse", "interop", "source", "deletes"),
)
def iceberg_v2_deletes_read(spark, sf_dir):
    """Iceberg FORMAT-V2 position-delete read (sources/iceberg.py,
    round 5 — VERDICT r4 #1 closed): stage documents as one
    doc_id-sorted data file, commit a v2 DELETE snapshot whose
    position-delete parquet tombstones every 7th row position (delete
    manifest with manifest-list content=1 / data_file content=1,
    exactly the spec's layout), then read the snapshot back — the
    reader decodes the delete files and anti-joins (file_path, pos)
    against the scan's _metadata.row_index with the compact delete
    side broadcast. Because the file is doc_id-sorted, position ==
    doc_id rank, so the DuckDB oracle reproduces the survivor set from
    raw parquet with a window rank — the delete application is
    value-hash checked end to end."""
    import os
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        add_position_deletes,
        create_minimal_table,
    )

    base = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    path = tempfile.mkdtemp(prefix="iceberg_v2_") + "/t"
    create_minimal_table(spark, path, base)
    data_dir = os.path.join(path, "data")
    data_file = next(
        os.path.join(data_dir, f)
        for f in sorted(os.listdir(data_dir))
        if f.endswith(".parquet")
    )
    n = spark.read.parquet(data_file).count()
    add_position_deletes(
        spark, path, [(data_file, p) for p in range(0, n, 7)]
    )
    snap = IcebergTableReader(spark, path).read()
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


@register(
    "iceberg_eq_deletes_read",
    oracle="""
        WITH readd AS (
            SELECT doc_id FROM documents
            WHERE doc_id % 11 = 0 ORDER BY doc_id LIMIT 3
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE doc_id % 11 <> 0 OR doc_id IN (SELECT doc_id FROM readd)
        GROUP BY lang
    """,
    tags=("iceberg", "lakehouse", "interop", "source", "deletes"),
)
def iceberg_eq_deletes_read(spark, sf_dir):
    """Iceberg format-v2 EQUALITY-delete read with the sequence gate
    (sources/iceberg.py, round 5): stage documents at sequence 0,
    commit an equality delete (content=2, equality_ids=[doc_id]) at
    sequence 1 tombstoning every doc_id divisible by 11, then
    RE-APPEND the three smallest deleted docs at sequence 2 — the
    seq-1 delete must NOT touch them (rows from data files with
    sequence >= the delete's survive; naive apply-to-everything gets
    this wrong). The reader joins per-file sequence numbers onto the
    scan and anti-joins the broadcast delete values with a
    null-safe-equality + sequence condition. The DuckDB oracle
    reproduces the survivor set from raw parquet."""
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        add_equality_deletes,
        append_data_snapshot,
        create_minimal_table,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_eq_") + "/t"
    create_minimal_table(spark, path, docs.coalesce(1))
    deleted = docs.filter(F.col("doc_id") % 11 == 0)
    del_ids = sorted(r.doc_id for r in deleted.select("doc_id").collect())
    add_equality_deletes(
        spark, path, [(i,) for i in del_ids], ["doc_id"], sequence=1
    )
    append_data_snapshot(
        spark,
        path,
        docs.filter(F.col("doc_id").isin(del_ids[:3])),
        sequence=2,
    )
    snap = IcebergTableReader(spark, path).read()
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "iceberg_eq_dml_read",
    oracle="""
        WITH live AS (
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id % 11 <> 0 AND doc_id >= 100
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_chars < 200
                             THEN n_chars + 1000000
                             ELSE n_chars END) AS BIGINT) AS total_chars
        FROM live
        GROUP BY lang
    """,
    tags=("iceberg", "lakehouse", "dml", "deletes", "cdc", "v3"),
)
def iceberg_eq_dml_read(spark, sf_dir):
    """Engine DML on a Flink-CDC-shaped Iceberg table (round 9,
    VERDICT r8 item 2): stage documents at sequence 0, commit an
    upsert stream's EQUALITY deletes (doc_id % 11 == 0) at sequence
    1, then run engine DML on top — a v3 deletion-vector DELETE
    (doc_id < 100) followed by a v3 DV UPDATE (+1e6 chars on short
    docs). Both DML paths apply the existing eq-deletes
    sequence-gated via the read path's own `_eq_delete_join` BEFORE
    hit detection, so the puffin vectors tombstone only the live set
    a reader sees (eq-dead rows are never re-deleted, never updated),
    and the update's re-inserted images sequence past every live
    eq-delete so the strictly-smaller gate can't re-kill them. The
    final read applies eq-deletes + merged DVs + the appended images;
    the DuckDB oracle recomputes the survivor set from raw parquet."""
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        add_equality_deletes,
        create_minimal_table,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_eqdml_") + "/t"
    create_minimal_table(
        spark, path, docs.repartitionByRange(4, "doc_id"), bounds=True
    )
    del_ids = sorted(
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 11 == 0)
        .select("doc_id")
        .collect()
    )
    add_equality_deletes(
        spark, path, [(i,) for i in del_ids], ["doc_id"], sequence=1
    )
    IcebergTableReader(spark, path).delete_where_dv([("doc_id", "<", 100)])
    IcebergTableReader(spark, path).update_where_dv(
        [("n_chars", "<", 200)], {"n_chars": "n_chars + 1000000"}
    )
    snap = IcebergTableReader(spark, path).read()
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "warc_ingest_stats",
    oracle=r"""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_pages,
               CAST(sum(length(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                    AS BIGINT) AS n_chars
        FROM documents
        GROUP BY lang
    """,
    tags=("warc", "source", "html", "llm", "ingest"),
)
def warc_ingest_stats(spark, sf_dir):
    """WARC ingestion front-end (sources/warc.py +
    operators/text.extract_html_text, round 5) — the Common Crawl
    entry point of an LLM data pipeline, ISO 28500 from the published
    spec with zero jars: render each document as an escaped HTML page,
    stage gzip-member-per-record web archives FROM THE EXECUTORS
    (write_warc_dir), scan them back at one-task-per-file parallelism
    (read_warc: header parse, HTTP payload split), recover the visible
    text with the stdlib HTML extractor (script dropped, charrefs
    resolved, whitespace collapsed), and aggregate per language parsed
    from the URL. Escape→extract round-trips the text exactly modulo
    whitespace collapse, so the DuckDB oracle recomputes the same
    counts from raw parquet with one regexp — archive framing, gzip
    members, HTTP split and HTML extraction are all value-hash
    checked."""
    import tempfile

    from ..operators.text import extract_html_text
    from ..sources.warc import read_warc, write_warc_dir

    docs = t(spark, sf_dir, "documents")
    esc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    staged = docs.select(
        F.concat(
            F.lit("http://corpus.example/"),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id"),
        ).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>doc</title>"
                      "<style>p{margin:0}</style></head><body><p>"),
                esc,
                F.lit("</p><script>var tracked = true;</script>"
                      "</body></html>"),
            ),
            "UTF-8",
        ).alias("body"),
    )
    path = tempfile.mkdtemp(prefix="warc_ingest_") + "/archives"
    write_warc_dir(staged.repartition(4), path)
    pages = read_warc(spark, path).select(
        F.regexp_extract("url", r"corpus\.example/([a-z]+)/", 1).alias("lang"),
        F.decode(F.col("body"), "UTF-8").alias("html"),
    )
    text = extract_html_text(pages, "html", "text")
    return text.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.length("text")).alias("n_chars"),
    )


@register(
    "iceberg_export_roundtrip",
    oracle="""
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_parts,
               round(sum(p_retailprice), 2) AS total_price
        FROM part
        GROUP BY p_brand
    """,
    tags=("iceberg", "acid", "lakehouse", "interop", "sink"),
)
def iceberg_export_roundtrip(spark, sf_dir):
    """Iceberg metadata WRITER interop (sources/iceberg.
    export_acid_table, round 5 — symmetric to the Delta export):
    persist part in an engine AcidTable, export its snapshot as
    format-v1 Iceberg metadata in place (Avro manifest + manifest
    list via the spec-pinned codec, vN.metadata.json, real per-file
    record counts from one grouped _metadata scan — no data copied),
    then read it back through the independent pointer walk and
    aggregate. The oracle recomputes from raw parquet, so
    engine-write → Iceberg-metadata export → snapshot read is
    value-hash checked end to end."""
    import tempfile

    from ..sources.acidtable import AcidTable
    from ..sources.iceberg import IcebergTableReader, export_acid_table

    base = t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    path = tempfile.mkdtemp(prefix="iceberg_export_") + "/t"
    AcidTable.create(spark, path, base.repartition(4))
    export_acid_table(spark, path)
    snap = IcebergTableReader(spark, path).read()
    return snap.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("p_retailprice"), 2).alias("total_price"),
    )


@register(
    "avro_roundtrip_stats",
    oracle="""
        SELECT c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(sum(c_acctbal), 2) AS total_bal
        FROM customer
        GROUP BY segment
    """,
    tags=("avro", "source", "sink", "interop"),
)
def avro_roundtrip_stats(spark, sf_dir):
    """Avro source/sink through the pure-Python container codec
    (functions/avrocodec.py + sources/avro_io.py, round 4 — the
    'Avro connector untestable' gap closed with the published spec
    instead of the absent jar): write customer as 4 deflate container
    files from the executors, read them back at one-task-per-file
    parallelism, aggregate. The oracle recomputes from the raw
    parquet, so the full encode → container framing → decode cycle is
    value-hash checked; the wire format itself is pinned to the spec's
    golden bytes in tests/test_avro.py."""
    import tempfile

    from ..sources.avro_io import read_avro_dir, write_avro_dir

    base = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    path = tempfile.mkdtemp(prefix="avro_io_") + "/customer"
    write_avro_dir(base.repartition(4), path, codec="deflate")
    back = read_avro_dir(spark, path)
    return back.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "acid_optimize_compaction",
    oracle="""
        SELECT c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(sum(c_acctbal), 2) AS total_bal
        FROM customer
        GROUP BY segment
    """,
    tags=("acid", "optimize", "layout", "maintenance"),
)
def acid_optimize_compaction(spark, sf_dir):
    """OPTIMIZE as an ACID commit (sources/acidtable.AcidTable.optimize,
    round 4): persist customer as 16 deliberately-small data files,
    bin-pack them through a compaction commit (untouched files carry
    by reference; content is a pure layout change), and aggregate the
    post-optimize snapshot. The oracle recomputes from the raw
    parquet, so create → optimize → snapshot-read is value-hash
    checked end to end; the file-count reduction and old-snapshot
    readability are pinned by tests/test_acidtable.py. The analog of
    Delta's OPTIMIZE — the maintenance verb any streamed-into 100 TB
    table needs on a schedule."""
    import tempfile

    from ..sources.acidtable import AcidTable

    base = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    path = tempfile.mkdtemp(prefix="acid_opt_") + "/t"
    table = AcidTable.create(spark, path, base.repartition(16))
    table.optimize(target_bytes=1 << 30)
    snap = table.read()
    return snap.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "delta_interop_read",
    oracle="""
        SELECT c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(sum(c_acctbal), 2) AS total_bal
        FROM customer
        WHERE c_mktsegment <> 'AUTOMOBILE'
        GROUP BY segment
    """,
    tags=("delta", "lakehouse", "interop", "source"),
)
def delta_interop_read(spark, sf_dir):
    """Delta Lake log-replay interop (sources/deltalog.py, round 4 —
    closes VERDICT r3 'What's missing' #2 within what the image
    allows): stage customer as a protocol-v1 Delta table partitioned
    by market segment (hive-laid-out data files WITHOUT the partition
    column + JSON commit log, exactly PROTOCOL.md's layout), apply a
    metadata-only partition DELETE as a second commit (remove actions,
    zero files rewritten), then read the resulting snapshot back
    through the pure-Python log replay — partition values materialize
    from the log, removed files are tombstoned — and aggregate. The
    oracle recomputes from the raw parquet, so the whole
    write-layout → commit → replay → scan cycle is value-hash checked.
    No delta-spark jar is involved at any step."""
    import tempfile

    from ..sources.deltalog import (
        DeltaLogReader,
        commit_remove_partition,
        create_minimal_table,
    )

    base = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    path = tempfile.mkdtemp(prefix="delta_interop_") + "/t"
    create_minimal_table(spark, path, base, partition_by=["c_mktsegment"])
    commit_remove_partition(spark, path, "c_mktsegment", "AUTOMOBILE")
    snap = DeltaLogReader(spark, path).read()
    return snap.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "delta_column_mapping_read",
    oracle="""
        SELECT n_regionkey,
               CAST(count(*) AS BIGINT) AS n_nations,
               min(n_name) AS first_name
        FROM nation
        GROUP BY n_regionkey
    """,
    tags=("delta", "lakehouse", "interop", "source", "column-mapping"),
)
def delta_column_mapping_read(spark, sf_dir):
    """Delta COLUMN-MAPPING interop (sources/deltalog.py, round 5 —
    VERDICT r4 #2 closed): stage nation as a minReaderVersion-2 table
    with `delta.columnMapping.mode = name` — the data files carry
    PHYSICAL column names (col_<i>__<hash>), logical names live only
    in the schemaString's field metadata, exactly the layout modern
    Delta writers produce — then replay the log, scan with the
    physical schema, restore logical names, and aggregate. The oracle
    recomputes from raw parquet, so the name-mapping path is
    value-hash checked."""
    import tempfile

    from ..sources.deltalog import DeltaLogReader, create_column_mapped_table

    base = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = tempfile.mkdtemp(prefix="delta_cm_") + "/t"
    create_column_mapped_table(spark, path, base)
    snap = DeltaLogReader(spark, path).read()
    return snap.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
    )


@register(
    "delta_row_tracking_read",
    oracle="""
        WITH ranked AS (
            SELECT o_orderkey, o_orderpriority,
                   row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
            FROM orders
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(rid) AS BIGINT) AS sum_row_id,
               CAST(min(rid) AS BIGINT) AS min_row_id,
               CAST(max(rid) AS BIGINT) AS max_row_id
        FROM ranked
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "row-tracking"),
)
def delta_row_tracking_read(spark, sf_dir):
    """ROW TRACKING read (round 8 — the `rowTracking` writer feature
    every new Databricks table carries): stage orders as ONE
    key-sorted file, enable row tracking (baseRowId per add,
    defaultRowCommitVersion, the spec's enablement backfill), and
    read with `with_row_ids=True` — each row's `_row_id` is its
    file's baseRowId + row_index, which on the sorted single-file
    staging equals the global o_orderkey rank, so the DuckDB oracle
    reproduces every id with a window rank and the id assignment is
    value-hash checked (sum/min/max per priority pins the exact id
    set, not just the count)."""
    import tempfile

    from ..sources.deltalog import (
        DeltaLogReader,
        create_minimal_table,
        enable_row_tracking,
    )

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="delta_rowtrack_") + "/t"
    create_minimal_table(spark, path, base, stats=True)
    enable_row_tracking(spark, path)
    snap = DeltaLogReader(spark, path).read(with_row_ids=True)
    return (
        snap.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("_row_id").alias("sum_row_id"),
            F.min("_row_id").alias("min_row_id"),
            F.max("_row_id").alias("max_row_id"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "delta_row_tracking_dml_read",
    oracle="""
        WITH ranked AS (
            SELECT o_orderkey, o_orderpriority,
                   row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
            FROM orders
        ),
        n AS (SELECT count(*) AS total FROM orders),
        live AS (
            SELECT o_orderpriority, rid FROM ranked
            WHERE o_orderkey >= 1000
            UNION ALL
            SELECT '9-REINS' AS o_orderpriority, total + v.i AS rid
            FROM n, (VALUES (0), (1), (2), (3), (4)) AS v(i)
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(rid) AS BIGINT) AS sum_row_id,
               CAST(min(rid) AS BIGINT) AS min_row_id,
               CAST(max(rid) AS BIGINT) AS max_row_id
        FROM live
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "dml", "row-tracking", "lineage"),
)
def delta_row_tracking_dml_read(spark, sf_dir):
    """ROW-TRACKING DML (round 9, VERDICT r8 item 3): stage orders as
    a rowTracking table (enablement backfill: _row_id = global
    o_orderkey rank), then run the id-maintaining DML pair — a
    DV DELETE (o_orderkey < 1000: survivors keep their ids because
    the hit files re-add with their original baseRowId) and an
    APPEND of five '9-REINS' rows whose baseRowIds allocate from the
    rowIdHighWaterMark domain ATOMICALLY with the commit (fresh ids
    N..N+4, disjoint from every id ever assigned — including the
    ones the delete just retired). The read derives ids through the
    standard v3 path; sum/min/max of _row_id per priority pins the
    EXACT id assignment, so 'survivors stable, inserts fresh and
    disjoint' is value-hash checked against the DuckDB rank oracle."""
    import tempfile

    from ..sources.deltalog import (
        DeltaLogReader,
        commit_append,
        create_minimal_table,
        enable_row_tracking,
    )

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="delta_rt_dml_") + "/t"
    create_minimal_table(spark, path, base, stats=True)
    enable_row_tracking(spark, path)
    DeltaLogReader(spark, path).delete_where_dv(
        [("o_orderkey", "<", 1000)]
    )
    commit_append(
        spark,
        path,
        local_frame(
            spark,
            [(90000001 + i, "9-REINS") for i in range(5)],
            "o_orderkey long, o_orderpriority string",
        ).coalesce(1).sortWithinPartitions("o_orderkey"),
    )
    snap = DeltaLogReader(spark, path).read(with_row_ids=True)
    return (
        snap.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("_row_id").alias("sum_row_id"),
            F.min("_row_id").alias("min_row_id"),
            F.max("_row_id").alias("max_row_id"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "delta_type_widening_read",
    oracle="""
        WITH merged AS (
            SELECT o_orderkey, o_orderpriority FROM orders
            WHERE o_orderkey <= 2000000000
            UNION ALL
            SELECT 8000000000 AS o_orderkey, '9-WIDE' AS o_orderpriority
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(max(o_orderkey) AS BIGINT) AS max_key
        FROM merged
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "type-widening", "v3"),
)
def delta_type_widening_read(spark, sf_dir):
    """Delta v3 TYPE WIDENING (round 9): stage orders with o_orderkey
    as INT, then forge the modern-writer shape — logical schema
    widened to LONG with the spec's `delta.typeWidening` conversion
    history and (3,7) feature lists. The read hands Spark the WIDE
    schema over the narrow files (native parquet upcast — no plan
    change, no rewrite), and a MERGE then inserts a row whose key
    NEEDS the wide type (8e9 > int32 range) — the writer obligation:
    new files are written wide while old narrow files keep reading
    alongside. Aggregates are integer-exact so the oracle hash pins
    every upcast value."""
    import json as _json
    import os as _os
    import tempfile

    from ..sources.deltalog import DeltaLogReader, create_minimal_table

    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        "o_orderpriority",
    )
    path = tempfile.mkdtemp(prefix="delta_widen_") + "/t"
    create_minimal_table(
        spark, path, base.repartitionByRange(3, "o_orderkey"), stats=True
    )
    c0 = _os.path.join(path, "_delta_log", f"{0:020d}.json")
    acts = [_json.loads(ln) for ln in open(c0) if ln.strip()]
    for a in acts:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["typeWidening"],
                "writerFeatures": ["typeWidening"],
            }
        if "metaData" in a:
            sch = _json.loads(a["metaData"]["schemaString"])
            sch["fields"][0]["type"] = "long"
            sch["fields"][0]["metadata"] = {
                "delta.typeWidening": [
                    {
                        "fromType": "integer",
                        "toType": "long",
                        "tableVersion": 1,
                    }
                ]
            }
            a["metaData"]["schemaString"] = _json.dumps(sch)
    with open(c0, "w") as fh:
        for a in acts:
            fh.write(_json.dumps(a) + "\n")
    DeltaLogReader(spark, path).merge(
        local_frame(
            spark,
            [(8000000000, "9-WIDE")], "o_orderkey long, o_orderpriority string"
        ),
        "o_orderkey",
    )
    snap = DeltaLogReader(spark, path).read()
    return (
        snap.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("key_sum"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "delta_column_mapping_dml_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(CASE WHEN o_orderkey < 1000
                              THEN o_totalprice * 2
                              ELSE o_totalprice END), 2) AS total_price
        FROM orders
        WHERE o_totalprice < 300000.0
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "dml", "column-mapping"),
)
def delta_column_mapping_dml_read(spark, sf_dir):
    """DML on a COLUMN-MAPPED Delta table with a RENAMED column
    (round 8, VERDICT r7 item 1 — the top real-user refusal closed):
    stage orders as a `delta.columnMapping.mode = name` table, RENAME
    o_totalprice -> price (a metaData-only commit: the physical name
    and every data file stay untouched — the operation column mapping
    exists for), then DELETE the high-value orders and UPDATE the
    low-key ones THROUGH the new logical name. Hit detection reads
    physical stats keys relabelled to logical, rewrites write
    physical column names with fresh physical-keyed stats, and the
    snapshot read restores logical names — the DuckDB oracle replays
    both DML steps from raw parquet, value-hash checking the whole
    logical<->physical round trip."""
    import tempfile

    from ..sources.deltalog import (
        DeltaLogReader,
        create_column_mapped_table,
        rename_mapped_column,
    )

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartitionByRange(6, "o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="delta_cm_dml_") + "/t"
    create_column_mapped_table(spark, path, base, stats=True)
    rename_mapped_column(spark, path, "o_totalprice", "price")
    reader = DeltaLogReader(spark, path)
    reader.delete_where([("price", ">=", 300000.0)])
    reader.update_where([("o_orderkey", "<", 1000)], {"price": "price * 2"})
    snap = DeltaLogReader(spark, path).read()
    return (
        snap.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("price"), 2).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "delta_column_mapping_cdf_feed",
    oracle="""
        SELECT 2 AS commit_version, 'delete' AS change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        FROM orders WHERE o_totalprice >= 300000.0
        UNION ALL
        SELECT 3 AS commit_version, 'update_preimage' AS change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        FROM orders
        WHERE o_orderkey < 1000 AND o_totalprice < 300000.0
        UNION ALL
        SELECT 3 AS commit_version, 'update_postimage' AS change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        FROM orders
        WHERE o_orderkey < 1000 AND o_totalprice < 300000.0
        ORDER BY commit_version, change_type
    """,
    tags=("delta", "lakehouse", "cdf", "column-mapping"),
)
def delta_column_mapping_cdf_feed(spark, sf_dir):
    """CHANGE DATA FEED over a COLUMN-MAPPED, RENAMED-column Delta
    table (round 8 — changes() no longer refuses mapping): the change
    files under _change_data/ carry PHYSICAL column names exactly
    like data files, the feed read resolves them back to the CURRENT
    logical schema (including the rename), and per-commit row sets
    value-hash match a DuckDB replay of the DELETE and UPDATE."""
    import tempfile

    from ..sources.deltalog import (
        DeltaLogReader,
        create_column_mapped_table,
        rename_mapped_column,
    )

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartitionByRange(6, "o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="delta_cm_cdf_") + "/t"
    create_column_mapped_table(spark, path, base, stats=True, cdf=True)
    rename_mapped_column(spark, path, "o_totalprice", "price")  # v1
    reader = DeltaLogReader(spark, path)
    v2 = reader.delete_where([("price", ">=", 300000.0)])
    v3 = reader.update_where(
        [("o_orderkey", "<", 1000)], {"price": "price * 2"}
    )
    assert (v2, v3) == (2, 3)
    ch = DeltaLogReader(spark, path).changes(0, v3)
    return (
        ch.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("sum_key"),
        )
        .orderBy("commit_version", "change_type")
    )


@register(
    "delta_deletion_vectors_read",
    oracle="""
        WITH ranked AS (
            SELECT c_custkey, c_mktsegment,
                   row_number() OVER (ORDER BY c_custkey) - 1 AS pos
            FROM customer
        )
        SELECT c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(c_custkey) AS BIGINT) AS sum_key
        FROM ranked
        WHERE pos % 5 <> 2
        GROUP BY segment
    """,
    tags=("delta", "lakehouse", "interop", "source", "deletion-vectors"),
)
def delta_deletion_vectors_read(spark, sf_dir):
    """Delta DELETION-VECTOR read (sources/deltalog.py +
    functions/roaring.py, round 5): stage customer as one
    c_custkey-sorted data file, commit a reader-v3 deletion vector
    ('u' storage: RoaringBitmapArray payload in a uuid-named .bin
    with Z85 path encoding — the layout real writers produce)
    tombstoning every 5th position, then read the snapshot back — the
    reader decodes the bitmap EXECUTOR-SIDE and anti-joins
    (file_path, pos) against _metadata.row_index. Because the file is
    key-sorted, position == key rank, so the DuckDB oracle reproduces
    the survivor set from raw parquet with a window rank — the DV
    apply is value-hash checked end to end. No data file was
    rewritten: the protocol's cheap row-level delete."""
    import tempfile

    from ..sources.deltalog import (
        DeltaLogReader,
        commit_deletion_vector,
        create_minimal_table,
    )

    base = (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .repartition(1)
        .sortWithinPartitions("c_custkey")
    )
    path = tempfile.mkdtemp(prefix="delta_dv_") + "/t"
    create_minimal_table(spark, path, base)
    reader = DeltaLogReader(spark, path)
    rel = next(iter(reader._replay(0)[1]))
    n = spark.read.parquet(f"{path}/{rel}").count()
    commit_deletion_vector(
        spark, path, rel, list(range(2, n, 5)), storage="u"
    )
    snap = DeltaLogReader(spark, path).read()
    return snap.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("c_custkey").alias("sum_key"),
    )


@register(
    "delta_export_roundtrip",
    oracle="""
        SELECT s_nationkey,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               round(sum(s_acctbal), 2) AS total_bal
        FROM supplier
        GROUP BY s_nationkey
    """,
    tags=("delta", "acid", "lakehouse", "interop", "sink"),
)
def delta_export_roundtrip(spark, sf_dir):
    """Delta log WRITER interop (sources/deltalog.export_acid_table,
    round 5 — VERDICT r4 #5): persist supplier in an engine AcidTable,
    export its snapshot as a Delta transaction log in place (protocol
    + metaData + URL-encoded relative adds with per-file
    numRecords/min/max/nullCount stats — no data copied), then read it
    back through the independent protocol replay and aggregate. The
    oracle recomputes from raw parquet, so engine-write → Delta-log
    export → protocol read is value-hash checked end to end."""
    import tempfile

    from ..sources.acidtable import AcidTable
    from ..sources.deltalog import DeltaLogReader, export_acid_table

    base = t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    path = tempfile.mkdtemp(prefix="delta_export_") + "/t"
    AcidTable.create(spark, path, base.repartition(4))
    export_acid_table(spark, path)
    snap = DeltaLogReader(spark, path).read()
    return snap.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
    )


@register(
    "full_outer_nation_balance",
    oracle="""
        SELECT coalesce(cs.n_nationkey, ss.n_nationkey) AS n_nationkey,
               coalesce(cust_bal, 0.0) AS cust_bal,
               coalesce(supp_bal, 0.0) AS supp_bal
        FROM (
            SELECT c_nationkey AS n_nationkey, round(sum(c_acctbal), 2) AS cust_bal
            FROM customer GROUP BY c_nationkey
        ) cs
        FULL OUTER JOIN (
            SELECT s_nationkey AS n_nationkey, round(sum(s_acctbal), 2) AS supp_bal
            FROM supplier GROUP BY s_nationkey
        ) ss ON cs.n_nationkey = ss.n_nationkey
    """,
    tags=("join", "outer"),
)
def full_outer_nation_balance(spark, sf_dir):
    """Full outer join of two aggregates — nations may have customers
    but no suppliers (or vice versa); both sides preserved, gaps
    zero-filled."""
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cs = c.groupBy(F.col("c_nationkey").alias("n_nationkey")).agg(
        F.round(F.sum("c_acctbal"), 2).alias("cust_bal")
    )
    ss = s.groupBy(F.col("s_nationkey").alias("n_nationkey")).agg(
        F.round(F.sum("s_acctbal"), 2).alias("supp_bal")
    )
    return (
        cs.join(ss, "n_nationkey", "full_outer")
        .na.fill({"cust_bal": 0.0, "supp_bal": 0.0})
    )


@register(
    "dq_customer_report",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN c_name IS NOT NULL THEN 0 ELSE 1 END)
                    AS BIGINT) AS name_not_null,
               CAST(sum(CASE WHEN c_acctbal BETWEEN -1000 AND 10000 THEN 0
                             ELSE 1 END) AS BIGINT) AS acctbal_in_band,
               CAST(sum(CASE WHEN c_mktsegment IN
                        ('BUILDING','AUTOMOBILE','MACHINERY','HOUSEHOLD',
                         'FURNITURE') THEN 0 ELSE 1 END) AS BIGINT)
                   AS segment_known,
               CAST(sum(CASE WHEN c_custkey >= 0 THEN 0 ELSE 1 END)
                    AS BIGINT) AS key_nonneg
        FROM customer
    """,
    tags=("quality", "agg"),
)
def dq_customer_report(spark, sf_dir):
    """Data-quality expectations in ONE scan: four row-local rules fold
    into a single conditional aggregate (adding a rule adds a counter,
    never a pass over the 100 TB table). The engine-level replacement
    for the reference's unenforced MySQL constraints (SURVEY.md §1.3);
    FK integrity has its own anti-join check (fk_orphan_counts), key
    uniqueness its own distinct (operators/quality.duplicate_key_count
    — a shuffle, deliberately opt-in)."""
    from ..operators.quality import expect_report

    c = t(spark, sf_dir, "customer")
    return expect_report(
        c,
        name_not_null=F.col("c_name").isNotNull(),
        acctbal_in_band=F.col("c_acctbal").between(-1000, 10000),
        segment_known=F.col("c_mktsegment").isin(
            "BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"
        ),
        key_nonneg=F.col("c_custkey") >= 0,
    )


@register(
    "unpivot_part_metrics",
    oracle="""
        SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
        FROM part
    """,
    tags=("reshape", "unpivot"),
)
def unpivot_part_metrics(spark, sf_dir):
    """Wide→long reshape (the inverse of A12's pivot): part's numeric
    metrics melted to (key, metric, value) rows with Spark's native
    `unpivot` (Expand node — one scan emits both rows per input, no
    shuffle, no UDF). The oracle is the portable UNION ALL form."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "quantity_percentiles_by_flag",
    oracle="""
        SELECT l_returnflag,
               round(CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE), 4) AS p25,
               round(CAST(quantile_cont(l_quantity, 0.50) AS DOUBLE), 4) AS p50,
               round(CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE), 4) AS p75
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg", "stats", "window"),
)
def quantity_percentiles_by_flag(spark, sf_dir):
    """PER-GROUP exact interpolated percentiles — the grouped form of
    `quantity_percentiles`: one hash-shuffle on the group key, exact
    `percentile` within each group (group cardinality is small and
    bounded — return flags — so per-group sort cost is constant w.r.t.
    corpus size; unbounded-cardinality columns switch to
    percentile_approx, see sketch.approx_quantiles)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("p75"),
    )


@register(
    "top_parts_per_brand_with_ties",
    oracle="""
        SELECT p_brand, l_partkey, cnt, CAST(rk AS INT) AS rk FROM (
            SELECT p_brand, l_partkey, cnt,
                   rank() OVER (PARTITION BY p_brand ORDER BY cnt DESC) AS rk
            FROM (
                SELECT p_brand, l_partkey, count(*) AS cnt
                FROM lineitem JOIN part ON p_partkey = l_partkey
                GROUP BY p_brand, l_partkey
            )
        ) WHERE rk <= 2
    """,
    tags=("window", "topk", "rank"),
)
def top_parts_per_brand_with_ties(spark, sf_dir):
    """Per-group top-k WITH ties — rank() instead of row_number(), so
    equally-counted parts all surface (the SQL-standard tie semantics
    the reference's argsort slice cannot express). Partitioned window:
    one shuffle on the brand key, WindowGroupLimit pushdown prunes
    per-partition before the full sort materializes."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem").select("l_partkey")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    counts = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("cnt"))
    return (
        counts.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 2)
        .select("p_brand", "l_partkey", "cnt", "rk")
    )


@register(
    "mad_outlier_counts",
    oracle="""
        WITH med AS (
            SELECT CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS m
            FROM lineitem
        ),
        dev AS (
            SELECT CAST(quantile_cont(abs(l_quantity - med.m), 0.5) AS DOUBLE)
                       AS mad, any_value(med.m) AS m
            FROM lineitem, med
        )
        SELECT CAST(count(*) FILTER (
                   WHERE abs(l_quantity - dev.m) > 3 * 1.4826 * dev.mad
               ) AS BIGINT) AS n_outliers,
               CAST(count(*) AS BIGINT) AS n_rows,
               round(dev.m, 4) AS median_qty,
               round(dev.mad, 4) AS mad
        FROM lineitem, dev
        GROUP BY dev.m, dev.mad
    """,
    tags=("agg", "stats", "quality"),
)
def mad_outlier_counts(spark, sf_dir):
    """Robust outlier detection via Median Absolute Deviation — the
    curation-grade alternative to the z-score split (P10): median and
    MAD are unmoved by the very outliers being hunted, where mean/std
    are dragged toward them. Two aggregate passes (median, then median
    of |x - med|), each a 1-row broadcast into the next stage — no
    sort of the full column, no window."""
    li = t(spark, sf_dir, "lineitem").select("l_quantity")
    med = li.agg(F.expr("percentile(l_quantity, 0.5)").alias("m"))
    dev = (
        li.crossJoin(F.broadcast(med))
        .agg(
            F.expr("percentile(abs(l_quantity - m), 0.5)").alias("mad"),
            F.first("m").alias("m"),
        )
    )
    flagged = li.crossJoin(F.broadcast(dev)).agg(
        F.sum(
            F.when(
                F.abs(F.col("l_quantity") - F.col("m")) > 3 * 1.4826 * F.col("mad"), 1
            ).otherwise(0)
        ).cast("long").alias("n_outliers"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.first("m"), 4).alias("median_qty"),
        F.round(F.first("mad"), 4).alias("mad"),
    )
    return flagged


@register(
    "udaf_value_rmse_by_type",
    oracle="""
        SELECT event_type,
               round(sqrt(avg((value - 50.0) * (value - 50.0))), 4) AS rmse_vs_50
        FROM events
        GROUP BY event_type
    """,
    tags=("udf", "agg"),
)
def udaf_value_rmse_by_type(spark, sf_dir):
    """Grouped-aggregate pandas UDF in the driver-checked path
    (SURVEY.md §2.10): per-event-type RMSE of `value` against a fixed
    reference level, computed by the Arrow grouped-agg kernel
    (functions/udfs.rmse_udf) rather than built-ins — so the custom-
    UDAF surface itself is value-hash-checked against SQL. Rounded to
    4dp: numpy's pairwise-summation mean and SQL's sequential avg
    agree to ~1e-12 relative, far inside the rounding grid. The
    built-in sqrt(avg(pow)) form stays the scale path (grouped-agg
    UDFs get no map-side partial aggregation)."""
    from ..functions.udfs import rmse_udf

    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(rmse_udf(F.col("value"), F.lit(50.0)), 4).alias("rmse_vs_50")
    )


@register(
    "scd2_customer_history",
    oracle="""
        WITH base AS (
            SELECT c_custkey AS k, c_acctbal AS bal,
                   CAST(0 AS BIGINT) AS valid_from,
                   CAST(NULL AS BIGINT) AS valid_to,
                   TRUE AS is_current
            FROM customer
        ),
        upd AS (
            SELECT c_custkey AS k, c_acctbal + 100 AS bal,
                   CAST(1000 AS BIGINT) AS ts
            FROM customer WHERE c_custkey % 3 = 0
        )
        SELECT b.k, b.bal, b.valid_from,
               CASE WHEN u.k IS NOT NULL THEN u.ts ELSE b.valid_to END AS valid_to,
               CASE WHEN u.k IS NOT NULL THEN FALSE ELSE b.is_current END AS is_current
        FROM base b LEFT JOIN upd u USING (k)
        UNION ALL
        SELECT k, bal, ts AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
               TRUE AS is_current
        FROM upd
    """,
    tags=("cdc", "scd2", "join"),
)
def scd2_customer_history(spark, sf_dir):
    """SCD Type-2 history application (operators/scd.scd2_apply) in the
    driver-checked path: every third customer receives a changed
    balance at ts=1000; the current version is closed (valid_to set,
    is_current false) and the new version appended open-ended. The
    changed attribute is bal+100 (exact float arithmetic — a *1.1
    would hit the cross-engine half-even rounding trap documented in
    PLANS.md). MERGE-emulation semantics identical to a lakehouse
    MERGE; see sources/lakehouse.py for the jar-gated native form."""
    from ..operators import scd

    c = t(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_acctbal").alias("bal"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("k"),
        (F.col("c_acctbal") + 100).alias("bal"),
        F.lit(1000).cast("long").alias("ts"),
    )
    return scd.scd2_apply(base, updates, "k", "ts", ["bal"])


@register(
    "acid_changes_feed",
    oracle="""
        SELECT c_custkey, c_acctbal * 1.1 AS acctbal,
               'updated' AS src, 'update_postimage' AS _change_type
        FROM customer
        WHERE c_mktsegment = 'BUILDING' AND NOT (c_acctbal * 1.1 < 0)
        UNION ALL
        SELECT c_custkey, c_acctbal AS acctbal, 'base' AS src,
               'delete' AS _change_type
        FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal * 1.1 < 0
        UNION ALL
        SELECT c_custkey + 10000000 AS c_custkey, c_acctbal AS acctbal,
               'new' AS src, 'insert' AS _change_type
        FROM customer
        WHERE c_mktsegment = 'MACHINERY'
    """,
    tags=("acid", "cdc", "merge"),
)
def acid_changes_feed(spark, sf_dir):
    """Change data feed between ACID snapshots (the Delta CDF analog,
    sources/acidtable.AcidTable.changes): create the base table, MERGE
    an update+insert batch (BUILDING balances x1.1; brand-new keys for
    MACHINERY), DELETE the negative updated balances, then diff
    snapshot v0 against the head — every row tagged
    insert/update_postimage/delete, deletes carrying their pre-image.
    The diff is a key-shuffled full-outer join of two file-pruned
    snapshot scans with struct inequality: no change log needed, and
    the tags hash-match the closed-form SQL."""
    import tempfile

    from ..sources.acidtable import AcidTable

    c = t(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey", F.col("c_acctbal").alias("acctbal"), F.lit("base").alias("src")
    )
    updates = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        (F.col("c_acctbal") * 1.1).alias("acctbal"),
        F.lit("updated").alias("src"),
    )
    inserts = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("new").alias("src"),
    )
    path = tempfile.mkdtemp(prefix="acid_cdf_") + "/t"
    table = AcidTable.create(spark, path, base.repartitionByRange(4, "c_custkey"))
    table.merge(updates.unionByName(inserts), "c_custkey")
    table.delete("src = 'updated' AND acctbal < 0")
    return table.changes("c_custkey", 0, table.latest_version())


@register(
    "bloom_pruned_revenue",
    oracle="""
        SELECT o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_totalprice > 300000
        GROUP BY o.o_orderpriority
    """,
    tags=("join", "bloom", "scale"),
    bench=True,  # join-pruning headline: fact rows die before the shuffle
)
def bloom_pruned_revenue(spark, sf_dir):
    """Bloom-style runtime pruning in the driver path
    (operators/bloom.bloom_prune): the selective order set (totalprice
    > 300k) is summarized into a broadcast bucket bitmap that kills
    most lineitem rows BEFORE the join shuffle — at 100 TB the fact
    never shuffles rows the join would discard. The prefilter has
    false positives but never false negatives, so the exact join that
    follows makes prune-then-join semantics-preserving: the oracle is
    the PLAIN join, which is the whole point."""
    from ..operators.bloom import bloom_prune

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    hot = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_orderkey", "o_orderpriority")
    )
    pruned = bloom_prune(li, hot, "l_orderkey", "o_orderkey")
    return (
        pruned.join(hot, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


_PROFILE_NUM = {"c_custkey": 0, "c_nationkey": 0, "c_acctbal": 2}
_PROFILE_STR = ["c_name", "c_mktsegment"]


@register(
    "profile_customer_columns",
    oracle="""
        WITH m AS (
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
        """
    + ",\n".join(
        f"""
               CAST(count(*) - count({c}) AS BIGINT) AS nulls_{c},
               CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c},
               round(CAST(min({c}) AS DOUBLE), {s}) AS mn_{c},
               round(CAST(max({c}) AS DOUBLE), {s}) AS mx_{c}"""
        for c, s in _PROFILE_NUM.items()
    )
    + ","
    + ",\n".join(
        f"""
               CAST(count(*) - count({c}) AS BIGINT) AS nulls_{c},
               CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c},
               min({c}) AS smn_{c},
               max({c}) AS smx_{c}"""
        for c in _PROFILE_STR
    )
    + """
            FROM customer
        )
        """
    + "\nUNION ALL\n".join(
        [
            f"""SELECT '{c}' AS col_name, n_rows, nulls_{c} AS n_nulls,
                nd_{c} AS n_distinct, mn_{c} AS min_num, mx_{c} AS max_num,
                NULL AS min_str, NULL AS max_str FROM m"""
            for c in _PROFILE_NUM
        ]
        + [
            f"""SELECT '{c}' AS col_name, n_rows, nulls_{c} AS n_nulls,
                nd_{c} AS n_distinct, NULL AS min_num, NULL AS max_num,
                smn_{c} AS min_str, smx_{c} AS max_str FROM m"""
            for c in _PROFILE_STR
        ]
    ),
    tags=("profiling", "dq"),
)
def profile_customer_columns(spark, sf_dir):
    """One-pass data profiler (the DQ census every ingest pipeline runs
    first): one output row per column with null count, exact distinct,
    and typed min/max — numerics as rounded doubles, strings as
    strings, never a float pushed through engine-specific string
    formatting. ONE scan computes every metric (multi-distinct
    aggregate), then a zero-input-width unpivot emits the per-column
    rows; at 100 TB the cost is the single scan plus the distinct
    shuffles, not columns x scans."""
    c = t(spark, sf_dir, "customer")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for col, s in _PROFILE_NUM.items():
        aggs += [
            (F.count(F.lit(1)) - F.count(col)).cast("long").alias(f"nulls_{col}"),
            F.countDistinct(col).cast("long").alias(f"nd_{col}"),
            F.round(F.min(col).cast("double"), s).alias(f"mn_{col}"),
            F.round(F.max(col).cast("double"), s).alias(f"mx_{col}"),
        ]
    for col in _PROFILE_STR:
        aggs += [
            (F.count(F.lit(1)) - F.count(col)).cast("long").alias(f"nulls_{col}"),
            F.countDistinct(col).cast("long").alias(f"nd_{col}"),
            F.min(col).alias(f"smn_{col}"),
            F.max(col).alias(f"smx_{col}"),
        ]
    m = c.agg(*aggs)
    rows = []
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    for col in _PROFILE_NUM:
        rows.append(
            m.select(
                F.lit(col).alias("col_name"), "n_rows",
                F.col(f"nulls_{col}").alias("n_nulls"),
                F.col(f"nd_{col}").alias("n_distinct"),
                F.col(f"mn_{col}").alias("min_num"),
                F.col(f"mx_{col}").alias("max_num"),
                null_s.alias("min_str"), null_s.alias("max_str"),
            )
        )
    for col in _PROFILE_STR:
        rows.append(
            m.select(
                F.lit(col).alias("col_name"), "n_rows",
                F.col(f"nulls_{col}").alias("n_nulls"),
                F.col(f"nd_{col}").alias("n_distinct"),
                null_d.alias("min_num"), null_d.alias("max_num"),
                F.col(f"smn_{col}").alias("min_str"),
                F.col(f"smx_{col}").alias("max_str"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "window_functions_acctbal",
    oracle="""
        SELECT c_custkey, c_nationkey,
               row_number() OVER w AS rn,
               rank() OVER w_ties AS rnk,
               dense_rank() OVER w_ties AS drnk,
               percent_rank() OVER w AS prank,
               cume_dist() OVER w AS cdist,
               ntile(4) OVER w AS quartile,
               lag(c_custkey) OVER w AS prev_key,
               lead(c_custkey) OVER w AS next_key
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY c_acctbal DESC, c_custkey),
               w_ties AS (PARTITION BY c_nationkey
                          ORDER BY floor(c_acctbal / 100.0) DESC)
    """,
    tags=("window", "sql-surface"),
)
def window_functions_acctbal(spark, sf_dir):
    """The full ranking-window surface in one query (SURVEY.md §2.5
    breadth): row_number / rank / dense_rank / percent_rank /
    cume_dist / ntile / lag / lead per nation partition. The
    row-addressed functions ride a TOTAL order (balance desc, key);
    rank/dense_rank run over a coarsened key (rounded balance) so ties
    actually exist and the tie semantics are exercised, not vacuously
    equal to row_number. One hash partition by nation — no global
    window."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    # floor(x/100), not round(x, 0), as the tie key: Spark's round
    # decimalizes via the double's SHORTEST repr (BigDecimal.valueOf)
    # while DuckDB rounds the binary value — a single x.4999... vs
    # "x.5" boundary case flips whole rank columns (observed at sf0.1).
    # floor on the binary double is bit-identical on both engines.
    w_ties = Window.partitionBy("c_nationkey").orderBy(
        F.desc(F.floor(F.col("c_acctbal") / 100.0))
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        # UNROUNDED on purpose: these are single IEEE divisions of
        # identical integers ((rank-1)/(n-1), rn/n) — bit-identical on
        # both engines, while round(x, 6) itself can diverge when the
        # quotient's shortest repr straddles a half-ulp boundary
        # (Spark decimalizes the repr, DuckDB rounds the binary —
        # observed on exactly one of 15000 rows at sf0.1)
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("c_custkey").over(w).alias("prev_key"),
        F.lead("c_custkey").over(w).alias("next_key"),
    )


@register(
    "regression_value_by_type",
    oracle="""
        SELECT event_type,
               CAST(regr_count(value, epoch(ts) / 86400.0) AS BIGINT) AS n,
               round(regr_slope(value, epoch(ts) / 86400.0), 6) AS slope,
               round(regr_intercept(value, epoch(ts) / 86400.0), 4) AS intercept,
               round(regr_r2(value, epoch(ts) / 86400.0), 6) AS r2
        FROM events
        GROUP BY event_type
    """,
    tags=("agg", "statistics", "regression"),
)
def regression_value_by_type(spark, sf_dir):
    """Per-group OLS with the SQL-standard regr_* aggregate family —
    the grouped trend-fit every metrics pipeline runs (is `value`
    drifting per event type?), entirely JVM-side built-ins: one
    hash-aggregate pass computing slope/intercept/R² from running
    moments (map-side partial, no per-group collection). x = epoch
    days (timezone-free); moments accumulate in different orders per
    engine, so outputs round at 6/4dp — the drift is ~1e-12 relative,
    far inside the grid."""
    e = t(spark, sf_dir, "events")
    x = (F.col("ts").cast("double") / 86400.0)
    return e.groupBy("event_type").agg(
        F.regr_count(F.col("value"), x).cast("long").alias("n"),
        F.round(F.regr_slope(F.col("value"), x), 6).alias("slope"),
        F.round(F.regr_intercept(F.col("value"), x), 4).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
    )


@register(
    "null_safe_join_counts",
    oracle="""
        WITH a AS (
            SELECT c_custkey,
                   CASE WHEN c_mktsegment = 'BUILDING' THEN NULL
                        ELSE c_nationkey END AS nk
            FROM customer
        ),
        b AS (
            SELECT n_nationkey AS nk, n_name FROM nation
            UNION ALL SELECT NULL, 'UNKNOWN'
        )
        SELECT b.n_name, CAST(count(*) AS BIGINT) AS cnt
        FROM a JOIN b ON a.nk IS NOT DISTINCT FROM b.nk
        GROUP BY b.n_name
    """,
    tags=("join", "sql-surface", "nulls"),
)
def null_safe_join_counts(spark, sf_dir):
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — the
    dirty-dimension pattern: facts with UNKNOWN (NULL) keys still land
    on a designated dimension row instead of silently dropping out of
    an inner join. Spark plans eqNullSafe as a normal hash join on a
    null-coalesced key, so it shuffles like any equi-join (a plain
    `=` would degrade NULL matching to a nested loop or lose rows)."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .alias("nk"),
    )
    n = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk_b"), "n_name"
    ).unionByName(
        t(spark, sf_dir, "nation")
        .limit(1)
        .select(
            F.lit(None).cast("long").alias("nk_b"), F.lit("UNKNOWN").alias("n_name")
        )
    )
    return (
        c.join(n, F.col("nk").eqNullSafe(F.col("nk_b")))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "acid_schema_evolution",
    oracle="""
        WITH building AS (
            SELECT c_custkey, c_acctbal * 1.1 AS acctbal,
                   'gold' AS tier
            FROM customer WHERE c_mktsegment = 'BUILDING'
        ),
        newcomers AS (
            SELECT c_custkey + 20000000 AS c_custkey,
                   c_acctbal AS acctbal, 'new' AS tier
            FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        )
        SELECT c_custkey, c_acctbal AS acctbal, CAST(NULL AS VARCHAR) AS tier
        FROM customer
        WHERE c_mktsegment != 'BUILDING'
        UNION ALL
        SELECT c_custkey, acctbal, tier FROM building
        UNION ALL
        SELECT c_custkey, acctbal, tier FROM newcomers
    """,
    tags=("acid", "schema-evolution"),
)
def acid_schema_evolution(spark, sf_dir):
    """Metadata-only schema evolution on the ACID table
    (`AcidTable.add_column`): create the base (2 columns), ADD a
    `tier` column — an O(1) commit, zero files rewritten — then MERGE
    a batch that uses it (updates + inserts). The final snapshot reads
    pre-evolution rows with tier NULL (old parquet projects the new
    column as null — Delta's exact semantics for defaults-free adds)
    and post-evolution rows with real values; history records the
    add_column op with the file list carried by reference."""
    import tempfile

    from ..sources.acidtable import AcidTable

    c = t(spark, sf_dir, "customer")
    base = c.select("c_custkey", F.col("c_acctbal").alias("acctbal"))
    path = tempfile.mkdtemp(prefix="acid_evo_") + "/t"
    table = AcidTable.create(spark, path, base.repartitionByRange(4, "c_custkey"))
    table.add_column("tier", "string")
    updates = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        (F.col("c_acctbal") * 1.1).alias("acctbal"),
        F.lit("gold").alias("tier"),
    )
    inserts = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        (F.col("c_custkey") + 20_000_000).alias("c_custkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("new").alias("tier"),
    )
    table.merge(updates.unionByName(inserts), "c_custkey")
    return table.read()


@register(
    "delta_stats_skipping_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '2000-01-01'
          AND o_totalprice > 1000.0
        GROUP BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "skipping", "source"),
)
def delta_stats_skipping_read(spark, sf_dir):
    """Delta FILE SKIPPING from per-add `stats` (sources/skipping.py +
    deltalog.read(predicates=...), round 5): stage orders as a Delta
    table range-clustered on order date into 8 files with per-file
    minValues/maxValues/nullCount stats (PROTOCOL.md "Per-file
    Statistics"), then read with a conjunctive predicate — the reader
    prunes files DRIVER-SIDE from the log stats (no data IO for
    skipped files; at 100 TB this is what makes a selective query
    touch 1/100th of the files before Spark even lists them) and
    re-applies the predicate as a real filter, so the result is exact.
    The DuckDB oracle recomputes from raw parquet with the same WHERE,
    value-hash checking prune + residual end to end. The reference has
    no metadata layer at all (whole-CSV reads, Part_A_Q1.py:21)."""
    import datetime
    import tempfile

    from ..sources.deltalog import DeltaLogReader, create_minimal_table

    base = (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_date"),
            "o_totalprice",
            "o_orderpriority",
        )
        .repartitionByRange(8, "o_date")
    )
    path = tempfile.mkdtemp(prefix="delta_skip_") + "/t"
    create_minimal_table(spark, path, base, stats=True)
    reader = DeltaLogReader(spark, path)
    snap = reader.read(
        predicates=[
            ("o_date", ">=", datetime.date(2000, 1, 1)),
            ("o_totalprice", ">", 1000.0),
        ]
    )
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "delta_partition_pruning_read",
    oracle="""
        SELECT c_nationkey,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(sum(c_acctbal), 2) AS total_bal
        FROM customer
        WHERE c_nationkey IN (1, 3, 5, 7) AND c_acctbal > 0.0
        GROUP BY c_nationkey
    """,
    tags=("delta", "lakehouse", "skipping", "source"),
)
def delta_partition_pruning_read(spark, sf_dir):
    """Delta PARTITION PRUNING composed with stats skipping (round 5):
    stage customer hive-partitioned by nation key (25 partition
    directories, partition values live ONLY in the log), read with an
    IN-list on the partition column plus a stats predicate on account
    balance — partition values evaluate EXACTLY (a file's partition
    value is constant), so 21 of 25 partition groups never reach the
    scan, and the balance predicate prunes further on per-file stats.
    Typed partition comparison (int) is exercised on the pruning path;
    the oracle recomputes from raw parquet with the same WHERE."""
    import tempfile

    from ..sources.deltalog import DeltaLogReader, create_minimal_table

    base = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    path = tempfile.mkdtemp(prefix="delta_prune_") + "/t"
    create_minimal_table(
        spark, path, base, partition_by=["c_nationkey"], stats=True
    )
    reader = DeltaLogReader(spark, path)
    snap = reader.read(
        predicates=[
            ("c_nationkey", "in", [1, 3, 5, 7]),
            ("c_acctbal", ">", 0.0),
        ]
    )
    return snap.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "iceberg_bounds_skipping_read",
    oracle="""
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_parts,
               round(sum(p_retailprice), 2) AS total_retail
        FROM part
        WHERE p_partkey <= 100 AND p_size >= 10
        GROUP BY p_brand
    """,
    tags=("iceberg", "lakehouse", "skipping", "source"),
)
def iceberg_bounds_skipping_read(spark, sf_dir):
    """Iceberg FILE SKIPPING from manifest column bounds
    (sources/skipping.py + iceberg.read(predicates=...), round 5):
    stage part range-clustered on part key into 6 files whose manifest
    entries carry lower_bounds / upper_bounds / null_value_counts —
    field-id keyed maps of the spec's Appendix-D binary single-value
    serialization, written AND decoded by this repo's own codecs — and
    read with a conjunctive predicate. Files provably outside the
    bounds never reach the parquet scan (driver-side manifest math,
    the spec's own scan-planning design); the residual filter keeps
    the result exact, value-hash checked against DuckDB on raw
    parquet."""
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_minimal_table

    base = (
        t(spark, sf_dir, "part")
        .select("p_partkey", "p_brand", "p_size", "p_retailprice")
        .repartitionByRange(6, "p_partkey")
    )
    path = tempfile.mkdtemp(prefix="iceberg_skip_") + "/t"
    create_minimal_table(spark, path, base, bounds=True)
    reader = IcebergTableReader(spark, path)
    snap = reader.read(
        predicates=[("p_partkey", "<=", 100), ("p_size", ">=", 10)]
    )
    return snap.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("p_retailprice"), 2).alias("total_retail"),
    )


@register(
    "delta_incremental_append_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
        WHERE o_orderkey % 3 <> 0
        GROUP BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "incremental", "source"),
)
def delta_incremental_append_read(spark, sf_dir):
    """Delta INCREMENTAL (append-diff) read
    (DeltaLogReader.incremental, round 5) — the continuous-ingest
    primitive: stage orders thirds as version 0 plus two append
    commits, then read ONLY what versions 1-2 added. The reader walks
    just the in-range JSON commits and scans their dataChange=true
    add actions; at 100 TB a pipeline re-run touches the appended
    files, never the table, and the commit walk itself is driver-side
    metadata. Data-removing commits refuse loudly on this path
    (tests/test_incremental.py); OPTIMIZE-shaped dataChange=false
    reorganizations are invisible. The oracle recomputes the appended
    subset from raw parquet."""
    import tempfile

    from ..sources.deltalog import (
        DeltaLogReader,
        commit_append,
        create_minimal_table,
    )

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="delta_inc_") + "/t"
    create_minimal_table(spark, path, base.filter("o_orderkey % 3 = 0"))
    commit_append(spark, path, base.filter("o_orderkey % 3 = 1"))
    commit_append(spark, path, base.filter("o_orderkey % 3 = 2"))
    inc = DeltaLogReader(spark, path).incremental(0)
    return inc.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_sum"),
    )


@register(
    "delta_incremental_dv_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
        WHERE o_orderkey % 3 = 1
        GROUP BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "incremental", "dv", "source"),
)
def delta_incremental_dv_read(spark, sf_dir):
    """Delta INCREMENTAL read SPANNING a DV delete and an OPTIMIZE
    (round 9, VERDICT r8 item 4 — reusing the CDF derivation): stage
    a third of orders at v0, append another third at v1, DV-DELETE
    the small keys at v2 (a transition: the hit file re-adds with a
    bitmap, rows were deleted, none appended — so it contributes
    nothing and must not refuse), then OPTIMIZE at v3 (dataChange=
    false rewrite purging the vectors — a reorganization, invisible
    by definition). incremental(0) returns exactly v1's appends,
    captured AS OF their append commit (the later DV delete has no
    append-only rendering, so appended-then-deleted rows still
    appear — the documented at-append-time contract). The oracle is
    just the appended third from raw parquet."""
    import tempfile

    from ..sources.deltalog import (
        DeltaLogReader,
        commit_append,
        create_minimal_table,
    )

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="delta_inc_dv_") + "/t"
    create_minimal_table(
        spark, path, base.filter("o_orderkey % 3 = 0"), stats=True
    )
    commit_append(
        spark, path, base.filter("o_orderkey % 3 = 1"), stats=True
    )
    DeltaLogReader(spark, path).delete_where_dv(
        [("o_orderkey", "<", 500)]
    )
    DeltaLogReader(spark, path).optimize()
    inc = DeltaLogReader(spark, path).incremental(0)
    return inc.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_sum"),
    )


@register(
    "iceberg_incremental_read",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE doc_id % 2 = 1
        GROUP BY lang
    """,
    tags=("iceberg", "lakehouse", "incremental", "source"),
)
def iceberg_incremental_read(spark, sf_dir):
    """Iceberg INCREMENTAL append scan
    (IcebergTableReader.incremental, round 5): stage even documents as
    the first snapshot, append the odd ones as a second, then read the
    snapshot DIFF — driver-side manifest math selects exactly the
    appended data files (Iceberg's own incremental-scan design).
    Ranges that are not append-only (new delete files, removed data
    files) refuse loudly (tests/test_incremental.py). The oracle
    recomputes the appended subset from raw parquet."""
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        append_data_snapshot,
        create_minimal_table,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_inc_") + "/t"
    create_minimal_table(spark, path, docs.filter("doc_id % 2 = 0"))
    reader = IcebergTableReader(spark, path)
    first = reader.metadata()["current-snapshot-id"]
    append_data_snapshot(spark, path, docs.filter("doc_id % 2 = 1"), sequence=1)
    inc = IcebergTableReader(spark, path).incremental(first)
    return inc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "acid_stats_skipping_read",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_rows,
               round(sum(l_extendedprice), 2) AS total_price
        FROM lineitem
        WHERE l_partkey <= 200 AND l_suppkey <= 25
        GROUP BY l_returnflag
    """,
    tags=("acid", "lakehouse", "skipping", "zorder"),
)
def acid_stats_skipping_read(spark, sf_dir):
    """AcidTable NATIVE file skipping composed with OPTIMIZE ZORDER
    (sources/acidtable.py, round 5): create the engine's own ACID
    table with stats maintenance on (every commit keeps per-file
    min/max/nullCount in the manifest — carried files keep their
    entry, only new files pay one profiling scan), Z-ORDER it on
    (l_partkey, l_suppkey) so each rewritten file covers a tight
    2-D bounding box, then read with a two-sided box predicate — the
    manifest stats prune files driver-side, which is the Z-order
    payoff made metadata-visible (parquet footers prune row groups
    only AFTER scheduling a task per file). The residual filter keeps
    the result exact; the oracle recomputes from raw parquet with the
    same WHERE."""
    import tempfile

    from ..sources.acidtable import AcidTable

    base = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_returnflag"
    )
    path = tempfile.mkdtemp(prefix="acid_skip_") + "/t"
    table = AcidTable.create(
        spark, path, base.repartitionByRange(8, "l_partkey"), stats=True
    )
    table.optimize(
        target_bytes=128 << 10, zorder_by=("l_partkey", "l_suppkey")
    )
    snap = table.read(
        predicates=[("l_partkey", "<=", 200), ("l_suppkey", "<=", 25)]
    )
    return snap.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


@register(
    "delta_dml_delete_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        GROUP BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "dml", "skipping"),
)
def delta_dml_delete_read(spark, sf_dir):
    """DELETE WHERE on an externally-written Delta table
    (DeltaLogReader.delete_where, round 5 — the write half of DML
    interop): stage orders range-clustered on order date with
    per-file stats, DELETE the pre-1997 rows as ONE Delta commit —
    file skipping drives the WRITE side exactly as it drives reads:
    files provably past the cutoff carry by reference (zero IO), only
    the boundary files rewrite their survivors (with fresh stats
    attached), fully-deleted files become remove actions — then read
    the snapshot back and aggregate. The DuckDB oracle recomputes the
    surviving set from raw parquet, so the prune/rewrite/commit/replay
    cycle is value-hash checked end to end."""
    import datetime
    import tempfile

    from ..sources.deltalog import DeltaLogReader, create_minimal_table

    base = (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_date"),
            "o_totalprice",
            "o_orderpriority",
        )
        .repartitionByRange(8, "o_date")
    )
    path = tempfile.mkdtemp(prefix="delta_dml_") + "/t"
    create_minimal_table(spark, path, base, stats=True)
    reader = DeltaLogReader(spark, path)
    reader.delete_where([("o_date", "<", datetime.date(1997, 1, 1))])
    snap = reader.read()
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def _stage_dv_orders(spark, sf_dir):
    """Shared staging for the deletion-vector DML queries: orders
    range-clustered on key with per-file stats, then TWO overlapping
    predicate deletes via delete_where_dv — high-price rows first,
    low-key rows second — so the second commit must merge bitmaps on
    files the first one already vectorized."""
    import tempfile

    from ..sources.deltalog import DeltaLogReader, create_minimal_table

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartitionByRange(6, "o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="delta_dv_dml_") + "/t"
    create_minimal_table(spark, path, base, stats=True)
    reader = DeltaLogReader(spark, path)
    v1 = reader.delete_where_dv([("o_totalprice", ">=", 300000.0)])
    v2 = reader.delete_where_dv([("o_orderkey", "<", 1000)])
    return reader, v1, v2


@register(
    "delta_dv_delete_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        FROM orders
        WHERE o_totalprice < 300000.0 AND o_orderkey >= 1000
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "dml", "deletion-vectors", "skipping"),
)
def delta_dv_delete_read(spark, sf_dir):
    """Predicate-driven DELETE via DELETION VECTORS on an
    externally-written Delta table (DeltaLogReader.delete_where_dv,
    round 7): two overlapping deletes commit as RoaringBitmapArray
    vectors — zero data files rewritten, the reader-v3 fast path
    real Delta 3.x writers take. File skipping prunes the candidate
    scan (provably-unaffected files need no action), matching
    positions compute distributed over _metadata.row_index with
    existing tombstones anti-joined out, and the second commit MERGES
    its bitmap with the first one's on shared files. The snapshot
    read then decodes the vectors executor-side and anti-joins them
    away; the DuckDB oracle recomputes the survivor set from raw
    parquet, so prune → position-scan → bitmap-merge → commit →
    replay → DV-apply is value-hash checked end to end."""
    reader, _v1, _v2 = _stage_dv_orders(spark, sf_dir)
    snap = reader.read()
    return (
        snap.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "delta_dv_update_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(CASE WHEN o_totalprice >= 400000.0
                              THEN o_totalprice * 2
                              ELSE o_totalprice END), 2) AS total_price
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "dml", "deletion-vectors", "skipping"),
)
def delta_dv_update_read(spark, sf_dir):
    """MERGE-ON-READ UPDATE on an externally-written Delta table
    (DeltaLogReader.update_where_dv, round 7): double the price of
    every high-value order as ONE commit that tombstones the matched
    rows via deletion vectors and appends their updated images — no
    existing data file rewrites, cost ∝ matched rows (the DV-era
    UPDATE shape; the Delta analog of this repo's Iceberg
    merge-on-read update). The snapshot read applies the bitmaps
    executor-side and unions the image file in; the DuckDB oracle
    replays the assignment from raw parquet, so skip → position-scan
    → vector+append commit → replay is value-hash checked end to
    end."""
    import tempfile

    from ..sources.deltalog import DeltaLogReader, create_minimal_table

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartitionByRange(6, "o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="delta_dv_upd_") + "/t"
    create_minimal_table(spark, path, base, stats=True)
    reader = DeltaLogReader(spark, path)
    reader.update_where_dv(
        [("o_totalprice", ">=", 400000.0)],
        {"o_totalprice": "o_totalprice * 2"},
    )
    snap = reader.read()
    return (
        snap.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "delta_dv_cdf_feed",
    oracle="""
        SELECT 1 AS commit_version, 'delete' AS change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        FROM orders WHERE o_totalprice >= 300000.0
        UNION ALL
        SELECT 2 AS commit_version, 'delete' AS change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        FROM orders
        WHERE o_orderkey < 1000 AND o_totalprice < 300000.0
        ORDER BY commit_version
    """,
    tags=("delta", "lakehouse", "cdf", "deletion-vectors"),
)
def delta_dv_cdf_feed(spark, sf_dir):
    """CHANGE DATA FEED over deletion-vector commits
    (DeltaLogReader.changes + _dv_transition_deletes, round 7): DV
    deletes write NO cdc files — the feed derives each commit's
    deleted rows from its bitmap DIFF (new minus previous vector)
    against the untouched, immutable data file, exactly Delta's own
    CDF-with-DV semantics. The second delete overlaps the first, so
    the oracle's per-commit row sets only match if already-tombstoned
    rows never re-emit — the no-re-emit contract is value-hash
    checked, commit by commit."""
    reader, v1, v2 = _stage_dv_orders(spark, sf_dir)
    ch = reader.changes(0, v2)
    return (
        ch.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("sum_key"),
        )
        .orderBy("commit_version")
    )


@register(
    "delta_dv_born_cdf_feed",
    oracle="""
        WITH sel AS (
            SELECT o_orderkey + 10000000 AS k,
                   o_orderkey AS orig,
                   row_number() OVER (ORDER BY o_orderkey) AS rk
            FROM orders WHERE o_orderkey < 4000
        )
        SELECT 1 AS commit_version, 'insert' AS change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(k) AS BIGINT) AS sum_key
        FROM sel WHERE rk > 50
        UNION ALL
        SELECT 2 AS commit_version, 'delete' AS change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(k) AS BIGINT) AS sum_key
        FROM sel WHERE rk > 50 AND orig < 2000
        ORDER BY commit_version
    """,
    tags=("delta", "lakehouse", "cdf", "deletion-vectors"),
)
def delta_dv_born_cdf_feed(spark, sf_dir):
    """CHANGE DATA FEED over a file BORN WITH a deletion vector —
    the Databricks/photon MERGE commit shape (add + DV in one
    action) that round 7 still refused (VERDICT r7 item 2): the
    birth-tombstoned positions were never visible, so the feed
    renders only the live complement as inserts, and a LATER
    delete_where_dv on the same file diffs its grown bitmap against
    the BIRTH bitmap (not an empty one) — birth-dead rows never
    re-emit as deletes. The new file is written key-sorted so the
    dead position set maps onto the 50 smallest keys; the DuckDB
    oracle replays that rank split, value-hash checking both the
    insert complement and the growth diff commit by commit."""
    import tempfile

    from ..sources.deltalog import (
        DeltaLogReader,
        commit_add_with_dv,
        create_minimal_table,
    )

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartitionByRange(6, "o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="delta_dv_born_") + "/t"
    create_minimal_table(spark, path, base, stats=True)
    new_rows = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            "o_totalprice",
            "o_orderpriority",
        )
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    commit_add_with_dv(spark, path, new_rows, list(range(50)))
    reader = DeltaLogReader(spark, path)
    v2 = reader.delete_where_dv(
        [("o_orderkey", ">=", 10_000_000), ("o_orderkey", "<", 10_002_000)]
    )
    ch = reader.changes(0, v2)
    return (
        ch.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("sum_key"),
        )
        .orderBy("commit_version")
    )


@register(
    "delta_v2_checkpoint_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        GROUP BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "checkpoint"),
)
def delta_v2_checkpoint_read(spark, sf_dir):
    """Read a Delta table whose log has been compacted into a
    PROTOCOL.md V2 CHECKPOINT — the reader-v3 `v2Checkpoint` layout
    Delta 3.x writers produce (UUID-named manifest + file actions in
    `_delta_log/_sidecars/*.parquet`) that round 6 still refused
    (VERDICT r5/r6 missing item 1): stage orders, DELETE the pre-1996
    rows as a Delta commit, write the v2 checkpoint, then VACUUM every
    JSON commit it covers — the snapshot must replay purely from
    manifest + sidecar (protocol/metaData from the manifest, the live
    add set from the sidecar parquet, v2Checkpoint feature accepted,
    anything more still refusing loudly). The DuckDB oracle recomputes
    the surviving set from raw parquet, so the
    checkpoint-write/manifest-walk/sidecar-resolve/replay cycle is
    value-hash checked end to end."""
    import datetime
    import os as _os
    import tempfile

    from ..sources.deltalog import DeltaLogReader, create_minimal_table

    base = (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_date"),
            "o_totalprice",
            "o_orderpriority",
        )
        .repartitionByRange(8, "o_date")
    )
    path = tempfile.mkdtemp(prefix="delta_v2cp_") + "/t"
    create_minimal_table(spark, path, base, stats=True)
    reader = DeltaLogReader(spark, path)
    reader.delete_where([("o_date", "<", datetime.date(1996, 1, 1))])
    cp = reader.write_checkpoint(v2=True)
    log_dir = _os.path.join(path, "_delta_log")
    for v in range(cp + 1):  # vacuumed log tail: only the checkpoint remains
        _os.unlink(_os.path.join(log_dir, f"{v:020d}.json"))
    snap = DeltaLogReader(spark, path).read()
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "iceberg_name_mapping_read",
    oracle="""
        WITH allrows AS (
            SELECT c_custkey AS customer_id, c_mktsegment AS seg
            FROM customer
            UNION ALL
            SELECT c_custkey, c_mktsegment
            FROM customer WHERE c_custkey <= 100
        )
        SELECT seg,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(customer_id) AS BIGINT) AS sum_key
        FROM allrows
        GROUP BY seg
        ORDER BY seg
    """,
    tags=("iceberg", "lakehouse", "interop", "name-mapping"),
)
def iceberg_name_mapping_read(spark, sf_dir):
    """Read a MIGRATED Iceberg table via NAME MAPPING
    (IcebergTableReader._data_scan + `schema.name-mapping.default`,
    round 7 — spec "Column Projection"): stage customer as data files
    WITHOUT parquet field ids (the add_files / Hive-migration shape)
    under old column names, bind them with a name mapping, RENAME a
    column (ids keep it projectable only through the mapping), then
    append an id-carrying Iceberg-written batch — the read must
    resolve id-less files by mapped name → field id → current name
    while the new file projects by id, and union the two scans. The
    DuckDB oracle replays the migration + append from raw parquet, so
    the mixed-projection read is value-hash checked end to end."""
    import json as _json
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        append_data_snapshot,
        create_minimal_table,
    )

    base = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_mktsegment").alias("seg"),
    )
    path = tempfile.mkdtemp(prefix="iceberg_nm_") + "/t"
    create_minimal_table(
        spark,
        path,
        base.repartitionByRange(4, "cust_id"),
        field_ids=False,
        properties={
            "schema.name-mapping.default": _json.dumps(
                [
                    {"field-id": 1, "names": ["cust_id"]},
                    {"field-id": 2, "names": ["seg"]},
                ]
            )
        },
    )
    IcebergTableReader(spark, path).update_schema(
        renames={"cust_id": "customer_id"}
    )
    batch = (
        t(spark, sf_dir, "customer")
        .filter("c_custkey <= 100")
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_mktsegment").alias("seg"),
        )
    )
    append_data_snapshot(spark, path, batch, sequence=1)
    snap = IcebergTableReader(spark, path).read()
    return (
        snap.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("customer_id").alias("sum_key"),
        )
        .orderBy("seg")
    )


@register(
    "iceberg_nested_name_mapping_read",
    oracle="""
        SELECT c_mktsegment AS seg,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c_custkey) AS BIGINT) AS sum_key,
               CAST(count(*) AS BIGINT) AS n_null_tier,
               round(sum(c_acctbal), 2) AS sum_bal
        FROM customer
        GROUP BY seg
        ORDER BY seg
    """,
    tags=("iceberg", "lakehouse", "interop", "name-mapping", "nested"),
)
def iceberg_nested_name_mapping_read(spark, sf_dir):
    """NESTED name mapping (round 8, VERDICT r7 item 5 —
    `IcebergTableReader._resolve_mapped_field`): a Hive-migrated table
    whose id-less files carry a STRUCT column, with BOTH the struct
    and its members renamed since migration. The mapping's nested
    entries resolve member-by-member (file `segment`/`balance` ->
    current `seg`/`bal`), a member the files never had (`tier`) reads
    as typed NULLs per the spec, and the aggregate groups on a nested
    member — so the recursive physical-schema build, the struct
    reconstruction expression, and the null fill are all value-hash
    checked against a raw-parquet DuckDB replay."""
    import json as _json
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_minimal_table

    raw_dir = tempfile.mkdtemp(prefix="iceberg_nested_nm_raw_") + "/raw"
    t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.struct(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_acctbal").alias("balance"),
        ).alias("info_raw"),
    ).repartitionByRange(4, "ck").write.parquet(raw_dir)
    import os as _os

    files = sorted(
        _os.path.join(raw_dir, f)
        for f in _os.listdir(raw_dir)
        if f.endswith(".parquet")
    )
    shape = local_frame(
        spark,
        [],
        "customer_id long, info struct<seg:string, bal:double, tier:string>",
    )
    path = tempfile.mkdtemp(prefix="iceberg_nested_nm_") + "/t"
    # ids: customer_id=1, info=2, nested seg=3, bal=4, tier=5
    create_minimal_table(
        spark,
        path,
        shape,
        field_ids=False,
        existing_files=files,
        properties={
            "schema.name-mapping.default": _json.dumps(
                [
                    {"field-id": 1, "names": ["ck"]},
                    {
                        "field-id": 2,
                        "names": ["info_raw"],
                        "fields": [
                            {"field-id": 3, "names": ["segment"]},
                            {"field-id": 4, "names": ["balance"]},
                            {"field-id": 5, "names": ["level"]},
                        ],
                    },
                ]
            )
        },
    )
    snap = IcebergTableReader(spark, path).read()
    return (
        snap.groupBy(F.col("info.seg").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("customer_id").alias("sum_key"),
            F.sum(F.col("info.tier").isNull().cast("long")).alias(
                "n_null_tier"
            ),
            F.round(F.sum("info.bal"), 2).alias("sum_bal"),
        )
        .orderBy("seg")
    )


@register(
    "iceberg_nested_list_mapping_read",
    oracle="""
        WITH exploded AS (
            SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal
            FROM customer
            UNION ALL
            SELECT c_custkey, 'ALL' AS seg, c_acctbal * 2 AS bal
            FROM customer
        )
        SELECT seg,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_null_tier,
               CAST(sum(c_custkey) AS BIGINT) AS sum_key,
               round(sum(bal), 2) AS sum_bal
        FROM exploded
        GROUP BY seg
        ORDER BY seg
    """,
    tags=("iceberg", "lakehouse", "name-mapping", "nested", "source"),
)
def iceberg_nested_list_mapping_read(spark, sf_dir):
    """Name mapping over a LIST OF STRUCTS (round 9, VERDICT r8 item
    7): id-less migrated files carry `entries_raw
    array<struct<segment, balance>>`; the current schema renames the
    column AND the element members (`entries.seg`/`bal`) and adds a
    member the files never had (`tier`). The element's nested mapping
    entry resolves member-by-member; the physical scan reads the
    file-side names and the logical structs rebuild with `transform`
    (JVM higher-order function — no UDF, no extra shuffle). The
    aggregate explodes the mapped array and groups on a rebuilt
    member, so element order, member renames and the typed-NULL fill
    are all value-hash checked against a raw-parquet DuckDB replay."""
    import json as _json
    import os as _os
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_minimal_table

    raw_dir = tempfile.mkdtemp(prefix="iceberg_listnm_raw_") + "/raw"
    t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.array(
            F.struct(
                F.col("c_mktsegment").alias("segment"),
                F.col("c_acctbal").alias("balance"),
            ),
            F.struct(
                F.lit("ALL").alias("segment"),
                (F.col("c_acctbal") * 2).alias("balance"),
            ),
        ).alias("entries_raw"),
    ).repartitionByRange(4, "ck").write.parquet(raw_dir)
    files = sorted(
        _os.path.join(raw_dir, f)
        for f in _os.listdir(raw_dir)
        if f.endswith(".parquet")
    )
    shape = local_frame(
        spark,
        [],
        "customer_id long, "
        "entries array<struct<seg:string, bal:double, tier:string>>",
    )
    path = tempfile.mkdtemp(prefix="iceberg_listnm_") + "/t"
    # ids: customer_id=1, entries=2; nested depth-first: element=3,
    # seg=4, bal=5, tier=6
    create_minimal_table(
        spark,
        path,
        shape,
        field_ids=False,
        existing_files=files,
        properties={
            "schema.name-mapping.default": _json.dumps(
                [
                    {"field-id": 1, "names": ["ck"]},
                    {
                        "field-id": 2,
                        "names": ["entries_raw"],
                        "fields": [
                            {
                                "field-id": 3,
                                "names": ["element"],
                                "fields": [
                                    {"field-id": 4, "names": ["segment"]},
                                    {"field-id": 5, "names": ["balance"]},
                                    {"field-id": 6, "names": ["level"]},
                                ],
                            }
                        ],
                    },
                ]
            )
        },
    )
    snap = IcebergTableReader(spark, path).read()
    ex = snap.select(
        "customer_id", F.explode("entries").alias("e")
    )
    return (
        ex.groupBy(F.col("e.seg").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("e.tier").isNull().cast("long")).alias(
                "n_null_tier"
            ),
            F.sum("customer_id").alias("sum_key"),
            F.round(F.sum("e.bal"), 2).alias("sum_bal"),
        )
        .orderBy("seg")
    )


@register(
    "iceberg_default_values_read",
    oracle="""
        WITH unioned AS (
            SELECT doc_id, lang, 'legacy' AS source FROM documents
            WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, lang,
                   CASE WHEN doc_id % 3 = 0 THEN NULL ELSE 'web' END
                       AS source
            FROM documents WHERE doc_id % 2 = 1
        )
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        FROM unioned
        GROUP BY lang, source
        ORDER BY lang, source
    """,
    tags=("iceberg", "lakehouse", "schema-evolution", "defaults", "v3"),
)
def iceberg_default_values_read(spark, sf_dir):
    """Iceberg spec-v3 DEFAULT VALUES (round 9): stage even documents,
    ADD a `source` column with initial-default 'legacy', then append
    the odd documents with REAL values — including genuine NULLs for
    every third doc. The read must return the default for exactly the
    pre-add files (per-file footer split, scan-stage conditional) and
    the real values — NULLs included — for the post-add file; the
    grouped aggregate hash-pins all three populations."""
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        append_data_snapshot,
        create_minimal_table,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    path = tempfile.mkdtemp(prefix="iceberg_defaults_") + "/t"
    create_minimal_table(
        spark, path, docs.filter(F.col("doc_id") % 2 == 0).coalesce(1)
    )
    IcebergTableReader(spark, path).update_schema(
        adds=[("source", "string", "legacy")]
    )
    append_data_snapshot(
        spark,
        path,
        docs.filter(F.col("doc_id") % 2 == 1).withColumn(
            "source",
            F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(
                F.lit("web")
            ),
        ),
        sequence=1,
    )
    snap = IcebergTableReader(spark, path).read()
    return (
        snap.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("lang", "source")
    )


@register(
    "iceberg_struct_default_read",
    oracle="""
        WITH unioned AS (
            SELECT doc_id, 'legacy' AS city, CAST(1 AS BIGINT) AS rank
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN NULL ELSE 'web' END AS city,
                   CASE WHEN doc_id % 3 = 0 THEN NULL
                        ELSE CAST(doc_id % 7 AS BIGINT) END AS rank
            FROM documents WHERE doc_id % 2 = 1
        )
        SELECT city,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(rank) AS BIGINT) AS sum_rank,
               CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        FROM unioned
        GROUP BY city
        ORDER BY city
    """,
    tags=("iceberg", "lakehouse", "schema-evolution", "defaults", "v3"),
)
def iceberg_struct_default_read(spark, sf_dir):
    """Spec-v3 initial-default on a NON-PRIMITIVE column (round 10,
    VERDICT r9 item 5): add a struct<city,rank> column whose default
    is the single-value JSON form {"<field-id>": value, ...} —
    default_literal renders it recursively into the per-file
    scan-stage conditional. Pre-add files return the full struct
    default; the post-add file keeps real values including whole-row
    struct NULLs. Projected to scalars for the grouped fingerprint so
    the DuckDB oracle mirrors it with a plain CASE union."""
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        append_data_snapshot,
        create_minimal_table,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id")
    path = tempfile.mkdtemp(prefix="iceberg_structdef_") + "/t"
    create_minimal_table(
        spark, path, docs.filter(F.col("doc_id") % 2 == 0).coalesce(1)
    )
    struct_t = {
        "type": "struct",
        "fields": [
            {"id": 501, "name": "city", "type": "string"},
            {"id": 502, "name": "rank", "type": "long"},
        ],
    }
    IcebergTableReader(spark, path).update_schema(
        adds=[("meta_info", struct_t, {"501": "legacy", "502": 1})]
    )
    append_data_snapshot(
        spark,
        path,
        docs.filter(F.col("doc_id") % 2 == 1).withColumn(
            "meta_info",
            F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(
                F.struct(
                    F.lit("web").alias("city"),
                    (F.col("doc_id") % 7).alias("rank"),
                )
            ),
        ),
        sequence=1,
    )
    snap = IcebergTableReader(spark, path).read()
    return (
        snap.groupBy(F.col("meta_info.city").alias("city"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("meta_info.rank").alias("sum_rank"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("city")
    )


@register(
    "iceberg_snapshot_import_read",
    oracle="""
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(p_partkey) AS BIGINT) AS sum_key
        FROM part
        WHERE p_partkey <= 500
        GROUP BY p_brand
        ORDER BY p_brand
    """,
    tags=("iceberg", "lakehouse", "interop", "migration", "skipping"),
)
def iceberg_snapshot_import_read(spark, sf_dir):
    """ZERO-COPY MIGRATION into Iceberg
    (sources/iceberg.snapshot_parquet_dir, round 7 — the spec
    ecosystem's `snapshot` / `add_files` story): register an existing
    parquet directory as an Iceberg table without copying or
    rewriting a byte — metadata points at the original files by
    absolute URI, an auto-generated name mapping keeps the
    field-id-less files projectable, and per-file bounds compute in
    one grouped scan so predicate skipping works from the first read
    (import cost ∝ metadata, the property that makes migration viable
    at 100 TB). The read prunes on the imported bounds and the DuckDB
    oracle recomputes from the same raw parquet, so import → mapping
    → bounds → pruned read is value-hash checked end to end."""
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        snapshot_parquet_dir,
    )

    base = t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    root = tempfile.mkdtemp(prefix="iceberg_import_")
    raw = root + "/raw"
    base.repartitionByRange(4, "p_partkey").write.parquet(raw)
    path = root + "/t"
    snapshot_parquet_dir(spark, raw, path)
    r = IcebergTableReader(spark, path)
    snap = r.read(predicates=[("p_partkey", "<=", 500)])
    return (
        snap.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("p_partkey").alias("sum_key"),
        )
        .orderBy("p_brand")
    )


@register(
    "iceberg_schema_evolution_read",
    oracle="""
        WITH evolved AS (
            SELECT doc_id, lang, n_chars AS char_count,
                   CAST(NULL AS VARCHAR) AS source
            FROM documents
            UNION ALL
            SELECT doc_id + 10000000, lang, n_chars * 2, lang
            FROM documents WHERE doc_id % 7 = 0
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(char_count) AS BIGINT) AS total_chars,
               CAST(count(source) AS BIGINT) AS n_with_source
        FROM evolved
        GROUP BY lang
    """,
    tags=("iceberg", "lakehouse", "schema-evolution"),
)
def iceberg_schema_evolution_read(spark, sf_dir):
    """Read an Iceberg table ACROSS a schema change (VERDICT r5 item
    4 / r6 item 5): stage documents, commit a new schema version that
    RENAMES n_chars→char_count and ADDS source (update_schema —
    renames keep their field id, adds allocate a fresh one), append a
    post-evolution batch that populates the new column, then read.
    Data files written under the OLD schema must project by FIELD ID
    (spec column resolution — `_scan_schema` +
    spark.sql.parquet.fieldId.read.enabled): their n_chars column
    surfaces as char_count and their source reads null, while the new
    file's values come through. The DuckDB oracle replays the
    evolution from raw parquet, so the id-remap read is value-hash
    checked end to end."""
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        append_data_snapshot,
        create_minimal_table,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_evol_") + "/t"
    create_minimal_table(spark, path, docs.repartitionByRange(4, "doc_id"))
    IcebergTableReader(spark, path).update_schema(
        renames={"n_chars": "char_count"}, adds=[("source", "string")]
    )
    batch = (
        t(spark, sf_dir, "documents")
        .filter("doc_id % 7 = 0")
        .select(
            (F.col("doc_id") + 10000000).alias("doc_id"),
            "lang",
            (F.col("n_chars") * 2).alias("char_count"),
            F.col("lang").alias("source"),
        )
    )
    append_data_snapshot(spark, path, batch, sequence=1)
    snap = IcebergTableReader(spark, path).read()
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("char_count").alias("total_chars"),
        F.count("source").alias("n_with_source"),
    )


@register(
    "iceberg_dml_delete_read",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE NOT (n_chars < 200)
        GROUP BY lang
    """,
    tags=("iceberg", "lakehouse", "dml", "deletes", "skipping"),
)
def iceberg_dml_delete_read(spark, sf_dir):
    """MERGE-ON-READ DELETE on an Iceberg table
    (IcebergTableReader.delete_where, round 5 — the write twin of
    Delta's copy-on-write delete_where): stage documents with manifest
    bounds, DELETE the short documents by writing a format-v2
    POSITION-DELETE file (the spec's cheap-delete design: matching
    (file, row) positions, computed DISTRIBUTED with the scan's
    `_metadata.row_index` and never materialized on the driver) and
    committing a delete snapshot — zero data files rewritten. The
    write side prunes candidate files with the same manifest-bounds
    math as reads, already-tombstoned rows never re-delete
    (idempotence), and the snapshot read back applies the engine's
    own delete file through the standard v2 path. Oracle recomputes
    the survivors from raw parquet."""
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_minimal_table

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_dml_") + "/t"
    create_minimal_table(
        spark, path, docs.repartitionByRange(4, "doc_id"), bounds=True
    )
    reader = IcebergTableReader(spark, path)
    reader.delete_where([("n_chars", "<", 200)])
    snap = IcebergTableReader(spark, path).read()
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "iceberg_avro_data_read",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_chars >= 1000
                             THEN n_chars + 1000000
                             ELSE n_chars END) AS BIGINT) AS total_chars
        FROM documents
        WHERE NOT (n_chars < 200)
        GROUP BY lang
    """,
    tags=("iceberg", "lakehouse", "avro", "dml", "formats"),
)
def iceberg_avro_data_read(spark, sf_dir):
    """AVRO data files in an Iceberg table (round 11, VERDICT r10
    item 3 — `file_format: AVRO`, content=0, the Flink-written /
    migrated-warehouse shape): stage documents as Avro container
    files whose writer schemas carry the spec's `field-id`
    properties, RENAME a column (projection must resolve the current
    name out of the files by id), DELETE the short documents (the
    position-delete write hit-detects over the Avro scan — row
    positions synthesize from record order, exactly the spec's
    `pos`), then UPDATE the long ones (the v2 image file appends as
    parquet, so the final snapshot unions BOTH format branches). The
    scan is one task per Avro file through a by-value mapInPandas
    kernel (deflate blocks are not splittable — spark-avro's own
    granularity); no footer stats exist for Avro files, so the
    file-skipping tier does not apply to them (documented boundary).
    Oracle replays rename+delete+update from raw parquet."""
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_minimal_table

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_avro_") + "/t"
    create_minimal_table(
        spark, path, docs.repartitionByRange(4, "doc_id"),
        data_format="AVRO",
    )
    IcebergTableReader(spark, path).update_schema(
        renames={"n_chars": "char_count"}
    )
    IcebergTableReader(spark, path).delete_where([("char_count", "<", 200)])
    IcebergTableReader(spark, path).update_where(
        [("char_count", ">=", 1000)],
        {"char_count": "char_count + 1000000"},
    )
    snap = IcebergTableReader(spark, path).read()
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("char_count").alias("total_chars"),
    )


@register(
    "iceberg_orc_data_read",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_chars >= 1000
                             THEN n_chars + 1000000
                             ELSE n_chars END) AS BIGINT) AS total_chars
        FROM documents
        WHERE NOT (n_chars < 200)
        GROUP BY lang
    """,
    tags=("iceberg", "lakehouse", "orc", "dml", "formats"),
)
def iceberg_orc_data_read(spark, sf_dir):
    """ORC data files in an Iceberg table (round 12, VERDICT r11 item
    4 — `file_format: ORC`, content=0, the Hive-migrated-warehouse
    shape, previously a pinned refusal): stage documents as ORC files
    whose columns carry the spec's `iceberg.id` attributes, RENAME a
    column (projection resolves the current name by attribute id),
    DELETE the short documents (position-delete hit-detection over the
    ORC scan's synthesized record-order positions), then UPDATE the
    long ones (the v2 image appends as parquet — the final snapshot
    unions both format branches). The scan is HYBRID: plain reads
    ride Spark's NATIVE JVM ORC reader (codegen, vectorized, stripe
    splits — zero Python workers); once row-level deletes exist (as
    here), positions synthesize through a SELF-CONTAINED mapInPandas
    kernel over pyarrow's C++ ORC reader (vectorized, column-pruned —
    unlike the Avro leg, nothing ships by value because pyarrow is a
    PySpark install dependency), because Spark's _metadata.row_index
    is parquet-only. Oracle replays rename+delete+update from raw
    parquet. Same aggregate shape as iceberg_avro_data_read so the
    two format legs are directly comparable."""
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_minimal_table

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_orc_") + "/t"
    create_minimal_table(
        spark, path, docs.repartitionByRange(4, "doc_id"),
        data_format="ORC",
    )
    IcebergTableReader(spark, path).update_schema(
        renames={"n_chars": "char_count"}
    )
    IcebergTableReader(spark, path).delete_where([("char_count", "<", 200)])
    IcebergTableReader(spark, path).update_where(
        [("char_count", ">=", 1000)],
        {"char_count": "char_count + 1000000"},
    )
    snap = IcebergTableReader(spark, path).read()
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("char_count").alias("total_chars"),
    )


@register(
    "delta_dml_update_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(CASE WHEN CAST(o_orderdate AS DATE)
                                   >= DATE '1997-01-01'
                              THEN o_totalprice * 2
                              ELSE o_totalprice END), 2) AS total_price
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "dml", "skipping"),
)
def delta_dml_update_read(spark, sf_dir):
    """UPDATE ... SET ... WHERE on an externally-written Delta table
    (DeltaLogReader.update_where, round 5): stage orders
    range-clustered on order date with per-file stats, double the
    price of every 1997+ order as ONE Delta commit — the same file
    skipping that drives delete_where drives the write side: files
    provably before the cutoff carry by reference (zero IO), only
    may-match files rewrite, applying the assignment as
    CASE WHEN matching THEN expr ELSE col END so non-matching rows in
    boundary files pass through byte-identical (doubling is an exact
    power-of-two scale, so the cross-engine float contract holds).
    The oracle recomputes the update from raw parquet."""
    import datetime
    import tempfile

    from ..sources.deltalog import DeltaLogReader, create_minimal_table

    base = (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_date"),
            "o_totalprice",
            "o_orderpriority",
        )
        .repartitionByRange(8, "o_date")
    )
    path = tempfile.mkdtemp(prefix="delta_upd_") + "/t"
    create_minimal_table(spark, path, base, stats=True)
    reader = DeltaLogReader(spark, path)
    reader.update_where(
        [("o_date", ">=", datetime.date(1997, 1, 1))],
        {"o_totalprice": "o_totalprice * 2"},
    )
    snap = reader.read()
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "delta_dml_merge_read",
    oracle="""
        WITH src AS (
            SELECT o_orderkey,
                   '0-MERGED' AS o_orderpriority,
                   o_totalprice * 2 AS o_totalprice
            FROM orders WHERE o_orderkey % 97 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, '9-NEW', o_totalprice
            FROM orders WHERE o_orderkey % 101 = 0
        ),
        merged AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
            UNION ALL
            SELECT * FROM src
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM merged
        GROUP BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "dml", "merge"),
)
def delta_dml_merge_read(spark, sf_dir):
    """MERGE INTO an externally-written Delta table
    (DeltaLogReader.merge, round 5 — completing the external-DML
    matrix: INSERT/DELETE/UPDATE/MERGE/OPTIMIZE/VACUUM): stage orders
    range-clustered on order key with stats, merge a CDC-shaped batch
    (every-97th order re-priced, every-101st re-keyed as an insert).
    The write side is file-pruned like delete_where: the source key
    range prunes candidates driver-side via stats, an exact
    distributed semi-join on `_metadata.file_path` finds truly-hit
    files, ONLY those rewrite (survivors anti-joined against the
    broadcast key set), everything else carries by reference. The
    oracle replays the merge semantics (anti-join + union) from raw
    parquet."""
    import tempfile

    from ..sources.deltalog import DeltaLogReader, create_minimal_table

    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="delta_mrg_") + "/t"
    create_minimal_table(spark, path, base, stats=True)
    orders = t(spark, sf_dir, "orders")
    source = (
        orders.filter("o_orderkey % 97 = 0")
        .select(
            "o_orderkey",
            F.lit("0-MERGED").alias("o_orderpriority"),
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        )
        .unionByName(
            orders.filter("o_orderkey % 101 = 0").select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                F.lit("9-NEW").alias("o_orderpriority"),
                "o_totalprice",
            )
        )
    )
    reader = DeltaLogReader(spark, path)
    reader.merge(source, "o_orderkey")
    snap = reader.read()
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "iceberg_dml_upsert_read",
    oracle="""
        WITH src AS (
            SELECT doc_id, 'xx' AS lang, n_chars + 1000000 AS n_chars
            FROM documents WHERE doc_id % 13 = 0
            UNION ALL
            SELECT doc_id + 10000000, 'new', n_chars
            FROM documents WHERE doc_id % 17 = 0
        ),
        merged AS (
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM src)
            UNION ALL
            SELECT * FROM src
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM merged
        GROUP BY lang
    """,
    tags=("iceberg", "lakehouse", "dml", "merge", "deletes"),
)
def iceberg_dml_upsert_read(spark, sf_dir):
    """MERGE-ON-READ UPSERT into an Iceberg table
    (IcebergTableReader.upsert, round 5 — the Flink-on-Iceberg write
    shape): stage documents, upsert a CDC-shaped batch (every-13th
    document re-labeled, every-17th re-keyed as an insert) as ONE
    snapshot committing an EQUALITY-DELETE file on doc_id plus a data
    file with the source rows, both at the same new sequence number —
    the spec's strictly-smaller sequence gate (which this reader
    already enforces on scan) deletes old matched rows while the
    appended rows survive their own delete. Zero data files
    rewritten, zero files scanned: upsert cost ∝ batch size, not
    table size. The oracle replays the merge semantics from raw
    parquet."""
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_minimal_table

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_ups_") + "/t"
    create_minimal_table(
        spark, path, docs.repartitionByRange(4, "doc_id"), bounds=True
    )
    source = (
        docs.filter("doc_id % 13 = 0")
        .select(
            "doc_id",
            F.lit("xx").alias("lang"),
            (F.col("n_chars") + 1000000).alias("n_chars"),
        )
        .unionByName(
            docs.filter("doc_id % 17 = 0").select(
                (F.col("doc_id") + 10000000).alias("doc_id"),
                F.lit("new").alias("lang"),
                "n_chars",
            )
        )
    )
    reader = IcebergTableReader(spark, path)
    reader.upsert(source, "doc_id")
    snap = IcebergTableReader(spark, path).read()
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "incremental_mv_maintenance",
    oracle="""
        WITH base AS (
            -- floor(), not bare CAST: DuckDB's double->BIGINT cast
            -- ROUNDS where Spark's truncates (repo rounding contract)
            SELECT o_orderkey, o_orderpriority,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_cents
            FROM orders
        ),
        src AS (
            SELECT o_orderkey,
                   '0-MERGED' AS o_orderpriority,
                   o_cents * 2 AS o_cents
            FROM base WHERE o_orderkey % 97 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, '9-NEW', o_cents
            FROM base WHERE o_orderkey % 101 = 0
        ),
        merged AS (
            SELECT o_orderkey, o_orderpriority, o_cents FROM base
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
            UNION ALL
            SELECT * FROM src
        ),
        final AS (SELECT * FROM merged WHERE o_orderkey % 89 != 0)
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(o_cents) AS BIGINT) AS sum_o_cents
        FROM final
        GROUP BY o_orderpriority
    """,
    tags=("ivm", "acid", "cdf", "agg", "incremental"),
)
def incremental_mv_maintenance(spark, sf_dir):
    """Incremental MATERIALIZED-VIEW maintenance (operators/ivm.py,
    round 5): materialize a grouped count/sum view of an ACID table
    ONCE, then keep it consistent through a MERGE (re-priced +
    inserted orders) and a DELETE using only the table's CHANGE LOG
    (create(cdf=True) + changes_feed — merge/delete persist their
    row-level changes at commit time, so the feed read is O(feed),
    never O(table)): insert/update_postimage rows add,
    delete/update_preimage rows subtract, groups reaching count 0
    leave the view. The base table is scanned exactly once, at
    materialization — every maintenance step costs ∝ the change
    batch, the only viable shape for a standing aggregate over a
    100 TB streamed-into table. The snapshot-diff form
    (AcidTable.changes(preimages=True)) remains for tables without a
    log and is pinned equivalent by tests/test_acid_cdf.py. Sums
    ride an exact integer cents column so the incremental total is
    bit-identical to the oracle's full recompute over the final
    state."""
    import tempfile

    from ..operators import ivm
    from ..sources.acidtable import AcidTable

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice") * 100 + 0.5).cast("long").alias("o_cents"),
    )
    path = tempfile.mkdtemp(prefix="ivm_mv_") + "/t"
    table = AcidTable.create(spark, path, base, cdf=True)
    v0 = table.latest_version()
    view = ivm.initial_view(
        table.read(v0), ["o_orderpriority"], ["o_cents"]
    ).transform(barrier, eager=True)  # the one-and-only base scan, frozen
    source = (
        base.filter("o_orderkey % 97 = 0")
        .select(
            "o_orderkey",
            F.lit("0-MERGED").alias("o_orderpriority"),
            (F.col("o_cents") * 2).alias("o_cents"),
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
    table.delete("o_orderkey % 89 = 0")
    v1 = table.latest_version()
    changes = table.changes_feed(v0, v1)
    delta = ivm.aggregate_delta(changes, ["o_orderpriority"], ["o_cents"])
    return ivm.apply_delta(view, delta, ["o_orderpriority"], ["o_cents"])


@register(
    "delta_cdf_mv_maintenance",
    oracle=_cdf.CDF_DML_CTES + """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(o_cents) AS BIGINT) AS sum_o_cents
        FROM f
        GROUP BY o_orderpriority
    """,
    tags=("delta", "cdf", "ivm", "lakehouse", "incremental"),
)
def delta_cdf_mv_maintenance(spark, sf_dir):
    """Standing aggregate over an EXTERNALLY-written Delta table, kept
    consistent by its CHANGE DATA FEED (round 5): stage orders with
    `delta.enableChangeDataFeed=true`, materialize a per-priority
    count/sum view ONCE, then push the table through UPDATE WHERE
    (urgent orders re-priced ×2), MERGE (every-97th order re-priced ×3
    under a new priority + every-101st re-keyed as an insert) and
    DELETE WHERE (one priority dropped) — each DML commit writes
    protocol-shaped `cdc` actions (update_preimage/update_postimage/
    insert/delete rows under `_change_data/`), `changes()` replays
    them per the protocol's reader contract (cdc actions are the
    complete description when present; pure appends/deletes derive
    from add/remove), and operators/ivm.py folds the signed deltas
    into the view. The base table is scanned once at materialization;
    every maintenance step costs ∝ the change batch. The oracle fully
    recomputes the final state from raw parquet; sums ride an exact
    integer cents column (floor per the double→BIGINT cast
    contract)."""
    from ..operators import ivm

    reader, v0, base = _cdf.stage_cdf_dml_table(spark, sf_dir, "delta_cdf_")
    view = ivm.initial_view(
        reader.read(v0), ["o_orderpriority"], ["o_cents"]
    ).transform(barrier, eager=True)
    v1 = reader.latest_version()
    delta = ivm.aggregate_delta(
        reader.changes(v0, v1), ["o_orderpriority"], ["o_cents"]
    )
    return ivm.apply_delta(view, delta, ["o_orderpriority"], ["o_cents"])


@register(
    "iceberg_dml_update_read",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_chars < 200
                             THEN n_chars + 1000000
                             ELSE n_chars END) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
    """,
    tags=("iceberg", "lakehouse", "dml", "deletes", "skipping"),
)
def iceberg_dml_update_read(spark, sf_dir):
    """MERGE-ON-READ UPDATE on an Iceberg table
    (IcebergTableReader.update_where, round 5 — completing the
    Iceberg DML trio: position-delete DELETE, equality-delete UPSERT,
    and now UPDATE): stage documents with manifest bounds, then bump
    every short document's length in ONE snapshot that writes (a) a
    format-v2 position-delete file tombstoning the matching rows —
    positions computed DISTRIBUTED via `_metadata.row_index` on the
    bounds-pruned candidate files — and (b) a data file appending
    their updated images, with every assignment evaluated against the
    OLD row. Zero existing data files rewritten; the snapshot read
    back applies the delete + append through the standard v2 path.
    Oracle recomputes the update from raw parquet."""
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_minimal_table

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_upd_") + "/t"
    create_minimal_table(
        spark, path, docs.repartitionByRange(4, "doc_id"), bounds=True
    )
    reader = IcebergTableReader(spark, path)
    reader.update_where(
        [("n_chars", "<", 200)], {"n_chars": "n_chars + 1000000"}
    )
    snap = IcebergTableReader(spark, path).read()
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "iceberg_maintenance_read",
    oracle="""
        WITH survivors AS (
            SELECT doc_id, lang, n_chars FROM documents
            WHERE NOT (n_chars < 200) AND doc_id % 13 != 0
        ),
        merged AS (
            SELECT * FROM survivors
            UNION ALL
            SELECT doc_id, 'xx' AS lang, n_chars + 1000000 AS n_chars
            FROM documents
            WHERE doc_id % 13 = 0 AND NOT (n_chars < 200)
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM merged
        GROUP BY lang
    """,
    tags=("iceberg", "lakehouse", "maintenance", "compaction", "dml"),
)
def iceberg_maintenance_read(spark, sf_dir):
    """Full Iceberg TABLE-MAINTENANCE lifecycle (round 5 —
    rewrite_data_files + expire_snapshots, the operational pair every
    long-lived merge-on-read table needs): stage documents with
    bounds, DELETE the short ones (position-delete file), UPSERT a
    relabel batch for the surviving every-13th doc (equality-delete +
    append at one sequence), then COMPACT — one REPLACE snapshot
    whose rewrite APPLIES both delete kinds and leaves zero delete
    files, with column bounds recomputed so file skipping keeps
    working — and EXPIRE the pre-compaction snapshots, physically
    reclaiming the superseded data/delete/manifest files. The final
    read must hash-match the oracle's replay of delete+upsert from
    raw parquet: proof the whole maintenance chain is
    semantics-preserving. At 100 TB compaction is what keeps a
    merge-on-read table scannable (every read before it pays the
    delete anti-joins; every read after it is a clean pruned scan)."""
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_minimal_table

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_maint_") + "/t"
    create_minimal_table(
        spark, path, docs.repartitionByRange(4, "doc_id"), bounds=True
    )
    IcebergTableReader(spark, path).delete_where([("n_chars", "<", 200)])
    upd = (
        docs.filter("doc_id % 13 = 0 AND NOT (n_chars < 200)")
        .select(
            "doc_id",
            F.lit("xx").alias("lang"),
            (F.col("n_chars") + 1000000).alias("n_chars"),
        )
    )
    IcebergTableReader(spark, path).upsert(upd, "doc_id")
    IcebergTableReader(spark, path).compact(target_bytes=32 << 20)
    reader = IcebergTableReader(spark, path)
    reader.expire_snapshots(keep_last=1)
    snap = IcebergTableReader(spark, path).read()
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "delta_cdc_replica_state",
    oracle=_cdf.CDF_DML_CTES + """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(o_cents) AS BIGINT) AS sum_o_cents,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM f
        GROUP BY o_orderpriority
    """,
    tags=("delta", "cdf", "cdc", "replication", "incremental"),
)
def delta_cdc_replica_state(spark, sf_dir):
    """CDC REPLICATION via NET-EFFECT collapse (round 5): keep a
    replica of an external Delta table in sync by consuming its
    change feed — the multi-commit feed (UPDATE + MERGE + DELETE
    here) collapses to ONE upsert batch + ONE delete-key set by
    taking each key's LAST change (window over (_commit_version,
    image-rank): a key updated then deleted nets to delete; deleted
    then re-inserted nets to insert), and the replica state is
    base ⟕anti-join⟖ changed-keys ∪ net-upserts. This is the shape
    every warehouse CDC consumer runs: feed volume ∝ changes, one
    merge round-trip per sync regardless of how many commits landed.
    Row-level fidelity is proven by aggregating keys as well as
    values — the replica must match the source table's final state
    exactly, per the oracle's full replay."""
    from pyspark.sql import Window

    reader, v0, base = _cdf.stage_cdf_dml_table(
        spark, sf_dir, "delta_cdc_repl_"
    )
    replica_base = reader.read(v0).transform(barrier, eager=True)  # initial sync
    ch = reader.changes(v0, reader.latest_version())
    # each key's LAST image wins: order by commit version, then image
    # rank (post-images/inserts/deletes supersede the same commit's
    # pre-image of the same key)
    ranked = ch.withColumn(
        "__rk",
        F.when(F.col("_change_type") == "update_preimage", F.lit(1))
        .when(F.col("_change_type") == "delete", F.lit(2))
        .otherwise(F.lit(3)),  # a key deleted AND (re)inserted in one
        # commit (e.g. RESTORE) nets to present
    )
    w = Window.partitionBy("o_orderkey").orderBy(
        F.desc("_commit_version"), F.desc("__rk")
    )
    last = (
        ranked.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn", "__rk")
    )
    upserts = last.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("o_orderkey", "o_orderpriority", "o_cents")
    changed_keys = last.select("o_orderkey")
    replica = replica_base.join(
        changed_keys, "o_orderkey", "left_anti"
    ).unionByName(upserts)
    return replica.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_cents").alias("sum_o_cents"),
        F.sum("o_orderkey").alias("key_sum"),
    )


@register(
    "iceberg_partitioned_pruned_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        WHERE o_orderstatus = 'F'
          AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        GROUP BY o_orderpriority
    """,
    tags=("iceberg", "lakehouse", "partitioning", "skipping", "source"),
)
def iceberg_partitioned_pruned_read(spark, sf_dir):
    """Read a PARTITIONED Iceberg table with transform-aware partition
    pruning (sources/iceberg_partitions.py, round 7): stage orders
    under the spec identity(o_orderstatus) x month(o_orderdate) — each
    data file's manifest entry records its partition tuple per the
    spec's "Partition Transforms" — and read with predicates on the
    SOURCE columns. Scan planning maps the predicates into the
    partition domain (identity exactly; month via the transformed
    literal with inclusive range bounds — order-preserving transforms
    can't prune strict inequalities tighter) and files in other
    status/month partitions never reach the parquet scan; driver-side
    manifest math only, O(#files). The residual filter keeps the
    result exact, value-hash checked against DuckDB on raw parquet."""
    import datetime
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_partitioned_table

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.to_date("o_orderdate").alias("o_orderdate"),
        "o_orderpriority",
    )
    path = tempfile.mkdtemp(prefix="iceberg_part_") + "/t"
    create_partitioned_table(
        spark,
        path,
        base,
        spec=[("o_orderstatus", "identity"), ("o_orderdate", "month")],
    )
    reader = IcebergTableReader(spark, path)
    snap = reader.read(
        predicates=[
            ("o_orderstatus", "=", "F"),
            ("o_orderdate", "<", datetime.date(1998, 1, 1)),
        ]
    )
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "iceberg_partition_evolution_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01'
        GROUP BY o_orderpriority
    """,
    tags=("iceberg", "lakehouse", "partitioning", "spec-evolution"),
)
def iceberg_partition_evolution_read(spark, sf_dir):
    """Read across a PARTITION-SPEC change (spec "Partition
    Evolution", round 7): half of orders lands under spec 0 =
    year(o_orderdate), the other half appends under spec 1 =
    month(o_orderdate) x bucket[8](o_custkey)
    (append_partitioned_snapshot registers the new spec, moves
    default-spec-id, and stamps the new manifest's
    manifest-list entry with spec-id 1 — old files are NOT
    rewritten). The date predicate then prunes every file under the
    spec it was written with: year-grain for the old files,
    month-grain for the new (the spec's core evolution guarantee —
    pruning degrades to the file's own spec, never breaks). Union
    result value-hash checked against DuckDB on raw parquet."""
    import datetime
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        append_partitioned_snapshot,
        create_partitioned_table,
    )

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.to_date("o_orderdate").alias("o_orderdate"),
    )
    path = tempfile.mkdtemp(prefix="iceberg_specev_") + "/t"
    create_partitioned_table(
        spark,
        path,
        base.filter(F.col("o_orderkey") % 2 == 0),
        spec=[("o_orderdate", "year")],
    )
    append_partitioned_snapshot(
        spark,
        path,
        base.filter(F.col("o_orderkey") % 2 == 1),
        spec=[("o_orderdate", "month"), ("o_custkey", "bucket[8]")],
    )
    reader = IcebergTableReader(spark, path)
    snap = reader.read(
        predicates=[("o_orderdate", ">=", datetime.date(1999, 1, 1))]
    )
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_sum"),
    )


@register(
    "iceberg_hour_partitioned_events",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT)
                   AS epoch_sum
        FROM events
        WHERE epoch(ts) >= 1705708800
        GROUP BY event_type
    """,
    tags=("iceberg", "lakehouse", "partitioning", "skipping", "streaming-adjacent"),
)
def iceberg_hour_partitioned_events(spark, sf_dir):
    """HOUR-grain Iceberg partitioning on a TIMESTAMP column (round
    7) — the event-log layout every ingest pipeline lands on: stage
    events under hour(ts) (partition values are UTC epoch-hours
    computed with session-TZ-free epoch math; F.year/F.hour on a
    timestamp would bake the stager's time zone into the table
    layout), then read the trailing window with a tz-AWARE literal
    (naive datetimes can't prune — Spark's residual filter interprets
    them in the session zone, so the planner conservatively keeps
    everything rather than risk a zone-skewed skip). ~460 of 720
    hour partitions never reach the scan. Epochs aggregated as longs:
    session-timezone-free, value-hash checked against DuckDB."""
    import datetime
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_partitioned_table

    base = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    path = tempfile.mkdtemp(prefix="iceberg_hourpart_") + "/t"
    create_partitioned_table(spark, path, base, spec=[("ts", "hour")])
    reader = IcebergTableReader(spark, path)
    cut = datetime.datetime(2024, 1, 20, tzinfo=datetime.timezone.utc)
    snap = reader.read(predicates=[("ts", ">=", cut)])
    return snap.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.unix_timestamp("ts")).alias("epoch_sum"),
    )


@register(
    "iceberg_partitions_metadata_table",
    oracle="""
        SELECT CAST(year(CAST(o_orderdate AS DATE)) - 1970 AS INT)
                   AS o_orderdate_year,
               CAST(1 AS BIGINT) AS file_count,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders
        GROUP BY 1
    """,
    tags=("iceberg", "lakehouse", "partitioning", "metadata-table"),
)
def iceberg_partitions_metadata_table(spark, sf_dir):
    """The spec's `tbl.partitions` METADATA TABLE (round 7) — the ops
    introspection surface (skew triage, compaction targeting) exposed
    as a DataFrame: stage orders under year(o_orderdate) with the
    input pre-repartitioned BY YEAR (each partition lands wholly in
    one task, so exactly one file per partition — which makes
    file_count itself oracle-checkable as the literal 1), then read
    partitions_table() and decode the canonical partition string back
    to the typed year. record_count comes from the manifest entries'
    per-file stats, NEVER from scanning data — the whole query is
    driver-side metadata plus a toy aggregate, verified row-for-row
    against DuckDB recomputing year boundaries from raw parquet."""
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_partitioned_table

    base = (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_totalprice",
            F.to_date("o_orderdate").alias("o_orderdate"),
        )
        .repartition(8, F.year("o_orderdate"))
    )
    path = tempfile.mkdtemp(prefix="iceberg_partmeta_") + "/t"
    create_partitioned_table(spark, path, base, spec=[("o_orderdate", "year")])
    pt = IcebergTableReader(spark, path).partitions_table()
    return pt.select(
        F.regexp_extract("partition", r"o_orderdate_year=(-?\d+)", 1)
        .cast("int")
        .alias("o_orderdate_year"),
        F.col("file_count"),
        F.col("record_count").alias("n_rows"),
    )


@register(
    "iceberg_wap_publish_read",
    oracle="""
        WITH published AS (
            SELECT doc_id, lang, n_chars FROM documents
            UNION ALL
            SELECT doc_id + 20000000, lang, n_chars
            FROM documents WHERE doc_id % 5 = 0
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM published
        GROUP BY lang
    """,
    tags=("iceberg", "lakehouse", "refs", "wap"),
)
def iceberg_wap_publish_read(spark, sf_dir):
    """WRITE-AUDIT-PUBLISH over Iceberg snapshot references (spec
    "Snapshot References", round 7) — the production ingest pattern
    where new data is staged on a BRANCH, audited, and only then
    made visible: stage documents, create branch `audit`, append a
    batch ON THE BRANCH (main's read provably unchanged — the query
    asserts it), audit the branch read (row-count gate), then
    fast_forward main to the branch head (refused unless main is an
    ancestor — a diverged publish would silently drop commits). The
    returned aggregate reads MAIN after publish; the DuckDB oracle
    recomputes the published union from raw parquet, so the
    branch-commit/ref-move/fast-forward cycle is value-hash checked
    end to end."""
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        append_data_snapshot,
        create_minimal_table,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_wap_") + "/t"
    create_minimal_table(spark, path, docs.repartitionByRange(4, "doc_id"))
    reader = IcebergTableReader(spark, path)
    reader.create_branch("audit")
    batch = docs.filter("doc_id % 5 = 0").select(
        (F.col("doc_id") + 20000000).alias("doc_id"), "lang", "n_chars"
    )
    append_data_snapshot(spark, path, batch, sequence=1, branch="audit")
    reader = IcebergTableReader(spark, path)
    n_main = reader.read().count()
    n_branch = reader.read(ref="audit").count()
    if n_main == n_branch:  # staged write leaked into main: abort
        raise AssertionError("WAP isolation violated: main moved")
    if n_branch != n_main + batch.count():  # audit gate
        raise AssertionError("audit failed: branch row count off")
    reader.fast_forward("audit")
    published = IcebergTableReader(spark, path).read()
    return published.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "delta_shallow_clone_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        WHERE o_orderstatus <> 'F'
        GROUP BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "clone"),
)
def delta_shallow_clone_read(spark, sf_dir):
    """Delta SHALLOW CLONE (round 7) — the zero-copy dev/staging copy
    (Databricks `CREATE TABLE ... SHALLOW CLONE`, the Delta-side twin
    of Iceberg branch staging): stage orders, clone it (the clone's v0
    add actions reference the SOURCE's parquet by absolute path — no
    data moves, per-file stats carry over so skipping works on day
    one), then DIVERGE both sides: DELETE 'P' rows on the source and
    'F' rows on the clone. The returned aggregate reads the CLONE —
    correct only if the source's later delete did NOT leak into the
    clone's snapshot AND the clone's own delete rewrote shared files
    into its own directory. The DuckDB oracle recomputes the clone's
    expected state from raw parquet, value-hash checked."""
    import tempfile

    from ..sources.deltalog import (
        DeltaLogReader,
        create_minimal_table,
        shallow_clone,
    )

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    root = tempfile.mkdtemp(prefix="delta_clone_")
    src, dst = root + "/src", root + "/clone"
    create_minimal_table(
        spark, src, base.repartitionByRange(6, "o_orderkey"), stats=True
    )
    shallow_clone(spark, src, dst)
    DeltaLogReader(spark, src).delete_where([("o_orderstatus", "=", "P")])
    DeltaLogReader(spark, dst).delete_where([("o_orderstatus", "=", "F")])
    snap = DeltaLogReader(spark, dst).read()
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "delta_shallow_clone_dv_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        WHERE o_orderstatus <> 'P'
        GROUP BY o_orderpriority
    """,
    tags=("delta", "lakehouse", "clone", "dv", "column-mapping"),
)
def delta_shallow_clone_dv_read(spark, sf_dir):
    """Shallow clone of a source carrying BOTH deletion vectors and a
    renamed mapped column (round 9, VERDICT r8 item 6): stage orders
    column-mapped, RENAME o_totalprice -> price (metaData-only; the
    physical name travels in the schemaString, so the clone resolves
    it with zero fixup), DV-DELETE the 'P' rows (the clone repoints
    each vector to the absolute path of the source's .bin —
    storageType 'p', the spec's absolute form — because u/p-relative
    forms resolve against the table root, which changes), then clone
    and DIVERGE the source with a second DV delete ('F' rows, which
    REWRITES the shared file's vector on the source side). The
    returned aggregate reads the CLONE: correct only if the clone
    applies the birth-time vectors through the repointed absolute
    paths AND the source's later vector growth did not leak in."""
    import tempfile

    from ..sources.deltalog import (
        DeltaLogReader,
        create_column_mapped_table,
        rename_mapped_column,
        shallow_clone,
    )

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    root = tempfile.mkdtemp(prefix="delta_clone_dv_")
    src, dst = root + "/src", root + "/clone"
    create_column_mapped_table(
        spark, src, base.repartitionByRange(4, "o_orderkey"), stats=True
    )
    rename_mapped_column(spark, src, "o_totalprice", "price")
    DeltaLogReader(spark, src).delete_where_dv(
        [("o_orderstatus", "=", "P")]
    )
    shallow_clone(spark, src, dst)
    DeltaLogReader(spark, src).delete_where_dv(
        [("o_orderstatus", "=", "F")]
    )
    snap = DeltaLogReader(spark, dst).read()
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("price"), 2).alias("total_price"),
    )


@register(
    "iceberg_changelog_read",
    oracle="""
        WITH appended AS (
            SELECT doc_id + 10000000 AS doc_id, lang, n_chars * 3 AS n_chars
            FROM documents WHERE doc_id % 4 = 0
        ),
        changes AS (
            SELECT 'insert' AS _change_type, lang, n_chars FROM appended
            UNION ALL
            SELECT 'delete' AS _change_type, lang, n_chars
            FROM documents WHERE n_chars < 200
            UNION ALL
            SELECT 'delete' AS _change_type, lang, n_chars
            FROM appended WHERE n_chars < 200
        )
        SELECT _change_type, lang,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM changes
        GROUP BY _change_type, lang
    """,
    tags=("iceberg", "lakehouse", "cdc", "changelog"),
)
def iceberg_changelog_read(spark, sf_dir):
    """Iceberg incremental CHANGELOG scan SPANNING A COMPACTION
    (round 8, VERDICT r7 item 8 — the former REPLACE refusal closed):
    the spec stores NO change feed, so row-level changes are COMPUTED
    per snapshot pair (the Java IncrementalChangelogScan): stage
    documents, append a derived batch, COMPACT (a REPLACE snapshot —
    it rewrites every file and changes no rows, so the walk SKIPS it
    and the following commit diffs against the compacted file set),
    then MERGE-ON-READ DELETE the short docs. The changelog renders
    (a) every appended row as an insert in its own commit, (b) every
    short row — original AND appended, now living in compacted files —
    as a delete in the delete commit; a row born in one commit and
    deleted in a later one emits both (the correct signed-delta feed;
    only same-commit birth+tombstone nets out). Value-hash checked
    against a DuckDB replay of the same per-commit derivation."""
    import tempfile

    from ..sources.iceberg import (
        IcebergTableReader,
        append_data_snapshot,
        create_minimal_table,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_cl_") + "/t"
    create_minimal_table(spark, path, docs.repartitionByRange(4, "doc_id"))
    reader = IcebergTableReader(spark, path)
    v1 = reader.metadata()["current-snapshot-id"]
    batch = docs.filter("doc_id % 4 = 0").select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        "lang",
        (F.col("n_chars") * 3).alias("n_chars"),
    )
    append_data_snapshot(spark, path, batch, sequence=1)
    IcebergTableReader(spark, path).compact()
    IcebergTableReader(spark, path).delete_where([("n_chars", "<", 200)])
    ch = IcebergTableReader(spark, path).changelog(v1)
    return ch.groupBy("_change_type", "lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "iceberg_changelog_upsert_read",
    oracle="""
        WITH src AS (
            SELECT doc_id, lang, n_chars + 7 AS n_chars
            FROM documents WHERE doc_id % 5 = 0
        ),
        changes AS (
            SELECT 'insert' AS _change_type, lang, n_chars FROM src
            UNION ALL
            SELECT 'delete' AS _change_type, d.lang, d.n_chars
            FROM documents d WHERE d.doc_id % 5 = 0
        )
        SELECT _change_type, lang,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM changes
        GROUP BY _change_type, lang
    """,
    tags=("iceberg", "lakehouse", "cdc", "changelog", "equality-deletes"),
)
def iceberg_changelog_upsert_read(spark, sf_dir):
    """Changelog over an EQUALITY-DELETE commit (round 8 — the Flink
    upsert shape, formerly refused): one snapshot carries an
    equality-delete file on doc_id plus the new rows' data file at
    the same sequence number. The changelog renders the upsert as
    delete (old images: rows of strictly-smaller-sequence files
    matching the keys, via the read path's own sequence-gated
    _eq_delete_join in semi mode) + insert (the new data file — its
    own sequence ties the delete's, so the gate correctly spares it).
    Value-hash checked against a DuckDB replay of both halves."""
    import tempfile

    from ..sources.iceberg import IcebergTableReader, create_minimal_table

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="iceberg_cl_up_") + "/t"
    create_minimal_table(spark, path, docs.repartitionByRange(4, "doc_id"))
    reader = IcebergTableReader(spark, path)
    v1 = reader.metadata()["current-snapshot-id"]
    src = docs.filter("doc_id % 5 = 0").select(
        "doc_id", "lang", (F.col("n_chars") + 7).alias("n_chars")
    )
    reader.upsert(src, "doc_id")
    ch = IcebergTableReader(spark, path).changelog(v1)
    return ch.groupBy("_change_type", "lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("total_chars"),
    )
