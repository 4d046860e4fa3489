"""Top-k / ranking operators (SURVEY.md §2.5 K1-K6, §2.6 O1-O4).

The reference ranks by global sort + head (Part_A_Q1.py:72,78,86).
Spark's `orderBy(...).limit(k)` compiles to TakeOrderedAndProject:
each partition keeps a size-k heap, then the driver merges k*partitions
rows — no global sort materialization, which is the difference between
O(n log n) shuffle and O(n) scan at 100 TB.

Per-group top-k (K5) is a single-shuffle window row_number — the
generalization of the reference's fragile per-row argsort slice
(Part_A_Q2.py:121-123).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import barrier, local_frame


def top_k(df: DataFrame, order_by: list, k: int) -> DataFrame:
    """K1-K4 — global top-k. `order_by` are Column expressions; always
    include a unique tiebreaker column for deterministic output."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_by: list[str],
    order_by: list,
    k: int,
    rank_col: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """K5/K6 — k best rows per group via row_number window.

    One shuffle on the group key; rows stream through the window
    operator sorted per partition. Include a unique tiebreaker in
    `order_by` so ranks are deterministic (oracle-checkable).
    """
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def exact_ntile(
    df: DataFrame,
    n_buckets: int,
    order_by_cols: list[str],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Exact SQL `ntile(n)` semantics WITHOUT a single-partition
    WindowExec (VERDICT r1 item 1's scale path, made exact).

    A global `ntile` needs every row's global rank under a total order.
    The classic distributed-rank plan computes it with two bounded
    stages instead of one unbounded sort:

      1. `repartitionByRange` on the ordering key — Spark's sampled
         range partitioner spreads the total order across partitions
         (partition i holds strictly smaller keys than partition i+1).
      2. Count rows per physical partition: a job whose output is P
         integers (P = shuffle partitions) — the only driver-side data.
      3. Prefix-sum those counts into per-partition rank offsets,
         broadcast them back as a P-row join.
      4. `row_number` over a window PARTITIONED by partition id (never
         a global window); global_rank = offset + local row_number.
      5. Map rank -> bucket with the SQL-standard remainder-to-leading-
         buckets rule (first n%k buckets get the extra row).

    `order_by_cols` must form a total order (include a unique
    tiebreaker) so ranks — and therefore bucket membership — are
    deterministic and oracle-checkable. The range shuffle is
    materialized once via localCheckpoint so the counting job and the
    ranking job share it.
    """
    cols = [F.col(c) for c in order_by_cols]
    part = (
        df.repartitionByRange(*cols)
        .withColumn("__pid", F.spark_partition_id())
        .transform(barrier, eager=True)
    )
    sizes = {
        r["__pid"]: r["__n"]
        for r in part.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n")).collect()
    }
    n = sum(sizes.values())
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    spark = df.sparkSession
    off_df = local_frame(spark, offsets or [(0, 0)], schema="__pid int, __off long")
    q, r = divmod(n, n_buckets)
    big = r * (q + 1)  # ranks 1..big fall in the first r (larger) buckets
    w = Window.partitionBy("__pid").orderBy(*cols)
    rank = F.col("__off") + F.row_number().over(w)
    bucket = F.when(rank <= big, F.ceil(rank / (q + 1))).otherwise(
        r + F.ceil((rank - big) / F.greatest(F.lit(q), F.lit(1)))
    )
    return (
        part.join(F.broadcast(off_df), "__pid")
        .withColumn(bucket_col, bucket.cast("int"))
        .drop("__pid", "__off")
    )
