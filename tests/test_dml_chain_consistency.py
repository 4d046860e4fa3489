"""Model-based consistency of the external-Delta DML surface: a
seeded pseudo-random chain of UPDATE / DELETE / MERGE / OPTIMIZE /
RESTORE ops runs against BOTH the real table (CDF on) and a
plain-Python dict model; after the chain,

  1. the table state equals the model,
  2. an IVM view maintained ONLY from the change feed equals a full
     recompute of the final state, and
  3. a CDC net-effect replica (last image per key) equals the model.

This is the composition test no single-op unit test gives: every op's
cdc rendering must agree with its table mutation, across arbitrary
interleavings."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from introduction_in_big_data_spark.operators import ivm
from introduction_in_big_data_spark.sources.deltalog import (
    DeltaLogReader,
    create_minimal_table,
)

N = 240


def _apply_update(model, lo, hi, add):
    for k in list(model):
        if lo <= k < hi:
            p, v = model[k]
            model[k] = (p, v + add)


def _apply_delete(model, lo, hi):
    for k in list(model):
        if lo <= k < hi:
            del model[k]


def _apply_merge(model, rows):
    for k, p, v in rows:
        model[k] = (p, v)


def _run_chain(spark, tmp_path, seed):
    rng = random.Random(seed)
    base = spark.range(0, N).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") * 10).alias("v"),
    )
    path = str(tmp_path / f"t{seed}")
    create_minimal_table(
        spark, path, base.repartitionByRange(4, "k"), stats=True, cdf=True
    )
    r = DeltaLogReader(spark, path)
    v0 = r.latest_version()
    model = {k: (k % 3, k * 10) for k in range(N)}
    snapshots = {v0: dict(model)}
    next_new_key = 10_000

    for _step in range(6):
        op = rng.choice(["update", "delete", "merge", "optimize", "restore"])
        if op == "update":
            lo = rng.randrange(0, N)
            hi = lo + rng.randrange(1, 80)
            add = rng.randrange(1, 9)
            r.update_where(
                [("k", ">=", lo), ("k", "<", hi)], {"v": f"v + {add}"}
            )
            _apply_update(model, lo, hi, add)
        elif op == "delete":
            lo = rng.randrange(0, N + 200)
            hi = lo + rng.randrange(1, 60)
            r.delete_where([("k", ">=", lo), ("k", "<", hi)])
            _apply_delete(model, lo, hi)
        elif op == "merge":
            rows = []
            for _ in range(rng.randrange(1, 6)):
                if rng.random() < 0.5:
                    k = rng.randrange(0, N)  # likely matched
                else:
                    k = next_new_key
                    next_new_key += 1
                rows.append((k, rng.randrange(0, 3), rng.randrange(0, 100)))
            # one row per key (merge source keys must be unique here
            # to keep the model deterministic)
            rows = list({k: (k, p, v) for k, p, v in rows}.values())
            r.merge(
                spark.createDataFrame(rows, "k long, p int, v long"), "k"
            )
            _apply_merge(model, rows)
        elif op == "optimize":
            r.optimize(target_bytes=1 << 20)  # must be invisible
        else:  # restore to a random earlier snapshot
            v_target = rng.choice(sorted(snapshots))
            r.restore(v_target)
            model = dict(snapshots[v_target])
        snapshots[r.latest_version()] = dict(model)

    return r, v0, model


def _table_rows(r):
    return {x.k: (x.p, x.v) for x in r.read().collect()}


def test_random_dml_chain_matches_model_and_feed(spark, tmp_path):
    for seed in (11, 23):
        r, v0, model = _run_chain(spark, tmp_path, seed)
        # 1. table == model
        assert _table_rows(r) == model, f"seed {seed}: state diverged"
        v1 = r.latest_version()

        # 2. IVM from the feed == recompute of the final state
        view0 = ivm.initial_view(r.read(v0), ["p"], ["v"]).localCheckpoint()
        maintained = ivm.apply_delta(
            view0,
            ivm.aggregate_delta(r.changes(v0, v1), ["p"], ["v"]),
            ["p"],
            ["v"],
        )
        expect = sorted(
            (x.p, x.n_rows, x.sum_v)
            for x in ivm.initial_view(r.read(v1), ["p"], ["v"]).collect()
        )
        got = sorted(
            (x.p, x.n_rows, x.sum_v) for x in maintained.collect()
        )
        assert got == expect, f"seed {seed}: IVM diverged"

        # 3. net-effect replica == model
        from pyspark.sql import Window

        ch = r.changes(v0, v1)
        ranked = ch.withColumn(
            "__rk",
            F.when(
                F.col("_change_type") == "update_preimage", F.lit(1)
            )
            .when(F.col("_change_type") == "delete", F.lit(2))
            # insert/postimage outrank a same-commit delete: a key
            # deleted AND (re)inserted in one commit (RESTORE) nets
            # to present
            .otherwise(F.lit(3)),
        )
        w = Window.partitionBy("k").orderBy(
            F.desc("_commit_version"), F.desc("__rk")
        )
        last = (
            ranked.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1")
        )
        ups = last.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select("k", "p", "v")
        replica = (
            r.read(v0)
            .join(last.select("k"), "k", "left_anti")
            .unionByName(ups)
        )
        got_replica = {x.k: (x.p, x.v) for x in replica.collect()}
        assert got_replica == model, f"seed {seed}: replica diverged"

        # 4. the CDF STREAM renders the same feed as batch changes()
        # across the arbitrary chain (per-commit per-tag aggregates)
        from introduction_in_big_data_spark.sources.deltastream import (
            register_delta_stream,
        )
        from introduction_in_big_data_spark.streaming import stream as st

        register_delta_stream(spark)
        streamed = st.run_to_memory(
            (
                spark.readStream.format("delta_stream")
                .option("path", r.path)
                .option("readChangeFeed", "true")
                .option("startingVersion", str(v0 + 1))
                .load()
                .groupBy("_commit_version", "_change_type")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            ),
            "complete",
            state_partitions=2,
        )
        batch = (
            ch.groupBy("_commit_version", "_change_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        )
        skey = lambda x: (x._commit_version, x._change_type)  # noqa: E731
        got_s = sorted((skey(x), x.n, x.sv) for x in streamed.collect())
        want_s = sorted((skey(x), x.n, x.sv) for x in batch.collect())
        assert got_s == want_s, f"seed {seed}: CDF stream diverged"


def test_dv_dml_chain_matches_model(spark, tmp_path):
    """Default-tier twin of the chain above: one seed, a small table
    and four ops that cover both the copy-on-write and the
    deletion-vector paths; checks only that the table state equals
    the dict model."""
    rng = random.Random(5)
    n = 60
    base = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") * 10).alias("v"),
    )
    path = str(tmp_path / "t")
    create_minimal_table(
        spark, path, base.repartitionByRange(3, "k"), stats=True, cdf=True
    )
    r = DeltaLogReader(spark, path)
    model = {k: (k % 3, k * 10) for k in range(n)}
    # copy-on-write ops first: once the table carries vectors, plain
    # update_where / delete_where route to the vector paths themselves
    for op in ["update", "delete", "delete_dv", "update_dv"]:
        lo = rng.randrange(0, n)
        hi = lo + rng.randrange(1, 20)
        preds = [("k", ">=", lo), ("k", "<", hi)]
        if op.startswith("update"):
            add = rng.randrange(1, 9)
            upd = r.update_where_dv if op == "update_dv" else r.update_where
            upd(preds, {"v": f"v + {add}"})
            _apply_update(model, lo, hi, add)
        else:
            dele = r.delete_where_dv if op == "delete_dv" else r.delete_where
            dele(preds)
            _apply_delete(model, lo, hi)
    assert _table_rows(r) == model
