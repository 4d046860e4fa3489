"""DML / CDF / incremental reads on COLUMN-MAPPED Delta tables
(round 8, VERDICT r7 item 1): the physical-name indirection the read
path already resolved now threads through every write and feed path —
external Delta 3.x tables with renamed columns are full citizens, not
read-only. Data files and change files carry PHYSICAL column names,
partitionValues keys and stats keys are physical, metaData.
partitionColumns stores physical names (delta-spark's layout), and
logical renames never touch a data file."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from introduction_in_big_data_spark.sources.deltalog import (
    DeltaLogReader,
    commit_append,
    create_column_mapped_table,
    rename_mapped_column,
)


def _df(spark):
    return spark.range(0, 1200).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") * 1.0).alias("v"),
    )


def _commit_actions(path, v):
    with open(os.path.join(path, "_delta_log", f"{v:020d}.json")) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def _phys_names(path):
    """logical -> physical from the current metaData."""
    log = os.path.join(path, "_delta_log")
    meta = None
    for f in sorted(os.listdir(log)):
        if not f.endswith(".json"):
            continue
        for ln in open(os.path.join(log, f)):
            if not ln.strip():
                continue
            a = json.loads(ln)
            if "metaData" in a:
                meta = a["metaData"]
    sch = json.loads(meta["schemaString"])
    return {
        f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
        for f in sch["fields"]
    }


def test_mapped_delete_where_rewrites_physical(spark, tmp_path):
    path = str(tmp_path / "t")
    create_column_mapped_table(
        spark, path, _df(spark).repartitionByRange(6, "k"), stats=True
    )
    r = DeltaLogReader(spark, path)
    v = r.delete_where([("k", ">=", 100), ("k", "<", 300)])
    got = sorted(x.k for x in r.read().collect())
    assert got == list(range(100)) + list(range(300, 1200))
    # the rewrite's new adds carry PHYSICAL stats keys
    phys = _phys_names(path)
    adds = [a["add"] for a in _commit_actions(path, v) if "add" in a]
    assert adds
    for a in adds:
        stats = json.loads(a["stats"])
        assert phys["k"] in stats["minValues"]
        assert "k" not in stats["minValues"]
    # and stats-driven skipping still prunes through the mapping
    r2 = DeltaLogReader(spark, path)
    r2.read(predicates=[("k", "<", 50)])
    assert r2.last_scan["skipped_files"] >= 1


def test_mapped_partitioned_delete_metadata_only(spark, tmp_path):
    path = str(tmp_path / "t")
    create_column_mapped_table(
        spark, path, _df(spark), partition_by=["p"], stats=True
    )
    phys = _phys_names(path)
    # staged layout: physical partitionColumns + physical pv keys
    meta = next(
        a["metaData"]
        for a in _commit_actions(path, 0)
        if "metaData" in a
    )
    assert meta["partitionColumns"] == [phys["p"]]
    r = DeltaLogReader(spark, path)
    v = r.delete_where([("p", "=", 1)])
    acts = _commit_actions(path, v)
    assert not [a for a in acts if "add" in a]  # metadata-only
    got = r.read()
    assert got.filter("p = 1").count() == 0
    assert got.count() == 800
    # mixed predicate rewrites only within the partition
    v2 = r.delete_where([("p", "=", 2), ("k", "<", 30)])
    adds = [a["add"] for a in _commit_actions(path, v2) if "add" in a]
    assert adds and all(
        a["partitionValues"] == {phys["p"]: "2"} for a in adds
    )
    assert r.read().count() == 790


def test_mapped_update_where_and_rename(spark, tmp_path):
    path = str(tmp_path / "t")
    create_column_mapped_table(
        spark, path, _df(spark).repartitionByRange(4, "k"), stats=True
    )
    r = DeltaLogReader(spark, path)
    r.update_where([("k", "<", 10)], {"v": "v + 1000"})
    got = {x.k: x.v for x in r.read().collect()}
    assert got[5] == 1005.0 and got[10] == 10.0
    # RENAME (the reason column mapping exists): data files untouched,
    # DML then speaks the NEW logical name
    rename_mapped_column(spark, path, "v", "value")
    r2 = DeltaLogReader(spark, path)
    assert "value" in r2.read().columns
    r2.update_where([("k", "<", 5)], {"value": "value * 0"})
    got = {x.k: x.value for x in r2.read().collect()}
    assert got[3] == 0.0 and got[7] == 1007.0
    with pytest.raises(ValueError, match="unknown columns"):
        r2.update_where([("k", "<", 5)], {"v": "0.0"})


def test_mapped_merge_moves_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    create_column_mapped_table(
        spark, path, _df(spark), partition_by=["p"], stats=True
    )
    phys = _phys_names(path)
    r = DeltaLogReader(spark, path)
    source = spark.createDataFrame(
        [(9, 2, -9.0), (5000, 1, -1.0)], "k long, p int, v double"
    )
    v = r.merge(source, "k")
    got = r.read()
    assert got.count() == 1201
    assert got.filter("k = 9").collect()[0].p == 2
    assert got.filter("k = 5000").collect()[0].v == -1.0
    for a in _commit_actions(path, v):
        if "add" in a:
            assert set(a["add"]["partitionValues"]) == {phys["p"]}
    assert r.read(predicates=[("p", "=", 1)]).count() == 401


def test_mapped_optimize_and_zorder(spark, tmp_path):
    path = str(tmp_path / "t")
    create_column_mapped_table(
        spark, path, _df(spark).repartition(8), stats=True
    )
    r = DeltaLogReader(spark, path)
    v = r.optimize()
    adds = [a["add"] for a in _commit_actions(path, v) if "add" in a]
    assert len(adds) == 1  # 8 small files bin-packed into one
    assert not adds[0].get("dataChange", True)
    assert r.read().count() == 1200
    r.optimize(zorder_by=("k", "v"))
    assert r.read().count() == 1200


def test_mapped_cdf_feed_all_dml_kinds(spark, tmp_path):
    path = str(tmp_path / "t")
    create_column_mapped_table(
        spark, path, _df(spark).repartitionByRange(4, "k"),
        stats=True, cdf=True,
    )
    r = DeltaLogReader(spark, path)
    v1 = r.delete_where([("k", "<", 5)])
    v2 = r.update_where([("k", ">=", 5), ("k", "<", 8)], {"v": "v * -1"})
    src = spark.createDataFrame(
        [(6, 0, 600.0), (9999, 0, 1.0)], "k long, p int, v double"
    )
    v3 = r.merge(src, "k")
    ch = r.changes(0, v3)
    rows = ch.collect()
    by = {}
    for x in rows:
        by.setdefault((x["_commit_version"], x["_change_type"]), []).append(
            x.k
        )
    assert sorted(by[(v1, "delete")]) == list(range(5))
    assert sorted(by[(v2, "update_preimage")]) == [5, 6, 7]
    assert sorted(by[(v2, "update_postimage")]) == [5, 6, 7]
    assert by[(v3, "update_preimage")] == [6]
    assert by[(v3, "update_postimage")] == [6]
    assert by[(v3, "insert")] == [9999]
    # change files carry PHYSICAL column names on disk
    phys = _phys_names(path)
    import pyarrow.parquet as pq

    cdir = os.path.join(path, "_change_data")
    one = next(
        os.path.join(root, f)
        for root, _d, fs in os.walk(cdir)
        for f in fs
        if f.endswith(".parquet")
    )
    names = set(pq.ParquetFile(one).schema_arrow.names)
    assert phys["k"] in names and "_change_type" in names
    assert "k" not in names


def test_mapped_dv_delete_and_cdf_diff(spark, tmp_path):
    path = str(tmp_path / "t")
    create_column_mapped_table(
        spark, path, _df(spark).repartition(1), stats=True
    )
    r = DeltaLogReader(spark, path)
    v1 = r.delete_where_dv([("k", "<", 7)])
    v2 = r.delete_where_dv([("k", ">=", 5), ("k", "<", 12)])
    assert sorted(x.k for x in r.read().collect()) == list(
        range(12, 1200)
    )
    by_v = {}
    for row in r.changes(0, v2).collect():
        by_v.setdefault(row["_commit_version"], []).append(row.k)
    assert sorted(by_v[v1]) == list(range(7))
    assert sorted(by_v[v2]) == list(range(7, 12))


def test_mapped_update_where_dv_images_physical(spark, tmp_path):
    path = str(tmp_path / "t")
    create_column_mapped_table(
        spark, path, _df(spark).repartition(2), stats=True
    )
    phys = _phys_names(path)
    r = DeltaLogReader(spark, path)
    v = r.update_where_dv([("k", "<", 10)], {"v": "v + 500"})
    got = {x.k: x.v for x in r.read().collect()}
    assert got[3] == 503.0 and got[10] == 10.0
    # appended image files are physically named
    import pyarrow.parquet as pq

    adds = [
        a["add"]
        for a in _commit_actions(path, v)
        if "add" in a and not a["add"].get("deletionVector")
    ]
    assert adds
    names = set(
        pq.ParquetFile(
            os.path.join(path, adds[0]["path"])
        ).schema_arrow.names
    )
    assert phys["v"] in names and "v" not in names


def test_mapped_incremental_append_read(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    create_column_mapped_table(spark, path, base)
    phys = _phys_names(path)
    batch = spark.range(100, 150).select(
        F.col("id").alias(phys["k"]),
        (F.col("id") * 1.0).alias(phys["v"]),
    )
    v1 = commit_append(spark, path, batch)
    inc = DeltaLogReader(spark, path).incremental(0, v1)
    assert inc.columns == ["k", "v"]
    assert sorted(x.k for x in inc.collect()) == list(range(100, 150))


def test_mapped_restore_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    create_column_mapped_table(
        spark, path, _df(spark).repartitionByRange(4, "k"), stats=True
    )
    r = DeltaLogReader(spark, path)
    r.delete_where([("k", "<", 600)])
    assert r.read().count() == 600
    r.restore(0)
    assert r.read().count() == 1200


def test_mapped_partitioned_optimize_keeps_partitions(spark, tmp_path):
    """partitionValues keys are PHYSICAL under column mapping:
    compaction must group files by them, or every partition's small
    files pack into one file that carries a single partition's
    values."""
    path = str(tmp_path / "t")
    create_column_mapped_table(
        spark, path, _df(spark).repartition(4), partition_by=["p"]
    )
    r = DeltaLogReader(spark, path)
    r.optimize()
    got = r.read()
    assert got.filter(F.col("k") % 3 != F.col("p")).count() == 0
    assert sorted(
        (x.p, x["count"]) for x in got.groupBy("p").count().collect()
    ) == [(0, 400), (1, 400), (2, 400)]
