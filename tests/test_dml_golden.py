"""Golden DML chain: every row-level DML path commits exactly the
actions checked in under tests/golden/.

Delta: a tiny partitioned, stats-carrying table with row tracking and
CDF on runs a fixed chain (metadata-only partition delete, rewriting
delete_where, update_where, merge, delete_where_dv, update_where_dv,
optimize); every `_delta_log/*.json` commit is compared, as a multiset
of canonical action lines, after uuids, timestamps, part-file names
and uuid-named deletion-vector references (and their offsets) are
normalized away.

Iceberg: a tiny row-lineage table runs upsert, delete_where,
update_where, delete_where_dv and update_where_dv; each snapshot's
`operation` plus the record counts of the data and delete files it
added are compared.

Both chains also pin the final table rows. Regenerate the goldens
with `PYTHONPATH=. python tests/test_dml_golden.py` from the repo
root; a diff in them is a change to what the engine commits and
needs a reason."""

from __future__ import annotations

import json
import os
import re
from pathlib import Path

from pyspark.sql import functions as F

GOLDEN = Path(__file__).parent / "golden"

_HEX_RE = re.compile(
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    r"|[0-9a-f]{32}"
)
_PART_RE = re.compile(r"part-\d+-<uuid>[^/]*\.parquet")
_TIME_KEYS = {
    "timestamp",
    "inCommitTimestamp",
    "deletionTimestamp",
    "createdTime",
    "modificationTime",
}


def _normalize(x, key=None):
    if isinstance(x, dict):
        out = {k: _normalize(v, k) for k, v in x.items()}
        if out.get("storageType") == "u":
            # the uuid of the shared .bin, and each vector's offset in
            # it (files are laid out in uuid-named path order)
            out["pathOrInlineDv"] = "<dv>"
            out["offset"] = 0
        return out
    if isinstance(x, list):
        return [_normalize(v) for v in x]
    if key in _TIME_KEYS and isinstance(x, int):
        return 0
    if isinstance(x, str):
        return _PART_RE.sub("part-*.parquet", _HEX_RE.sub("<uuid>", x))
    return x


def delta_commits(path: str) -> list[list[str]]:
    log = os.path.join(path, "_delta_log")
    out = []
    for name in sorted(os.listdir(log)):
        if not re.fullmatch(r"\d{20}\.json", name):
            continue
        with open(os.path.join(log, name)) as fh:
            lines = [
                json.dumps(_normalize(json.loads(ln)), sort_keys=True)
                for ln in fh
                if ln.strip()
            ]
        out.append(sorted(lines))
    return out


def run_delta_chain(spark, path: str) -> dict:
    from introduction_in_big_data_spark.sources.deltalog import (
        DeltaLogReader,
        create_minimal_table,
        enable_row_tracking,
    )

    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") * 10).alias("v"),
    )
    create_minimal_table(
        spark,
        path,
        df.repartitionByRange(2, "k").sortWithinPartitions("k"),
        partition_by=["p"],
        stats=True,
        cdf=True,
    )
    enable_row_tracking(spark, path)
    r = DeltaLogReader(spark, path)
    r.delete_where([("p", "=", 0)])  # metadata-only partition delete
    r.delete_where([("k", ">=", 10), ("k", "<", 14)])
    r.update_where([("k", ">=", 40), ("k", "<", 44)], {"v": "v + 1"})
    r.merge(
        spark.createDataFrame(
            [(41, 2, 7), (100, 1, 1000)], "k long, p int, v long"
        ),
        "k",
    )
    r.delete_where_dv([("k", ">=", 20), ("k", "<", 23)])
    r.update_where_dv([("k", ">=", 50), ("k", "<", 53)], {"v": "v * 2"})
    r.optimize()
    rows = sorted(
        [x.k, x.p, x.v, x._row_id, x._row_commit_version]
        for x in r.read(with_row_ids=True).collect()
    )
    return {"commits": delta_commits(path), "rows": rows}


def _added_counts(t, prev: dict, cur: dict) -> dict:
    """Record counts of the data and delete files `cur` has and
    `prev` lacks."""
    import pyarrow.parquet as pq

    from introduction_in_big_data_spark.functions import avrocodec, puffin

    def live(snap):
        data, pos, eq = t._live_files(snap)
        return dict(data), set(pos), set(eq)

    def n_rows(e):
        if e[1] == "PUFFIN":
            return len(
                puffin.decode_deletion_vector(
                    puffin.read_blob(e[0], e[2], e[3])
                )
            )
        if e[1] == "AVRO":
            return len(avrocodec.read_container(e[0])[1])
        return pq.ParquetFile(e[0]).metadata.num_rows

    d0, p0, e0 = live(prev)
    d1, p1, e1 = live(cur)
    return {
        "data": sorted(
            int(st["record_count"] or 0)
            for p, (_s, st) in d1.items()
            if p not in d0
        ),
        "position_deletes": sorted(n_rows(e) for e in p1 - p0),
        "equality_deletes": sorted(n_rows(e) for e in e1 - e0),
    }


def run_iceberg_chain(spark, path: str) -> dict:
    from introduction_in_big_data_spark.sources.iceberg import (
        IcebergTableReader,
        create_minimal_table,
        enable_row_lineage,
    )

    df = (
        spark.range(0, 40)
        .select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"))
        .repartitionByRange(2, "k")
        .sortWithinPartitions("k")
    )
    create_minimal_table(spark, path, df, bounds=True)
    enable_row_lineage(spark, path)
    ops = [
        lambda t: t.upsert(
            spark.createDataFrame(
                [(3, -3.0), (50, 50.0)], "k long, v double"
            ),
            "k",
        ),
        lambda t: t.delete_where([("k", ">=", 5), ("k", "<", 8)]),
        lambda t: t.update_where(
            [("k", ">=", 10), ("k", "<", 13)], {"v": "v + 1"}
        ),
        lambda t: t.delete_where_dv([("k", ">=", 6), ("k", "<", 22)]),
        lambda t: t.update_where_dv(
            [("k", ">=", 30), ("k", "<", 33)], {"v": "v * 3"}
        ),
    ]
    steps = []
    for op in ops:
        t = IcebergTableReader(spark, path)
        prev = t.metadata()["snapshots"][-1]
        op(t)
        t = IcebergTableReader(spark, path)
        cur = t.metadata()["snapshots"][-1]
        assert cur["snapshot-id"] != prev["snapshot-id"]
        steps.append(
            {
                "operation": cur["summary"]["operation"],
                **_added_counts(t, prev, cur),
            }
        )
    t = IcebergTableReader(spark, path)
    rows = sorted(
        [x.k, x.v, x._row_id]
        for x in t.read(with_row_ids=True).collect()
    )
    return {"snapshots": steps, "rows": rows}


def _golden(name: str):
    return json.loads((GOLDEN / name).read_text())


def test_delta_dml_chain_matches_golden(spark, tmp_path):
    got = run_delta_chain(spark, str(tmp_path / "delta"))
    want = _golden("delta_dml_chain.json")
    assert len(got["commits"]) == len(want["commits"])
    for v, (g, w) in enumerate(zip(got["commits"], want["commits"])):
        assert g == w, f"commit {v} differs from the golden"
    assert got["rows"] == want["rows"]


def test_iceberg_dml_chain_matches_golden(spark, tmp_path):
    got = run_iceberg_chain(spark, str(tmp_path / "iceberg"))
    want = _golden("iceberg_dml_chain.json")
    assert got["snapshots"] == want["snapshots"]
    assert got["rows"] == want["rows"]


if __name__ == "__main__":
    import sys
    import tempfile

    from introduction_in_big_data_spark.session import get_spark

    s = get_spark("ibd-golden", cpus=4, shuffle_partitions=8)
    GOLDEN.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory() as d:
        for name, fn in (
            ("delta_dml_chain.json", run_delta_chain),
            ("iceberg_dml_chain.json", run_iceberg_chain),
        ):
            out = fn(s, os.path.join(d, name.split("_")[0]))
            (GOLDEN / name).write_text(json.dumps(out, indent=1) + "\n")
            print(f"wrote {GOLDEN / name}", file=sys.stderr)
