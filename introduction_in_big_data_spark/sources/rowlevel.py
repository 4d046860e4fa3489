"""Format-neutral steps of row-level DML, shared by the Delta
(sources/deltalog.py) and Iceberg (sources/iceberg.py) readers.

Both formats find the rows a DELETE / UPDATE / MERGE touches the same
way: scan the skipping-pruned candidate files with their
`_metadata.file_path` / `_metadata.row_index`, drop the rows already
tombstoned (Delta deletion vectors, Iceberg position deletes and v3
deletion vectors) with a broadcast (path, pos) anti-join, and — on the
deletion-vector paths — collect each hit file's sorted positions to
the driver, where they become the file's vector. Reads apply
tombstones through the same join. Only the commit step is
per-format."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def norm_path(c: Column) -> Column:
    """A `file:` URI column as a local path (`file:///t/x` → `/t/x`):
    the form both formats' tombstones and driver-side maps key on."""
    return F.regexp_replace(c, "^file:/+", "/")


def position_cols() -> list[Column]:
    """The scan-side (normalized file path, row index) pair, aliased
    `__path` / `__pos`. Resolvable only on a frame rooted at the file
    scan, so it rides along from the first projection."""
    return [
        norm_path(F.col("_metadata.file_path")).alias("__path"),
        F.col("_metadata.row_index").alias("__pos"),
    ]


def join_tombstones(
    df: DataFrame, tombstones: DataFrame, how: str = "left_anti"
) -> DataFrame:
    """Join `df` (carrying `__path` and `__pos`) against a (file_path,
    pos) tombstone frame, broadcast: `left_anti` drops tombstoned rows
    (the default), `left_semi` / `inner` keep only them. Tombstone
    sets are compact by construction — they exist to avoid rewriting
    data files — so the data side never shuffles."""
    dels = tombstones.select(
        norm_path(F.col("file_path")).alias("__del_path"),
        F.col("pos").alias("__del_pos"),
    )
    return df.join(
        F.broadcast(dels),
        (F.col("__path") == F.col("__del_path"))
        & (F.col("__pos") == F.col("__del_pos")),
        how,
    )


def collect_positions(matched: DataFrame) -> dict[str, list[int]]:
    """{file path: sorted row positions} of the matched rows — the
    driver-side input of a deletion-vector commit, bounded by matched
    rows (a DML touching most of a table belongs on a rewrite
    path)."""
    return {
        r["__path"]: [int(x) for x in r["pos"]]
        for r in matched.groupBy("__path")
        .agg(F.sort_array(F.collect_list("__pos")).alias("pos"))
        .collect()
    }


def check_assignments(
    op: str, set_exprs: dict[str, str], columns, part_cols=()
) -> None:
    """The one UPDATE-assignment check: every assigned column must
    exist, and none may be a partition column (rows never move
    partitions on UPDATE — that is MERGE's job)."""
    unknown = sorted(set(set_exprs) - set(columns))
    if unknown:
        raise ValueError(f"{op}: unknown columns {unknown}")
    bad = sorted(set(set_exprs) & set(part_cols))
    if bad:
        raise ValueError(
            f"{op}: partition columns cannot be assigned: {bad} (rows "
            "never move partitions on UPDATE — that is MERGE's job)"
        )


def assign(
    set_exprs: dict[str, str], fields, when: Column | None = None
) -> list[Column]:
    """The UPDATE projection over `fields`: each assigned column's SQL
    expression cast to its type, every other column passed through.
    ONE projection, so each right-hand side evaluates against the OLD
    row (SQL UPDATE semantics, never a co-assigned column). With
    `when`, only rows where it holds take the assignment."""
    out = []
    for f in fields:
        if f.name not in set_exprs:
            out.append(F.col(f.name))
            continue
        e = F.expr(set_exprs[f.name]).cast(f.dataType)
        if when is not None:
            e = F.when(when, e).otherwise(F.col(f.name))
        out.append(e.alias(f.name))
    return out
