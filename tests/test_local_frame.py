"""session.local_frame: the one driver-rows -> DataFrame path.

Pins that it is a drop-in for createDataFrame(list, schema) — same
rows for every column type the package builds driver-side, in
non-whole-hour and DST session time zones — that it plans a
LocalTableScan (no Python worker), and that it is the only place the
package calls createDataFrame.
"""

from __future__ import annotations

import ast
import datetime as dt
from pathlib import Path

import pytest

import introduction_in_big_data_spark
from introduction_in_big_data_spark.session import local_frame

DDL = (
    "s string, i int, l long, d double, b boolean, t timestamp, dd date, "
    "a array<string>, at array<timestamp>, "
    "st struct<x:long, y:string, z:timestamp>, tn timestamp_ntz"
)
ROWS = [
    (
        "x", 1, 2**40, 1.5, True,
        dt.datetime(2020, 3, 8, 2, 30, 0, 123456),  # naive, inside a DST gap
        dt.date(1969, 12, 31),
        ["a", None],
        [dt.datetime(2001, 1, 1)],
        (1, "y", dt.datetime(1999, 1, 1, tzinfo=dt.timezone.utc)),
        dt.datetime(2020, 3, 8, 2, 30),
    ),
    (None,) * 11,
    (
        "z", -5, -1, -0.25, False,
        dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone.utc),
        dt.date(2024, 2, 29),
        [],
        [None],
        None,
        None,
    ),
]
RENDERED = [
    "s", "i", "l", "d", "b", "cast(t as string) t", "cast(dd as string) dd",
    "a", "cast(at as string) at", "cast(st.z as string) z", "st.x", "st.y",
    "cast(tn as string) tn",
]


@pytest.fixture
def session_tz(spark, request):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", request.param)
    yield request.param
    spark.conf.set("spark.sql.session.timeZone", old)


@pytest.mark.parametrize(
    "session_tz", ["Asia/Kathmandu", "America/New_York"], indirect=True
)
def test_rows_match_create_dataframe(spark, session_tz):
    ours = local_frame(spark, ROWS, DDL)
    ref = spark.createDataFrame(ROWS, DDL)
    assert ours.schema == ref.schema
    assert ours.collect() == ref.collect()
    # the session-time-zone rendering too, not just the Python values
    assert ours.selectExpr(*RENDERED).collect() == ref.selectExpr(*RENDERED).collect()


def test_dict_rows_with_nested_structs_match(spark):
    """The Delta checkpoint writer's shape: dict rows, nested struct
    values given as dicts, missing keys read as null."""
    ddl = (
        "add struct<path:string, partitionValues:map<string,string>, "
        "size:long, dv:struct<storageType:string>>, "
        "remove struct<path:string, deletionTimestamp:long, dataChange:boolean>"
    )
    rows = [
        {"add": {"path": "p", "partitionValues": {"k": "1"}, "size": 3}},
        {"remove": {"path": "q", "deletionTimestamp": 5, "dataChange": True}},
    ]
    assert local_frame(spark, rows, ddl).collect() == (
        spark.createDataFrame(rows, ddl).collect()
    )


def test_zero_rows_give_typed_empty_frame(spark):
    df = local_frame(spark, [], DDL)
    assert df.schema == spark.createDataFrame([], DDL).schema
    assert df.collect() == []


def test_rejects_what_create_dataframe_rejects(spark):
    with pytest.raises(Exception, match="not nullable"):
        local_frame(spark, [(None,)], "a long not null")
    with pytest.raises(Exception, match="can not accept"):
        local_frame(spark, [(1.5,)], "a long")


def test_small_input_plans_local_table_scan(spark):
    df = local_frame(spark, [("f", 1), ("g", 2)], "file_path string, pos long")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan


def test_create_dataframe_only_inside_local_frame():
    """One way to build a frame from driver rows: every other
    createDataFrame( in the package would bring back the Python-worker
    round trip local_frame exists to remove."""
    pkg = Path(introduction_in_big_data_spark.__file__).parent
    session = pkg / "session.py"
    fn = next(
        n
        for n in ast.parse(session.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    stray = []
    for path in sorted(pkg.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if "createDataFrame(" not in line:
                continue
            if path == session and fn.lineno <= no <= fn.end_lineno:
                continue
            stray.append(f"{path.relative_to(pkg)}:{no}")
    assert stray == []
