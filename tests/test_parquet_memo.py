"""The memoized parquet reader (sources/readers.read_parquet), the
stream stage dir keyed on the events file's identity, and the codegen
cache size set by session.get_spark."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from introduction_in_big_data_spark import plans
from introduction_in_big_data_spark.sources.readers import read_parquet
from introduction_in_big_data_spark.sources.tables import TABLE_NAMES, load_table
from introduction_in_big_data_spark.streaming import stream as st

SQL_ANALYTICS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q18_large_orders",
    "top20_brands",
    "top3_parts_per_brand",
    "bloom_pruned_revenue",
    "skew_join_unsalted",
    "skew_join_salted",
]
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _job_ids(spark) -> set[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def test_warm_builds_start_no_jobs(spark, sf_dir):
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name)
    started = {}
    for name in SQL_ANALYTICS:
        before = _job_ids(spark)
        plans.REGISTRY[name].fn(spark, sf_dir)
        started[name] = sorted(_job_ids(spark) - before)
    assert started == {name: [] for name in SQL_ANALYTICS}


def test_rewritten_file_gives_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert read_parquet(spark, path).dtypes == [("a", "bigint")]
    pq.write_table(pa.table({"a": ["x"], "b": [0.5]}), path)
    df = read_parquet(spark, path)
    assert df.dtypes == [("a", "string"), ("b", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 0.5)]


def test_flipping_nanos_as_long_reinfers(spark, tmp_path):
    path = str(tmp_path / "ns.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path, version="2.6")
    prev = spark.conf.get(NANOS_AS_LONG)
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
        assert read_parquet(spark, path).dtypes == [("ts", "bigint")]
        spark.conf.set(NANOS_AS_LONG, "false")
        # a memo hit would plan the bigint schema; inference rejects it
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
        spark.conf.set(NANOS_AS_LONG, "true")
        assert read_parquet(spark, path).collect()[0].ts == 1_700_000_000_123_456_789
    finally:
        spark.conf.set(NANOS_AS_LONG, prev)


# wall times (read as UTC) with micro fractions; the last one does not
# exist in New York (spring-forward gap)
_WALL = [
    dt.datetime(2024, 1, 1, 0, 9, 58, 778549),
    dt.datetime(2024, 6, 30, 23, 59, 59, 999999),
    dt.datetime(2024, 3, 10, 2, 30, 0, 1),
]
_EPOCH_US = [
    (w - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1) for w in _WALL
]


def _write_events(path, ts: pa.Array) -> None:
    n = len(ts)
    path.mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": ts,
                "user_id": pa.array([7] * n, pa.int64()),
                "event_type": ["view"] * n,
            }
        ),
        str(path / "events.parquet"),
        version="2.6",
    )


def test_events_nanos_and_micros_ntz_same_epochs(spark, tmp_path):
    nanos, ntz = tmp_path / "nanos", tmp_path / "ntz"
    _write_events(nanos, pa.array([e * 1000 for e in _EPOCH_US], pa.timestamp("ns")))
    _write_events(ntz, pa.array(_EPOCH_US, pa.timestamp("us")))
    assert pq.read_schema(nanos / "events.parquet").field("ts").type.unit == "ns"
    assert pq.read_schema(ntz / "events.parquet").field("ts").type.tz is None
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("Asia/Kathmandu", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            for d in (nanos, ntz):
                df = load_table(spark, str(d), "events")
                assert dict(df.dtypes)["ts"] == "timestamp"
                got = df.orderBy("event_id").selectExpr("unix_micros(ts) AS us")
                assert [r.us for r in got.collect()] == _EPOCH_US, (tz, d.name)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_stage_dir_keyed_on_events_file_not_basename(
    spark, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.setattr(st, "STAGE_ROOT", str(tmp_path / "stage"))
    events = pq.read_table(f"{sf_dir}/events.parquet")
    shifted = events.set_column(
        0, "event_id", pc.add(events["event_id"], len(events))
    )
    gen_a, gen_b = tmp_path / "genA" / "sf", tmp_path / "genB" / "sf"
    for d, tbl in ((gen_a, events), (gen_b, pa.concat_tables([events, shifted]))):
        d.mkdir(parents=True)
        pq.write_table(tbl, str(d / "events.parquet"))
    drained = {}
    for d in (gen_a, gen_b):
        s = st.events_stream(spark, str(d), n_files=2)
        out = st.run_to_memory(st.cumulative_counts(s, ["event_type"]))
        drained[d.parent.name] = sum(r.cnt for r in out.collect())
    assert drained == {"genA": len(events), "genB": 2 * len(events)}
    assert st.stage_events_dir(spark, str(gen_a), 2) != st.stage_events_dir(
        spark, str(gen_b), 2
    )


def test_codegen_cache_holds_the_sql_working_set(spark, sf_dir):
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compiled = metrics.CodegenMetrics.METRIC_COMPILATION_TIME

    def run(names) -> int:
        before = compiled().getCount()
        for name in names:
            plans.REGISTRY[name].fn(spark, sf_dir).toPandas()
        return compiled().getCount() - before

    run(SQL_ANALYTICS)
    assert run(SQL_ANALYTICS) == 0
    assert run(SQL_ANALYTICS[::-1]) == 0
