"""Round-13 optimization pins.

- tfidf's tf barrier is gated on corpus input bytes (VERDICT r12
  item 2): small file-backed corpora keep the partition-preserving
  two-scan shape, opaque/huge inputs get the single-scan barrier. The
  dispatch is pinned here, and the parity of both arms is checked by
  feeding the same rows once from parquet and once from memory.
- cf's norms localCheckpoint was reverted (VERDICT r12 item 1): the
  exact path's plan has no checkpoint scan.
- session.barrier always pins: localCheckpoint without a checkpoint
  dir, reliable checkpoint under it when the SparkContext has one.
"""

from introduction_in_big_data_spark.operators import cf
from introduction_in_big_data_spark.operators.text import (
    _input_bytes,
    tfidf_top_terms,
)

DOCS = [
    (1, "alpha beta gamma alpha"),
    (2, "beta beta delta"),
    (3, "gamma delta epsilon zeta"),
    (4, "alpha alpha alpha"),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tfidf_auto_small_file_corpus_keeps_two_scan_shape(spark, tmp_path):
    """A small parquet-backed corpus must NOT get the tf barrier: the
    plan keeps the duplicate parquet scan and has no checkpoint
    LogicalRDD scan."""
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(p)
    d = spark.read.parquet(p)
    assert (_input_bytes(d) or 0) > 0
    out = tfidf_top_terms(d, "doc_id", "text", k=2)
    assert "ExistingRDD" not in _plan(out)


def test_tfidf_auto_opaque_input_gets_barrier(spark):
    """A frame with no file lineage (in-memory) is the scale-safe case:
    auto mode must materialize tf once (checkpoint scan in the plan)."""
    d = spark.createDataFrame(DOCS, "doc_id long, text string")
    assert _input_bytes(d) is None
    out = tfidf_top_terms(d, "doc_id", "text", k=2)
    assert "ExistingRDD" in _plan(out)


def test_tfidf_barrier_arms_row_identical(spark, tmp_path):
    """The input selects the tf barrier arm: a small parquet-backed
    corpus runs without it, the same rows in memory run with it. Both
    return identical rows, and an empty-text doc emits none."""
    docs = DOCS + [(5, "")]
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(p)
    a = tfidf_top_terms(spark.read.parquet(p), "doc_id", "text", k=2)
    b = tfidf_top_terms(
        spark.createDataFrame(docs, "doc_id long, text string"),
        "doc_id",
        "text",
        k=2,
    )
    assert "ExistingRDD" not in _plan(a)
    assert "ExistingRDD" in _plan(b)
    rows_a = sorted(map(tuple, a.collect()))
    assert rows_a == sorted(map(tuple, b.collect()))
    assert rows_a
    assert not [r for r in rows_a if r[0] == 5]


def test_stream_drain_cadence_free_for_complete_agg(spark, sf_dir):
    """stream_hourly_by_type now drains uncapped (one availableNow
    batch). The drained complete-mode table must be identical to the
    1-file-per-trigger cadence it replaced — the aggregate is
    order-free by construction."""
    from introduction_in_big_data_spark.streaming import stream as st

    def drain(cap):
        s = st.events_stream(spark, sf_dir, n_files=5, max_files_per_trigger=cap)
        return st.run_to_memory(
            st.tumbling_counts(s, "ts", "1 hour", ["event_type"]),
            "complete",
            state_partitions=4,
            no_data_batches=False,
        )

    capped, uncapped = drain(1), drain(None)
    assert capped.exceptAll(uncapped).count() == 0
    assert uncapped.exceptAll(capped).count() == 0
    assert uncapped.count() > 0


RATINGS = [
    (1, 10, 4.0), (1, 11, 2.0), (1, 12, 5.0),
    (2, 10, 3.0), (2, 11, 1.0), (2, 13, 4.0),
    (3, 10, 5.0), (3, 12, 2.0), (3, 13, 3.0),
    (4, 11, 4.0), (4, 12, 4.0), (4, 13, 4.0),
]


def test_barrier_modes(spark, tmp_path):
    """session.barrier is the single materialization-barrier choke
    point (VERDICT r12 item 5) and always pins its rows: with no
    checkpoint dir it localCheckpoints (the plan scans an RDD); with
    one it writes a reliable checkpoint under that dir."""
    from introduction_in_big_data_spark.session import barrier

    sc = spark.sparkContext
    prior = sc.getCheckpointDir()
    df = spark.range(8).selectExpr("id", "id * 3 AS v")
    rows = sorted(map(tuple, df.collect()))
    ckpt = tmp_path / "ckpt"
    try:
        sc._jsc.sc().setCheckpointDir(None)
        local = barrier(df)
        assert sorted(map(tuple, local.collect())) == rows
        assert "ExistingRDD" in _plan(local)

        sc.setCheckpointDir(str(ckpt))
        reliable = barrier(df, eager=True)
        assert sorted(map(tuple, reliable.collect())) == rows
        assert any(f.name.startswith("part-") for f in ckpt.rglob("*"))
    finally:
        sc._jsc.sc().setCheckpointDir(prior)
    assert sc.getCheckpointDir() == prior


def test_cf_exact_norms_no_checkpoint_scan(spark, tmp_path):
    """The exact path's plan must not contain a checkpoint scan for the
    norms frame anymore (the revert is structural, not just timing).
    Parquet-backed input so the only possible ExistingRDD scan would be
    a checkpoint."""
    p = str(tmp_path / "ratings.parquet")
    spark.createDataFrame(
        RATINGS, "user_id long, item_id long, rating double"
    ).write.parquet(p)
    out = cf.user_cosine_similarities(spark.read.parquet(p))
    assert "ExistingRDD" not in _plan(out)
