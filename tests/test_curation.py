"""Intended-semantics unit tests for the curation operators
(operators/curation.py): decontamination flags exactly the docs that
share enough n-grams with the benchmark, and PII redaction scrubs
every planted pattern without touching clean text."""

from __future__ import annotations

from pyspark.sql import functions as F

from introduction_in_big_data_spark.operators import curation


def test_decontaminate_flags_overlapping_docs(spark):
    corpus = spark.createDataFrame(
        [
            # 8 distinct trigrams, 6 shared with the benchmark → 0.75
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            # no shared trigrams
            (2, "one two three four five six"),
            # too short for a trigram → dropped by explode (no row)
            (3, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    benchmark = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    out = curation.decontaminate(
        corpus, benchmark, "doc_id", "text", n=3, min_overlap_frac=0.5
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert row.doc == 1
    assert row.n_grams == 8
    assert row.n_hit == 6
    assert abs(row.overlap_frac - 0.75) < 1e-9


def test_decontaminate_threshold_excludes_low_overlap(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma one two three four five six seven")],
        ["doc_id", "text"],
    )
    benchmark = spark.createDataFrame(
        [(100, "alpha beta gamma")], ["doc_id", "text"]
    )
    # 1 shared of 8 grams = 0.125
    hits = curation.decontaminate(
        corpus, benchmark, "doc_id", "text", n=3, min_overlap_frac=0.2
    ).count()
    assert hits == 0
    hits_low = curation.decontaminate(
        corpus, benchmark, "doc_id", "text", n=3, min_overlap_frac=0.1
    ).count()
    assert hits_low == 1


def test_redact_pii_scrubs_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.user+tag@sub.example.org and b@x.io now"),
            (2, "call 555-123-4567 or +30 210-555-1234 today"),
            (3, "clean text with no contact info at all"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in curation.redact_pii(df, "text").collect()}
    assert rows[1].n_emails == 2 and rows[1].n_phones == 0
    assert rows[1].redacted == "mail <EMAIL> and <EMAIL> now"
    assert rows[2].n_emails == 0 and rows[2].n_phones == 2
    assert "<PHONE>" in rows[2].redacted
    assert "555" not in rows[2].redacted and "210" not in rows[2].redacted
    assert rows[3].n_emails == 0 and rows[3].n_phones == 0
    assert rows[3].redacted == rows[3].text


def test_decontaminate_benchmark_side_is_broadcast(spark):
    corpus = spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), F.col("id"), F.lit(" common trigram words here too")).alias(
            "text"
        ),
    )
    benchmark = spark.createDataFrame(
        [(999, "common trigram words here")], ["doc_id", "text"]
    )
    plan = (
        curation.decontaminate(corpus, benchmark, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_funnel_report_stages(spark):
    """Each funnel stage drops exactly the engineered doc: German fails
    language ID, the 5-token doc fails quality, the case/whitespace
    duplicate fails dedup (min doc_id canonical), and tokens_kept
    counts only survivors."""
    from introduction_in_big_data_spark.operators.curation import funnel_report

    good = (
        "the cat and dog of house to garden is bright alpha beta gamma "
        "delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    )  # 24 tokens, 5 'en' markers, all distinct -> quality 1.0
    dup = good.replace("the cat", "The  CAT")  # same normalized fingerprint
    rows = [
        (1, good, "sA"),
        (2, dup, "sA"),
        (3, "der die und nicht ist der die und nicht ist", "sA"),
        (4, "the the the the the", "sB"),  # en but quality 0.36 < 0.5
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: (
            r["n_raw"], r["n_lang"], r["n_quality"], r["n_kept"], r["tokens_kept"]
        )
        for r in funnel_report(docs).collect()
    }
    assert got == {"sA": (3, 2, 2, 1, 24), "sB": (1, 1, 0, 0, 0)}


def test_char_lm_scores_rank_typicality(spark):
    """The corpus-trained trigram LM must score corpus-typical text
    (repeated common grams) lower-NLL than a one-off random-looking
    string, and drop sub-trigram docs."""
    from introduction_in_big_data_spark.operators.text import char_lm_scores

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat " * 20),
            (2, "the cat sat on the mat " * 20),
            (3, "qzx#7!vb@kplm&wy"),  # grams seen once each
            (4, "ab"),  # too short: no grams, no row
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in char_lm_scores(docs).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["avg_nll"] == got[2]["avg_nll"]  # identical docs, identical score
    assert got[1]["avg_nll"] < got[3]["avg_nll"], "typical text must look more likely"
    assert got[3]["n_grams"] == len("qzx#7!vb@kplm&wy") - 2


def test_char_grams_sql_matches_counter_reference(spark):
    """The JVM sort+RLE gram kernel emits exactly the (doc, gram, cnt)
    rows of Python's Counter over text[i:i+3] — code-point semantics
    on unicode and astral-plane (surrogate-pair-in-UTF-16) chars,
    empty/short docs, nulls and runs — and char_lm_scores scores
    exactly the docs with at least one gram."""
    from collections import Counter

    from introduction_in_big_data_spark.operators.text import (
        _char_grams_sql,
        char_lm_scores,
    )

    texts = {
        1: "the cat sat on the mat " * 7,
        2: "",
        3: "ab",
        4: "aaaaaa",
        5: "héllo wörld héllo",
        6: "x\U0001f600\U0001f600yz\U0001f600\U0001f600y",
        7: None,
        8: "abc",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    want = {
        doc: Counter(t[i : i + 3] for i in range(len(t) - 2))
        for doc, t in texts.items()
        if t and len(t) >= 3
    }
    got = sorted(map(tuple, _char_grams_sql(docs, "doc_id", "text").collect()))
    assert got == sorted(
        (doc, g, c) for doc, grams in want.items() for g, c in grams.items()
    )
    scores = {r["doc_id"]: r["n_grams"] for r in char_lm_scores(docs).collect()}
    assert scores == {doc: sum(grams.values()) for doc, grams in want.items()}


def test_epoch_shuffle_deterministic_and_reseeds(spark):
    from introduction_in_big_data_spark.operators.curation import (
        epoch_shuffle,
    )
    from pyspark.sql import functions as F

    docs = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    a = {
        (x.doc_id): (x.shard, x.pos)
        for x in epoch_shuffle(docs, "doc_id", seed=1, num_shards=8).collect()
    }
    b = {
        (x.doc_id): (x.shard, x.pos)
        for x in epoch_shuffle(docs, "doc_id", seed=1, num_shards=8).collect()
    }
    assert a == b  # same seed -> identical permutation
    c = {
        (x.doc_id): (x.shard, x.pos)
        for x in epoch_shuffle(docs, "doc_id", seed=2, num_shards=8).collect()
    }
    assert a != c  # epoch 2 is a different permutation
    # positions are dense [0, |shard|) within every shard
    from collections import defaultdict

    by_shard = defaultdict(list)
    for shard, pos in a.values():
        by_shard[shard].append(pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss)))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="num_shards"):
        epoch_shuffle(docs, "doc_id", seed=1, num_shards=0)


def test_epoch_shuffle_matches_single_window_formulation(spark):
    """The range-partition + broadcast-offset two-pass must reproduce
    the v1 per-shard-window permutation ROW FOR ROW (the driver's
    epoch_shuffle_shards checksum is pinned to it)."""
    from introduction_in_big_data_spark.operators.curation import epoch_shuffle
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    got = {
        x.doc_id: (x.shard, x.pos, x.shuffle_key)
        for x in epoch_shuffle(docs, "doc_id", seed=7, num_shards=8).collect()
    }
    key = F.md5(F.concat(F.lit("7"), F.lit("|"), F.col("doc_id").cast("string")))
    ref = (
        docs.select("doc_id", key.alias("shuffle_key"))
        .withColumn(
            "shard",
            (
                (
                    F.instr(
                        F.lit("0123456789abcdef"), F.substring("shuffle_key", 1, 1)
                    )
                    - 1
                )
                % 8
            ).cast("int"),
        )
        .withColumn(
            "pos",
            (
                F.row_number().over(Window.partitionBy("shard").orderBy("shuffle_key"))
                - 1
            ).cast("long"),
        )
    )
    want = {x.doc_id: (x.shard, x.pos, x.shuffle_key) for x in ref.collect()}
    assert got == want


def test_epoch_shuffle_beyond_16_shards_and_uniformity(spark):
    """num_shards > 16 is now supported (trainer ranks at 100 TB are
    hundreds, not 16), positions stay dense per shard, and shard sizes
    for n ∤ 16 are near-uniform (the 32-bit fold fixes the nibble
    rule's 6/16-5/16-5/16 skew at n=3)."""
    from collections import defaultdict

    from introduction_in_big_data_spark.operators.curation import epoch_shuffle
    from pyspark.sql import functions as F

    docs = spark.range(0, 3000).select(F.col("id").alias("doc_id"))
    rows = epoch_shuffle(docs, "doc_id", seed=3, num_shards=24).collect()
    assert {r.shard for r in rows} == set(range(24))
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r.shard].append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))

    # n=3 does not divide 16: the old nibble rule gave expected shares
    # (6/16, 5/16, 5/16); the 32-bit fold should land each shard near
    # 1/3 (md5 is uniform; 3000 rows -> stddev ~26, allow 5 sigma).
    sizes = defaultdict(int)
    for r in epoch_shuffle(docs, "doc_id", seed=3, num_shards=3).collect():
        sizes[r.shard] += 1
    for n in sizes.values():
        assert abs(n - 1000) < 130, sizes
