"""Corpus-curation operators for a training-data pipeline (north-star
extension, SURVEY.md §7 Step 6): benchmark decontamination and PII
redaction.

These complete the curation surface next to dedup (operators/dedup.py),
sampling/packing (operators/text.py) and quality scoring: before a
100 TB corpus ships, docs that leak evaluation data are flagged
(decontaminate) and contact strings are scrubbed (redact_pii).

Both are oracle-checked in plans/curation_queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import barrier, local_frame

from .dedup import doc_shingles

# Redaction patterns use only syntax shared by Java regex (Spark) and
# RE2 (DuckDB) so the oracle mirrors them verbatim: no backrefs, no
# lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d{3}[- ]\d{3,4}[- ]\d{4}"


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_overlap_frac: float = 0.1,
) -> DataFrame:
    """Flag corpus documents whose word-n-gram overlap with a benchmark
    (eval) set exceeds `min_overlap_frac` of their own distinct n-grams
    — the standard train/test decontamination pass (the production
    analog uses 13-grams; n is a parameter because the test corpus has
    ~50-word docs).

    Returns (doc, n_grams, n_hit, overlap_frac) for flagged docs.

    Scale shape: the benchmark side is distinct-projected to bare
    n-grams and — being an eval set, orders of magnitude smaller than
    the corpus — broadcast, so the corpus-side explode never shuffles:
    scan → explode → broadcast-semi-probe → one aggregate keyed by doc.
    The corpus n-gram frame feeds both the size and hit counts through
    a single aggregate (conditional count), not two plan branches.
    """
    c_sh = doc_shingles(corpus, id_col, text_col, n)
    b_sh = (
        doc_shingles(benchmark, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # left join + conditional count → sizes and hits in ONE aggregate
    probed = c_sh.join(F.broadcast(b_sh), "shingle", "left")
    stats = probed.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("__hit").alias("n_hit"),
    )
    frac = F.round(F.col("n_hit") / F.col("n_grams"), 6)
    return (
        stats.withColumn("overlap_frac", frac)
        .filter(F.col("overlap_frac") >= min_overlap_frac)
        .select("doc", "n_grams", "n_hit", "overlap_frac")
    )


def incremental_dedup(
    incoming: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Flag incoming-shard documents whose normalized-text fingerprint
    already exists in the reference corpus — the dedup pass every
    *re-crawl / re-ingest* runs before appending to a 100 TB corpus.

    Scale shape is the decisive part: the CORPUS side is the 100 TB
    one, so it must never shuffle. The incoming shard's distinct
    fingerprints broadcast; the corpus scan probes them map-side
    (left_semi), so only corpus rows that collide survive — a set no
    larger than the shard itself — and that tiny matched-fp set
    broadcasts back onto the shard as an `is_dup` flag. Two broadcast
    hash joins, zero exchanges on the big side.

    Returns `incoming` plus (fp, is_dup).
    """
    from .text import fingerprint

    inc = incoming.withColumn("fp", fingerprint(F.col(text_col)))
    inc_fps = inc.select("fp").distinct()
    matched = (
        corpus.select(fingerprint(F.col(text_col)).alias("fp"))
        .join(F.broadcast(inc_fps), "fp", "left_semi")
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return inc.join(F.broadcast(matched), "fp", "left").withColumn(
        "is_dup", F.col("__dup").isNotNull()
    ).drop("__dup")


# Host extraction mirrors DuckDB's regexp form exactly; Spark's
# parse_url(url, 'HOST') agrees for well-formed http(s) URLs but the
# regexp keeps both engines on one definition (and inside codegen).
HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"


def url_host(url_col: Column) -> Column:
    """Host part of a URL ('' when the pattern misses)."""
    return F.regexp_extract(url_col, HOST_RE, 1)


def domain_report(
    df: DataFrame,
    url_col: str,
    weight_col: Column,
    blocklist: tuple[str, ...] = (),
) -> DataFrame:
    """Per-domain corpus report: document count, total weight (e.g.
    token count), and a blocklist flag — the per-source accounting that
    drives crawl filtering. One map-side-partial aggregate keyed by
    domain; the blocklist is a literal IN-list evaluated in the scan
    (a real deployment's million-entry blocklist would broadcast-join
    instead — same plan shape)."""
    host = url_host(F.col(url_col))
    return (
        df.select(
            host.alias("domain"),
            weight_col.alias("__w"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__w").alias("total_weight"),
        )
        .withColumn(
            "blocked",
            F.col("domain").isin(*blocklist) if blocklist else F.lit(False),
        )
    )


def redaction_counts(text_col: Column) -> dict[str, Column]:
    """Per-row count of each PII pattern, mirroring redaction order:
    emails are counted on the raw text, phones on the email-redacted
    intermediate — so a phone-shaped substring inside an email local
    part (e.g. '555-123-4567@x.com') is neither counted nor tagged,
    and the counts always agree with the tags in the redacted output."""
    emails_gone = F.regexp_replace(text_col, EMAIL_RE, "<EMAIL>")
    return {
        "n_emails": F.size(F.regexp_extract_all(text_col, F.lit(EMAIL_RE), 0)),
        "n_phones": F.size(F.regexp_extract_all(emails_gone, F.lit(PHONE_RE), 0)),
    }


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace email addresses and phone numbers with fixed tags and
    record per-row match counts. Pure per-row column expressions — at
    100 TB this runs inside WholeStageCodegen over the scan, no
    shuffle, no UDF. Emails are redacted before phones so a digit-y
    local part can't double-count; phone COUNTS are likewise taken on
    the email-redacted intermediate so counts == tags emitted."""
    c = F.col(text_col)
    counts = redaction_counts(c)
    redacted = F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return df.withColumns({**counts, "redacted": redacted})


def funnel_report(
    docs: DataFrame,
    quality_threshold: float = 0.5,
    lang: str = "en",
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end curation funnel accounting in ONE corpus scan:
    per-source doc counts surviving (1) language ID, (2) quality
    threshold, (3) exact dedup (normalized-md5 canonical, min id wins
    among surviving docs), plus the kept token budget. Per-doc flags
    are pure column expressions evaluated inline in the scan stage;
    the only shuffles are the dedup window (fp) and the per-source
    aggregate — a 100 TB curation run reports every stage without
    re-scanning per stage."""
    from pyspark.sql import Window

    from . import text as textops

    c = F.col(text_col)
    scored = docs.select(
        F.col(id_col).alias("_id"),
        F.col(source_col).alias("source"),
        F.size(F.regexp_extract_all(c, F.lit(r"\S+"), 0)).alias("n_tokens"),
        (textops.language_id(c) == lang).alias("lang_ok"),
        (textops.quality_score(c) >= quality_threshold).alias("quality_ok"),
        textops.fingerprint(c).alias("fp"),
    ).withColumn("passed", F.col("lang_ok") & F.col("quality_ok"))
    w = Window.partitionBy("fp", "passed").orderBy("_id")
    ranked = scored.withColumn("rn", F.row_number().over(w))
    kept = F.col("passed") & (F.col("rn") == 1)
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_raw"),
        F.sum(F.col("lang_ok").cast("long")).alias("n_lang"),
        F.sum(F.col("passed").cast("long")).alias("n_quality"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0))).alias("tokens_kept"),
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    seed: int,
    num_shards: int = 16,
) -> DataFrame:
    """Deterministic EPOCH SHUFFLE for training export — the step
    between a curated corpus and a dataloader: every epoch the corpus
    is re-ordered by a seeded permutation and cut into shards so each
    trainer rank streams its shard sequentially (random access into
    100 TB of parquet is not a thing; a re-shuffled COPY per epoch
    is). The permutation key is md5(seed || id) — engine-agnostic,
    reproducible, and uniform. The shard id comes from the key:

      * when num_shards divides 16, shard = first hex nibble mod
        num_shards — exactly uniform (every residue has 16/n nibble
        preimages) and byte-identical to the original v1 formula, so
        pinned checksums on 2/4/8/16-shard exports never move;
      * otherwise shard = first 32 key bits mod num_shards — the
        nibble rule would be visibly non-uniform there (n=3 gives
        weights 6/16, 5/16, 5/16 — a ~20% spread between trainer
        ranks), while the 32-bit fold's residual bias is 2^-32-scale.

    `pos` is the row's rank WITHIN its shard in key order, computed
    WITHOUT a per-shard window (which would hash-partition into only
    `num_shards` groups and cap the whole export at `num_shards`
    tasks — fatal when shards map to trainer ranks over 100 TB).
    Instead, the two-pass distributed-rank shape shared with
    topk.exact_ntile:

      1. `repartitionByRange(shard, shuffle_key)` — the sampled range
         partitioner spreads the (shard, key) total order across ALL
         shuffle partitions, so parallelism scales with the cluster,
         not with num_shards;
      2. one tiny count job: rows per (physical partition, shard) —
         P·n_shards integers on the driver, nothing else;
      3. prefix-sum those counts per shard into rank offsets,
         broadcast them back as a small join;
      4. row_number over a window partitioned by (physical partition,
         shard) — never a global or shard-wide window —
         pos = offset + local row_number - 1.

    Range partitioning guarantees every key in partition i sorts
    before every key in partition i+1, so offset + local rank IS the
    shard-global rank; the output permutation is identical to the
    single-window formulation row for row. The ranged exchange is
    materialized once via localCheckpoint so the count job and the
    rank job share it. Writing shards out is partitionBy("shard") on
    this frame; re-seeding re-permutes everything (epoch 2 is one
    more run, never a stateful shuffle buffer).
    Returns (id, shard, pos, shuffle_key)."""
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    from pyspark.sql import Window

    key = F.md5(F.concat(F.lit(str(seed)), F.lit("|"), F.col(id_col).cast("string")))
    if 16 % num_shards == 0:
        shard = (
            F.instr(F.lit("0123456789abcdef"), F.substring("shuffle_key", 1, 1)) - 1
        ) % num_shards
    else:
        shard = F.pmod(
            F.conv(F.substring("shuffle_key", 1, 8), 16, 10).cast("long"), num_shards
        )
    keyed = (
        df.select(F.col(id_col), key.alias("shuffle_key"))
        .withColumn("shard", shard.cast("int"))
        .repartitionByRange(F.col("shard"), F.col("shuffle_key"))
        .withColumn("__pid", F.spark_partition_id())
        .transform(barrier, eager=True)
    )
    counts = (
        keyed.groupBy("__pid", "shard").agg(F.count(F.lit(1)).alias("__n")).collect()
    )
    per_shard: dict[int, list[tuple[int, int]]] = {}
    for r in counts:
        per_shard.setdefault(r["shard"], []).append((r["__pid"], r["__n"]))
    offsets = []
    for sh, pid_counts in per_shard.items():
        acc = 0
        for pid, n in sorted(pid_counts):
            offsets.append((pid, sh, acc))
            acc += n
    spark = df.sparkSession
    off_df = local_frame(
        spark,
        offsets or [(0, 0, 0)], schema="__pid int, shard int, __off long"
    )
    w = Window.partitionBy("__pid", "shard").orderBy("shuffle_key")
    return (
        keyed.join(F.broadcast(off_df), ["__pid", "shard"])
        .withColumn("pos", (F.col("__off") + F.row_number().over(w) - 1).cast("long"))
        .select(id_col, "shard", "pos", "shuffle_key")
    )
