"""Text-analysis queries over the documents table (north-star
extension: language-ID, quality scoring, token counting, document
fingerprinting — SURVEY.md §7 Step 6).

Tokenization is pinned to `regexp_extract_all('\\S+')` on both engines
(never split-on-space, which disagrees about empty tokens).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.textfns import token_count, tokens
from ..operators import text as textops
from .registry import register, t


@register(
    "text_token_stats",
    oracle="""
        SELECT doc_id,
               n_tokens,
               n_chars_m,
               round(nospace_chars * 1.0 / greatest(n_tokens, 1), 4) AS avg_token_len
        FROM (
            SELECT doc_id,
                   len(regexp_extract_all(text, '\\S+'))                    AS n_tokens,
                   length(text)                                             AS n_chars_m,
                   length(regexp_replace(text, '\\s+', '', 'g'))            AS nospace_chars
            FROM documents
        )
    """,
    tags=("text",),
    bench=True,
)
def text_token_stats(spark, sf_dir):
    """Token/char statistics — pure per-row map, zero shuffles; the
    whole operator runs inside the parquet scan stage at any scale."""
    d = t(spark, sf_dir, "documents")
    return textops.with_token_stats(d, "text").select(
        "doc_id", "n_tokens", "n_chars_m", "avg_token_len"
    )


@register(
    "text_bpe_token_count",
    oracle="""
        SELECT doc_id,
               len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe_tokens,
               len(regexp_extract_all(text, '\\S+'))                         AS n_ws_tokens
        FROM documents
    """,
    tags=("text",),
)
def text_bpe_token_count(spark, sf_dir):
    """BPE-ish token counting: alphanumeric runs + individual
    punctuation marks (the pre-tokenizer split most BPE vocabularies
    assume), next to plain whitespace tokens. A cheap, pure-regex proxy
    for LLM token budgeting at scan speed — per-row map, zero shuffles."""
    d = t(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(c, F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0)).alias(
            "n_bpe_tokens"
        ),
        F.size(F.regexp_extract_all(c, F.lit(r"\S+"), 0)).alias("n_ws_tokens"),
    )


@register(
    "text_quality",
    oracle=f"""
        SELECT doc_id,
               round(0.4 * len_ok
                   + 0.3 * least(1.0, stop * 5.0 / n)
                   + 0.3 * (ttr * 1.0 / n), 4) AS quality
        FROM (
            SELECT doc_id,
                   greatest(len(toks), 1) AS n,
                   len(list_filter(toks, x -> x IN {textops.LANG_MARKERS["en"]!r})) AS stop,
                   len(list_distinct(toks)) AS ttr,
                   CASE WHEN len(toks) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.0 END AS len_ok
            FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents)
        )
    """,
    tags=("text",),
)
def text_quality(spark, sf_dir):
    """Heuristic quality score (length band + stopword ratio +
    type-token ratio) — the text twin of the reference's outlier-band
    cleaning. Per-row map, shuffle-free."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", textops.quality_score(F.col("text")).alias("quality"))


def _lang_case_sql() -> str:
    score = {
        lang: f"len(list_filter(toks, x -> x IN {markers!r}))"
        for lang, markers in textops.LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(score.values()) + ")"
    whens = "\n".join(
        f"WHEN {score[lang]} = best AND best > 0 THEN '{lang}'"
        for lang in textops.LANG_MARKERS
    )
    return f"""
        SELECT doc_id, CASE {whens} ELSE 'und' END AS pred_lang
        FROM (
            SELECT doc_id, toks, {best} AS best
            FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
                  FROM documents)
        )
    """


@register("text_language_id", oracle=_lang_case_sql(), tags=("text",))
def text_language_id(spark, sf_dir):
    """Marker-stopword language ID with fixed tie precedence — a cheap
    deterministic per-row classifier (the scale answer is 'filter
    first, model later')."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", textops.language_id(F.col("text")).alias("pred_lang"))


@register(
    "text_fingerprints",
    oracle="""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    """,
    tags=("text", "dedup"),
)
def text_fingerprints(spark, sf_dir):
    """Normalized-content fingerprint (md5 of lower+whitespace-collapsed
    text) — the exact-dedup key."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", textops.fingerprint(F.col("text")).alias("fp"))


@register(
    "text_winnow_fingerprints",
    oracle="""
        WITH normed AS (
            SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
            FROM documents
        ),
        hashed AS (
            SELECT doc_id,
                   [substr(md5(substr(norm, i, 8)), 1, 16)
                    for i in range(1, greatest(length(norm) - 7, 0) + 1)] AS hashes
            FROM normed
        ),
        winnowed AS (
            SELECT doc_id,
                   list_distinct([list_min(hashes[i:i+15])
                                  for i in range(1, greatest(len(hashes) - 15, 0) + 1)]) AS fps
            FROM hashed
        )
        SELECT doc_id, unnest(fps) AS fingerprint FROM winnowed
    """,
    tags=("text", "dedup", "fingerprint"),
)
def text_winnow_fingerprints(spark, sf_dir):
    """Rolling-hash winnowing fingerprints (char 8-grams, window 16) —
    substring-level near-dup signal; docs sharing any ≥23-char run
    share a fingerprint. md5-based → the whole rolling-hash pipeline is
    oracle-hash-checked."""
    d = t(spark, sf_dir, "documents")
    return textops.winnow_fingerprints(d, "doc_id", "text", k=8, window=16)


@register(
    "text_ngram_freq",
    oracle="""
        WITH words AS (SELECT string_split_regex(text, '\\s+') AS w FROM documents),
        grams AS (
            SELECT unnest(CASE WHEN len(w) >= 2
                               THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
                               ELSE CAST([] AS VARCHAR[]) END) AS bigram
            FROM words
        )
        SELECT bigram, count(*) AS cnt
        FROM grams
        GROUP BY bigram
        ORDER BY cnt DESC, bigram
        LIMIT 50
    """,
    tags=("text", "agg"),
)
def text_ngram_freq(spark, sf_dir):
    """Corpus-level bigram frequencies, top-50 — explode + hash-agg +
    TakeOrdered; the shuffle carries only (bigram, partial count)."""
    from ..functions.textfns import shingles_from_tokens

    d = t(spark, sf_dir, "documents")
    tokenized = d.select(tokens(F.col("text")).alias("__toks"))
    grams = tokenized.select(
        F.explode(shingles_from_tokens(F.col("__toks"), n=2, distinct=False)).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(50)
    )


@register(
    "text_repetition_ratio",
    oracle="""
        WITH words AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
        ),
        grams AS (
            SELECT doc_id, unnest(
                CASE WHEN len(w) >= 3
                     THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           for i in range(1, len(w) - 1)]
                     ELSE CAST([] AS VARCHAR[]) END) AS gram
            FROM words
        ),
        freq AS (
            SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
        )
        SELECT doc_id AS doc, round(max(c) * 1.0 / sum(c), 6) AS rep_ratio
        FROM freq GROUP BY doc_id
    """,
    tags=("text", "quality"),
)
def text_repetition_ratio(spark, sf_dir):
    """Gopher-style repetition rule: share of all trigram occurrences
    owned by the most frequent trigram — boilerplate/spam filter signal
    for training-data curation. Two map-side-partial hash aggregates;
    the shuffle moves (doc, gram, count), never raw text."""
    from ..operators.text import repetition_ratio

    d = t(spark, sf_dir, "documents")
    return repetition_ratio(d, "doc_id", "text", n=3)


@register(
    "corpus_composition",
    oracle="""
        SELECT source, lang,
               count(*) AS n_docs,
               CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
                   AS total_tokens,
               round(avg(n_chars), 2) AS avg_chars
        FROM documents
        GROUP BY source, lang
    """,
    tags=("text", "agg"),
)
def corpus_composition(spark, sf_dir):
    """Corpus-composition report (C4/Dolma-style): docs, token budget
    and size per (source, language) — the rollup every data-mixing
    decision starts from. One hash-aggregate; token counting rides the
    scan stage."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


# per-source sampling rates in 256ths, encoded as a 2-hex-digit md5
# prefix threshold: keep doc iff substr(md5(doc_id), 1, 2) < thr.
# String comparison of fixed-width lowercase hex == numeric comparison,
# and both engines produce identical md5 hex, so the sample is
# deterministic AND oracle-reproducible (no rand(), no seed drift).
_MIX_RATES = {"src0": "80", "src1": "40", "src2": "c0"}  # 50%, 25%, 75%
_MIX_DEFAULT = "20"  # 12.5% for the long tail


@register(
    "sample_mix_by_source",
    oracle=f"""
        SELECT source,
               count(*) AS n_docs,
               count(*) FILTER (
                   WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
                       CASE source
                           WHEN 'src0' THEN '{_MIX_RATES["src0"]}'
                           WHEN 'src1' THEN '{_MIX_RATES["src1"]}'
                           WHEN 'src2' THEN '{_MIX_RATES["src2"]}'
                           ELSE '{_MIX_DEFAULT}'
                       END
               ) AS n_sampled
        FROM documents
        GROUP BY source
    """,
    tags=("text", "sampling"),
)
def sample_mix_by_source(spark, sf_dir):
    """Deterministic stratified sampling for training-data mixing:
    per-source keep-rates applied via an md5-prefix threshold on the
    doc id — reproducible across engines, runs and cluster sizes
    (unlike rand()-based sampleBy), and a pure per-row map, so the
    mix rebalances 100 TB without any shuffle beyond the final tiny
    per-source rollup."""
    d = t(spark, sf_dir, "documents")
    thr = F.when(F.col("source") == "src0", _MIX_RATES["src0"]).when(
        F.col("source") == "src1", _MIX_RATES["src1"]
    ).when(F.col("source") == "src2", _MIX_RATES["src2"]).otherwise(_MIX_DEFAULT)
    sampled = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < thr
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(sampled.cast("long")).alias("n_sampled"),
    )


SHARD_TOKEN_BUDGET = 2048


@register(
    "token_shard_stats",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS ntok
            FROM documents
        ),
        cum AS (
            SELECT doc_id, ntok,
                   sum(ntok) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS c
            FROM tok
        )
        SELECT CAST(floor((c - ntok) / {SHARD_TOKEN_BUDGET}.0) AS BIGINT) AS shard,
               count(*) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS shard_tokens
        FROM cum
        GROUP BY shard
    """,
    tags=("text", "window", "scale"),
)
def token_shard_stats(spark, sf_dir):
    """Token-budget shard packing for training runs: docs in id order
    fill consecutive ~2048-token shards. The global prefix sum behind
    it runs as a two-pass distributed scan (range partition →
    partition-local window → broadcast offsets; operators/text.py
    pack_token_shards), NOT a single-partition global window — the
    oracle's plain windowed SQL computes the identical result, which
    is precisely the point: same semantics, scalable plan."""
    from ..operators.text import pack_token_shards

    d = t(spark, sf_dir, "documents")
    shards = pack_token_shards(
        d, "doc_id", token_count(F.col("text")), SHARD_TOKEN_BUDGET
    )
    return shards.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("shard_tokens"),
    )


@register(
    "tfidf_top_terms",
    oracle="""
        WITH tok AS (
            SELECT doc_id AS doc, unnest(regexp_extract_all(text, '\\S+')) AS term
            FROM documents
        ),
        tf AS (SELECT doc, term, count(*) AS tf FROM tok GROUP BY doc, term),
        dfreq AS (SELECT term, count(DISTINCT doc) AS dfreq FROM tok GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc, tf.term,
                   round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.dfreq + 1.0)), 6)
                       AS score
            FROM tf JOIN dfreq USING (term) CROSS JOIN n
        )
        SELECT doc, term, score, CAST(rn AS INT) AS rn FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc ORDER BY score DESC, term) AS rn
            FROM scored
        ) WHERE rn <= 3
    """,
    tags=("text", "agg", "window", "topk"),
    bench=True,
)
def tfidf_top_terms_q(spark, sf_dir):
    """Top-3 TF-IDF terms per document. See
    operators/text.tfidf_top_terms for the scale shape (round 8: one
    pair-stream exchange — doc pre-partition rides through the tf
    aggregate, the broadcast-df join and the top-k window; the r4-r7
    0.25x spread knob is superseded by the operator's own
    doc_partitions exchange sizing)."""
    from ..operators.text import tfidf_top_terms

    return tfidf_top_terms(
        t(spark, sf_dir, "documents"), "doc_id", "text", k=3
    )


@register(
    "doc_sentences",
    oracle=r"""
        WITH s AS (
            SELECT doc_id,
                   list_filter(
                       list_transform(
                           regexp_extract_all(text, '[^.!?]+[.!?]?'),
                           x -> trim(x, ' ' || chr(9) || chr(10) || chr(13))),
                       x -> x <> '') AS lst
            FROM documents
        )
        SELECT doc_id,
               CAST(u.i - 1 AS INT) AS sent_idx,
               lst[u.i] AS sentence,
               CAST(length(lst[u.i]) AS INT) AS n_chars
        FROM s, unnest(range(1, len(lst) + 1)) AS u(i)
    """,
    tags=("text", "udtf"),
)
def doc_sentences(spark, sf_dir):
    """Python UDTF in the driver-checked path: LATERAL-join the
    SplitSentences table function against documents — one input row,
    variable output rows computed in Python, the template for
    stateful tokenizers/parsers no column expression can express
    (SURVEY.md §2.10). The oracle mirrors the regex split + strip +
    empty-drop + positional index in SQL, so the UDTF's Python row
    expansion is value-hash-checked, not just smoke-run."""
    from ..functions.udfs import SplitSentences

    spark.udtf.register("split_sentences", SplitSentences)
    t(spark, sf_dir, "documents").createOrReplaceTempView("__docs_for_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_chars
        FROM __docs_for_udtf d, LATERAL split_sentences(d.text) s
        """
    )


@register(
    "text_char_lm_quality",
    oracle="""
        WITH grams AS (
            SELECT doc_id, substring(text, CAST(i.v AS BIGINT), 3) AS g
            FROM documents, unnest(range(1, length(text) - 1)) AS i(v)
            WHERE length(text) >= 3
        ),
        dg AS (
            SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt
            FROM grams GROUP BY doc_id, g
        ),
        counts AS (
            SELECT g, CAST(sum(cnt) AS BIGINT) AS c FROM dg GROUP BY g
        ),
        scal AS (SELECT CAST(sum(c) AS BIGINT) AS N, count(*) AS V FROM counts)
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_grams,
               round(sum(cnt * -ln((c + 1.0) / (N + V)))
                     / CAST(sum(cnt) AS DOUBLE), 6) AS avg_nll
        FROM dg JOIN counts USING (g), scal
        GROUP BY doc_id
    """,
    tags=("text", "quality", "lm"),
    bench=True,  # flagship curation-class op: keep LM scoring's perf
    # visible round-over-round alongside the dedup headliners
)
def text_char_lm_quality(spark, sf_dir):
    """Corpus-trained char-trigram LM perplexity scoring (the CCNet/
    Gopher-style quality filter) — train + score in one declarative
    plan; see operators/text.char_lm_scores for the scale analysis
    (trigram dictionary provably broadcastable at any corpus size).
    No reference analog; first-class per the build brief's text-
    analysis mandate."""
    import os as _os

    from ..functions.partitioning import spread_if_narrow

    # SIZE-ADAPTIVE parallelism, SINGLE (pure-JVM sort+RLE) kernel
    # (round 12, VERDICT r11 item 1): rounds 9-11 dispatched the
    # numpy/Arrow gram kernel above a 2 MB footprint on the strength
    # of its x10 win (1.59x vs sql 1.78x, calibrated), but every
    # calibrated x20 measurement — r11's two surviving rounds (sql
    # 0.81x/1.71x vs arrow 0.99x/2.21x) and r12's 4-arm diagnostic
    # session (sql 7.0-16.5s vs arrow 13.8-48.9s in ALL six rounds;
    # arrow+checkpoint lands between, so kernel recompute is only
    # part of arrow's degradation — the kernel itself scales worse) —
    # shows the SQL kernel winning at the scales a 100x scale-up
    # cares about, and it also wins below 2 MB (sf0.1 bench). The
    # arrow kernel's one narrow win (x10, 12% over sql, both under
    # the 2x budget) does not justify a fragile two-threshold window
    # that dispatches a 2x-worse kernel when the host crosses it; the
    # robust plan is ONE kernel, <=2x at every measured xN (SCALE.md
    # round-12 ladder).
    # Parallelism stays footprint-adaptive: 0.5x below 2 MB (per-task
    # machinery dominates 5k-doc inputs), 1x above — footprint read
    # from the parquet file size, no job runs.
    p = _os.path.join(sf_dir, "documents.parquet")
    size = (
        _os.path.getsize(p)
        if _os.path.isfile(p)
        else sum(
            _os.path.getsize(_os.path.join(r, f))
            for r, _d, fs in _os.walk(p)
            for f in fs
        )
        if _os.path.isdir(p)
        else 0
    )
    big = size >= (2 << 20)
    return textops.char_lm_scores(
        spread_if_narrow(
            t(spark, sf_dir, "documents"), multiplier=1 if big else 0.5
        ),
        "doc_id",
        "text",
    )


SEQ_PACK_BUDGET = 512
SEQ_PACK_GROUP = 100


@register(
    "sequence_pack_stats",
    oracle=f"""
        WITH RECURSIVE tok AS (
            SELECT doc_id, CAST(floor(doc_id / {SEQ_PACK_GROUP}.0) AS BIGINT) AS grp,
                   CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ntok,
                   row_number() OVER (
                       PARTITION BY CAST(floor(doc_id / {SEQ_PACK_GROUP}.0) AS BIGINT)
                       ORDER BY doc_id) AS rn
            FROM documents
        ),
        pack AS (
            SELECT grp, rn, doc_id, ntok,
                   CAST(0 AS BIGINT) AS seq, ntok AS fill
            FROM tok WHERE rn = 1
            UNION ALL
            SELECT d.grp, d.rn, d.doc_id, d.ntok,
                   CASE WHEN p.fill + d.ntok > {SEQ_PACK_BUDGET}
                        THEN p.seq + 1 ELSE p.seq END,
                   CASE WHEN p.fill + d.ntok > {SEQ_PACK_BUDGET}
                        THEN d.ntok ELSE p.fill + d.ntok END
            FROM pack p JOIN tok d ON d.grp = p.grp AND d.rn = p.rn + 1
        )
        SELECT grp, seq,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS seq_tokens
        FROM pack
        GROUP BY grp, seq
    """,
    tags=("text", "packing", "llm"),
)
def sequence_pack_stats(spark, sf_dir):
    """HARD-boundary next-fit sequence packing
    (operators/text.pack_sequences) — LLM sample packing where a
    sequence never exceeds the token budget (vs token_shard_stats'
    prefix-sum shards, which may overflow on the straddling doc).
    Next-fit state is sequential, not associative, so the scale shape
    is per-group packing (id div 100 — shard boundaries as packing
    resets) in an applyInPandas kernel; groups are embarrassingly
    parallel. The DuckDB twin replays the same scan as a recursive
    CTE, so even this stateful kernel is value-hash checked."""
    from ..functions.textfns import token_count
    from ..operators.text import pack_sequences

    d = t(spark, sf_dir, "documents")
    packed = pack_sequences(
        d, "doc_id", token_count(F.col("text")), SEQ_PACK_BUDGET, SEQ_PACK_GROUP
    )
    return packed.groupBy("grp", "seq").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("seq_tokens"),
    )


BPE_MERGES = 6


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled-CTE replay of BPE training: round r computes weighted
    adjacent-pair counts over the round r-1 dictionary, picks the
    (cnt DESC, a, b) argmax, and applies it with the wrapped-symbol
    replace() (' a  b ' -> ' ab ': delimiter-bounded on BOTH sides, so
    a merge can't fire on a neighboring symbol that merely starts with
    b) — the same single-pass result as bpe_train's driver-side
    symbol-list scan and bpe_apply_token_counts' Spark replace()."""
    parts = [r"""
        WITH tok AS (
            SELECT unnest(regexp_extract_all(text, '\S+')) AS w FROM documents
        ),
        words0 AS (
            SELECT ' ' || array_to_string(
                       list_transform(range(1, length(w) + 1), i -> w[i:i]),
                       '  ') || ' ' AS s,
                   CAST(count(*) AS BIGINT) AS freq
            FROM tok GROUP BY w
        )"""]
    for r in range(1, n_merges + 1):
        parts.append(f"""
        , pairs{r} AS (
            SELECT l[i] AS a, l[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
            FROM (SELECT string_split(trim(s), '  ') AS l, freq
                  FROM words{r - 1}) t,
                 unnest(range(1, len(l))) AS u(i)
            GROUP BY a, b
        ),
        best{r} AS (
            SELECT a, b, cnt FROM pairs{r} ORDER BY cnt DESC, a, b LIMIT 1
        ),
        words{r} AS (
            SELECT replace(s, ' ' || a || '  ' || b || ' ',
                           ' ' || a || b || ' ') AS s, freq
            FROM words{r - 1}, best{r}
        )""")
    selects = [
        f"SELECT CAST({r} AS INTEGER) AS merge_round, a AS merge_left,"
        f" b AS merge_right, cnt AS pair_count FROM best{r}"
        for r in range(1, n_merges + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "bpe_train_merges",
    oracle=_bpe_oracle(BPE_MERGES),
    tags=("text", "tokenizer", "bpe", "llm", "iterative"),
    bench=True,  # VERDICT r4 #4: the iterative-training shape carries
    # a headline number (dictionary-bounded rounds over one corpus scan)
)
def bpe_train_merges(spark, sf_dir):
    """BPE tokenizer training on the corpus (operators/text.bpe_train)
    — the tokenizer-learning step of an LLM pipeline as an engine op.
    The corpus is scanned ONCE, in one Spark job, into the
    word-frequency dictionary; the merge rounds then run driver-side
    over the collected dictionary (vocabulary-bounded, sub-linear in
    corpus growth), so training cost past the scan is decoupled from
    corpus size. min_count=1 (no dictionary pruning) keeps every
    learned merge (round, pair, count) value-hash identical to the
    DuckDB unrolled-CTE replay, argmax tiebreak (cnt DESC, left,
    right) on exact integers."""
    from ..operators.text import bpe_train

    return bpe_train(
        t(spark, sf_dir, "documents"), "text", n_merges=BPE_MERGES, min_count=1
    )


def _bpe_encode_oracle(n_merges: int) -> str:
    """Same unrolled training chain as _bpe_oracle but CARRYING the
    original word through the rounds, so the final dictionary maps
    word -> merged symbol count; per-doc counts are then one join +
    grouped sum over the per-occurrence token stream."""
    parts = [r"""
        WITH tok AS (
            SELECT unnest(regexp_extract_all(text, '\S+')) AS w FROM documents
        ),
        words0 AS (
            SELECT w,
                   ' ' || array_to_string(
                       list_transform(range(1, length(w) + 1), i -> w[i:i]),
                       '  ') || ' ' AS s,
                   CAST(count(*) AS BIGINT) AS freq
            FROM tok GROUP BY w
        )"""]
    for r in range(1, n_merges + 1):
        parts.append(f"""
        , pairs{r} AS (
            SELECT l[i] AS a, l[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
            FROM (SELECT string_split(trim(s), '  ') AS l, freq
                  FROM words{r - 1}) t,
                 unnest(range(1, len(l))) AS u(i)
            GROUP BY a, b
        ),
        best{r} AS (
            SELECT a, b FROM pairs{r} ORDER BY cnt DESC, a, b LIMIT 1
        ),
        words{r} AS (
            SELECT w, replace(s, ' ' || a || '  ' || b || ' ',
                              ' ' || a || b || ' ') AS s,
                   freq
            FROM words{r - 1}, best{r}
        )""")
    parts.append(f"""
        , dict AS (
            SELECT w, len(string_split(trim(s), '  ')) AS n_sym
            FROM words{n_merges}
        ),
        doc_tok AS (
            SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS w
            FROM documents
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
        FROM doc_tok JOIN dict USING (w)
        GROUP BY doc_id""")
    return "".join(parts)


@register(
    "bpe_encode_stats",
    oracle=_bpe_encode_oracle(BPE_MERGES),
    tags=("text", "tokenizer", "bpe", "llm"),
    bench=True,  # VERDICT r4 #4: broadcast-dictionary encode over the
    # token stream — the shape that runs at corpus scale
)
def bpe_encode_stats(spark, sf_dir):
    """BPE ENCODING with the corpus-trained merges
    (operators/text.bpe_apply_token_counts): train the 6 merges
    (bpe_train, one Spark job), then count each document's BPE tokens
    via the dictionary-join shape — merges apply to the DISTINCT-WORD
    dictionary only (vocabulary-bounded), the word → symbol-count map
    broadcasts, and per-doc counts are one join + grouped sum; the
    corpus-scale token stream never runs a replace. Both the training
    rounds and the encode join are value-hash checked against one
    DuckDB chain."""
    from ..operators.text import bpe_apply_token_counts, bpe_train

    docs = t(spark, sf_dir, "documents")
    # the merge table is a local relation: it collects in round order
    merges = [
        (r.merge_left, r.merge_right)
        for r in bpe_train(
            docs, "text", n_merges=BPE_MERGES, min_count=1
        ).collect()
    ]
    return bpe_apply_token_counts(docs, merges, "doc_id", "text")
