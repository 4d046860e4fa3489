"""Text-analysis operators for a training-data pipeline (north-star
extension, SURVEY.md §7 Step 6): token counting, quality scoring,
language ID, document fingerprinting.

All pure built-in column expressions — at 100 TB these run inside
WholeStageCodegen over the parquet scan with zero shuffles (they are
per-row maps); only downstream group-bys shuffle.

Each operator's semantics are pinned by an exact DuckDB mirror in
plans/text_queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import barrier, local_frame

from ..functions.textfns import normalize_text, token_count, tokens

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Deliberately tiny + deterministic: language ID at pipeline
# scale is a cheap filter, not a model.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "nicht", "ist"),
    "es": ("el", "la", "que", "de", "es"),
    "fr": ("le", "la", "et", "les", "est"),
}


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token count + char count + mean token length."""
    c = F.col(text_col)
    n_tok = token_count(c)
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "n_chars_m": F.length(c),
            "avg_token_len": F.round(
                (F.length(F.regexp_replace(c, r"\s+", "")) * F.lit(1.0))
                / F.greatest(n_tok, F.lit(1)),
                4,
            ),
        }
    )


def quality_score(text_col: Column) -> Column:
    """Heuristic document quality in [0,1]: length band + stopword ratio
    + type-token ratio. The formula is arbitrary but fixed — what
    matters for the engine is that it is a pure column expression a
    100 TB scan can evaluate inline (the reference's analog is the
    z-score/band cleaning of Part_A_Q1.py; this is its text twin).

      q = 0.4·len_ok + 0.3·min(1, stop_ratio·5) + 0.3·ttr
    """
    toks = tokens(text_col)
    n = F.greatest(F.size(toks), F.lit(1))
    stop = F.size(F.filter(toks, lambda x: x.isin(*LANG_MARKERS["en"])))
    ttr = F.size(F.array_distinct(toks)) / n
    len_ok = F.when((F.size(toks) >= 20) & (F.size(toks) <= 2000), 1.0).otherwise(0.0)
    stop_ratio = F.least(F.lit(1.0), stop * F.lit(5.0) / n)
    return F.round(0.4 * len_ok + 0.3 * stop_ratio + 0.3 * ttr, 4)


def language_scores(text_col: Column) -> dict[str, Column]:
    """Marker-token hit count per language over the token array."""
    toks = tokens(F.lower(text_col))
    return {
        lang: F.size(F.filter(toks, lambda x: x.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def language_id(text_col: Column) -> Column:
    """Argmax language with fixed precedence (en > de > es > fr, then
    'und' for no hits) — precedence makes ties deterministic on both
    engines."""
    scores = language_scores(text_col)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build the CASE chain in reverse so earlier languages win ties
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((scores[lang] == best) & (best > 0), lang).otherwise(expr)
    return expr


def fingerprint(text_col: Column) -> Column:
    """Deterministic 32-hex document fingerprint: md5 of the normalized
    text. Identical content modulo case/whitespace collides on purpose —
    this is the exact-dedup key (operators/dedup.exact_duplicates)."""
    return F.md5(normalize_text(text_col))


def winnow_fingerprints(
    df, id_col: str, text_col: str, k: int = 8, window: int = 16
):
    """Winnowing document fingerprints (the rolling-hash scheme used by
    MOSS-style near-dup/plagiarism detection): hash every character
    k-gram of the normalized text, then keep the minimum hash of each
    sliding window of `window` consecutive k-grams. Guarantees any
    shared substring of length ≥ k+window-1 contributes a shared
    fingerprint — the substring-level near-dup signal that word-shingle
    Jaccard (operators/dedup.py) doesn't give.

    Returns (id, fingerprint) rows (distinct per doc). Hashes are md5
    prefixes so the DuckDB oracle reproduces them bit-for-bit.

    Shape: k-gram hashes are EXPLODED to rows and the window minimum is
    a sliding window-frame aggregate (rowsBetween CURRENT, window-1),
    partitioned by doc. A pure array-expression version (nested
    transform over slice(hashes, ...)) measured ~250x slower: Catalyst's
    CollapseProject re-inlines the hash-array expression into the
    window lambda and re-evaluates it per window — O(n²·k) per row.
    The exploded form is one shuffle on the doc id and O(n·w) work."""
    from pyspark.sql import Window

    def _seq(n):
        # sequence(1, 0) would yield a DESCENDING [1, 0] — guard empties
        return F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )

    normed = df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("__norm"))
    grams = normed.select(
        id_col,
        F.posexplode(
            F.transform(
                _seq(F.length("__norm") - (k - 1)),
                lambda i: F.substring(F.md5(F.col("__norm").substr(i, F.lit(k))), 1, 16),
            )
        ).alias("pos", "h"),
    )
    w = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    wcount = Window.partitionBy(id_col)
    return (
        grams.withColumn("wmin", F.min("h").over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wcount))
        .filter(F.col("pos") <= F.col("__n") - window)
        .select(id_col, F.col("wmin").alias("fingerprint"))
        .distinct()
    )


def repetition_ratio(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-document repetition signal: the fraction of all word n-gram
    occurrences taken by the single most frequent n-gram (Gopher-style
    repetition rule — heavily repeated boilerplate scores near 1).
    Two hash-aggregates keyed by (doc, gram) then doc; both partial
    map-side, so the shuffle carries gram counts, not grams."""
    from ..functions.textfns import shingles_from_tokens

    tokenized = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("__toks")
    )
    grams = tokenized.select(
        "doc",
        F.explode(shingles_from_tokens(F.col("__toks"), n, distinct=False)).alias(
            "gram"
        ),
    )
    freq = grams.groupBy("doc", "gram").agg(F.count(F.lit(1)).alias("c"))
    return freq.groupBy("doc").agg(
        F.round(F.max("c") / F.sum("c"), 6).alias("rep_ratio")
    )


def pack_token_shards(
    df: DataFrame,
    id_col: str,
    token_count_col: Column,
    budget: int,
    num_partitions: int = 32,
) -> DataFrame:
    """Greedy token-budget shard packing: documents in deterministic
    id order are assigned to consecutive shards of ~`budget` tokens (a
    doc belongs to the shard where its running total starts). The core
    is a GLOBAL prefix sum, computed scalably as the textbook two-pass
    distributed scan instead of a single-partition window:

      1. `repartitionByRange(id)` — global order across partitions,
         each partition sorts locally (no single-node sort);
      2. partition-local running sums via a window keyed by
         `spark_partition_id()` — fully parallel;
      3. per-partition totals (one row per partition) get their own
         tiny prefix sum and broadcast back as offsets.

    The result is invariant to where the range boundaries land (range
    partitioning guarantees every id in partition i sorts before
    partition i+1), so sampling nondeterminism in step 1 cannot change
    the output. A plain `Window.orderBy(id)` computes the same thing
    on one executor; this shape is why the operator survives 100 TB."""
    from pyspark.sql import Window

    ranged = (
        df.select(F.col(id_col).alias("id"), token_count_col.alias("ntok"))
        .repartitionByRange(num_partitions, F.col("id"))
        .withColumn("pid", F.spark_partition_id())
    )
    w_local = (
        Window.partitionBy("pid")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("local_cum", F.sum("ntok").over(w_local))
    totals = local.groupBy("pid").agg(F.sum("ntok").alias("ptotal"))
    w_off = (
        Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.withColumn(
        "offset", F.sum("ptotal").over(w_off) - F.col("ptotal")
    ).select("pid", "offset")
    cum = local.join(F.broadcast(offsets), "pid").withColumn(
        "cum", F.col("local_cum") + F.col("offset")
    )
    shard = F.floor((F.col("cum") - F.col("ntok")) / float(budget))
    return cum.select(
        F.col("id").alias(id_col), "ntok", shard.alias("shard")
    )


# Corpus-size gate for tfidf_top_terms' tf barrier (r13, VERDICT r12
# item 2): below this many input bytes the duplicate corpus scan is
# cheaper than the checkpoint's extra planning + block write + lost
# hash(doc) partitioning; above it the single-scan shape wins.
_TFIDF_TF_BARRIER_MIN_BYTES = 256 << 20


def _input_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of df's file-source inputs, or None when the
    frame has no file lineage (in-memory, RDD-backed, streaming)."""
    import os

    try:
        files = df.inputFiles()
        if not files:
            return None
        total = 0
        for f in files:
            p = f.removeprefix("file:")
            total += os.path.getsize(p)
        return total
    except Exception:
        return None


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    doc_partitions: int | None = 16,
) -> DataFrame:
    """Top-k TF-IDF terms per document — the classic corpus-analysis
    ranking (what "characterizes" each doc against the collection).

      score(d, t) = tf(d,t) · ln((N + 1) / (df(t) + 1))

    Plan shape at 100 TB (round 8, VERDICT r7 item 6 — the term-window
    restructure, measured variant ladder in SCALE.md): the token
    stream crosses the wire exactly ONCE. The explode repartitions by
    doc up front; hash(doc) satisfies the (doc, term) clustering the
    tf aggregate requires AND the per-doc top-k window's clustering,
    so neither inserts another exchange. df(t) comes from a
    groupBy(term) count whose exchange carries only map-side PARTIAL
    aggregates (one row per (task, term) — never the pair stream) and
    joins back by BROADCAST (the cf.py broadcast-norms trade: a
    (term, df) dictionary is fine to ~10⁷ unique terms). Old plan: THREE
    pair-stream shuffles (token groupBy, term window, doc window);
    new plan: one, plus the tiny dictionary exchange. Measured sf1:
    1.31s → 1.07s; the same-session DuckDB-cold ratio drops 3.2× →
    2.0×. Alternatives measured and REJECTED: in-row sort+RLE tf (the
    char_lm trick — token arrays sort slower than they hash-agg,
    0.98s vs 0.75s for the tf stage alone at sf0.1) and broadcast-df
    WITHOUT the doc pre-partition (tf recomputes for both consumers,
    1.57s at sf1).

    `doc_partitions` sizes the one exchange (16 measured best at the
    bench SFs against {4, 8, 32, session-default+AQE}); None defers
    to spark.sql.shuffle.partitions — the right setting on a real
    cluster, where the session knob reflects executor count. The
    per-doc top-k is a row_number window Spark executes with
    WindowGroupLimit pushdown (k rows per doc survive map-side).
    N is a 1-row broadcast cross join. Ranking uses the ROUNDED score
    with the term as tiebreaker so ordering is reproducible across
    engines (ties in (tf, df) are common).
    """
    from pyspark.sql import Window

    from ..functions.textfns import tokens

    tok = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    tok = (
        tok.repartition(doc_partitions, "doc")
        if doc_partitions
        else tok.repartition("doc")
    )
    tf = tok.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    # tf feeds two consumers (the term-dictionary group-by and the
    # scoring join) and Catalyst does not CSE them: without a barrier
    # the whole tokenize → explode → repartition → tf aggregate
    # pipeline appears TWICE in the plan (round 12; visible as two
    # parquet scans each with its own Generate and doc Exchange).
    # Materializing tf once (lazy barrier) trades that duplicate scan
    # for: the checkpoint's eager physical planning at build time, a
    # block write, and the LogicalRDD losing hash(doc) partitioning so
    # the top-k window re-shuffles tf. Below ~hundreds of MB of corpus
    # the duplicate scan is the cheaper side (driver r12 measured the
    # barrier 2.2x slower at sf0.1); at scale the single-scan shape
    # wins because the corpus scan dominates everything else. The
    # choice keys on the input file bytes — frames without file
    # lineage get the barrier, the scale-safe default for opaque
    # inputs.
    nbytes = _input_bytes(df)
    if nbytes is None or nbytes >= _TFIDF_TF_BARRIER_MIN_BYTES:
        tf = tf.transform(barrier)
    counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    with_df = tf.join(F.broadcast(counts), "term")
    scored = with_df.crossJoin(F.broadcast(n_docs)).select(
        "doc",
        "term",
        F.round(
            F.col("tf")
            * F.log((F.col("n_docs") + 1.0) / (F.col("dfreq") + 1.0)),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("doc").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc", "term", "score", F.col("rn").cast("int").alias("rn"))
    )


def _char_grams_sql(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, gram, cnt) via the in-row sort+RLE JVM kernel — the
    fastest pure-Spark-SQL form of six measured variants (SCALE.md
    round-9 ladder). All grams of a doc live in the doc's own row, so
    the distinct-with-multiplicity pairs come out of one codegen stage
    with NO shuffle (array_sort + run starts + next-start deltas)."""
    return (
        df.filter(F.length(text_col) >= 3)
        .select(
            F.col(id_col),
            F.array_sort(
                F.expr(
                    f"transform(sequence(1, length({text_col}) - 2),"
                    f" i -> substring({text_col}, i, 3))"
                )
            ).alias("__s"),
        )
        .withColumn(
            "__idx",
            F.expr(
                "filter(sequence(1, size(__s)),"
                " i -> i = 1 OR element_at(__s, i) != element_at(__s, i - 1))"
            ),
        )
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__idx)), j -> struct("
                    "element_at(__s, element_at(__idx, j)) AS g, "
                    "CAST(coalesce(try_element_at(__idx, j + 1), size(__s) + 1)"
                    " - element_at(__idx, j) AS BIGINT) AS cnt))"
                )
            ).alias("__e"),
        )
        .select(id_col, "__e.g", "__e.cnt")
    )


def char_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Statistical LM quality scoring (round 3): train a character-
    trigram language model ON the corpus and score every document by
    its average negative log-likelihood — the CCNet/Gopher-style
    perplexity filter (quality ∝ how typical a document's character
    statistics are of the corpus), with add-1 smoothing:

        p(g) = (c(g) + 1) / (N + V)     c = corpus trigram count,
                                        N = Σ c, V = observed vocab
        avg_nll(doc) = mean over doc grams of -ln p(g)

    Scale shape (reworked per VERDICT r3 item 4): the raw gram stream
    is immediately pre-aggregated to (doc, gram, cnt) — a map-side-
    combining group-by whose output is the DISTINCT per-doc grams
    (typically ≪ total grams for natural text) — and everything
    downstream (the dictionary group-by, the broadcast join, the
    per-doc weighted mean) touches only those distinct pairs. The
    trigram dictionary itself is bounded by |charset|³ regardless of
    corpus size — the one join side in this whole engine that is
    PROVABLY broadcastable at 100 TB — and N/V ride the established
    1-row scalar-gate crossJoin. avg_nll becomes the weighted mean
    Σ cnt·nll / Σ cnt (its oracle mirrors the same structure so both
    engines sum identical terms).

    High avg_nll = atypical character statistics (boilerplate, binary
    junk, wrong-language text) — the standard cut for corpus curation.
    Documents shorter than 3 chars emit no grams and no row.

    The (doc, gram, cnt) frame feeds both the dictionary group-by and
    the scoring join, and Catalyst does not CSE the two subtrees, so a
    lazy barrier computes it once (computing it twice costs more than
    checkpointing 7M rows)."""
    dg = _char_grams_sql(df, id_col, text_col).transform(barrier)
    counts = dg.groupBy("g").agg(F.sum("cnt").alias("c"))
    # counts feeds TWO consumers (the broadcast scoring join and the
    # N/V scalar gate) and Catalyst does not CSE them — without a
    # barrier the whole dictionary group-by over dg runs twice
    # (round 12, guide §2.4). The dictionary is bounded by |charset|³
    # regardless of corpus size, so materializing it is always cheap.
    counts = counts.transform(barrier)
    scal = counts.agg(
        F.sum("c").alias("N"), F.count(F.lit(1)).alias("V")
    )
    nll = -F.log((F.col("c") + 1.0) / (F.col("N") + F.col("V")))
    return (
        dg.join(F.broadcast(counts), "g")
        .crossJoin(F.broadcast(scal))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.round(
                F.sum(F.col("cnt") * nll) / F.sum("cnt"), 6
            ).alias("avg_nll"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: Column,
    budget: int,
    group_size: int = 100,
) -> DataFrame:
    """HARD-boundary next-fit sequence packing (LLM pretraining's
    sample packing): documents in id order are concatenated into
    sequences that NEVER exceed `budget` tokens — a doc that would
    overflow starts the next sequence (an oversized doc occupies one
    alone). Unlike pack_token_shards' prefix-sum shards (docs assigned
    by running-total position, shard may overflow), next-fit state is
    inherently sequential and NOT associative, so no window/prefix-sum
    form exists. The scalable shape is the one production pipelines
    use: pack WITHIN deterministic groups (id div group_size — shard
    boundaries are natural packing resets), each group's sequential
    scan running in an applyInPandas kernel; groups are embarrassingly
    parallel and the output is independent of partitioning. Returns
    (id, grp, seq, ntok) with seq numbering local to the group."""
    import pandas as pd  # noqa: F401  (worker-side)

    grouped = df.select(
        F.col(id_col).alias("id"),
        token_count_col.cast("long").alias("ntok"),
        F.floor(F.col(id_col) / group_size).cast("long").alias("grp"),
        # floor, not bare cast: cast truncates toward zero, and the
        # DuckDB twin must use floor() too (its CAST(float AS BIGINT)
        # ROUNDS half away — a silent cross-engine divergence)
    )

    def _pack(pdf):
        pdf = pdf.sort_values("id").reset_index(drop=True)
        seqs = []
        seq, fill = 0, 0
        first = True
        for ntok in pdf["ntok"]:
            if first:
                fill = ntok
                first = False
            elif fill + ntok > budget:
                seq += 1
                fill = ntok
            else:
                fill += ntok
            seqs.append(seq)
        pdf["seq"] = seqs
        return pdf[["id", "grp", "seq", "ntok"]]

    return grouped.groupBy("grp").applyInPandas(
        _pack, "id long, grp long, seq long, ntok long"
    )


def extract_html_text(
    df: DataFrame, html_col: str = "html", out_col: str = "text"
) -> DataFrame:
    """Visible-text extraction from HTML (functions/htmltext: stdlib
    parser; script/style dropped, charrefs resolved, whitespace
    collapsed) as an Arrow-batched pandas_udf — the decode step
    between a WARC scan (sources/warc) and the text-curation
    operators. Embarrassingly parallel, zero shuffles."""
    from pyspark import cloudpickle
    from pyspark.sql.functions import pandas_udf

    from ..functions import htmltext

    try:
        cloudpickle.register_pickle_by_value(htmltext)
    except Exception:  # pragma: no cover — same-cwd runs work anyway
        pass
    h2t = htmltext.html_to_text

    @pandas_udf("string")
    def _extract(s):
        return s.map(lambda x: h2t(x) if x is not None else None)

    return df.withColumn(out_col, _extract(F.col(html_col)))


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 1000,
    min_count: int = 2,
) -> "DataFrame":
    """Train byte-pair-encoding merges ON the corpus (Sennrich et al.
    2016 — the tokenizer-training step of an LLM data pipeline),
    returning the learned merge table (merge_round, merge_left,
    merge_right, pair_count).

    Scale shape: classic BPE trains on the WORD-FREQUENCY DICTIONARY,
    not the raw corpus. The corpus is touched exactly once, in ONE
    Spark job (tokenize → groupBy(word), one shuffle); the dictionary
    is collected once and the merge rounds run on the driver with
    incremental pair statistics and a lazy-deletion heap
    (_bpe_merges_from_word_freqs), thousands of merges per second
    with no per-round Spark job. The training cost past the scan is
    vocabulary-bound, so it is decoupled from corpus size.

    The collected dictionary is bounded by `min_count`: distinct
    whitespace tokens on open-web text grow with the corpus (Heaps'
    law + URL/hash noise — NOT safely "vocabulary-bounded"), so words
    with freq < min_count are pruned distributedly BEFORE the collect,
    exactly as production BPE trainers do (hapax legomena contribute
    pair counts of at most min_count-1 and essentially never decide a
    merge on real corpora). min_count=1 disables pruning — the
    configuration the registered queries use, bit-identical to their
    DuckDB replay.

    Determinism: the argmax tiebreak is (count DESC, left, right) over
    exact integer counts, so every learned merge is value-hash
    checkable against the unrolled-CTE SQL replay
    (plans/text_queries._bpe_oracle; tests/test_bpe.py pins parity).

    Merge semantics are Sennrich's symbol-list scan: left-to-right,
    non-overlapping, never across a symbol boundary. The wrapped-symbol
    string form bpe_apply_token_counts and the DuckDB replay use
    (each symbol in its own spaces, merge (a, b) = replace
    ' a  b ' -> ' ab ') is identical to it.
    """
    from ..functions.partitioning import spread_if_narrow

    tok = spread_if_narrow(df, multiplier=0.5).select(
        F.explode(tokens(F.col(text_col))).alias("w")
    )
    freqs = tok.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    if min_count > 1:
        freqs = freqs.filter(F.col("freq") >= min_count)
    word_freqs = [(r["w"], r["freq"]) for r in freqs.collect()]
    return local_frame(
        df.sparkSession,
        _bpe_merges_from_word_freqs(word_freqs, n_merges),
        "merge_round int, merge_left string, merge_right string, pair_count long",
    )


def _bpe_merges_from_word_freqs(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Pure-Python Sennrich BPE merge rounds over a word-frequency
    dictionary, with incremental pair statistics and a lazy-deletion
    heap — O(changes · log) per round instead of a full recount, the
    standard learn-bpe structure. Argmax tiebreak is (count DESC,
    left ASC, right ASC) on exact integers — the order the DuckDB
    replay's ORDER BY uses, so the two are merge-for-merge identical
    on the same dictionary (tests/test_bpe.py pins the parity)."""
    import heapq
    from collections import Counter, defaultdict

    words = [list(w) for w, _ in word_freqs]
    freqs = [int(f) for _, f in word_freqs]
    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, sym in enumerate(words):
        f = freqs[wi]
        for p, c in Counter(zip(sym, sym[1:])).items():
            pair_counts[p] += c * f
            pair_words[p].add(wi)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, n_merges + 1):
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            # stale entries (count changed since push) are discarded;
            # a matching entry is by construction the current max
            if -negc > 0 and pair_counts.get(p, 0) == -negc:
                best = (p, -negc)
                break
        if best is None:
            break
        (a, b), cnt = best
        merges.append((r, a, b, cnt))
        ab = a + b
        touched: set[tuple[str, str]] = set()
        for wi in pair_words[(a, b)]:
            sym = words[wi]
            f = freqs[wi]
            new: list[str] = []
            i = 0
            n = len(sym)
            while i < n:
                if i + 1 < n and sym[i] == a and sym[i + 1] == b:
                    new.append(ab)
                    i += 2
                else:
                    new.append(sym[i])
                    i += 1
            if len(new) == n:
                continue  # stale membership: pair no longer in word
            words[wi] = new
            # pair-count delta via C-speed Counters instead of a
            # per-position Python loop — same O(len) but ~10x faster
            oldc = Counter(zip(sym, sym[1:]))
            newc = Counter(zip(new, new[1:]))
            for p, c in oldc.items():
                d = newc.get(p, 0) - c
                if d:
                    pair_counts[p] += d * f
                    touched.add(p)
            for p, c in newc.items():
                if p not in oldc:
                    pair_counts[p] += c * f
                    pair_words[p].add(wi)
                    touched.add(p)
        pair_counts.pop((a, b), None)
        pair_words.pop((a, b), None)
        touched.discard((a, b))
        for p in touched:
            c = pair_counts.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p))
    return merges


def bpe_apply_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply learned BPE merges and count tokens per document — the
    encode half of bpe_train, in the dictionary-join shape: merges are
    applied to the DISTINCT-WORD dictionary (vocabulary-bounded — the
    corpus-scale token stream never touches a replace), the resulting
    word → symbol-count map broadcasts, and each document's BPE token
    count is one join + grouped sum. Returns
    (id, n_words, n_bpe_tokens).

    `merges`: ordered (left, right) pairs from bpe_train — applied in
    training order."""
    from ..functions.partitioning import spread_if_narrow

    toks = spread_if_narrow(df, multiplier=0.5).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w")
    )
    chars = F.expr("transform(sequence(1, char_length(w)), i -> substring(w, i, 1))")
    # wrapped-symbol representation: each symbol owns both its
    # delimiters, so ' a  b ' -> ' ab ' never fires on a neighbour that
    # merely starts with b, and a run ' a  b  a  b ' merges fully in
    # one pass — bpe_train's left-to-right symbol-list scan
    s = F.concat(F.lit(" "), F.array_join(chars, "  "), F.lit(" "))
    for a, b in merges:
        s = F.replace(s, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    dic = (
        toks.select("w")
        .distinct()
        .select("w", F.size(F.split(F.trim(s), "  ")).alias("n_sym"))
    )
    return (
        toks.join(F.broadcast(dic), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )
