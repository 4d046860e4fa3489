"""Embedding similarity search (north-star extension, SURVEY.md §7
Step 6): brute-force cosine top-k as the exact baseline, and a
random-hyperplane LSH variant as the scale path.

Representation: embeddings are plain `array<float>` columns (the
driver's embeddings table shape) cast to double for math. All math is
built-in array expressions (`zip_with` + `aggregate`) — JVM-side,
codegen'd, no Python in the data path.

Scale analysis:
- brute_force_topk: O(|Q|·|C|) — correct baseline, and the right plan
  when |Q| is small (broadcast Q, stream C; embarrassingly parallel,
  no shuffle). Never acceptable for |Q| ≈ |C| at 100 TB.
- nearest_neighbor_join: O(|C|²) exact — the oracle baseline for the
  LSH path, usable to ~10⁵ rows per run.
- lsh: sign-bit signatures w.r.t. fixed random hyperplanes, banded so
  two vectors are candidates iff they share any band — turns the
  quadratic join into per-bucket joins. Recall/precision tunable via
  (n_planes, n_bands); property-tested against brute force in
  tests/test_similarity.py. IVF (k-means cells + nprobe) is the other
  standard scale path; LSH is chosen here because it needs no training
  pass and its bucket assignment is a pure column expression.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import barrier

SIM_SCALE = 6


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — fixed accumulation order so
    the DuckDB oracle (list_inner_product) reproduces it bitwise."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    return df.withColumn("_v", v).withColumn("_norm", F.sqrt(dot(F.col("_v"), F.col("_v"))))


def cosine(va: Column, vb: Column, na: Column, nb: Column) -> Column:
    """Rounded cosine from pre-computed norms, via the sequential-fold
    dot. Round 12 measured (and REJECTED) an unrolled
    0.0 + a[1]·b[1] + ... chain here: bitwise-identical and
    "codegen-friendly" on paper, but the 64-term expression blew past
    the JIT/codegen method-size limits and ran ~5x SLOWER than the
    interpreted fold on the LSH verify stage (10.9s vs 2.2s at sf0.1)
    — see OPTIMIZATION_r12.md."""
    return F.round(dot(va, vb) / (na * nb), SIM_SCALE)


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int, id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus scan, rank per query. Zero shuffles on the corpus side except
    the final per-query window (tiny: |Q|·|C| → |Q|·k rows after the
    partial top-k AQE applies)."""
    q = with_norm(queries).select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("qv"),
        F.col("_norm").alias("qn"),
    )
    c = with_norm(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_v").alias("cv"),
        F.col("_norm").alias("cn"),
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", "rn")
    )


def nearest_neighbor_join(corpus: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Exact 1-NN for every vector (self excluded) — the embedding
    near-dup workhorse and the recall oracle for the LSH path."""
    a = with_norm(corpus).select(
        F.col(id_col).alias("vec_id"), F.col("_v").alias("va"), F.col("_norm").alias("na")
    )
    b = with_norm(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col("_v").alias("vb"), F.col("_norm").alias("nb")
    )
    scored = (
        a.crossJoin(b)
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select(
            "vec_id",
            "neighbor_id",
            cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "neighbor_id", "sim")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Fixed seeded hyperplanes — deterministic across runs/engines."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def with_lsh_bands(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append `bands`: array<long> of band keys (band id folded into
    the key's high bits, so a single long is the equi-join key). Sign
    bit per hyperplane; planes grouped into bands; band key = packed
    bits.

    Kernel: ONE Arrow-batched pandas_udf doing a (batch, dim) @
    (dim, n_planes) numpy matmul — n_planes·dim fused multiply-adds
    per row. The previous all-built-in form built n_planes literal
    arrays per row and folded each dot through interpreted
    zip_with/aggregate higher-order functions (no codegen), which
    benchmarked ~4x slower than the Arrow round trip at dim=64 — this
    is the case the brief's "vectorized Pandas UDF for embedding math"
    exception exists for. The planes ship inside the serialized UDF
    (equivalent of a broadcast variable)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes_t = random_hyperplanes(dim, n_planes, seed).T  # (dim, n_planes)
    per_band = n_planes // n_bands
    weights = 1 << np.arange(per_band, dtype="int64")
    band_base = (np.arange(n_bands, dtype="int64") * (1 << per_band))

    @pandas_udf("array<long>")
    def band_keys(v):  # (pd.Series) -> pd.Series; hints omitted — the
        # module's `from __future__ import annotations` turns them into
        # strings pandas_udf's inference can't resolve
        mask = v.notna().to_numpy()
        res: list = [None] * len(v)
        if mask.any():
            mat = np.stack(v[mask].to_numpy()).astype("float64")
            bits = (mat @ planes_t >= 0).astype("int64")  # (batch, n_planes)
            keys = np.stack(
                [
                    band_base[b] + bits[:, b * per_band : (b + 1) * per_band] @ weights
                    for b in range(n_bands)
                ],
                axis=1,
            )
            for pos, row in zip(np.flatnonzero(mask), keys):
                res[pos] = row.tolist()
        return pd.Series(res, dtype="object")

    return df.withColumn("bands", band_keys(F.col(vec_col)))


def with_lsh_bands_repro(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Oracle-reproducible twin of with_lsh_bands: hyperplane dots via
    the JVM sequential left fold (`dot`), which is BITWISE identical to
    DuckDB's list_inner_product over the same doubles — so the sign
    bits, band keys, and therefore the whole banded candidate set can
    be recomputed exactly in SQL with the planes inlined as literals.
    Same band-key encoding as the fast path (band*2^per_band + packed
    bits). Slower (interpreted higher-order functions, one fold per
    plane) — use ONLY where exact cross-engine reproducibility is the
    point; the matmul form is the production default."""
    planes = random_hyperplanes(dim, n_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    bits = [
        F.when(dot(v, F.array(*[F.lit(float(x)) for x in plane])) >= 0, 1).otherwise(0)
        for plane in planes
    ]
    per_band = n_planes // n_bands
    keys = []
    for band in range(n_bands):
        packed = sum(
            bits[band * per_band + i] * (1 << i) for i in range(per_band)
        )
        keys.append((F.lit(band * (1 << per_band)) + packed).cast("long"))
    return df.withColumn("bands", F.array(*keys))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    repro: bool = False,
) -> DataFrame:
    """Banded-LSH approximate top-k: candidates share ≥1 band key with
    the query; exact cosine re-ranks candidates only. The band join is
    an equi-join on (band, key) — per-bucket work instead of |Q|·|C|."""
    # candidate generation over (id, band_key) ONLY — the 2·dim-double
    # vector payloads must not ride the band join + dedup shuffles
    # (they did in round 1: ~4x the bytes through every exchange)
    bander = with_lsh_bands_repro if repro else with_lsh_bands
    qb = bander(queries, dim, n_planes, n_bands, seed).select(
        F.col(id_col).alias("query_id"), F.explode("bands").alias("bk")
    )
    cb = bander(corpus, dim, n_planes, n_bands, seed).select(
        F.col(id_col).alias("neighbor_id"), F.explode("bands").alias("bk")
    )
    cands = (
        qb.join(cb, "bk")
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qn = with_norm(queries).select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("qv"),
        F.col("_norm").alias("qn"),
    )
    cn = with_norm(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_v").alias("cv"),
        F.col("_norm").alias("cn"),
    )
    scored = (
        cands.join(qn, "query_id")
        .join(cn, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", "rn")
    )


def lsh_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    repro: bool = False,
) -> DataFrame:
    """Scale path for embedding-cosine near-dup (SemDeDup-style): LSH
    band buckets generate candidate pairs via an equi-join on
    (band, key) — per-bucket work instead of the exact variant's O(n²)
    cross join — then exact cosine keeps pairs >= threshold. Output is
    a subset of `embedding_near_dup`'s exact pairs with identical sim
    values (same fold order, same rounding); recall rises with sim and
    with n_bands. Candidate dedup happens BEFORE the cosine so each
    surviving pair pays the dot product once."""
    # bands over ids ONLY: the candidate self-join and pair dedup
    # shuffle (id, id) tuples, never the vectors; payloads join back
    # once per SURVIVING candidate pair (round-1 plan shipped both
    # 64-double vectors through every exchange — 4x the shuffle bytes
    # and the band signatures computed on both wide sides)
    # (id, band_key) is n_bands longs per vector — store it so the
    # Arrow band-signature kernel runs once, not once per join side.
    # localCheckpoint (lazy) instead of persist(): same compute-once
    # block sharing, but the blocks are freed by ContextCleaner when the
    # returned plan is GC'd, so long sessions (the external driver, full
    # sweeps) don't accumulate CacheManager entries (ADVICE r2).
    bander = with_lsh_bands_repro if repro else with_lsh_bands
    banded = (
        bander(emb, dim, n_planes, n_bands, seed)
        .select(F.col(id_col), F.explode("bands").alias("bk"))
        .transform(barrier)
    )
    a = banded.select(F.col(id_col).alias("vec_a"), "bk")
    b = banded.select(F.col(id_col).alias("vec_b"), "bk")
    # A pair colliding in k bands appears k times in the band join;
    # dropDuplicates keeps one. (A row-local "first colliding band"
    # filter avoids that exchange but widens every banded row by the
    # full band-key array, and measured slower: 3.4-3.6s vs 2.0-2.3s
    # for the full query at sf0.1.)
    cands = (
        a.join(b, "bk")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    vn = with_norm(emb)
    va = vn.select(
        F.col(id_col).alias("vec_a"), F.col("_v").alias("va"), F.col("_norm").alias("na")
    )
    vb = vn.select(
        F.col(id_col).alias("vec_b"), F.col("_v").alias("vb"), F.col("_norm").alias("nb")
    )
    return (
        cands.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
