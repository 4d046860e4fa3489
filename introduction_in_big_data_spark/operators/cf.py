"""User-based collaborative filtering, long-format and join-based.

Re-expresses the reference's CF pipeline (Part_A_Q2.py:79-147) without
ever materializing the dense user×item matrix:

  reference (pandas/NumPy)                  this engine (Spark)
  ------------------------                  -------------------
  pivot/unstack → dense matrix (:92-98)     long (user,item,rating) frame
  np.corrcoef all-pairs (:114-116)          self-join on item → sparse
                                            dot products → cosine
  per-row argsort k-NN (:121-123)           row_number window per user
  dense nested predict loop (:130-135,194)  neighbors ⋈ ratings join +
                                            grouped weighted average
  mae/rmse vectors (:140-147)               single-pass scalar agg

Scale analysis (SURVEY.md §4 risk #1): the all-pairs step is the only
super-linear operator. The item self-join generates one row per
co-rating pair, i.e. Σ_i n_i² over item popularity n_i — not #users².
Hot items dominate: cap them (popular-item top-N% filter is already in
the pipeline), let AQE skew-split the join, or switch to the sketch
path (MinHash-LSH in operators/dedup.py, random-projection LSH in
operators/similarity.py) when Σ n_i² is still too large. The exact
join form below is itself the standard sparse-similarity plan used at
scale — it shuffles on item, then on (user_a, user_b).

Determinism for oracle parity: ratings and similarities are rounded at
fixed scales *inside* the pipeline so both engines rank and weight
identical values; every window carries an id tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import barrier

RATING_SCALE = 6  # decimals kept for mean ratings
SIM_SCALE = 6  # decimals kept for cosine similarities
PRED_SCALE = 6  # decimals kept for predicted ratings


def ratings_from_sales(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Implicit-feedback ratings: user=o_custkey, item=l_partkey,
    rating=mean l_quantity (A5's group-mean dedup, Part_A_Q2.py:93).
    """
    joined = orders.select("o_orderkey", "o_custkey").join(
        lineitem.select("l_orderkey", "l_partkey", "l_quantity"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    # one explicit shuffle on the user key: hash(user) partitioning
    # satisfies the (user, item) grouping requirement (grouping keys ⊇
    # partition keys), AND the downstream active-user window and norm
    # aggregate — three operators share a single exchange instead of
    # each introducing their own
    return (
        joined.repartition("o_custkey")
        .groupBy(
            F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id")
        )
        .agg(F.round(F.avg("l_quantity"), RATING_SCALE).alias("rating"))
    )


def filter_active_users(ratings: DataFrame, min_items: int) -> DataFrame:
    """J3 — keep users with ≥ min_items rated items (Part_A_Q2.py:83-85).

    Implemented as an unbounded window count rather than the
    agg+semi-join form: identical semantics, one shuffle on user_id
    instead of a shuffle for the aggregate plus a join — and the output
    comes out hash-partitioned by user_id, which the downstream norm
    aggregation reuses."""
    w = Window.partitionBy("user_id")
    return (
        ratings.withColumn("__n", F.count(F.lit(1)).over(w))
        .filter(F.col("__n") >= min_items)
        .drop("__n")
    )


def filter_popular_items(ratings: DataFrame, top_fraction: float) -> DataFrame:
    """J4/K4 — keep the top `top_fraction` of items by rating count
    (Part_A_Q2.py:87-89), deterministic tiebreak on item id.

    Scale plan (VERDICT r1 item 1): NO global row_number window — that
    ranks the whole item dictionary through a single-partition
    WindowExec. Instead: (a) aggregate counts once and cache them,
    (b) one O(1)-output job sizes k, (c) `orderBy(...).limit(k)`
    compiles to TakeOrderedAndProject (per-partition size-k heaps,
    driver merge — never a global sort), (d) the k popular keys
    broadcast into a semi-join. Every stage is bounded by k, not by
    the dictionary size."""
    counts = ratings.groupBy("item_id").agg(F.count(F.lit(1)).alias("cnt"))
    # localCheckpoint, not persist: the count() below materializes it,
    # both consumers read the stored blocks, and the blocks are freed by
    # ContextCleaner when the returned plan is GC'd — persist() entries
    # in CacheManager would outlive the call in long sessions (ADVICE r2)
    counts = counts.transform(barrier)
    k = int(counts.count() * top_fraction)  # floor; one tiny scalar job
    popular = (
        counts.orderBy(F.desc("cnt"), F.asc("item_id")).limit(k).select("item_id")
    )
    return ratings.join(F.broadcast(popular), "item_id", "left_semi")


def user_norms(ratings: DataFrame) -> DataFrame:
    return ratings.groupBy("user_id").agg(
        F.sqrt(F.sum(F.col("rating") * F.col("rating"))).alias("norm")
    )


def _cosine_both_ways(dots: DataFrame, ratings: DataFrame) -> DataFrame:
    """The cosine tail every similarity path shares: (user_a, user_b,
    dot) rows with user_a < user_b become rounded cosines
    dot / (‖r_a‖·‖r_b‖) over the FULL ratings' norms, emitted in both
    pair directions.

    The norms frame is two columns bounded by the ACTIVE-user
    dictionary — orders of magnitude smaller than the pair stream it
    joins — but it can hang off a checkpoint LogicalRDD whose stats are
    unknown, so Catalyst would plan a sort-merge join that re-shuffles
    the O(Σ n_i²) pair stream twice (measured ~0.3s of cf_knn_pruned's
    main job at sf0.1). The broadcast hint restores the plan a
    stats-aware cluster would pick. na/nb are two plan branches
    Catalyst does not CSE, but a barrier on the norms lost the r13
    paired cold-weather A/B (plain best 2.70s / median 2.98s vs
    3.25/3.31 checkpointed at 32 cores, a tie at 8): AQE stage dedup
    already runs the canonically-equal user_id exchange once, so only
    the tiny final agg + broadcast build run twice."""
    norms = F.broadcast(user_norms(ratings))
    na = norms.select(F.col("user_id").alias("user_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("user_id").alias("user_b"), F.col("norm").alias("norm_b"))
    sims = (
        dots.join(na, "user_a")
        .join(nb, "user_b")
        .select(
            "user_a",
            "user_b",
            F.round(F.col("dot") / (F.col("norm_a") * F.col("norm_b")), SIM_SCALE).alias("sim"),
        )
    )
    # emit both (u,v) and (v,u) from ONE pass with explode — a
    # union-with-mirrored-select duplicates the entire similarity
    # subtree in the plan (Catalyst does not CSE identical union
    # branches), doubling the join work
    both = F.explode(
        F.array(
            F.struct(F.col("user_a").alias("ua"), F.col("user_b").alias("ub"), F.col("sim")),
            F.struct(F.col("user_b").alias("ua"), F.col("user_a").alias("ub"), F.col("sim")),
        )
    )
    return sims.select(both.alias("p")).select(
        F.col("p.ua").alias("user_a"), F.col("p.ub").alias("user_b"), F.col("p.sim").alias("sim")
    )


def user_cosine_similarities(ratings: DataFrame) -> DataFrame:
    """J5 — all-pairs user cosine similarity as a sparse self-join.

    sim(u,v) = Σ_i r_ui·r_vi / (‖r_u‖·‖r_v‖), computed only for pairs
    that co-rate ≥1 item (absent pairs have sim 0 and are never
    materialized — the sparsity win over np.corrcoef's dense matrix).
    Emits both (u,v) and (v,u) so downstream k-NN is a plain window."""
    a = ratings.select(
        F.col("user_id").alias("user_a"),
        F.col("item_id").alias("item_id"),
        F.col("rating").alias("rating_a"),
    )
    b = ratings.select(
        F.col("user_id").alias("user_b"),
        F.col("item_id").alias("item_id"),
        F.col("rating").alias("rating_b"),
    )
    dots = (
        a.join(b, "item_id")
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.sum(F.col("rating_a") * F.col("rating_b")).alias("dot"))
    )
    return _cosine_both_ways(dots, ratings)


def user_cosine_similarities_pruned(
    ratings: DataFrame,
    min_overlap: int = 2,
    max_item_raters: int | None = None,
) -> DataFrame:
    """The scale variant of user_cosine_similarities (SURVEY.md §4 risk
    #1): prune the quadratic pair stream before it exists.

    - `max_item_raters` caps hot items: an item rated by n users emits
      n² pair rows but contributes little discriminative signal when n
      is huge (the stop-shingle argument); dropping items with
      n > cap bounds Σ n² — the same lever DIMSUM's magnitude sampling
      pulls probabilistically.
    - `min_overlap` drops pairs sharing < m items, whose similarities
      are noise for k-NN anyway.

    Exactness: similarities that survive are exact; pairs dropped are
    those a threshold/DIMSUM scheme would also drop. Recall vs the
    exact k-NN is property-tested."""
    r = ratings
    if max_item_raters is not None:
        ok_items = (
            r.groupBy("item_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= max_item_raters)
            .select("item_id")
        )
        r = r.join(ok_items, "item_id", "left_semi")
    a = r.select(
        F.col("user_id").alias("user_a"), "item_id", F.col("rating").alias("rating_a")
    )
    b = r.select(
        F.col("user_id").alias("user_b"), "item_id", F.col("rating").alias("rating_b")
    )
    # NOTE (r13): a shuffle_hash hint on this self-join (the jaccard
    # trick) was A/B'd cold-JVM at 32 AND 8 cores and did NOT win —
    # the pair-stream groupBy dominates, the SMJ sorts are cheap, and
    # SMJ keeps spill safety on hot items. Left as SMJ deliberately.
    dots = (
        a.join(b, "item_id")
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(
            F.sum(F.col("rating_a") * F.col("rating_b")).alias("dot"),
            F.count(F.lit(1)).alias("overlap"),
        )
        .filter(F.col("overlap") >= min_overlap)
    )
    # norms over the FULL ratings, like the exact path
    return _cosine_both_ways(dots, ratings)


def dimsum_sampled_ratings(
    ratings: DataFrame,
    fraction_of_median: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """DIMSUM-flavored norm-proportional entry sampling (Zadeh & Goel,
    "Dimension Independent Similarity Computation", arXiv:1206.2082) —
    the candidate-generation half of the CF sketch twin (VERDICT r5
    item 7): keep rating entry (u, i) with probability
    p_u = min(1, c·median(‖r‖) / ‖r_u‖), so heavy users — the ones
    whose entries dominate the Σ n_i² pair stream — are sampled away
    hardest, exactly DIMSUM's lever. The pair stream over the sampled
    entries shrinks by ~E[p_u·p_v] ≈ c² while pairs whose similarity
    is large RELATIVE to their norms survive with high probability
    (DIMSUM's preservation guarantee); lowering c is the knob that
    trades recall for pair-stream volume at extreme scale.

    Determinism (no rand()): the keep/drop coin is
    xxhash64(user, item, seed) mapped to [0, 1), and the norm anchor
    is the EXACT median (F.percentile over the active-user norm
    dictionary — a small frame by construction), so the sampled set is
    a pure function of (data, c, seed) on any cluster layout. The
    1-row median crosses into the filter as a broadcast scalar gate
    (CROSS_OK shape)."""
    norms = user_norms(ratings)
    med = norms.agg(F.percentile(F.col("norm"), F.lit(0.5)).alias("_med"))
    u01 = (
        F.pmod(
            F.xxhash64(F.col("user_id"), F.col("item_id"), F.lit(seed)),
            F.lit(1 << 20),
        ).cast("double")
        / F.lit(float(1 << 20))
    )
    return (
        ratings.join(F.broadcast(norms), "user_id")
        .crossJoin(F.broadcast(med))
        .filter(
            u01
            < F.least(
                F.lit(1.0), F.lit(fraction_of_median) * F.col("_med") / F.col("norm")
            )
        )
        .select("user_id", "item_id", "rating")
    )


def candidate_pairs(sampled: DataFrame) -> DataFrame:
    """Distinct co-occurrence pairs over the sampled entry stream —
    the same item self-join shape as the exact path, but over the
    DIMSUM-sampled entries, so its pair volume is ~c²·Σ n_i² instead
    of Σ n_i². Equi-join on item_id then a distinct on the pair key:
    both plain hash shuffles, no cross join."""
    a = sampled.select(F.col("user_id").alias("user_a"), "item_id")
    b = sampled.select(F.col("user_id").alias("user_b"), "item_id")
    return (
        a.join(b, "item_id")
        .filter(F.col("user_a") < F.col("user_b"))
        .select("user_a", "user_b")
        .distinct()
    )


def rescore_pairs(
    candidates: DataFrame,
    ratings: DataFrame,
    min_overlap: int = 1,
) -> DataFrame:
    """Exact cosine over the candidate pairs ONLY — the verification
    half of the sketch twin. Joins each candidate pair back to the
    FULL rating rows of both endpoints (cost Σ_cand |items(a)|, linear
    in the candidate count), so surviving similarities are
    bit-identical to the exact path: same full-ratings norms, same
    SIM_SCALE rounding, same min_overlap floor. Emits both pair
    directions like user_cosine_similarities."""
    ra = ratings.select(
        F.col("user_id").alias("user_a"), "item_id", F.col("rating").alias("rating_a")
    )
    rb = ratings.select(
        F.col("user_id").alias("user_b"), "item_id", F.col("rating").alias("rating_b")
    )
    dots = (
        candidates.join(ra, "user_a")
        .join(rb, ["user_b", "item_id"])
        .groupBy("user_a", "user_b")
        .agg(
            F.sum(F.col("rating_a") * F.col("rating_b")).alias("dot"),
            F.count(F.lit(1)).alias("overlap"),
        )
        .filter(F.col("overlap") >= min_overlap)
    )
    return _cosine_both_ways(dots, ratings)


def knn_neighbors(similarities: DataFrame, k: int) -> DataFrame:
    """K5 — k most similar other users per user (Part_A_Q2.py:121-123's
    intended semantics), via a row_number window with (sim desc, id)
    ordering so ranks are deterministic."""
    w = Window.partitionBy("user_a").orderBy(F.desc("sim"), F.asc("user_b"))
    return (
        similarities.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("user_a").alias("user_id"),
            F.col("user_b").alias("neighbor_id"),
            "sim",
            "rn",
        )
    )


def predict_ratings(neighbors: DataFrame, ratings: DataFrame) -> DataFrame:
    """Similarity-weighted rating prediction (Part_A_Q2.py:130-135),
    as a join + grouped weighted average instead of the reference's
    per-cell nested loop (SURVEY.md §4 strategy #2):

        pred(u,i) = Σ_{n∈kNN(u), n rated i} sim(u,n)·r_ni
                    / Σ_{n∈kNN(u), n rated i} sim(u,n)

    Pairs where no neighbor rated i produce no row (the reference emits
    0 there; filtering to predictable cells is the intended semantics
    for evaluation)."""
    nr = ratings.select(
        F.col("user_id").alias("neighbor_id"),
        "item_id",
        F.col("rating").alias("neighbor_rating"),
    )
    contrib = neighbors.join(nr, "neighbor_id")
    return (
        contrib.groupBy("user_id", "item_id")
        .agg(
            F.round(
                F.sum(F.col("sim") * F.col("neighbor_rating")) / F.sum("sim"),
                PRED_SCALE,
            ).alias("pred")
        )
    )


def evaluate(predictions: DataFrame, ratings: DataFrame) -> DataFrame:
    """A17 — MAE / RMSE over observed cells (Part_A_Q2.py:140-147,197-198)."""
    joined = predictions.join(ratings, ["user_id", "item_id"])
    err = F.col("pred") - F.col("rating")
    return joined.agg(
        F.round(F.avg(F.abs(err)), 4).alias("mae"),
        F.round(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
        F.count(F.lit(1)).alias("n_eval"),
    )
