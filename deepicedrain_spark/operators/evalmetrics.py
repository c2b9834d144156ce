"""Classifier-evaluation metrics computed distributed (beyond-reference
extension per BASELINE.json north star): exact ROC-AUC and a
precision/recall/F1 grid over score thresholds.

A training-data pipeline that trains quality classifiers
(operators/classifier.py) needs to EVALUATE them at corpus scale —
"collect scores to the driver and call sklearn" dies at 100 TB.

Scale shape: the one corpus-sized exchange is the per-score groupBy
(map-side combine applies — the combiner output is bounded by the
number of DISTINCT scores per partition). The ordered cumulative pass
that turns per-score (n_pos, n_neg) counts into the Mann–Whitney
numerator runs over the compressed distinct-score table, which is
orders of magnitude smaller than the corpus; for a score column with
unbounded cardinality, pass ``quantize=Q`` to roc_auc (the usual
AUC-at-scale trade — scores bucket to floor(s·Q)/Q before the
distinct-score pass, bounding it at the bucket count); the default
computes the EXACT statistic over the raw scores.

Determinism: every intermediate is an exact integer (tie-aware
Mann–Whitney sums n_pos·(2·cum_neg_below + n_neg) of half-unit terms,
held doubled so it stays integral); the single final division is
bit-identical in any engine, and round(…, 6) on it is safe.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence


def roc_auc(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    by: list[str] | None = None,
    quantize: int | None = None,
) -> DataFrame:
    """Tie-corrected ROC-AUC from a (score, boolean label) frame.

    AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻), computed as the
    normalized Mann–Whitney U over per-score count pairs: one groupBy
    over the corpus, one ordered pass over distinct scores.

    The exact-vs-quantized contract: with ``quantize=None`` (default)
    the statistic is EXACT over the raw scores — correct whenever the
    score column's distinct cardinality is bounded (a classifier with
    a fixed feature grid, integer scores, already-rounded outputs).
    With ``quantize=Q`` each score is first bucketed to
    ``floor(score·Q)/Q`` (left-edge buckets, floor so negatives bucket
    toward −∞ consistently), which BOUNDS the distinct-score table at
    the bucket count regardless of input cardinality — the usual
    AUC-at-scale trade for unbounded/continuous scores: the map-side
    combiner output, the shuffle, and the ordered pass all become
    O(buckets), and the result is the exact AUC of the quantized
    scores (ties WITHIN a bucket count ½, exactly as equal raw scores
    would).

    With ``by`` (slice columns — per-source/per-language evaluation),
    the ordered pass is a window PARTITIONED on the slice keys, so it
    parallelizes across slices instead of the global single-partition
    sort; a slice with no positives or no negatives yields NULL auc
    (try_divide — AUC is undefined there).

    Output: one row (…by, n_pos, n_neg, auc, gini) per slice — auc
    rounded to 6, gini = 2·auc − 1.
    """
    by = list(by or [])
    s_expr = F.col(score_col)
    if quantize is not None:
        # floor(s·Q)/Q in pure double arithmetic: both engines compute
        # the same IEEE product, floor, and division (Spark's floor on
        # double yields LONG — cast back before the divide)
        q = F.lit(float(quantize))
        s_expr = F.floor(s_expr * q).cast("double") / q
    per_score = scored.groupBy(*by, s_expr.alias("s")).agg(
        F.sum(F.when(F.col(label_col), 1).otherwise(0)).alias("np"),
        F.sum(F.when(F.col(label_col), 0).otherwise(1)).alias("nn"),
    )
    w = (
        (Window.partitionBy(*by) if by else Window)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # 2·numerator keeps the ½-tie term integral: np·(2·cum_neg_below + nn).
    # Accumulated in DECIMAL(38,0): the numerator is bounded by
    # 2·n_pos·n_neg, which passes Long.MAX at ~2e9 positives × 2e9
    # negatives — exactly the corpus scale this module pitches (the
    # DuckDB oracle sums into HUGEINT; a long here would ANSI-abort or
    # silently wrap where the operator claims exactness)
    contrib = per_score.withColumn(
        "num2",
        F.col("np").cast("decimal(38,0)")
        * (F.lit(2) * F.coalesce(F.sum("nn").over(w), F.lit(0)) + F.col("nn")),
    )
    agg = contrib.groupBy(*by).agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum("num2").alias("num2"),
    )
    # both engines convert the exact integer numerator to its nearest
    # double before the one division — identical IEEE result
    auc = F.try_divide(
        F.col("num2").cast("double"), F.lit(2.0) * F.col("n_pos") * F.col("n_neg")
    )
    return agg.select(
        *by,
        "n_pos",
        "n_neg",
        F.round(auc, 6).alias("auc"),
        F.round(F.lit(2.0) * auc - F.lit(1.0), 6).alias("gini"),
    )


def pr_at_thresholds(
    scored: DataFrame,
    thresholds: Sequence[float] = (0.2, 0.4, 0.6, 0.8),
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Precision / recall / F1 at each threshold (predict positive when
    score ≥ t): ONE corpus pass — each row contributes to every
    threshold via an exploded literal array, then a 4-counter groupBy.

    Output: (threshold, tp, fp, fn, tn, precision, recall, f1), one
    row per threshold; ratios rounded to 6, NULL when undefined
    (try_divide — a threshold above every score has tp+fp = 0).
    """
    t = F.explode(F.array(*[F.lit(float(x)) for x in thresholds])).alias("threshold")
    pred = F.col("_s") >= F.col("threshold")
    lab = F.col("_lab")
    counts = (
        scored.select(F.col(score_col).alias("_s"), F.col(label_col).alias("_lab"), t)
        .groupBy("threshold")
        .agg(
            F.sum(F.when(pred & lab, 1).otherwise(0)).cast("long").alias("tp"),
            F.sum(F.when(pred & ~lab, 1).otherwise(0)).cast("long").alias("fp"),
            F.sum(F.when(~pred & lab, 1).otherwise(0)).cast("long").alias("fn"),
            F.sum(F.when(~pred & ~lab, 1).otherwise(0)).cast("long").alias("tn"),
        )
    )
    precision = F.try_divide(F.col("tp").cast("double"), (F.col("tp") + F.col("fp")))
    recall = F.try_divide(F.col("tp").cast("double"), (F.col("tp") + F.col("fn")))
    f1 = F.try_divide(
        F.lit(2.0) * F.col("tp"),
        (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
    )
    return counts.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    ).orderBy("threshold")


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    buckets: int = 10,
    epsilon: float | None = None,
) -> DataFrame:
    """Population Stability Index between a reference slice and a
    current slice of a numeric feature — the standard
    score/feature-drift monitor a scoring pipeline runs per batch
    (PSI < 0.1 stable, > 0.25 shifted).

    Buckets are the EXACT equi-depth edges of the reference slice,
    computed with the value-domain aggregation shape certified by
    equi_depth_deciles (shuffle payload = distinct values, never rows;
    no global sort of the fact table). Both slices then bucket
    map-side against the broadcast edge array via
    ``1 + Σ_k [v > edge_k]`` — with tied edges (a value spanning
    multiple quantiles) the intermediate buckets are empty in BOTH
    slices by the same formula, and their contribution is NULL
    (p·ln(p/q) is undefined at zero mass; psi_total sums the defined
    buckets — the exclusion is part of the contract, not a silent
    cap, and a gate can alarm on ``contrib IS NULL`` row counts).
    Pass ``epsilon`` (e.g. 1e-4) for the conventional smoothed PSI
    where zero-mass buckets contribute their full floored-probability
    penalty instead — see psi_from_bucket_counts.

    Determinism: counts exact integers; p = c/total and the
    (p_cur − p_ref)·ln(p_cur/p_ref) contribution are identical double
    expression trees; contributions round to 6 and psi_total sums the
    ROUNDED contributions in DECIMAL so it is summation-order-free.

    Output: (bucket, c_ref, c_cur, contrib, psi_total) one row per
    1..buckets, psi_total repeated (window sum over the decimal-cast
    rounded contributions).
    """
    # fence: the edges subplan (a full groupBy over the ref slice's
    # value domain + the ordered window) feeds BOTH bucket-count
    # branches — the one-row fence costs nothing and halves the ref
    # passes (the bigram_pmi re-execution class)
    edges = fence(psi_ref_edges(ref, value_col, buckets))
    r = psi_bucket_counts(ref, edges, value_col, "c_ref")
    c = psi_bucket_counts(cur, edges, value_col, "c_cur")
    return psi_from_bucket_counts(ref.sparkSession, r, c, buckets, epsilon=epsilon)


def psi_ref_edges(ref: DataFrame, value_col: str, buckets: int) -> DataFrame:
    """One-row (edges array<...>) frame: the buckets−1 exact equi-depth
    edges of the reference slice (equi_depth_deciles value-domain
    shape)."""
    counts = ref.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = counts.select(
        "v", F.sum("n").over(w_cum).alias("c"), F.sum("n").over(w_all).alias("total")
    )
    qs = ref.sparkSession.range(1, buckets).select(F.col("id").alias("q"))
    return (
        cum.join(
            F.broadcast(qs),
            F.col("c") >= F.ceil(F.col("q") * F.col("total") / F.lit(float(buckets))),
        )
        .groupBy("q")
        .agg(F.min("v").alias("edge"))
        .agg(F.array_sort(F.collect_list("edge")).alias("edges"))
    )


def psi_bucket_expr(value: F.Column, edges: F.Column) -> F.Column:
    """bucket = 1 + Σ_k [v > edge_k] — map-side, codegen; usable on a
    STREAM with the edges folded as a literal array (the frozen
    reference a streaming drift gate buckets against)."""
    return F.lit(1) + F.aggregate(
        edges,
        F.lit(0),
        lambda acc, e: acc + F.when(value > e, F.lit(1)).otherwise(F.lit(0)),
    )


def psi_bucket_counts(
    df: DataFrame, edges: DataFrame, value_col: str, out: str
) -> DataFrame:
    return (
        df.select(F.col(value_col).alias("v"))
        .crossJoin(F.broadcast(edges))
        .select(psi_bucket_expr(F.col("v"), F.col("edges")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias(out))
    )


def psi_from_bucket_counts(
    spark, r: DataFrame, c: DataFrame, buckets: int,
    epsilon: float | None = None,
) -> DataFrame:
    """Finalize PSI from per-bucket (bucket, c_ref) / (bucket, c_cur)
    count tables — counts are MERGEABLE, so a streaming gate can
    maintain them incrementally and finalize identically.

    ``epsilon=None`` (default): a bucket where either slice has zero
    mass contributes NULL ((p)·ln(p/q) is undefined at zero mass) and
    is excluded from psi_total — the exclusion is visible as NULL
    ``contrib`` rows, so a gate can alarm on ``contrib IS NULL`` counts
    directly. That understates drift for the most extreme shifts
    (current mass landing where the reference had none, and vice
    versa); pass ``epsilon`` (e.g. 1e-4) for the conventional smoothed
    PSI: both proportions are floored at epsilon
    (p' = greatest(p, ε)) and EVERY bucket contributes
    (p_cur' − p_ref')·ln(p_cur'/p_ref') — mass deserting or invading an
    empty bucket then scores its full, large penalty instead of
    vanishing."""
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid = spark.range(1, buckets + 1).select(F.col("id").cast("int").alias("bucket"))
    tot_r = F.sum("c_ref").over(w_all)
    tot_c = F.sum("c_cur").over(w_all)
    p_ref = F.col("c_ref").cast("double") / tot_r
    p_cur = F.col("c_cur").cast("double") / tot_c
    if epsilon is not None:
        p_ref = F.greatest(p_ref, F.lit(float(epsilon)))
        p_cur = F.greatest(p_cur, F.lit(float(epsilon)))
        contrib = F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6)
    else:
        contrib = F.when(
            (F.col("c_ref") > 0) & (F.col("c_cur") > 0),
            F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6),
        )
    joined = (
        grid.join(r, "bucket", "left")
        .join(c, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("c_ref", F.lit(0)).cast("long").alias("c_ref"),
            F.coalesce("c_cur", F.lit(0)).cast("long").alias("c_cur"),
        )
        .withColumn("contrib", contrib)
    )
    return joined.select(
        "bucket",
        "c_ref",
        "c_cur",
        "contrib",
        F.round(
            F.sum(F.col("contrib").cast("decimal(18,6)")).over(w_all).cast("double"),
            6,
        ).alias("psi_total"),
    ).orderBy("bucket")


def cohens_kappa(
    labeled: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Cohen's kappa between two boolean labelers — the
    chance-corrected agreement a pipeline reports when cross-checking
    a cheap heuristic gate against a trained classifier (or two
    annotator models) before trusting either at corpus scale.

    ONE corpus pass into four confusion counters; po/pe/kappa are a
    handful of identical double expressions over those exact integers
    (try_divide: kappa undefined when chance agreement is 1, e.g. both
    labelers constant). Output: one row
    (n, n11, n10, n01, n00, po, pe, kappa), ratios rounded to 6.
    """
    a, b = F.col(a_col), F.col(b_col)
    cnt = labeled.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(a & b, 1).otherwise(0)).cast("long").alias("n11"),
        F.sum(F.when(a & ~b, 1).otherwise(0)).cast("long").alias("n10"),
        F.sum(F.when(~a & b, 1).otherwise(0)).cast("long").alias("n01"),
        F.sum(F.when(~a & ~b, 1).otherwise(0)).cast("long").alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n")
    pa = (F.col("n11") + F.col("n10")).cast("double") / F.col("n")
    pb = (F.col("n11") + F.col("n01")).cast("double") / F.col("n")
    pe = pa * pb + (F.lit(1.0) - pa) * (F.lit(1.0) - pb)
    return cnt.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(F.try_divide(po - pe, F.lit(1.0) - pe), 6).alias("kappa"),
    )
