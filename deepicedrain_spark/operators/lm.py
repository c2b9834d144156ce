"""Kneser–Ney-smoothed bigram language model, trained and scored
distributed (beyond-reference extension per BASELINE.json north star).

CCNet's quality filter scores documents with a KenLM model — i.e.
MODIFIED Kneser–Ney, not the add-one smoothing of
suite_sketch.q_bigram_lm_score. This module implements the
interpolated-KN bigram form with a single absolute discount D:

    p(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
             + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/B

where N₁₊(w₁·) = distinct continuations of w₁, N₁₊(·w₂) = distinct
left-contexts of w₂ (the continuation count — KN's signature), and
B = distinct bigram types. Self-trained on the corpus, so every
scored bigram has c ≥ 1 and the max(·) never zeroes the whole term.

Scale shape: ONE corpus shuffle builds the bigram count table
(checkpointed — it feeds four consumers); the model joins are left
UNHINTED so AQE broadcasts them only when the tables are actually
small (the perplexity_buckets convention): the per-w₁ and per-w₂
tables are vocabulary-sized, but the bigram-count table itself is
bigram-TYPE-sized — tens of GB for a KenLM-class web model — where a
forced broadcast would OOM. With small models every join broadcasts
at runtime and scoring is map-side over the exploded bigram stream;
the only other exchange is the per-document mean aggregation.

Determinism: all model statistics are exact integers; the per-bigram
probability is identical per-row double arithmetic in any engine; the
per-document mean log-prob is a double sum rounded to 6 d.p.
(generic values — suite_llm.py header).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence
from deepicedrain_spark.operators.textstats import whitespace_tokens

KN_DISCOUNT = 0.75


def doc_bigrams(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent token pair."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), whitespace_tokens(F.col(text_col)).alias("_w"))
        # guard BEFORE the transform: sequence(1, 0) is a DESCENDING
        # [1, 0] in Spark and element_at(_w, 0) raises under ANSI
        # (the 0/1-token guard from suite_sketch.q_bigram_lm_score)
        .where(F.size("_w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_w) - 1),"
                    " i -> struct(element_at(_w, i) as w1, element_at(_w, i + 1) as w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )


def kneser_ney_score(
    docs: DataFrame,
    discount: float = KN_DISCOUNT,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean interpolated-KN bigram log-probability.

    Output: (doc_id, n_bigrams, avg_logp) — documents with < 2 tokens
    are absent (no bigrams), matching q_bigram_lm_score's convention.
    """
    bg = doc_bigrams(docs, id_col, text_col)
    # fence: bgc feeds FOUR consumers (the three model tables
    # and the scoring join) — without the fence each broadcast subtree
    # re-runs the corpus bigram explode (the DSIR one-pass lesson);
    # bgc is vocabulary²-bounded on real corpora, so the fence is cheap
    bgc = fence(bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")))
    # per-w1: total count and distinct continuations (one pass over bgc)
    left = bgc.groupBy("w1").agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("follow")
    )
    # continuation counts per w2 and the bigram-type total
    right = bgc.groupBy("w2").agg(F.count(F.lit(1)).alias("prec"))
    btypes = bgc.agg(F.count(F.lit(1)).alias("btypes"))

    d = F.lit(float(discount))
    # model joins UNHINTED (the perplexity_buckets convention): AQE
    # broadcasts them only when the tables are actually small. bgc is
    # bigram-TYPE-sized — vocabulary² worst case, tens of GB for a
    # KenLM-class web model — so a forced broadcast hint would bypass
    # AQE's size check and OOM exactly at the scale this LM targets
    scored = (
        bg.join(bgc, ["w1", "w2"])
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(btypes))
        .withColumn(
            "lp",
            F.log(
                F.greatest(F.col("c") - d, F.lit(0.0)) / F.col("tot")
                + d * F.col("follow") / F.col("tot") * F.col("prec") / F.col("btypes")
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.sum("lp") / F.count(F.lit(1)), 6).alias("avg_logp"),
        )
    )
