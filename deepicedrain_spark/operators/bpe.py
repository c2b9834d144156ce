"""Byte-pair-encoding tokenizer: distributed merge training + map-only
encode (LLM-data-pipeline extension; the reference corpus has no
tokenizer — cited against the published BPE algorithm, Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units").

Scale design (100 TB):
- training never shuffles the corpus: ONE groupBy collapses it to the
  distinct-word frequency table (vocabulary-sized, orders of magnitude
  smaller), and each merge iteration is a pair-count aggregation over
  that vocab table plus an O(1) driver collect of the winning pair —
  the same bounded-driver-state shape as Lloyd's k-means (k centroids
  there, one pair per iteration here).
- encode is a single map-side projection: the learned merges fold into
  a literal expression chain (aggregate HOF per merge), so tokenizing
  100 TB is a pure scan with zero exchanges.
- merge application is the standard leftmost-greedy non-overlapping
  pass, expressed as a fold: push each symbol, or replace the
  accumulator tail when (tail, current) equals the merge pair. A fold
  cannot re-merge its own output within one pass (the merged symbol is
  strictly longer than the pair's left element), so it is equivalent
  to the index-scan-with-skip formulation the DuckDB oracle replays.
- determinism: winning pair per iteration = max by (count DESC, left
  ASC, right ASC) over ASCII symbols — identical in any engine, so
  training is a pure function of (corpus, n_merges) and memoized per
  source fingerprint (``io.memo``) like kmeans.trained_centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence, memo, release

_WORDS = "filter(split({col}, ' '), x -> x != '')"


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct words with corpus frequency — the only corpus-wide
    shuffle in BPE training."""
    w = F.explode(F.expr(_WORDS.format(col=text_col))).alias("word")
    return df.select(w).groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _apply_merge(syms: Column, a: str, b: str) -> Column:
    """One leftmost-greedy merge pass over a symbol array (fold)."""
    merged = F.array(F.lit(a + b))
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), merged),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame, text_col: str = "text", n_merges: int = 6
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the
    ordered merge list [(left, right), ...]. File-backed inputs are
    memoized per source fingerprint (``io.memo``)."""

    def build() -> list[tuple[str, str]]:
        state = fence(word_frequencies(df, text_col).withColumn(
            "syms",
            F.transform(F.sequence(F.lit(1), F.length("word")), lambda i: F.col("word").substr(i, F.lit(1))),
        ))
        merges: list[tuple[str, str]] = []
        for _ in range(n_merges):
            pairs = (
                state.filter(F.size("syms") >= 2)
                .select(
                    "freq",
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.struct(
                                F.element_at("syms", i).alias("a"),
                                F.element_at("syms", (i + 1).cast("int")).alias("b"),
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("freq").alias("n"))
            )
            top = pairs.orderBy(F.desc("n"), "a", "b").limit(1).collect()
            if not top:
                break
            a, b = top[0]["a"], top[0]["b"]
            merges.append((a, b))
            merged = fence(state.withColumn("syms", _apply_merge(F.col("syms"), a, b)))
            # merged is materialized: the previous fence is no longer read
            release(state)
            state = merged
        # the result is a Python list: no frame reads the last fence
        release(state)
        return merges

    return memo(df.sparkSession, ("bpe_train", text_col, n_merges), df.inputFiles(), build)


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out: str = "tokens",
) -> DataFrame:
    """Tokenize every document with a learned merge list — ONE map-side
    projection (merges are literals; no exchange, no UDF)."""

    def encode_word(w: Column) -> Column:
        syms = F.transform(F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1)))
        for a, b in merges:
            syms = _apply_merge(syms, a, b)
        return syms

    words = F.expr(_WORDS.format(col=text_col))
    return df.withColumn(out, F.flatten(F.transform(words, encode_word)))


def encode_word_expr(w: Column, merges: list[tuple[str, str]]) -> Column:
    """Symbol array for ONE word column under a learned merge list —
    the same literal fold chain bpe_encode applies per occurrence.

    Exists so aggregate-shaped consumers (fertility, vocabulary stats)
    can pay the O(len²·merges) fold once per DISTINCT word instead of
    once per occurrence: tokenize → per-word counts (vocab-sized
    shuffle) → encode the distinct words → join counts back. That is
    exactly the DuckDB oracle's own shape (wlc JOIN state USING word),
    and for integer-sum aggregates the result is bit-identical to
    encoding every occurrence."""
    syms = F.transform(
        F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))
    )
    for a, b in merges:
        syms = _apply_merge(syms, a, b)
    return syms
