"""Text-analysis operators for LLM data pipelines (beyond-reference
extension per BASELINE.json north star): language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All hot-path logic is Catalyst expressions (split / regexp /
higher-order functions) — no Python UDFs, so whole-stage codegen
applies and the same formulas are reproducible in the DuckDB oracle.
Division outputs are ratios of small integers (denominator ≤ doc
length), which can never land exactly on a 6-d.p. half-quantum, so
round(…, 6) is deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence

# ASCII-explicit classes so JVM and DuckDB regex semantics agree.
WORD_RE = "[A-Za-z0-9_]+|[^A-Za-z0-9_ ]"
PUNCT_CLASS = "[^.,;:!?]"

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en"],
}


def whitespace_tokens(col: Column) -> Column:
    """SINGLE-SPACE tokenization (the corpus convention: documents are
    space-joined token streams); empty strings filtered (split on a
    leading/trailing separator yields ''). Deliberately NOT a \\s+
    split — every DuckDB oracle tokenizes with string_split(text, ' ')
    and both engines must agree token-for-token."""
    return F.filter(F.split(col, " "), lambda t: t != F.lit(""))


def regex_tokens(col: Column) -> Column:
    """BPE-ish pre-tokenization: word runs and single non-word marks."""
    return F.regexp_extract_all(col, F.lit(WORD_RE), F.lit(0))


def token_count(col: Column) -> Column:
    return F.size(whitespace_tokens(col))


def stopword_hits(tokens_col: str, lang: str) -> Column:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return F.expr(
        f"size(filter({tokens_col}, t -> array_contains(array({words}), lower(t))))"
    )


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language stopword-hit counts (n-gram/stopword heuristic)."""
    out = df.withColumn("_toks", whitespace_tokens(F.col(text_col)))
    for lang in STOPWORDS:
        out = out.withColumn(f"score_{lang}", stopword_hits("_toks", lang))
    return out.drop("_toks")


def lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Argmax of stopword scores; deterministic tie-break by language
    name order (en > de > fr > es precedence on equal scores)."""
    scored = lang_scores(df, text_col)
    langs = list(STOPWORDS)
    expr = None
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    for lang in langs:
        cond = F.col(f"score_{lang}") == best
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return scored.withColumn(out, expr)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / word-length features
    (quality-scoring basis for filtering training data)."""
    t = F.col(text_col)
    toks = whitespace_tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    punct = F.length(F.regexp_replace(t, PUNCT_CLASS, ""))
    stop_en = F.size(
        F.filter(
            toks,
            lambda tok: F.array_contains(
                F.array(*[F.lit(w) for w in STOPWORDS["en"]]), F.lower(tok)
            ),
        )
    )
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, tok: a + F.length(tok)
    )
    return (
        df.withColumn("n_chars", n_chars.cast("long"))
        .withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("punct_ratio", F.round(punct.cast("double") / n_chars, 6))
        .withColumn("stopword_ratio", F.round(stop_en.cast("double") / n_tokens, 6))
        .withColumn(
            "mean_token_len",
            F.round(tok_chars.cast("double") / n_tokens, 6),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text", out: str = "quality") -> DataFrame:
    """Composite heuristic quality in [0, 1]: long enough, some
    punctuation, sane stopword density, mid-length words."""
    feats = quality_features(df, text_col)
    score = (
        F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0)) * 0.4
        + F.least(F.col("punct_ratio") * F.lit(20.0), F.lit(1.0)) * 0.2
        + F.least(F.col("stopword_ratio") * F.lit(5.0), F.lit(1.0)) * 0.2
        + F.least(F.col("mean_token_len") / F.lit(8.0), F.lit(1.0)) * 0.2
    )
    # NOT rounded: the composite lands on dyadic values (denominators
    # 64/8/…) that sit exactly on decimal rounding boundaries, where
    # engines' rounding diverges; the unrounded double is bit-identical
    # per-row math in any engine.
    return feats.withColumn(out, score)


def md5_fingerprint(col: Column) -> Column:
    """Whole-document fingerprint of normalized text."""
    return F.md5(F.lower(F.trim(F.regexp_replace(col, " +", " "))))


def rolling_hash(tokens_expr: str = "filter(split(text, ' '), x -> x != '')",
                 base: int = 1_000_003, mod: int = (1 << 31) - 1) -> Column:
    """Karp–Rabin rolling hash over tokens (document fingerprinting):
    h = fold(h·B + hash(tok)) mod p, with hash(tok) the first 15 hex
    digits of md5 — deterministic and engine-agnostic."""
    return F.expr(
        f"""
        aggregate({tokens_expr}, 0L,
          (acc, t) -> (acc * {base} + cast(conv(substring(md5(t), 1, 15), 16, 10) as long) % {mod}) % {mod})
        """
    )


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1 use line/ngram repetition filters; the testdata documents are
    single-line token streams, so the token-level analogues apply):

    - ``distinct_ratio``   — type/token ratio (low = repetitive)
    - ``top_token_frac``   — fraction of tokens that are the modal token
    - ``top_bigram_frac``  — fraction of bigrams that are the modal bigram

    Shape: explode → two-level aggregation — the canonical wordcount
    plan (map-side partial counts, one shuffle keyed (doc, token), one
    keyed doc). All ratios are int/int doubles: bit-identical in any
    engine, no rounding needed.
    """
    toks = df.select(
        F.col(id_col), F.explode(whitespace_tokens(F.col(text_col))).alias("tok")
    )
    tok_stats = (
        toks.groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("n").alias("top_n"),
        )
    )
    bigrams = df.select(
        F.col(id_col), whitespace_tokens(F.col(text_col)).alias("_tk")
    ).select(
        F.col(id_col),
        # tokens materialize ONCE per row into _tk; the bigram zip
        # slices that array rather than re-running split+filter 4x
        F.explode(
            F.expr(
                "zip_with(slice(_tk, 1, greatest(size(_tk) - 1, 0)), "
                "slice(_tk, 2, greatest(size(_tk) - 1, 0)), "
                "(a, b) -> concat(a, ' ', b))"
            )
        ).alias("bg"),
    )
    bg_stats = (
        bigrams.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy(id_col)
        .agg(F.sum("n").alias("n_bigrams"), F.max("n").alias("top_bg_n"))
    )
    return (
        tok_stats.join(bg_stats, on=id_col, how="left")
        .select(
            id_col,
            "n_tokens",
            (F.col("n_distinct") / F.col("n_tokens")).alias("distinct_ratio"),
            (F.col("top_n") / F.col("n_tokens")).alias("top_token_frac"),
            F.when(
                F.col("n_bigrams") > 0, F.col("top_bg_n") / F.col("n_bigrams")
            ).alias("top_bigram_frac"),
        )
    )


def clean_text(col: Column) -> Column:
    """Training-corpus text normalization: drop URLs, strip non-ASCII
    control bytes, lowercase, collapse whitespace runs, trim. ASCII-
    explicit regexes so JVM and DuckDB (RE2) agree byte-for-byte."""
    no_url = F.regexp_replace(col, "https?://[^ ]+", " ")
    no_ctl = F.regexp_replace(no_url, "[\\x00-\\x1f]", " ")
    collapsed = F.regexp_replace(F.lower(no_ctl), "  +", " ")
    return F.trim(collapsed)


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Per-document top-k terms by tf·idf (keyword extraction / doc
    representation stage): tf = in-doc count, idf = ln((N+1)/(df+1))+1
    (smoothed), deterministic ties by term. Shuffle profile: one
    exchange on (doc, term) for tf, one on term for df, a broadcast of
    the scalar N, and a rank-limit window (WindowGroupLimit) — no
    all-pairs anything. Output: (doc_id, term, rank, score)."""
    toks = df.select(
        F.col(id_col), F.explode(whitespace_tokens(F.col(text_col))).alias("term")
    )
    # fence the tf table: the df roll-up and the scoring join both
    # consume it, so the corpus token explode + (doc, term) count
    # shuffle ran twice (r12 optimization round). One row per distinct
    # (doc, term) — the same table the scoring join shuffles anyway.
    tf = fence(toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("_tf")), eager=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = df.select(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("_tf")
                * (F.log((F.col("_n") + 1.0) / (F.col("_df") + 1.0)) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "rank", "score")
    )


def vocabulary(
    df: DataFrame, text_col: str = "text", top_k: int | None = None
) -> DataFrame:
    """Corpus-level vocabulary with counts (BPE/vocab-building stage of
    a training pipeline): the canonical wordcount — map-side partial
    counts, ONE shuffle on token. ``top_k`` applies a deterministic
    (count desc, token asc) cut."""
    counts = (
        df.select(F.explode(whitespace_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if top_k is not None:
        counts = counts.orderBy(F.desc("n"), "token").limit(top_k)
    return counts


def entropy_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon-entropy quality signals (nats):

    - token_entropy  H₁ = ln n − (Σ c·ln c)/n over the token counts —
      near 0 for boilerplate that repeats one token, maximal for
      uniform token use;
    - norm_entropy   H₁/ln(n_distinct) in [0, 1] (NULL when a doc has
      a single distinct token — try_divide, matching SQL NULL);
    - bigram_cond_entropy  H₂ − H₁ computed over bigram counts — the
      conditional next-token entropy, the repetition signal Gopher's
      top-fraction ratios (repetition_features) can't see: a doc that
      cycles "a b a b a b" has high H₁ but ZERO conditional entropy.

    Plan shape: TWO independent subplans scan the corpus — unigrams
    (explode → count) and bigrams (re-split → transform → explode →
    count) — each pruned to (id, text) at the scan, then rejoined on
    doc_id. Sharing one tokenized projection would need a
    corpus-sized fence of the token arrays (Spark re-runs an unfenced
    subplan per consumer), so two pruned scans are the
    cheaper shape at 100 TB. Both count aggregations shuffle on
    (doc, term) — vocabulary-bounded combiner output. Documents with
    < 2 tokens carry NULL bigram_cond_entropy (LEFT join, no bigrams).

    Determinism: counts are exact integers; entropies are Σ c·ln c
    double sums rounded to 6 d.p. (generic values — suite_llm header).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(whitespace_tokens(F.col(text_col))).alias("tok"),
    )
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    uni = tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        (
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c") * F.log("c")) / F.sum("c")
        ).alias("_h1"),
    )
    bg = (
        df.select(F.col(id_col).alias("doc_id"), whitespace_tokens(F.col(text_col)).alias("_w"))
        .where(F.size("_w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_w) - 1),"
                    " i -> concat(element_at(_w, i), ' ', element_at(_w, i + 1)))"
                )
            ).alias("b"),
        )
    )
    bc = bg.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    bi = bc.groupBy("doc_id").agg(
        (
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c") * F.log("c")) / F.sum("c")
        ).alias("_h2")
    )
    return (
        uni.join(bi, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.round("_h1", 6).alias("token_entropy"),
            F.round(
                F.try_divide(F.col("_h1"), F.log(F.col("n_distinct").cast("double"))), 6
            ).alias("norm_entropy"),
            F.round(F.col("_h2") - F.col("_h1"), 6).alias("bigram_cond_entropy"),
        )
    )


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 25,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual
    information — the classic phrase-mining signal (Church & Hanks
    1990) a tokenizer-vocabulary or merge-rule builder ranks candidate
    multi-word units with.

    PMI(w1, w2) = ln( p(w1 w2) / (p(w1)·p(w2)) ), with p(w1 w2) from
    adjacent-pair counts over their own total and p(w) from unigram
    counts over the token total. ``min_count`` drops the rare-pair
    noise PMI is notoriously dominated by.

    Scale shape: two pruned corpus scans (unigrams explode→count,
    bigrams re-split→count — the entropy_features trade: sharing one
    tokenized projection would need a corpus-sized cache), then
    everything is VOCABULARY-bounded: two equi-joins of the bigram
    count table against the unigram counts (w1, w2), one-row totals
    broadcast via crossJoin, and the final top-k rank window over the
    min_count-filtered survivors (WindowGroupLimit collapses it to a
    per-partition top-k before the single merge).

    Determinism: all counts exact integers; PMI is one ln over an
    identical mul/div tree of int-valued doubles, rounded to 6; rank
    orders by (pmi DESC, w1, w2). Output: (w1, w2, cb, pmi, rank).
    """
    toks = df.select(F.explode(whitespace_tokens(F.col(text_col))).alias("tok"))
    # fences: the unigram counts feed THREE consumers (total, w1 join,
    # w2 join) and the bigram counts two (total, scoring) — without
    # the fences the corpus explodes 3x/2x (sf1/sf4 probe measured
    # 13.7x wall for 4x data; 4.0x after). Both tables are
    # model-sized: vocabulary / observed-bigram bounded.
    uni = fence(toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
    # totals computed from the vocab-bounded count table, not the corpus
    u_tot = uni.agg(F.sum("c").cast("long").alias("u"))
    bg = (
        df.select(whitespace_tokens(F.col(text_col)).alias("_w"))
        .where(F.size("_w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_w) - 1),"
                    " i -> struct(element_at(_w, i) AS w1,"
                    "             element_at(_w, i + 1) AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    bgc = fence(bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb")))
    b_tot = bgc.agg(F.sum("cb").cast("long").alias("bt"))
    scored = (
        bgc.filter(F.col("cb") >= min_count)
        .join(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(b_tot))
        .crossJoin(F.broadcast(u_tot))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("cb").cast("double") / F.col("bt"))
                    / (
                        (F.col("c1").cast("double") / F.col("u"))
                        * (F.col("c2").cast("double") / F.col("u"))
                    )
                ),
                6,
            ),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), "w1", "w2")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("w1", "w2", "cb", "pmi", "rank")
    )


def _slice_term_counts(df: DataFrame, by: str, text_col: str):
    """Shared prelude of the per-slice corpus-comparison statistics
    (keyness_g2, js_divergence): ONE corpus explode into a
    checkpointed (slice, term) count table, every total derived from
    it — vocabulary-bounded, no second corpus pass. Returns
    (sc, tot_term, tot_slice, tot_all): (_s, term, a) counts,
    (term, t) per-term totals, (_s, n_s, n_terms) per-slice totals,
    and the one-row corpus total (n_all)."""
    toks = df.select(
        F.col(by).alias("_s"),
        F.explode(whitespace_tokens(F.col(text_col))).alias("term"),
    )
    # the counts feed every model table AND the scoring join - fence
    # so the corpus explodes once
    sc = fence(toks.groupBy("_s", "term").agg(F.count(F.lit(1)).alias("a")))
    tot_term = sc.groupBy("term").agg(F.sum("a").cast("long").alias("t"))
    tot_slice = sc.groupBy("_s").agg(
        F.sum("a").cast("long").alias("n_s"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    tot_all = tot_slice.agg(F.sum("n_s").cast("long").alias("n_all"))
    return sc, tot_term, tot_slice, tot_all


def keyness_g2(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
    top_k: int = 5,
    min_count: int = 5,
) -> DataFrame:
    """Per-slice keyword extraction by Dunning's log-likelihood G²
    (Dunning 1993) — which terms are OVER-represented in one source
    relative to the rest of the corpus, the standard domain-analysis /
    corpus-comparison statistic a mixture curator reads before setting
    source weights.

    For term w in slice s: a = count in s, b = count elsewhere,
    n_s / n_o the slice / other token totals, expected
    E_a = (a+b)·(n_s/N), E_b = (a+b)·(n_o/N);
    G² = 2·(a·ln(a/E_a) + b·ln(b/E_b)), the b = 0 term taken at its
    0 limit. Only the signed (a/n_s > (a+b)/N) over-represented terms
    rank — classic keyness, not merely "surprising" terms.

    Scale shape: one corpus explode → (slice, term) counts; per-term
    totals derive from THAT table (vocabulary-bounded second
    aggregation, not a second corpus pass); slice totals broadcast;
    the per-slice rank window collapses via WindowGroupLimit.

    Output: (``by``, term, a, b, g2, rank), g2 rounded to 6.
    """
    sc, tot_term, tot_slice, tot_all = _slice_term_counts(df, by, text_col)
    j = (
        sc.join(tot_term, "term")
        .join(F.broadcast(tot_slice), "_s")
        .crossJoin(F.broadcast(tot_all))
        .withColumn("b", (F.col("t") - F.col("a")).cast("long"))
        .withColumn("n_o", (F.col("n_all") - F.col("n_s")).cast("long"))
    )
    a_d = F.col("a").cast("double")
    b_d = F.col("b").cast("double")
    e_a = F.col("t") * (F.col("n_s").cast("double") / F.col("n_all"))
    e_b = F.col("t") * (F.col("n_o").cast("double") / F.col("n_all"))
    g2 = F.lit(2.0) * (
        a_d * F.log(a_d / e_a)
        + F.when(F.col("b") > 0, b_d * F.log(b_d / e_b)).otherwise(F.lit(0.0))
    )
    scored = (
        j.filter(F.col("a") >= min_count)
        # keyness: over-represented in the slice only
        .filter(a_d / F.col("n_s") > F.col("t").cast("double") / F.col("n_all"))
        .withColumn("g2", F.round(g2, 6))
    )
    w = Window.partitionBy("_s").orderBy(F.col("g2").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select(F.col("_s").alias(by), "term", "a", "b", "g2", "rank")
    )


def js_divergence(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Jensen–Shannon divergence of each slice's unigram distribution
    from the whole-corpus distribution — the bounded, symmetric
    "how different is this source's language" scalar (0 = identical,
    ln 2 = disjoint) that complements psi_drift's per-feature view.

    JS(P_s ‖ P_all) = ½·Σ_w [ p·ln(p/m) + q·ln(q/m) ], m = ½(p+q),
    p = slice term frequency, q = corpus term frequency; zero-mass
    terms contribute their 0 limit. Per-slice sums run over the
    (slice × vocabulary) count table — vocabulary-bounded, never
    corpus-bounded; the corpus distribution derives from the same
    count table (no second corpus pass). Sums of thousands of
    O(vocab⁻¹) doubles are far below the 6-d.p. half-quantum in
    accumulated order error, so round(…, 6) is engine-stable (suite
    header convention).

    Output: (``by``, n_terms, js) — n_terms the slice's distinct
    vocabulary, js rounded to 6.
    """
    sc, tot_term, tot_slice, tot_all = _slice_term_counts(df, by, text_col)
    # full (slice × vocab) grid: a term absent from the slice still
    # contributes q·ln(q/m) = q·ln 2 — crossJoin of two
    # vocabulary/slice-bounded tables, then the counts re-attach LEFT
    grid = (
        tot_slice.crossJoin(tot_term)
        .join(sc, ["_s", "term"], "left")
        .crossJoin(F.broadcast(tot_all))
    )
    p = F.coalesce(F.col("a"), F.lit(0)).cast("double") / F.col("n_s")
    q = F.col("t").cast("double") / F.col("n_all")
    m = F.lit(0.5) * (p + q)
    contrib = F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0)) + F.when(
        q > 0, q * F.log(q / m)
    ).otherwise(F.lit(0.0))
    return (
        grid.groupBy("_s", "n_terms")
        .agg(F.round(F.lit(0.5) * F.sum(contrib), 6).alias("js"))
        .select(F.col("_s").alias(by), "n_terms", "js")
        .orderBy(by)
    )
