"""Driver-contract queries for the LLM-data-pipeline operators
(dedup / similarity / text analysis / multimodal — BASELINE.json
north-star extensions) over the documents and embeddings tables.

Determinism: per-row scalar math produces bit-identical doubles in
both engines (same expression tree over the same inputs), so most
outputs are UNROUNDED; ratios of small integers (Jaccard, per-doc
stats) are safe to round. Hashes are md5-based — engine-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence, load_table, memo, rows_hint, spread_scan
from deepicedrain_spark.operators import textstats as ts_ops
from deepicedrain_spark.operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs as ngram_jaccard_op,
    simhash,
    simhash_near_pairs,
    word_shingles,
    jaccard_verify,
)
from deepicedrain_spark.operators.multimodal import (
    attach_fake_media,
    decode_image_features,
    sample_frames,
)
from deepicedrain_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
    ivf_topk,
)
from deepicedrain_spark.suite import register

# hex→bigint in DuckDB (no conv()): digit-shift sum over the first 15
# md5 hex chars — equals Spark's conv(substring(md5(x),1,15),16,10).
_HEX15 = (
    "(SELECT sum(CAST(strpos('0123456789abcdef', substring({h}, j+1, 1)) - 1 AS BIGINT)"
    " << (4*(14-j))) FROM generate_series(0, 14) g(j))"
)


# --- exact dedup ------------------------------------------------------
@register(
    "exact_dedup_pairs",
    """
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents),
    hashed AS (
      SELECT doc_id, md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS h
      FROM all_docs),
    keep AS (SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS keep_id FROM hashed)
    SELECT doc_id, keep_id FROM keep WHERE doc_id <> keep_id
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table has no exact dups, so the query unions a
    shifted copy — every shifted doc must map to its original keeper."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )
    return exact_duplicates(doubled)


# --- MinHash + LSH near-dup ------------------------------------------
# Oracle = exact all-pairs trigram Jaccard ≥ 0.8. The planted near-dups
# sit at J ∈ {0.9, 1.0} where the 16-band/4-row LSH recall is
# 1 − (1 − J⁴)¹⁶ ≥ 1 − 4e-8, and J=1 pairs collide in every band, so
# the LSH+verify output equals the exact join on this data
# (verified by tools/check.py).
@register(
    "minhash_near_dup",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
      FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
    """,
)
def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(docs, threshold=0.8)


# --- direct n-gram Jaccard (inverted-index shape, full table) ---------
@register(
    "ngram_jaccard_pairs",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
      FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered AllPairs at every corpus size (lossless)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))  # 1-split scan, CPU-heavy text pass (io.spread_scan: no-op at scale)
    return ngram_jaccard_op(docs, threshold=0.5)


# --- benchmark contamination (cross-corpus n-gram Jaccard) ------------
# The eval-leakage scan a training pipeline runs before release: which
# corpus docs overlap an evaluation set above threshold. Benchmark =
# shifted-id copies of the first 50 docs, so every benchmark doc
# contaminates its source at J = 1.0 (plus any genuine near-dups).
@register(
    "benchmark_contamination",
    """
    WITH corpus AS (SELECT doc_id, text FROM documents),
    bench AS (
      -- NEGATIVE ids: disjoint from any non-negative corpus doc_id at
      -- ANY scale (a +20000 shift collided once the corpus passed 20k
      -- docs, silently suppressing same-id cross pairs in BOTH engines)
      SELECT -(doc_id + 1) AS doc_id, text FROM documents WHERE doc_id < 50),
    cw AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM corpus),
    bw AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM bench),
    csh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
      FROM cw),
    bsh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
      FROM bw),
    csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
    bsz AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS c
      FROM csh a JOIN bsh b ON a.s = b.s AND a.doc_id != b.doc_id
      GROUP BY 1, 2)
    SELECT i.doc_id, i.bench_id,
           round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) AS jaccard
    FROM inter i
    JOIN csz ca ON ca.doc_id = i.doc_id
    JOIN bsz cb ON cb.doc_id = i.bench_id
    WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5
    """,
)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.dedup import ngram_contamination

    docs = spread_scan(load_table(spark, sf_dir, "documents"))  # 1-split scan, CPU-heavy text pass (io.spread_scan: no-op at scale)
    bench = docs.filter(F.col("doc_id") < 50).select(
        (-(F.col("doc_id") + F.lit(1))).alias("doc_id"), "text"
    )
    return ngram_contamination(docs, bench, threshold=0.5)


# --- SimHash ----------------------------------------------------------
@register(
    "simhash_fingerprints",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, t FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
        FROM documents)),
    hashed AS (
      SELECT doc_id, {_HEX15.format(h='md5(t)')} AS h FROM toks),
    bits AS (
      SELECT doc_id, i,
             sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hashed, generate_series(0, 31) g(i)
      GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, bits=32)


@register(
    "simhash_near_pairs",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, t FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
        FROM documents)),
    hashed AS (
      SELECT doc_id, {_HEX15.format(h='md5(t)')} AS h FROM toks),
    bits AS (
      SELECT doc_id, i,
             sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hashed, generate_series(0, 31) g(i)
      GROUP BY 1, 2),
    fp AS (
      SELECT doc_id,
             sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS simhash
      FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded (pigeonhole) candidate generation at scale — equi-join
    plan, recall exact; below the banding break-even the parquet-footer
    row count flips to the brute-force path (same result set)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = simhash(docs, bits=32)
    return simhash_near_pairs(fps, max_hamming=2, bits=32, n_docs=rows_hint(docs))


# --- cosine top-k similarity search ------------------------------------
@register(
    "cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, cand_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
             / sqrt(
                 list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
                 * list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))) AS cos
      FROM c, q WHERE query_id <> cand_id),
    ranked AS (
      SELECT query_id, cand_id, round(cos, 6) AS cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cos, 6) DESC, cand_id) AS rank
      FROM scored)
    SELECT query_id, cand_id, rank, cos
    FROM ranked WHERE rank <= 3
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk(emb.filter(F.col("vec_id") < 20), emb, k=3)
    return out.select("query_id", "cand_id", "rank", F.round("cos", 6).alias("cos"))


# Embedding-cosine near-dup pairs. The fixture has no natural pairs
# above 0.9 (max cross-cosine ≈ 0.44), so the query plants them the
# way exact_dedup_pairs does: a shifted-id copy of each vector nudged
# by ±0.05 on a 3-periodic dimension mask — cosines land in
# [0.946, 0.966], 4σ clear of both the 0.9 threshold and 1.0, and the
# filter runs on the round-6 value both engines agree on.
@register(
    "embedding_near_dup",
    """
    WITH base AS (
      SELECT vec_id,
             list_transform(generate_series(1, 64),
                            i -> CAST(embedding[i] AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 100),
    planted AS (
      SELECT vec_id + 10000 AS vec_id,
             list_transform(generate_series(1, 64),
                            i -> CAST(embedding[i] AS DOUBLE)
                                 + 0.05 * ((i % 3) - 1)) AS v
      FROM embeddings WHERE vec_id < 100),
    pool AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> a.v[i] * b.v[i]))
                   / sqrt(list_sum(list_transform(generate_series(1, 64),
                            i -> a.v[i] * a.v[i]))
                        * list_sum(list_transform(generate_series(1, 64),
                            i -> b.v[i] * b.v[i]))), 6) AS cos
      FROM pool a JOIN pool b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.9
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.dedup import embedding_near_duplicates

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    planted = emb.select(
        (F.col("vec_id") + F.lit(10000)).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> cast(x as double)"
            " + 0.05D * (((i + 1) % 3) - 1))"
        ).alias("embedding"),
    )
    return embedding_near_duplicates(base.unionByName(planted), threshold=0.9)


def _plane_sql_list(p: int, dims: int = 64) -> str:
    """The hyperplane-p weight vector as a DuckDB list literal —
    identical constants to similarity._plane_weight (md5-derived)."""
    from deepicedrain_spark.operators.similarity import _plane_weight

    return "[" + ", ".join(f"{float(_plane_weight(p, d))}" for d in range(dims)) + "]"


def _sig_sql(vec: str, planes: int, dims: int = 64) -> str:
    """Signature = Σ_p 2^p·[w_p·v > 0] over the expression ``vec``."""
    terms = [
        f"(CASE WHEN list_sum(list_transform(generate_series(1, {dims}), "
        f"i -> ({vec})[i] * ({_plane_sql_list(p, dims)})[i])) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(planes)
    ]
    return " + ".join(terms)


# Scale path for embedding near-dup: candidates share the hyperplane
# bucket (equi-join), exact cosine verify on candidates only. Recall
# < 1 by design, but the bucketing is deterministic so the SAME planted
# pool as embedding_near_dup has an exact oracle running the identical
# signature arithmetic.
@register(
    "embedding_near_dup_lsh",
    f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(generate_series(1, 64),
                            i -> CAST(embedding[i] AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 100),
    planted AS (
      SELECT vec_id + 10000 AS vec_id,
             list_transform(generate_series(1, 64),
                            i -> CAST(embedding[i] AS DOUBLE)
                                 + 0.05 * ((i % 3) - 1)) AS v
      FROM embeddings WHERE vec_id < 100),
    pool AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
    sigs AS (SELECT vec_id, v, {_sig_sql('v', 4)} AS sig FROM pool),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> a.v[i] * b.v[i]))
                   / sqrt(list_sum(list_transform(generate_series(1, 64),
                            i -> a.v[i] * a.v[i]))
                        * list_sum(list_transform(generate_series(1, 64),
                            i -> b.v[i] * b.v[i]))), 6) AS cos
      FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.9
    """,
)
def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.dedup import embedding_near_duplicates_lsh

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    planted = emb.select(
        (F.col("vec_id") + F.lit(10000)).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> cast(x as double)"
            " + 0.05D * (((i + 1) % 3) - 1))"
        ).alias("embedding"),
    )
    return embedding_near_duplicates_lsh(
        base.unionByName(planted), threshold=0.9, planes=4
    )


# The LSH bucketing is DETERMINISTIC (md5-derived hyperplane grid), so
# the approximate result has an exact oracle: the same signature
# computed from the same literal weight grid, bucket equi-join, rank.
@register(
    "cosine_topk_lsh",
    """
    WITH sigs AS (
      SELECT vec_id, embedding, (CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * ([498.0, 606.0, 617.0, -439.0, -914.0, -167.0, -515.0, 630.0, -329.0, -618.0, -199.0, -283.0, 600.0, -968.0, -69.0, 983.0, 262.0, 757.0, 35.0, -232.0, 386.0, -659.0, 40.0, -546.0, 999.0, 762.0, 11.0, -861.0, 482.0, 219.0, 26.0, 67.0, 429.0, 738.0, -996.0, 923.0, -371.0, 517.0, -131.0, -253.0, -728.0, 2.0, 94.0, -902.0, 429.0, -159.0, -694.0, -617.0, 498.0, -718.0, -346.0, -124.0, 560.0, 665.0, 809.0, -190.0, -1.0, -197.0, -18.0, 993.0, 394.0, -244.0, -193.0, -745.0])[i])) > 0 THEN 1 ELSE 0 END) + (CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * ([604.0, 191.0, -107.0, 947.0, -78.0, -56.0, 620.0, -864.0, -728.0, -641.0, 534.0, -587.0, 224.0, -400.0, 41.0, 586.0, -134.0, -799.0, -623.0, -690.0, -469.0, 606.0, 144.0, 885.0, 728.0, -294.0, -179.0, -618.0, -576.0, -651.0, -368.0, 556.0, -705.0, 395.0, -169.0, -47.0, -153.0, -640.0, 394.0, 156.0, 52.0, -392.0, -786.0, 236.0, 453.0, 747.0, 646.0, -452.0, 191.0, 782.0, -944.0, 162.0, -381.0, 451.0, 66.0, 687.0, 109.0, -379.0, -386.0, 199.0, -745.0, 711.0, -229.0, 717.0])[i])) > 0 THEN 2 ELSE 0 END) + (CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * ([-281.0, 825.0, 185.0, -63.0, 93.0, -648.0, -115.0, 835.0, 54.0, 601.0, 870.0, 144.0, 217.0, -265.0, -625.0, -757.0, -732.0, -733.0, -538.0, 907.0, -738.0, 703.0, -158.0, 8.0, -367.0, -950.0, -975.0, 927.0, -205.0, -306.0, -498.0, -815.0, 632.0, 393.0, 536.0, 729.0, 856.0, 972.0, 410.0, -897.0, -13.0, 776.0, -744.0, -128.0, -1000.0, -445.0, -716.0, -343.0, 366.0, 569.0, -156.0, 430.0, 731.0, -748.0, 215.0, 448.0, -459.0, -694.0, -149.0, 408.0, -589.0, 668.0, 818.0, 831.0])[i])) > 0 THEN 4 ELSE 0 END) + (CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * ([-645.0, 202.0, 705.0, -786.0, 632.0, -521.0, -521.0, 683.0, -703.0, 936.0, -307.0, 60.0, -981.0, -459.0, 242.0, -556.0, -301.0, 234.0, -947.0, 507.0, -136.0, 425.0, -266.0, 28.0, -708.0, 710.0, -158.0, 250.0, -979.0, 318.0, -770.0, -855.0, -734.0, 862.0, -371.0, -220.0, 827.0, -36.0, 131.0, -401.0, 767.0, 67.0, 487.0, 837.0, -380.0, 594.0, 456.0, 868.0, -994.0, -958.0, 867.0, 220.0, -956.0, 575.0, 944.0, -606.0, 477.0, 620.0, -351.0, 505.0, -586.0, -874.0, -509.0, -736.0])[i])) > 0 THEN 8 ELSE 0 END) AS sig
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qv, sig AS qsig
          FROM sigs WHERE vec_id < 20),
    c AS (SELECT vec_id AS cand_id, embedding AS cv, sig AS csig FROM sigs),
    scored AS (
      SELECT query_id, cand_id, round(list_sum(list_transform(generate_series(1, 64), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) / sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) * list_sum(list_transform(generate_series(1, 64), i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))), 6) AS cos
      FROM c JOIN q ON csig = qsig AND query_id <> cand_id),
    ranked AS (
      SELECT query_id, cand_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, cand_id) AS rank
      FROM scored)
    SELECT query_id, cand_id, rank, cos FROM ranked WHERE rank <= 3
    """,
)
def q_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_lsh(emb.filter(F.col("vec_id") < 20), emb, k=3, planes=4)


# IVF assignment (argmax-cos to per-label mean centroid, float32-cast
# to absorb cross-engine sum-order ulps) and the probe are pure
# deterministic arithmetic → exact SQL oracle.
@register(
    "ivf_topk",
    """
    WITH cent_dims AS (
      SELECT label, d.i AS pos,
             CAST(avg(CAST(embedding[d.i] AS DOUBLE)) AS REAL) AS m
      FROM embeddings, generate_series(1, 64) d(i)
      GROUP BY 1, 2),
    cent AS (
      SELECT label AS centroid_id, list(CAST(m AS DOUBLE) ORDER BY pos) AS centv
      FROM cent_dims GROUP BY 1),
    ca AS (
      SELECT cand_id, cv, centroid_id FROM (
        SELECT e.vec_id AS cand_id, e.embedding AS cv, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.centv[i] AS DOUBLE))) / sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) * list_sum(list_transform(generate_series(1, 64), i -> CAST(c.centv[i] AS DOUBLE) * CAST(c.centv[i] AS DOUBLE)))), 9) DESC,
                          c.centroid_id) AS r
        FROM embeddings e, cent c) WHERE r <= 1),
    qa AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qv, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.centv[i] AS DOUBLE))) / sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) * list_sum(list_transform(generate_series(1, 64), i -> CAST(c.centv[i] AS DOUBLE) * CAST(c.centv[i] AS DOUBLE)))), 9) DESC,
                          c.centroid_id) AS r
        FROM embeddings e, cent c WHERE e.vec_id < 20) WHERE r <= 2),
    scored AS (
      SELECT query_id, cand_id, round(list_sum(list_transform(generate_series(1, 64), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) / sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) * list_sum(list_transform(generate_series(1, 64), i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))), 6) AS cos
      FROM ca JOIN qa USING (centroid_id)
      WHERE query_id <> cand_id),
    ranked AS (
      SELECT query_id, cand_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, cand_id) AS rank
      FROM scored)
    SELECT query_id, cand_id, rank, cos FROM ranked WHERE rank <= 3
    """,
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # codebook: per-label mean embedding (deterministic k-means stand-in)
    pos = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = (
        pos.groupBy("label", "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"))
        .select(
            F.col("label").alias("centroid_id"),
            F.expr("transform(_pm, x -> cast(x.m as float))").alias("embedding"),
        )
    )
    return ivf_topk(emb.filter(F.col("vec_id") < 20), emb, cent, k=3, nprobe=2)


# --- text analysis -----------------------------------------------------
@register(
    "token_count_stats",
    """
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_ ]')) AS n_regex_tokens,
           length(text) AS n_chars
    FROM documents
    """,
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ts_ops.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.size(ts_ops.regex_tokens(F.col("text"))).cast("long").alias("n_regex_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


@register(
    "lang_id_heuristic",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    scored AS (
      SELECT doc_id,
        len(list_filter(ws, t -> list_contains(['the','a','of','and','to','in','is','it'], lower(t)))) AS score_en,
        len(list_filter(ws, t -> list_contains(['der','die','das','und','ist','ein','zu','mit'], lower(t)))) AS score_de,
        len(list_filter(ws, t -> list_contains(['le','la','les','et','est','un','une','dans'], lower(t)))) AS score_fr,
        len(list_filter(ws, t -> list_contains(['el','la','los','y','es','un','una','en'], lower(t)))) AS score_es
      FROM toks)
    SELECT doc_id, score_en, score_de, score_fr, score_es,
           CASE WHEN score_en IS NULL THEN NULL
                WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
                WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
                WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
                ELSE 'es' END AS lang_pred
    FROM scored
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = ts_ops.lang_id(docs)
    return out.select(
        "doc_id",
        F.col("score_en").cast("long").alias("score_en"),
        F.col("score_de").cast("long").alias("score_de"),
        F.col("score_fr").cast("long").alias("score_fr"),
        F.col("score_es").cast("long").alias("score_es"),
        "lang_pred",
    )


# NOTE: suite_retrieval._QUALITY_FEATS mirrors this oracle's feats +
# composite-score SQL (the eval family scores with quality_score) —
# a formula change here needs a synchronized edit there.
@register(
    "quality_scores",
    """
    WITH feats AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
             len(list_filter(string_split(text, ' '),
                 t -> t != '' AND list_contains(['the','a','of','and','to','in','is','it'], lower(t)))) AS n_stop,
             list_sum(list_transform(list_filter(string_split(text, ' '), x -> x != ''),
                      t -> length(t))) AS tok_chars
      FROM documents)
    SELECT doc_id, n_chars, n_tokens,
           round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
           round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
           round(CAST(tok_chars AS DOUBLE) / n_tokens, 6) AS mean_token_len,
           least(n_tokens / 64.0, 1.0) * 0.4
             + least(round(CAST(n_punct AS DOUBLE) / n_chars, 6) * 20.0, 1.0) * 0.2
             + least(round(CAST(n_stop AS DOUBLE) / n_tokens, 6) * 5.0, 1.0) * 0.2
             + least(round(CAST(tok_chars AS DOUBLE) / n_tokens, 6) / 8.0, 1.0) * 0.2 AS quality
    FROM feats
    """,
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = ts_ops.quality_score(docs)
    return out.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "punct_ratio",
        "stopword_ratio",
        "mean_token_len",
        "quality",
    )


@register(
    "doc_fingerprints",
    """
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp_md5,
           length(text) AS n_chars
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ts_ops.md5_fingerprint(F.col("text")).alias("fp_md5"),
        F.length("text").cast("long").alias("n_chars"),
    )


# Robust winnowing (round 12): the MOSS fingerprinting scheme —
# per-window rightmost-minimum k-gram hashes, guaranteeing any shared
# window+k-1 token run yields a shared fingerprint (copy-span
# LOCALIZATION, which whole-doc hashes and MinHash sketches can't do).
# Map-only per doc; the one shuffle is the final distinct over the
# winnowed set (~2n/(w+1) of the gram stream).
def _winnow_cte(src: str) -> str:
    """DuckDB CTE chain replaying winnowing_fingerprints (k=3, w=4)
    over relation ``src`` (doc_id, text) — ends in ``wfp`` holding the
    distinct (doc_id, pos, fp) rows. Shared by the fingerprint query
    and the match join so both contracts stay one definition."""
    return f"""toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM {src}),
    h AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(ws) - 2),
               i -> CAST(concat('0x', substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15)) AS BIGINT)) AS hs
      FROM toks WHERE len(ws) >= 3),
    st AS (
      SELECT doc_id, hs, unnest(generate_series(1, greatest(1, len(hs) - 3))) AS s
      FROM h),
    win AS (SELECT doc_id, s, hs[s:s+3] AS w FROM st),
    sel AS (
      SELECT doc_id, s, list_min(w) AS minh,
             len(w) - list_position(list_reverse(w), list_min(w)) + 1 AS rrel
      FROM win),
    wfp AS (
      SELECT DISTINCT doc_id, CAST(s + rrel - 1 AS BIGINT) AS pos, minh AS fp
      FROM sel)"""


@register(
    "winnowing_fingerprints",
    f"""
    WITH {_winnow_cte("documents")}
    SELECT doc_id, pos, fp FROM wfp ORDER BY doc_id, pos
    """,
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.dedup import winnowing_fingerprints

    docs = spread_scan(load_table(spark, sf_dir, "documents"))  # 1-split scan, CPU-heavy text pass (io.spread_scan: no-op at scale)
    return winnowing_fingerprints(docs, "text", "doc_id", k=3, window=4).orderBy(
        "doc_id", "pos"
    )


# End-to-end MOSS match join (round 12): plant 19-token quotes the
# containment_dedup way (-id copies of tokens 2..20 of doc_id < 40),
# join the winnowed sets on fp, and report per-pair shared-fingerprint
# counts + matched spans on both sides — copy LOCALIZATION, the thing
# the guarantee buys. min_shared=2 screens single-hash coincidences.
@register(
    "winnowing_matches",
    f"""
    WITH ws0 AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    pool AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT -(doc_id + 1) AS doc_id, array_to_string(ws[2:20], ' ') AS text
      FROM ws0 WHERE len(ws) >= 21 AND doc_id < 40),
    {_winnow_cte("pool")},
    j AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fp,
             a.pos AS pos_a, b.pos AS pos_b
      FROM wfp a JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id),
    g AS (
      SELECT id_a, id_b,
             CAST(count(DISTINCT fp) AS BIGINT) AS n_shared,
             CAST(min(pos_a) AS BIGINT) AS a_start,
             CAST(max(pos_a) AS BIGINT) AS a_end,
             CAST(min(pos_b) AS BIGINT) AS b_start,
             CAST(max(pos_b) AS BIGINT) AS b_end
      FROM j GROUP BY 1, 2)
    SELECT * FROM g WHERE n_shared >= 2 ORDER BY id_a, id_b
    """,
)
def q_winnowing_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.dedup import winnowing_matches
    from deepicedrain_spark.operators.textstats import whitespace_tokens

    docs = spread_scan(load_table(spark, sf_dir, "documents"))  # 1-split scan, CPU-heavy text pass (io.spread_scan: no-op at scale)
    w = whitespace_tokens(F.col("text"))
    quotes = (
        docs.select("doc_id", w.alias("_w"))
        .filter((F.size("_w") >= 21) & (F.col("doc_id") < 40))
        .select(
            (-(F.col("doc_id") + F.lit(1))).alias("doc_id"),
            F.array_join(F.slice("_w", 2, 19), " ").alias("text"),
        )
    )
    pool = docs.select("doc_id", "text").unionByName(quotes)
    return winnowing_matches(
        pool, "text", "doc_id", k=3, window=4, min_shared=2
    ).orderBy("id_a", "id_b")


@register(
    "rolling_hash_fingerprints",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    trows AS (
      SELECT doc_id, unnest(ws) AS t,
             unnest(range(1, len(ws) + 1)) AS pos
      FROM toks),
    hrows AS (
      SELECT doc_id, pos, {_HEX15.format(h='md5(t)')} % 2147483647 AS h
      FROM trows),
    seqs AS (
      SELECT doc_id, list(h ORDER BY pos) AS hs FROM hrows GROUP BY doc_id)
    SELECT doc_id,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                            (acc, h) -> (acc * 1000003 + h) % 2147483647)
                AS BIGINT) AS roll_hash
    FROM seqs
    """,
)
def q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # token-less docs (empty/whitespace/NULL text) carry no fingerprint
    # — excluded explicitly so Spark and the oracle (whose unnest drops
    # them implicitly) agree on any corpus, not just this one
    toks = F.expr("size(filter(split(text, ' '), x -> x != ''))")
    return docs.filter(toks > 0).select(
        "doc_id", ts_ops.rolling_hash().alias("roll_hash")
    )


# --- multimodal plumbing ------------------------------------------------
# The fake decode is pure deterministic byte math over utf-8 payloads
# (documents.text is ASCII in the testdata), so DuckDB can recompute the
# identical features char-by-char — the mapInPandas plumbing gets a full
# value-exact oracle, not just a rows-only check. mean_byte divides two
# exact integers on both sides (Python int/int vs DOUBLE sum/count).
@register(
    "multimodal_decode_features",
    """
    WITH chars AS (
      SELECT doc_id, ascii(unnest(split(text, ''))) AS b FROM documents)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(count(*) AS BIGINT) AS n_bytes,
           CAST(sum(b) AS DOUBLE) / count(*) AS mean_byte,
           CAST(max(b) AS INT) AS max_byte
    FROM chars GROUP BY doc_id
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_fake_media(docs, "doc_id", "text")
    return decode_image_features(media, mode="fake")


@register(
    "multimodal_frame_sample",
    """
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_frames,
           CAST(length(text) AS BIGINT) AS total_bytes
    FROM documents WHERE length(text) > 0
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_fake_media(docs, "doc_id", "text")
    frames = sample_frames(media, every_n_bytes=64, mode="fake")
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.octet_length("frame_bytes")).alias("total_bytes"),
    )


# Audio plumbing: nearest-neighbor 2:1 downsample over the fake PCM
# payload (utf-8 text bytes — ASCII in the testdata, so DuckDB can
# replay the byte indexing char-by-char for a value-exact oracle).
@register(
    "multimodal_audio_resample",
    """
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST((length(text) + 1) // 2 AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(range(0, (length(text) + 1) // 2),
                  i -> ascii(substring(text, CAST(i * 2 AS INT) + 1, 1))))
                AS BIGINT) AS byte_sum
    FROM documents WHERE length(text) > 0
    """,
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.multimodal import resample_audio

    docs = load_table(spark, sf_dir, "documents")
    media = attach_fake_media(docs, "doc_id", "text")
    out = resample_audio(media, src_rate=16_000, dst_rate=8_000, mode="fake")
    # ASCII payload: sum of byte values via substring/ascii in codegen
    # (sequence(1, 0) DESCENDS in Spark, so empty payloads are filtered
    # — matching the oracle's length(text) > 0 guard)
    byte_sum = F.expr(
        "aggregate(transform(sequence(1, cast(n_samples as int)), "
        "i -> cast(ascii(substring(cast(payload as string), i, 1)) as bigint)), "
        "0L, (acc, v) -> acc + v)"
    )
    return out.filter(F.col("n_samples") > 0).select(
        "media_id", "n_samples", byte_sum.alias("byte_sum")
    )


# --- sequence packing (round 3) ------------------------------------------
# The pre-training step that concatenates documents into fixed-token
# training sequences (docs never split; a doc belongs to the sequence
# where its cumulative-token start falls). The global prefix sum is the
# interesting scale shape: a single orderBy window would serialize on
# one partition, so the Spark side runs the classic TWO-LEVEL prefix
# sum — per-group cumsum (partitioned window) + a cumsum over the
# per-group totals (a reduced table, docs/GROUP rows) joined back
# broadcast. The oracle is the plain single-window cumsum, proving the
# distributed decomposition exact.
_PACK_B = 2048  # tokens per training sequence
_PACK_G = 250  # docs per prefix-sum group


@register(
    "sequence_packing",
    f"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS n
      FROM documents),
    c AS (
      SELECT doc_id, n,
             sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT CAST((cum - n) // {_PACK_B} AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           round(sum(n) / {_PACK_B}.0, 6) AS fill_ratio
    FROM c GROUP BY 1
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.expr("filter(split(text, ' '), x -> x != '')")).cast("long").alias("n"),
        (F.col("doc_id") / _PACK_G).cast("long").alias("g"),
    )
    w_in = Window.partitionBy("g").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    within = t.withColumn("cum_in", F.sum("n").over(w_in))
    # per-group totals: docs/G rows — the reduced table a single-
    # partition window may legally own (same altitude as centroids)
    gt = t.groupBy("g").agg(F.sum("n").alias("gtot"))
    w_g = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offsets = gt.withColumn("goff", F.sum("gtot").over(w_g) - F.col("gtot")).select(
        "g", "goff"
    )
    cum = within.join(F.broadcast(offsets), "g").withColumn(
        "cum", F.col("cum_in") + F.col("goff")
    )
    return (
        cum.withColumn("seq_id", F.expr(f"(cum - n) div {_PACK_B}"))
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            F.round(F.sum("n") / F.lit(float(_PACK_B)), 6).alias("fill_ratio"),
        )
    )


# --- source-mixture rebalancing (round 3) --------------------------------
# Data-mixing step: downsample every source to the SMALLEST source's
# size, selecting per-source keepers by md5 order of the doc id —
# content-stable, engine-portable (md5 is identical everywhere),
# no RNG. One shuffle on the source key; the min-count scalar
# broadcasts. The id_sum checksum binds the exact keeper SET, not just
# its size.
@register(
    "source_mixture_balance",
    """
    WITH counts AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
    mn AS (SELECT min(c) AS m FROM counts),
    ranked AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
    SELECT r.source,
           count(*) AS n_kept,
           CAST(sum(r.doc_id) AS BIGINT) AS id_sum
    FROM ranked r, mn WHERE r.rk <= mn.m
    GROUP BY r.source
    """,
)
def q_source_mixture_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from deepicedrain_spark.operators.sketches import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    mn = docs.groupBy("source").count().agg(F.min("count")).collect()[0][0]
    kept = stratified_sample(docs, ["source"], "doc_id", int(mn))
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
    )


# --- temperature-scaled source mixing (T5 / Pile / LLaMA recipe) --------
# Sampling weight per source ∝ n^alpha flattens the source
# distribution (alpha=0.5 here); quotas derive from integer-scaled
# weights (w6 = round(sqrt(n)*1e6) as BIGINT) so the weight-sum — the
# one cross-source fold — is exact and order-free in both engines,
# and selection is the md5-ranked prefix per source (content-stable,
# no RNG). One window + O(sources) aggregates.
_TMIX_ALPHA_SQL = "CAST(round(sqrt(c) * 1e6) AS BIGINT)"


@register(
    "temperature_mixture_quota",
    f"""
    WITH counts AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
    w AS (SELECT source, c, {_TMIX_ALPHA_SQL} AS w6 FROM counts),
    tot AS (SELECT sum(w6) AS sw, CAST(sum(c) // 2 AS BIGINT) AS target FROM w),
    quota AS (
      SELECT w.source, w.c,
             least(w.c, CAST(round(tot.target * (w.w6 / CAST(tot.sw AS DOUBLE)))
                             AS BIGINT)) AS q
      FROM w CROSS JOIN tot),
    ranked AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
    SELECT q.source,
           CAST(q.c AS BIGINT) AS n_docs,
           q.q AS quota,
           CAST(count(r.doc_id) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(r.doc_id), 0) AS BIGINT) AS id_sum
    FROM quota q LEFT JOIN ranked r ON r.source = q.source AND r.rk <= q.q
    GROUP BY q.source, q.c, q.q
    ORDER BY q.source
    """,
)
def q_temperature_mixture_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling: per-source quota ∝ n^0.5
    against a corpus-half target, selection by md5 rank.  The id_sum
    checksum binds the exact kept SET.  At 100 TB this is the same
    plan: a per-source count, O(sources) quota math, one ranked
    window on the source key."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    w = counts.withColumn(
        "w6", F.round(F.sqrt(F.col("c")) * 1e6).cast("long")
    )
    tot = w.agg(
        F.sum("w6").alias("sw"),
        (F.sum("c").cast("long") / 2).cast("long").alias("target"),
    )
    # quota feeds BOTH the kept-join and the final left join —
    # unfenced, the corpus count pass under it ran twice per plan.
    # The table is one row per source (mixture-bounded), so the
    # fence is O(sources) (r12 optimization round, §5.4).
    quota = fence(
        w.crossJoin(F.broadcast(tot)).select(
            "source",
            "c",
            # divide FIRST in double: target * w6 in BIGINT wraps silently
            # past 2^63 (target ~ N/2, w6 ~ sqrt(c)*1e6 at 100 TB counts);
            # target * (w6/sw) keeps every intermediate in double and the
            # oracle computes the identical IEEE expression order
            F.least(
                F.col("c"),
                F.round(
                    F.col("target").cast("double")
                    * (F.col("w6").cast("double") / F.col("sw").cast("double"))
                ).cast("long"),
            ).alias("q"),
        ),
        eager=False,
    )
    rk = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select(
        "source", "doc_id", F.row_number().over(rk).alias("rk")
    )
    kept = ranked.join(F.broadcast(quota), "source").where(F.col("rk") <= F.col("q"))
    stats = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )
    return (
        quota.join(stats, "source", "left")
        .select(
            "source",
            F.col("c").cast("long").alias("n_docs"),
            F.col("q").alias("quota"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("id_sum"), F.lit(0)).cast("long").alias("id_sum"),
        )
        .orderBy("source")
    )


# --- end-to-end corpus curation pipeline --------------------------------
# The LLM analogue of atl06_dhdt_end_to_end: chain the driver-green
# stages the way a real curation run does — Gopher quality gate →
# exact dedup (keep lowest id) → self-trained bigram-LM perplexity
# with the tail third dropped per language (CCNet) → temperature-
# scaled per-source quotas (n^0.5 against a half-corpus target).
# Each stage reuses the exact logic its standalone query certifies;
# the value here is the COMPOSITION: one plan, one pass per stage
# boundary, per-source stage counts + an id_sum binding the final set.
_PIPE_SQL = """
WITH t AS (
  SELECT doc_id, lang, source, text,
         list_filter(string_split(text, ' '), x -> x != '') AS w
  FROM documents),
bgm AS (
  SELECT doc_id, round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_bg FROM (
    SELECT doc_id, b, count(*) AS n FROM (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                                           i -> w[i] || ' ' || w[i+1])) AS b
      FROM t WHERE len(w) >= 2)
    GROUP BY doc_id, b)
  GROUP BY doc_id),
g AS (
  SELECT t.* FROM t LEFT JOIN bgm USING (doc_id)
  WHERE len(w) BETWEEN 20 AND 90
    AND (CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w))
        BETWEEN 3 AND 10
    AND len(list_filter(w, x -> x IN ('the', 'a'))) >= 2
    AND coalesce(bgm.top_bg, 0.0) <= 0.2),
d AS (
  SELECT * FROM (
    SELECT g.*, row_number() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) AS _rk
    FROM g) WHERE _rk = 1),
bg AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                                       i -> w[i] || ' ' || w[i+1])) AS b
  FROM d),
bgc AS (SELECT b, count(*) AS nb FROM bg GROUP BY b),
ugc AS (SELECT split_part(b, ' ', 1) AS u, sum(nb) AS nu FROM bgc GROUP BY 1),
vocab AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(w) AS tok FROM d)),
lm AS (
  SELECT g.doc_id,
         round(sum(ln((bgc.nb + 1.0) / (ugc.nu + (SELECT v FROM vocab))))
               / count(*), 6) AS avg_logp
  FROM bg g
  JOIN bgc ON bgc.b = g.b
  JOIN ugc ON ugc.u = split_part(g.b, ' ', 1)
  GROUP BY g.doc_id),
p AS (
  SELECT d.doc_id, d.lang, d.source FROM (
    SELECT d.doc_id, d.lang, d.source,
           ntile(3) OVER (PARTITION BY d.lang
                          ORDER BY lm.avg_logp DESC, d.doc_id) AS nt
    FROM d JOIN lm USING (doc_id)) d
  WHERE nt <= 2),
counts AS (SELECT source, count(*) AS c FROM p GROUP BY source),
wq AS (SELECT source, c, CAST(round(sqrt(c) * 1e6) AS BIGINT) AS w6 FROM counts),
tot AS (SELECT sum(w6) AS sw, CAST(sum(c) // 2 AS BIGINT) AS target FROM wq),
quota AS (
  SELECT wq.source, wq.c,
         least(wq.c, CAST(round(tot.target * (wq.w6 / CAST(tot.sw AS DOUBLE)))
                          AS BIGINT)) AS q
  FROM wq CROSS JOIN tot),
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM p),
stage_counts AS (
  SELECT t.source,
         CAST(count(*) AS BIGINT) AS n_input,
         CAST(count(g.doc_id) AS BIGINT) AS n_gopher,
         CAST(count(d.doc_id) AS BIGINT) AS n_dedup,
         CAST(count(p.doc_id) AS BIGINT) AS n_ppl
  FROM t
  LEFT JOIN (SELECT doc_id FROM g) g USING (doc_id)
  LEFT JOIN (SELECT doc_id FROM d) d USING (doc_id)
  LEFT JOIN (SELECT doc_id FROM p) p USING (doc_id)
  GROUP BY t.source)
SELECT s.source, s.n_input, s.n_gopher, s.n_dedup, s.n_ppl,
       q.q AS quota,
       CAST(count(r.doc_id) AS BIGINT) AS n_kept,
       CAST(coalesce(sum(r.doc_id), 0) AS BIGINT) AS id_sum
FROM stage_counts s
JOIN quota q ON q.source = s.source
LEFT JOIN ranked r ON r.source = s.source AND r.rk <= q.q
GROUP BY s.source, s.n_input, s.n_gopher, s.n_dedup, s.n_ppl, q.q
ORDER BY s.source
"""


@register("llm_corpus_pipeline", _PIPE_SQL)
def q_llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation in ONE plan: Gopher gate → exact
    dedup → LM-perplexity tail-drop per lang (model trained on the
    POST-dedup survivors, as a real run would) → temperature-scaled
    per-source quotas.  Per-source funnel counts at every stage plus
    an id_sum binding the exact final set.  Stage boundaries are each
    one shuffle; the corpus-wide text passes happen exactly twice
    (gopher metrics; LM bigrams over survivors)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # spread the tiny-scan case: bare repartition suffices once the
    # first corpus pass below avoids pushable heavy filters (the kmv
    # r9 finding — explode() infers a size>0 filter that sinks below
    # the exchange into the lone scan task; the CASE WHEN guard +
    # explode_outer shape infers nothing, so no fence
    # and no build-time materialization job per bench pass).
    # Survivor tables are bounded by the corpus row count, which sizes
    # the three stage fences below.
    n_docs = rows_hint(docs)
    docs = spread_scan(docs)
    w = ts_ops.whitespace_tokens(F.col("text"))
    t = docs.select("doc_id", "lang", "source", "text", w.alias("w"))

    bg_all = t.select(
        "doc_id",
        F.explode_outer(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN "
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) "
                "ELSE array() END"
            )
        ).alias("b"),
    ).where(F.col("b").isNotNull())
    bgm = (
        bg_all.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.round(F.max("n").cast("double") / F.sum("n"), 6).alias("top_bg"))
    )
    mwl = F.aggregate(
        "w", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    ).cast("double") / F.size("w")
    # fence at g, not only d (r12 batch 3): g feeds the dedup window
    # AND stage_counts' n_gopher column — un-fenced, the full gopher
    # pass (bigram explode + per-doc agg over the whole corpus)
    # re-executed a second time for stage_counts.
    g = fence(
        t.join(bgm, "doc_id", "left")
        .withColumn("top_bg", F.coalesce(F.col("top_bg"), F.lit(0.0)))
        .where(
            F.size("w").between(20, 90)
            & mwl.between(3, 10)
            & (F.size(F.filter("w", lambda x: x.isin("the", "a"))) >= 2)
            & (F.col("top_bg") <= 0.2)
        )
        .drop("top_bg"),
        n_docs,
    )
    wd = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    # stage fences (r12 optimization round): d feeds the LM
    # bigram/unigram/vocab subtrees AND stage_counts, p feeds quota,
    # ranked AND stage_counts — un-fenced, every consumer re-executed
    # the whole upstream text pass (gopher metrics ran ~4x, the LM
    # subtree 3x; measured 7.2 s warm → 3.4 s fenced at sf0.1).  The
    # fences hold the post-gate survivor table / the kept-id list —
    # the same inter-stage materialization a production curation run
    # writes between stages anyway; values are unchanged.  d's fence
    # is cheap on top of g's (one survivor-sized dedup window).
    d = fence(
        g.withColumn("_rk", F.row_number().over(wd))
        .where(F.col("_rk") == 1)
        .drop("_rk"),
        n_docs,
    )

    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("b"),
    )
    bgc = bg.groupBy("b").agg(F.count(F.lit(1)).alias("nb"))
    ugc = (
        bgc.select(F.split("b", " ").getItem(0).alias("u"), "nb")
        .groupBy("u")
        .agg(F.sum("nb").alias("nu"))
    )
    v = d.select(F.explode("w").alias("tok")).agg(F.countDistinct("tok").alias("v"))
    lm = (
        bg.join(bgc, "b")
        .withColumn("u", F.split("b", " ").getItem(0))
        .join(ugc, "u")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.log((F.col("nb") + F.lit(1.0)) / (F.col("nu") + F.col("v")))
                )
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logp")
        )
    )
    wn = Window.partitionBy("lang").orderBy(F.desc("avg_logp"), "doc_id")
    p = fence(
        d.select("doc_id", "lang", "source")
        .join(lm, "doc_id")
        .withColumn("nt", F.ntile(3).over(wn))
        .where(F.col("nt") <= 2)
        .select("doc_id", "lang", "source"),
        n_docs,
    )

    counts = p.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    wq = counts.withColumn("w6", F.round(F.sqrt("c") * 1e6).cast("long"))
    tot = wq.agg(
        F.sum("w6").alias("sw"),
        (F.sum("c").cast("long") / 2).cast("long").alias("target"),
    )
    # divide FIRST in double (same 2^63 wrap hazard as
    # temperature_mixture_quota; oracle reordered identically)
    quota = wq.crossJoin(F.broadcast(tot)).select(
        "source",
        "c",
        F.least(
            F.col("c"),
            F.round(
                F.col("target").cast("double")
                * (F.col("w6").cast("double") / F.col("sw").cast("double"))
            ).cast("long"),
        ).alias("q"),
    )
    rkw = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = p.select("source", "doc_id", F.row_number().over(rkw).alias("rk"))
    kept = ranked.join(F.broadcast(quota.select("source", "q")), "source").where(
        F.col("rk") <= F.col("q")
    )
    kept_stats = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )

    stage_counts = (
        t.select("doc_id", "source")
        .join(g.select("doc_id", F.lit(1).alias("_g")), "doc_id", "left")
        .join(d.select("doc_id", F.lit(1).alias("_d")), "doc_id", "left")
        .join(p.select("doc_id", F.lit(1).alias("_p")), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_input"),
            F.count("_g").cast("long").alias("n_gopher"),
            F.count("_d").cast("long").alias("n_dedup"),
            F.count("_p").cast("long").alias("n_ppl"),
        )
    )
    return (
        stage_counts.join(quota.select("source", F.col("q").alias("quota")), "source")
        .join(kept_stats, "source", "left")
        .select(
            "source",
            "n_input",
            "n_gopher",
            "n_dedup",
            "n_ppl",
            "quota",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("id_sum"), F.lit(0)).cast("long").alias("id_sum"),
        )
        .orderBy("source")
    )


# --- int8 embedding quantization (round 3) ------------------------------
# The storage/bandwidth step an embedding pipeline runs before ANN
# serving: per-vector affine int8 (min/max → scale, x → round((x−mn)/s)
# ∈ [0,255]), plus the reconstruction-error audit. Map-only — one
# Catalyst HOF chain per row, zero shuffles. Both engines evaluate the
# identical expression order on identical doubles, so q-sums match
# exactly and the error rounds stably at 9 d.p.
@register(
    "embedding_int8_quantize",
    """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
    mm AS (
      SELECT vec_id, e, list_min(e) AS mn,
             CASE WHEN list_max(e) > list_min(e)
                  THEN (list_max(e) - list_min(e)) / 255.0 ELSE 1.0 END AS s
      FROM v),
    q AS (
      SELECT vec_id, mn, s,
             list_transform(e, x -> CAST(round((x - mn) / s) AS BIGINT)) AS qv,
             e
      FROM mm)
    SELECT vec_id,
           round(s, 9) AS scale,
           round(mn, 6) AS zero_point,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           round(list_max(list_transform(range(1, len(e) + 1),
                 i -> abs(e[i] - (mn + qv[i] * s)))), 9) AS max_abs_err
    FROM q
    """,
)
def q_embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("e")
    )
    mm = v.select(
        "vec_id",
        "e",
        F.expr("array_min(e)").alias("mn"),
        F.expr(
            "CASE WHEN array_max(e) > array_min(e)"
            " THEN (array_max(e) - array_min(e)) / 255.0 ELSE 1.0 END"
        ).alias("s"),
    )
    q = mm.withColumn(
        "qv", F.expr("transform(e, x -> cast(round((x - mn) / s) as bigint))")
    )
    return q.select(
        "vec_id",
        F.round("s", 9).alias("scale"),
        F.round("mn", 6).alias("zero_point"),
        F.expr("aggregate(qv, 0L, (acc, x) -> acc + x)").alias("q_sum"),
        F.round(
            F.expr(
                "array_max(transform(sequence(1, size(e)),"
                " i -> abs(element_at(e, i) - (mn + element_at(qv, i) * s))))"
            ),
            9,
        ).alias("max_abs_err"),
    )


# --- C4-style cross-document span dedup (round 3) -----------------------
# Raffel et al. 2020 cut every >once-occurring three-sentence span from
# C4; the span unit here is a fixed 10-token chunk (no sentence marks
# in the corpus). First occurrence in corpus order is canonical; the
# oracle replays the identical window. Two equi-key shuffles total.
@register(
    "paragraph_dedup",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    chunks AS (
      SELECT doc_id, i AS cidx,
             array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS chunk,
             least(10, len(ws) - i*10) AS ctoks
      FROM toks, unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) t(i)),
    ranked AS (
      SELECT doc_id, ctoks,
             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
      FROM chunks)
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN ctoks ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM ranked GROUP BY doc_id
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.dedup import paragraph_dedup_stats

    docs = load_table(spark, sf_dir, "documents")
    return paragraph_dedup_stats(docs, chunk_tokens=10)


# ExactSubstr dedup (Lee et al. 2022): maximal duplicated k-token
# spans. The published tool is a single-machine suffix array; the
# distributed equivalent for fixed k hashes every sliding window,
# counts corpus occurrences in one hash-keyed exchange, and merges
# adjacent duplicated positions gaps-and-islands style per doc.
@register(
    "exact_substring_spans",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    wins AS (
      SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS i, ws
      FROM toks WHERE len(ws) >= 8),
    winh AS (
      SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(ws[i:(i+7)], ' ')) AS h
      FROM wins),
    occ AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS c FROM winh),
    dup_pos AS (SELECT doc_id, pos FROM occ WHERE c >= 2),
    runs AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dup_pos)
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(count(*) + 7 AS BIGINT) AS span_tokens
    FROM runs GROUP BY doc_id, grp
    """,
)
def q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.dedup import duplicated_spans

    docs = spread_scan(load_table(spark, sf_dir, "documents"))  # 1-split scan, CPU-heavy text pass (io.spread_scan: no-op at scale)
    return duplicated_spans(docs, k=8)


# --- BPE tokenizer (train + encode) ------------------------------------
# Sennrich et al. 2016 subword units. The oracle replays training
# merge-for-merge: pair counts over the distinct-word table, winner by
# (count DESC, pair ASC), application via a per-word recursive
# index-scan — the leftmost-greedy-with-skip semantics the Spark fold
# implements (a fold cannot re-merge its own output within a pass, so
# the two formulations coincide; see operators/bpe.py).
_BPE_MERGES = 6


def _bpe_chain(m: int = _BPE_MERGES) -> str:
    parts = [
        "w AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))"
        " AS word FROM documents)",
        """state0 AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq,
             list_transform(generate_series(1, len(word)), i -> word[i]) AS syms
      FROM w GROUP BY word)""",
    ]
    for t in range(1, m + 1):
        s = t - 1
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
        # reference, so without it each state/merge reference re-executes
        # the whole upstream chain (exponential in n_merges — measured as
        # a hang at 6). The one-row merge table cross-joins into the scan
        # (a single reference) instead of repeated scalar subqueries.
        parts.append(
            f"""merge{t} AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT syms[i] AS a, syms[i+1] AS b, sum(freq) AS n
        FROM state{s}, unnest(generate_series(1, len(syms) - 1)) g(i)
        WHERE len(syms) >= 2 GROUP BY 1, 2)
      ORDER BY n DESC, a, b LIMIT 1)"""
        )
        parts.append(
            f"""state{t} AS MATERIALIZED (
      WITH RECURSIVE scan{t}(word, freq, syms, i, out) AS (
        SELECT word, freq, syms, 1, CAST([] AS VARCHAR[]) FROM state{s}
        UNION ALL
        SELECT sc.word, sc.freq, sc.syms,
               CASE WHEN sc.i < len(sc.syms) AND sc.syms[sc.i] = m.a
                         AND sc.syms[sc.i+1] = m.b
                    THEN sc.i + 2 ELSE sc.i + 1 END,
               CASE WHEN sc.i < len(sc.syms) AND sc.syms[sc.i] = m.a
                         AND sc.syms[sc.i+1] = m.b
                    THEN sc.out || [m.a || m.b]
                    ELSE sc.out || [sc.syms[sc.i]] END
        FROM scan{t} sc, merge{t} m WHERE sc.i <= len(sc.syms))
      SELECT word, freq, out AS syms FROM scan{t} WHERE i = len(syms) + 1)"""
        )
    return "WITH " + ",\n    ".join(parts)


_BPE_MERGE_SQL = (
    _bpe_chain()
    + "\n"
    + "SELECT * FROM (\n"
    + "\n  UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS step, a AS lhs, b AS rhs, a || b AS merged"
        f" FROM merge{t}"
        for t in range(1, _BPE_MERGES + 1)
    )
    + "\n) ORDER BY step"
)


@register("bpe_merge_table", _BPE_MERGE_SQL)
def q_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge list (train-once per source fingerprint;
    O(n_merges) driver state, the k-means-centroid shape)."""
    from deepicedrain_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=_BPE_MERGES)
    rows = [(i + 1, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "step long, lhs string, rhs string, merged string"
    ).orderBy("step")


_BPE_ENCODE_SQL = (
    _bpe_chain()
    + f""",
    tok AS (
      SELECT u.s AS token, CAST(sum(freq) AS BIGINT) AS n
      FROM state{_BPE_MERGES}, unnest(syms) AS u(s) GROUP BY 1)
SELECT token, n FROM tok ORDER BY n DESC, token LIMIT 30
"""
)


@register("bpe_encode_tokens", _BPE_ENCODE_SQL)
def q_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequencies after BPE encoding. Tokenization
    is dictionary-encoded: the corpus collapses to the distinct-word
    frequency table (one shuffle), the merge folds run once per VOCAB
    entry instead of once per word occurrence (zipfian text makes that
    orders of magnitude less fold work), and token counts are the
    freq-weighted explode of the encoded vocab — the same reduction the
    oracle replays. bpe_encode() remains the map-only per-document
    tokenizer for pipelines that need tokens attached to rows."""
    from deepicedrain_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=_BPE_MERGES)
    # materialize the vocab leaf: without it Catalyst collapses the
    # (large) fold projection into the explode's consumers and
    # re-evaluates it per output token — measured 11.0 s vs 0.5 s at
    # sf0.1. The fence is the distributed vocab table, tiny
    # relative to the corpus at any scale.
    vocab = fence(word_frequencies(docs))
    enc = bpe_encode(vocab, merges, text_col="word")
    return (
        enc.select("freq", F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(30)
    )


# --- multimodal REAL codecs (round 3) -----------------------------------
# mode='real' now decodes actual bytes: PNG payloads (signature, IHDR,
# zlib IDAT, CRC-checked chunks) and PCM16 WAV, via the pure-stdlib
# codecs in functions/codecs.py. The media generators use closed-form
# pixels/samples keyed by doc_id, so DuckDB recomputes every decoded
# value WITHOUT a PNG/WAV parser — the encode→bytes→decode round trip
# must be the identity for the hash to match, which is exactly what
# certifies the codec bodies.
@register(
    "multimodal_real_decode",
    """
    WITH g AS (
      SELECT doc_id, (doc_id % 16 + 8) * (doc_id % 12 + 6) AS n FROM documents),
    px AS (
      SELECT doc_id, n, (doc_id * 31 + unnest(range(0, n)) * 7) % 256 AS p FROM g)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(n AS BIGINT) AS n_bytes,
           round(CAST(sum(p) AS DOUBLE) / n, 6) AS mean_byte,
           CAST(max(p) AS INT) AS max_byte
    FROM px GROUP BY doc_id, n
    """,
)
def q_multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.multimodal import (
        attach_png_media,
        decode_image_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_png_media(docs, "doc_id")
    feats = decode_image_features(media, mode="real")
    return feats.select(
        "media_id", "n_bytes", F.round("mean_byte", 6).alias("mean_byte"), "max_byte"
    )


# Real JPEG (round 8): uniform-8x8-block gray images at quality 100
# (every quantizer 1) make baseline JPEG EXACT — all energy sits in
# the integer DC coefficient — so the closed form survives the full
# Huffman + DCT round trip and DuckDB replays it without a JPEG
# parser. Ids divisible by 5 carry DRI/RSTn restart markers, putting
# the restart decode path behind the driver's value-exact oracle too.
@register(
    "multimodal_jpeg_decode",
    """
    WITH g AS (
      SELECT doc_id, doc_id % 3 + 1 AS bh, doc_id % 4 + 1 AS bw FROM documents),
    blocks AS (
      SELECT doc_id, bh, bw,
             (doc_id * 31 + unnest(range(0, bh * bw)) * 7) % 256 AS v
      FROM g)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(bh * bw * 64 AS BIGINT) AS n_bytes,
           round(CAST(sum(v) AS DOUBLE) / (bh * bw), 6) AS mean_byte,
           CAST(max(v) AS INT) AS max_byte
    FROM blocks GROUP BY doc_id, bh, bw
    """,
)
def q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.multimodal import (
        attach_jpeg_media,
        decode_image_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_jpeg_media(docs, "doc_id")
    feats = decode_image_features(media, mode="real")
    return feats.select(
        "media_id", "n_bytes", F.round("mean_byte", 6).alias("mean_byte"), "max_byte"
    )


# Progressive JPEG (round 8): same closed-form images as
# multimodal_jpeg_decode but encoded as SOF2 with the four-phase scan
# script (DC first Al=1, per-component AC first with EOB runs, DC
# refinement bits, AC refinement correction bits) — the q100 uniform
# blocks keep the round trip exact, so the identical oracle certifies
# the successive-approximation decode path value-exactly.
@register(
    "multimodal_jpeg_progressive",
    """
    WITH g AS (
      SELECT doc_id, doc_id % 3 + 1 AS bh, doc_id % 4 + 1 AS bw FROM documents),
    blocks AS (
      SELECT doc_id, bh, bw,
             (doc_id * 31 + unnest(range(0, bh * bw)) * 7) % 256 AS v
      FROM g)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(bh * bw * 64 AS BIGINT) AS n_bytes,
           round(CAST(sum(v) AS DOUBLE) / (bh * bw), 6) AS mean_byte,
           CAST(max(v) AS INT) AS max_byte
    FROM blocks GROUP BY doc_id, bh, bw
    """,
)
def q_multimodal_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.multimodal import (
        attach_jpeg_media,
        decode_image_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_jpeg_media(docs, "doc_id", progressive=True)
    feats = decode_image_features(media, mode="real")
    return feats.select(
        "media_id", "n_bytes", F.round("mean_byte", 6).alias("mean_byte"), "max_byte"
    )


# Real audio: WAV-encode closed-form PCM16, nearest-neighbor resample
# 16 kHz → 8 kHz in SAMPLE space (out[j] = s[2j]), WAV re-encode, then
# a second real decode computes the stats the oracle replays:
# s[2j] = ((id·13 + 10j) mod 4001) − 2000.
@register(
    "multimodal_real_audio",
    """
    WITH g AS (SELECT doc_id, doc_id % 400 + 100 AS n FROM documents),
    s AS (
      SELECT doc_id, n,
             ((doc_id * 13 + unnest(range(0, (n + 1) // 2)) * 10) % 4001) - 2000 AS v
      FROM g)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST((n + 1) // 2 AS BIGINT) AS n_samples,
           CAST(sum(v) AS BIGINT) AS sum_sample,
           CAST(max(v) AS INT) AS max_sample,
           CAST(8000 AS INT) AS sample_rate
    FROM s GROUP BY doc_id, n
    """,
)
def q_multimodal_real_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.multimodal import (
        attach_wav_media,
        decode_audio_stats,
        resample_audio,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_wav_media(docs, "doc_id", rate=16_000)
    resampled = resample_audio(media, src_rate=16_000, dst_rate=8_000, mode="real")
    return decode_audio_stats(resampled)


# --- near-dup groups: connected components over the near-dup edges ---
# The edge set is the minhash_near_dup pair list (exact on this data —
# see that query's recall note); components collapse pairwise edges
# into dedup GROUPS, the shape a 100 TB pipeline actually keeps (one
# keeper per group). Component id = min doc_id in the group, which the
# oracle reproduces with a recursive CTE over the same edges.
@register(
    "near_dup_components",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
      FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    edges AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8),
    sym AS (SELECT id_a AS a, id_b AS b FROM edges
            UNION SELECT id_b, id_a FROM edges),
    reach AS (
      WITH RECURSIVE r(src, v) AS (
        SELECT a, a FROM sym
        UNION
        SELECT r.src, s.b FROM r JOIN sym s ON s.a = r.v)
      SELECT src AS doc_id, min(v) AS component_id FROM r GROUP BY src)
    SELECT doc_id, component_id FROM reach
    """,
)
def q_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.8).select("id_a", "id_b")
    return connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("component_id")
    )


# --- Gopher-style repetition quality signals --------------------------
@register(
    "repetition_scores",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
      FROM documents),
    tc AS (SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY 1, 2),
    ts AS (
      SELECT doc_id, sum(n) AS n_tokens, count(*) AS n_distinct, max(n) AS top_n
      FROM tc GROUP BY 1),
    ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents),
    bg AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                                           i -> w[i] || ' ' || w[i+1])) AS b
      FROM ws),
    bc AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2),
    bs AS (SELECT doc_id, sum(n) AS n_bigrams, max(n) AS top_bg_n FROM bc GROUP BY 1)
    SELECT t.doc_id,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.n_distinct AS DOUBLE) / t.n_tokens AS distinct_ratio,
           CAST(t.top_n AS DOUBLE) / t.n_tokens AS top_token_frac,
           CASE WHEN b.n_bigrams > 0
                THEN CAST(b.top_bg_n AS DOUBLE) / b.n_bigrams END AS top_bigram_frac
    FROM ts t LEFT JOIN bs b ON t.doc_id = b.doc_id
    """,
)
def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.textstats import repetition_features

    docs = load_table(spark, sf_dir, "documents")
    return repetition_features(docs)


# --- trained quality classifier (logreg over hashed bigrams) -----------
_LR_B, _LR_ITERS, _LR_LR, _LR_Z = 64, 3, 5.0, 50.0
_LR_H60 = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


def _logreg_chain() -> str:
    """DuckDB CTE chain replaying logreg_train iteration-for-iteration
    (the k-means oracle shape): feats → w0 → p1/w1 → … → w{iters}.
    All multi-row sums are scaled-integer BIGINTs, so there is no
    fold-order drift to pin — only the per-row sigmoid rounds.
    MATERIALIZED everywhere per the round-8 plain-CTE dead end."""
    h = _LR_H60.format(x="b")
    parts = [
        """docs0 AS MATERIALIZED (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents)""",
        f"""feats AS MATERIALIZED (
      SELECT doc_id, y, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT doc_id, y, {h} % {_LR_B} AS bucket FROM (
          SELECT doc_id, y, unnest(list_transform(generate_series(1, len(w) - 1),
                                                  i -> w[i] || ' ' || w[i+1])) AS b
          FROM docs0 WHERE len(w) >= 2))
      GROUP BY 1, 2, 3
      UNION ALL
      SELECT doc_id, y, {_LR_B}, CAST(1 AS BIGINT) FROM docs0)""",
        "nd AS (SELECT count(*) AS n FROM docs0)",
        f"""w0 AS (SELECT g.range AS bucket, CAST(0 AS BIGINT) AS w6
      FROM range({_LR_B + 1}) g)""",
    ]
    for t in range(1, _LR_ITERS + 1):
        parts.append(
            f"""p{t} AS MATERIALIZED (
      SELECT f.doc_id, any_value(f.y) AS y,
             CAST(round(round(1.0 / (1.0 + exp(-(sum(f.cnt * w.w6)
                  / (1e6 * {_LR_Z})))), 6) * 1e6) AS BIGINT) AS pm
      FROM feats f JOIN w{t - 1} w USING (bucket)
      GROUP BY f.doc_id)"""
        )
        parts.append(
            f"""w{t} AS MATERIALIZED (
      SELECT w.bucket,
             w.w6 - CAST(round({_LR_LR} * coalesce(g.gs, 0)
                          / (nd.n * {_LR_Z})) AS BIGINT) AS w6
      FROM w{t - 1} w CROSS JOIN nd LEFT JOIN (
        SELECT f.bucket, sum(f.cnt * (p.pm - p.y * 1000000)) AS gs
        FROM feats f JOIN p{t} p USING (doc_id) GROUP BY 1) g USING (bucket))"""
        )
    return "WITH " + ",\n    ".join(parts)


def _trained_logreg(spark: SparkSession, sf_dir: str) -> tuple[list[int], DataFrame]:
    """(weights, fenced feature table), trained once per
    documents fingerprint and application (``io.memo``) and shared by
    the train/score queries."""
    from deepicedrain_spark.operators.classifier import (
        hashed_bigram_features,
        logreg_train,
    )

    docs = load_table(spark, sf_dir, "documents")

    def build() -> tuple[list[int], DataFrame]:
        spread = spread_scan(docs)
        feats = fence(hashed_bigram_features(
            docs if spread is docs else fence(spread), F.col("lang") == "en", b=_LR_B
        ))
        return logreg_train(feats, b=_LR_B, iters=_LR_ITERS, lr=_LR_LR), feats

    key = ("trained_logreg", _LR_B, _LR_ITERS, _LR_LR)
    return memo(spark, key, docs.inputFiles(), build)


@register(
    "quality_classifier_train",
    _logreg_chain()
    + f"""
    SELECT bucket, w6 / 1000000.0 AS weight
    FROM w{_LR_ITERS}
    ORDER BY bucket
    """,
)
def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the CCNet/DCLM-style quality classifier: logistic
    regression by 3 batch-GD iterations over 64 hashed-bigram buckets
    (+ intercept), weak label lang='en'.  Each iteration is one job —
    map-only logits with the weight vector folded in as a literal,
    one bucket-keyed gradient aggregate (65 rows to the driver).  The
    oracle replays training iteration-for-iteration; every multi-row
    sum is a scaled-integer BIGINT, so the replay is exact."""
    w6, _ = _trained_logreg(spark, sf_dir)
    rows = [(k, w6[k] / 1e6) for k in range(_LR_B + 1)]
    return spark.createDataFrame(rows, "bucket long, weight double").orderBy("bucket")


@register(
    "quality_classifier_score",
    _logreg_chain()
    + f""",
    pf AS (
      SELECT f.doc_id, any_value(f.y) AS y,
             CAST(round(round(1.0 / (1.0 + exp(-(sum(f.cnt * w.w6)
                  / (1e6 * {_LR_Z})))), 6) * 1e6) AS BIGINT) AS pm
      FROM feats f JOIN w{_LR_ITERS} w USING (bucket)
      GROUP BY f.doc_id)
    SELECT doc_id AS id, CAST(y AS BIGINT) AS y,
           pm / 1000000.0 AS p,
           CAST(CASE WHEN pm > 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred,
           CAST(CASE WHEN (CASE WHEN pm > 500000 THEN 1 ELSE 0 END) = y
                THEN 1 ELSE 0 END AS BIGINT) AS correct
    FROM pf
    ORDER BY id
    """,
)
def q_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with the trained classifier (map-only:
    literal weights, in-row dot product) — per-doc probability,
    prediction, and label agreement.  Training is memoized across the
    train/score pair, so this measures the scoring scan."""
    from deepicedrain_spark.operators.classifier import logreg_score

    w6, feats = _trained_logreg(spark, sf_dir)
    return logreg_score(feats, w6).orderBy("id")


# --- Gopher quality rules (Rae et al. 2021, table A1) ------------------
@register(
    "gopher_quality_rules",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents),
    bg AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                                           i -> w[i] || ' ' || w[i+1])) AS b
      FROM t WHERE len(w) >= 2),
    bc AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2),
    bs AS (
      SELECT doc_id, round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_bigram_frac
      FROM bc GROUP BY 1),
    m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_tokens,
             round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                   / len(w), 6) AS mean_word_len,
             CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop
      FROM t)
    SELECT m.doc_id, m.n_tokens, m.mean_word_len, m.n_stop,
           coalesce(bs.top_bigram_frac, 0.0) AS top_bigram_frac,
           (m.n_tokens BETWEEN 20 AND 90
            AND m.mean_word_len BETWEEN 3 AND 10
            AND m.n_stop >= 2
            AND coalesce(bs.top_bigram_frac, 0.0) <= 0.2) AS passes
    FROM m LEFT JOIN bs USING (doc_id)
    ORDER BY m.doc_id
    """,
)
def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gate: token count in range, mean
    word length in [3, 10], ≥2 stopwords, most-common-bigram coverage
    ≤ 0.2 — the published heuristics (MassiveText filtering) over the
    whitespace token stream.  Everything except the per-doc bigram
    mode is computed IN-ROW on the token array (one map-only pass, fp
    sums in array order so both engines fold identically); the bigram
    mode is one doc-keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", ts_ops.whitespace_tokens(F.col("text")).alias("w"))
    bg = t.where(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("b"),
    )
    bc = bg.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("n"))
    bs = bc.groupBy("doc_id").agg(
        F.round(F.max("n").cast("double") / F.sum("n"), 6).alias("top_bigram_frac")
    )
    m = t.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.round(
            F.aggregate(
                "w", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).cast("double")
            / F.size("w"),
            6,
        ).alias("mean_word_len"),
        F.size(F.filter("w", lambda x: x.isin("the", "a"))).cast("long").alias("n_stop"),
    )
    joined = m.join(bs, "doc_id", "left").withColumn(
        "top_bigram_frac", F.coalesce(F.col("top_bigram_frac"), F.lit(0.0))
    )
    passes = (
        F.col("n_tokens").between(20, 90)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("n_stop") >= 2)
        & (F.col("top_bigram_frac") <= 0.2)
    )
    return joined.select(
        "doc_id", "n_tokens", "mean_word_len", "n_stop", "top_bigram_frac",
        passes.alias("passes"),
    ).orderBy("doc_id")


# --- text cleaning (URL strip / lowercase / whitespace collapse) ------
@register(
    "text_cleaning",
    """
    WITH cleaned AS (
      SELECT doc_id,
             trim(regexp_replace(lower(
               regexp_replace(regexp_replace(text, 'https?://[^ ]+', ' ', 'g'),
                              '[\\x00-\\x1f]', ' ', 'g')),
               '  +', ' ', 'g')) AS ctext,
             len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_urls
      FROM documents)
    SELECT doc_id, n_urls,
           length(ctext) AS clean_chars,
           md5(ctext) AS clean_md5
    FROM cleaned
    """,
)
def q_text_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cleaned = docs.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(text, 'https?://[^ ]+', 0)"))
        .cast("long")
        .alias("n_urls"),
        ts_ops.clean_text(F.col("text")).alias("ctext"),
    )
    return cleaned.select(
        "doc_id",
        "n_urls",
        F.length("ctext").cast("long").alias("clean_chars"),
        F.md5("ctext").alias("clean_md5"),
    )


# --- per-doc TF-IDF keywords (doc-representation stage) ---------------
@register(
    "tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tfc FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS nd FROM documents),
    scored AS (
      SELECT doc_id, term,
             round(tfc * (ln((nd + 1.0) / (dfc + 1.0)) + 1.0), 6) AS score
      FROM tf JOIN dfreq USING (term), n),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rank
      FROM scored)
    SELECT doc_id, term, rank, score FROM ranked WHERE rank <= 3
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ts_ops.tfidf_top_terms(docs, k=3)


# --- corpus vocabulary (top-k token counts, vocab-building stage) -----
@register(
    "corpus_vocabulary",
    """
    WITH toks AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
      FROM documents)
    SELECT token, count(*) AS n
    FROM toks GROUP BY token
    ORDER BY n DESC, token LIMIT 100
    """,
)
def q_corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.textstats import vocabulary

    docs = load_table(spark, sf_dir, "documents")
    return vocabulary(docs, top_k=100)


# --- multimodal resize plumbing (fake codec, byte-exact oracle) -------
@register(
    "multimodal_resize",
    """
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           32 AS width, 16 AS height,
           CAST(512 AS BIGINT) AS payload_len,
           md5(substring(repeat(text, CAST(ceil(512.0 / length(text)) AS BIGINT)),
                         1, 512)) AS payload_md5
    FROM documents WHERE length(text) > 0
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.multimodal import attach_fake_media, resize_image

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    media = attach_fake_media(docs, "doc_id", "text")
    resized = resize_image(media, width=32, height=16, mode="fake")
    return resized.select(
        "media_id",
        "width",
        "height",
        F.octet_length("payload").cast("long").alias("payload_len"),
        F.md5("payload").alias("payload_md5"),
    )


# --- deterministic dataset split (train/val/test) ---------------------
# Content-free, key-hash-based assignment (md5 low bits mod 10 →
# 8/1/1): reproducible across runs, engines, and cluster sizes —
# the property a training pipeline needs so a document never migrates
# between splits when the corpus grows. Pure map-side.
@register(
    "dataset_split",
    """
    WITH b AS (
      SELECT doc_id, lang,
             CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 29, 4) AS INT) % 10 AS INT) AS bucket
      FROM documents)
    SELECT lang,
           CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM b GROUP BY 1, 2
    """,
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 29, 4), 16, 10)
        .cast("int")
        % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    return docs.groupBy(
        "lang", split.alias("split")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


# Within-doc line dedup (round 4): C4's OTHER dedup rule — repeated
# spans INSIDE one document are cut, first occurrence kept; docs never
# interact, so the op is one doc-keyed shuffle (vs paragraph_dedup's
# corpus-wide chunk window). Same 8-token chunking in both engines.
@register(
    "intradoc_dedup",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    chunks AS (
      SELECT doc_id,
             array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS chunk,
             least(8, len(ws) - i*8) AS ctoks
      FROM toks, unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) t(i)),
    per_chunk AS (
      SELECT doc_id, chunk, count(*) AS cnt, max(ctoks) AS ctoks_max
      FROM chunks GROUP BY doc_id, chunk)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_chunks,
           CAST(sum(cnt - 1) AS BIGINT) AS dup_chunks,
           CAST(sum(ctoks_max) AS BIGINT) AS kept_tokens
    FROM per_chunk GROUP BY doc_id
    """,
)
def q_intradoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.dedup import intradoc_dedup_stats

    docs = load_table(spark, sf_dir, "documents")
    return intradoc_dedup_stats(docs, chunk_tokens=8)


# Real VIDEO (round 4): uncompressed RIFF/AVI container (DIB BGR24
# bottom-up frames — the public codec-free layout) encoded from
# closed-form pixels, frame-sampled every 2nd frame through the real
# decode path, each sampled frame re-encoded PNG, then pixel stats per
# frame. The oracle replays pixel(f,y,x,c) = (id*7+f*31+y*13+x*3+c*17)
# mod 256 without touching a container parser: any drift in AVI
# encode->decode, frame order (bottom-up flip), BGR<->RGB swap, row
# padding, or PNG re-encode breaks the hash. Motion JPEG is covered
# by multimodal_mjpeg_frames (round 8); inter-frame-compressed video
# (H.264 etc.) remains an honest NotImplementedError seam.
@register(
    "multimodal_real_video",
    """
    WITH g AS (
      SELECT doc_id, doc_id % 4 + 2 AS nf, doc_id % 6 + 4 AS h,
             doc_id % 5 + 4 AS w
      FROM documents),
    f AS (SELECT doc_id, h, w, unnest(range(0, nf)) AS fi FROM g),
    sampled AS (SELECT * FROM f WHERE fi % 2 = 0),
    ys AS (SELECT doc_id, fi, h, w, unnest(range(0, h)) AS y FROM sampled),
    xs AS (SELECT doc_id, fi, h, w, y, unnest(range(0, w)) AS x FROM ys),
    px AS (
      SELECT doc_id, fi, h, w,
             (doc_id * 7 + fi * 31 + y * 13 + x * 3 + c.c * 17) % 256 AS p
      FROM xs, (VALUES (0), (1), (2)) c(c))
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(fi AS INT) AS frame_idx,
           CAST(h * w * 3 AS BIGINT) AS n_px,
           round(CAST(sum(p) AS DOUBLE) / (h * w * 3), 6) AS mean_px,
           CAST(max(p) AS INT) AS max_px
    FROM px GROUP BY doc_id, fi, h, w
    """,
)
def q_multimodal_real_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.multimodal import (
        attach_avi_media,
        frame_stats,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_avi_media(docs, "doc_id")
    sampled = sample_frames(media, mode="real", every_n_frames=2)
    return frame_stats(sampled)


# Motion JPEG (round 8): same frame-sampling pipeline, but the AVI's
# frames are COMPRESSED — independent baseline JPEGs in '00dc' chunks.
# Uniform-block gray-as-RGB frames at quality 100 are bit-exact
# through the codec (see attach_mjpeg_media), so the oracle replays
# pixel stats for a genuinely compressed container without a parser.
@register(
    "multimodal_mjpeg_frames",
    """
    WITH g AS (
      SELECT doc_id, doc_id % 4 + 2 AS nf, doc_id % 2 + 1 AS bh,
             doc_id % 3 + 1 AS bw
      FROM documents),
    f AS (SELECT doc_id, bh, bw, unnest(range(0, nf)) AS fi FROM g),
    sampled AS (SELECT * FROM f WHERE fi % 2 = 0),
    blocks AS (
      SELECT doc_id, fi, bh, bw,
             (doc_id * 7 + fi * 31 + unnest(range(0, bh * bw)) * 13) % 256 AS v
      FROM sampled)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(fi AS INT) AS frame_idx,
           CAST(bh * bw * 64 * 3 AS BIGINT) AS n_px,
           round(CAST(sum(v) AS DOUBLE) / (bh * bw), 6) AS mean_px,
           CAST(max(v) AS INT) AS max_px
    FROM blocks GROUP BY doc_id, fi, bh, bw
    """,
)
def q_multimodal_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.multimodal import (
        attach_mjpeg_media,
        frame_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_mjpeg_media(docs, "doc_id")
    sampled = sample_frames(media, mode="real", every_n_frames=2)
    return frame_stats(sampled)


# --- RAG-style document chunking (round 6) ---------------------------
# A training/retrieval pipeline splits documents into fixed word
# windows with overlap before embedding. W=32-word chunks, stride 24
# (8-word overlap); final chunk keeps the tail. Pure sequence/slice
# arithmetic — one map-only explode, no shuffle except the ORDER BY,
# so chunking a 100 TB corpus is a scan. Chunk identity = md5 of the
# chunk text, so downstream exact-dedup of chunks composes directly.
@register(
    "doc_chunk_overlap",
    """
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS words,
             len(str_split(text, ' ')) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, n,
             CAST(CASE WHEN n <= 32 THEN 1
                  ELSE floor((n - 9) / 24) + 1 END AS BIGINT) AS n_chunks
      FROM w
    )
    SELECT c.doc_id, CAST(g.i AS BIGINT) AS chunk_id,
           CAST(len(w.words[g.i * 24 + 1 : g.i * 24 + 32]) AS BIGINT)
             AS chunk_words,
           md5(array_to_string(w.words[g.i * 24 + 1 : g.i * 24 + 32], ' '))
             AS chunk_hash
    FROM c JOIN w USING (doc_id),
    UNNEST(generate_series(0, c.n_chunks - 1)) AS g(i)
    ORDER BY doc_id, chunk_id
    """,
)
def q_doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    n_chunks = (
        F.when(n <= 32, F.lit(1).cast("long"))
        .otherwise(F.floor((n - 9) / F.lit(24)) + 1)
    )
    out = (
        docs.select(
            "doc_id",
            words.alias("words"),
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.slice(
                F.col("words"), (F.col("chunk_id") * 24 + 1).cast("int"), 32
            ).alias("cw"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("cw").cast("long").alias("chunk_words"),
            F.md5(F.array_join("cw", " ")).alias("chunk_hash"),
        )
    )
    return out.orderBy("doc_id", "chunk_id")


# --- URL-level dedup + domain blocklist (round 10) --------------------
# The crawl-side pretraining step the corpus suite lacked: one crawl
# revisits the same page under case / default-port / www /
# trailing-slash / utm-param / fragment variants, so dedup keys on the
# CANONICAL url, and domain blocklists gate before anything heavier
# runs. The documents table carries no URL, so one is synthesized
# deterministically from doc_id with every variant axis planted — the
# oracle replays the identical canonicalization in ANSI SQL, so a
# regression in ANY normalization step (or in the keep-min rule,
# pinned by keeper_id_sum) breaks the hash. Scale shape: every
# normalization is a JVM regex inside whole-stage codegen (no UDF);
# the blocklist is a broadcast anti-join (a real blocklist is
# thousands of hosts — never a shuffle side); the dedup is one hash
# exchange on (host, curl), and the per-host rollup's second exchange
# moves one row per DISTINCT canonical url — already crawl-deduped,
# orders of magnitude below the input at 100 TB.
@register(
    "url_dedup_hosts",
    r"""
    WITH raw AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
        || (CASE WHEN doc_id % 6 = 0 THEN 'crawler:tok@' ELSE '' END)
        || (CASE WHEN doc_id % 2 = 0
              THEN 'WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM:443'
              ELSE 'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' END)
        || '/articles/' || CAST(doc_id % 50 AS VARCHAR)
        || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        || '?utm_source=feed&page=' || CAST(doc_id % 10 AS VARCHAR)
        || (CASE WHEN doc_id % 4 = 0 THEN '&utm_campaign=x' ELSE '' END)
        || (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END) AS url
      FROM documents),
    steps AS (
      SELECT doc_id,
        regexp_replace(url, '#.*$', '') AS no_frag,
        lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                             '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_replace(regexp_extract(regexp_replace(url, '#.*$', ''),
                                            '://([^/?#]*)', 1),
                             '^.*@', '')) AS hostport
      FROM raw),
    parts AS (
      SELECT doc_id, scheme,
        regexp_replace(
          CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
               WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
               ELSE hostport END, '^www\.', '') AS host,
        regexp_extract(no_frag, '^[^:]+://[^/?#]*(.*)$', 1) AS pathq
      FROM steps),
    pq AS (
      SELECT doc_id, scheme, host,
        regexp_extract(pathq, '^([^?]*)', 1) AS path,
        regexp_replace(regexp_replace(regexp_extract(pathq, '\?(.*)$', 1),
                                      '(^|&)utm_[^&]*', '', 'g'),
                       '^&+', '') AS qclean
      FROM parts),
    canon AS (
      SELECT doc_id, host,
        scheme || '://' || host
          || (CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
                   ELSE regexp_replace(path, '/+$', '') END)
          || (CASE WHEN qclean <> '' THEN '?' || qclean ELSE '' END) AS curl
      FROM pq
      WHERE host NOT IN ('site3.com', 'site5.com')),
    per_url AS (
      SELECT host, curl, count(*) AS nd, min(doc_id) AS keeper
      FROM canon GROUP BY host, curl)
    SELECT host,
           CAST(sum(nd) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(sum(nd) - count(*) AS BIGINT) AS n_dup_dropped,
           CAST(sum(keeper) AS BIGINT) AS keeper_id_sum
    FROM per_url GROUP BY host ORDER BY host
    """,
)
def q_url_dedup_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.functions.strings import canonicalize_url, url_host

    docs = load_table(spark, sf_dir, "documents")
    url = F.expr(
        """
        concat(
          CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
          CASE WHEN doc_id % 6 = 0 THEN 'crawler:tok@' ELSE '' END,
          CASE WHEN doc_id % 2 = 0
               THEN concat('WWW.Site', CAST(doc_id % 7 AS STRING), '.COM:443')
               ELSE concat('site', CAST(doc_id % 7 AS STRING), '.com') END,
          '/articles/', CAST(doc_id % 50 AS STRING),
          CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
          '?utm_source=feed&page=', CAST(doc_id % 10 AS STRING),
          CASE WHEN doc_id % 4 = 0 THEN '&utm_campaign=x' ELSE '' END,
          CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END)
        """
    )
    canon = docs.select(
        "doc_id", canonicalize_url(url).alias("curl")
    ).withColumn("host", url_host(F.col("curl")))
    blocklist = spark.createDataFrame([("site3.com",), ("site5.com",)], "host string")
    kept = canon.join(F.broadcast(blocklist), "host", "left_anti")
    per_url = kept.groupBy("host", "curl").agg(
        F.count(F.lit(1)).alias("nd"), F.min("doc_id").alias("keeper")
    )
    return (
        per_url.groupBy("host")
        .agg(
            F.sum("nd").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            (F.sum("nd") - F.count(F.lit(1))).cast("long").alias("n_dup_dropped"),
            F.sum("keeper").cast("long").alias("keeper_id_sum"),
        )
        .orderBy("host")
    )


# --- blocked-GEMM exact k-NN graph (round 10) ---------------------------
# The exact all-pairs baseline run the way a cluster would: B×B block
# pairs, one BLAS matmul per pair, local top-k in the exact global
# order, O(n·B·k) merge exchange. Identical output for every B /
# partitioning (proved by the partition adversary), so the brute-force
# SQL oracle certifies the blocked physical strategy.
@register(
    "knn_graph_blocked",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(generate_series(1, 64),
                            i -> CAST(embedding[i] AS DOUBLE)) AS v
      FROM embeddings),
    n AS (
      SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM v),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cos
      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
    ranked AS (
      SELECT query_id, cand_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, cand_id) AS rank
      FROM scored)
    SELECT query_id, cand_id, rank, cos FROM ranked WHERE rank <= 3
    """,
)
def q_knn_graph_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.similarity import knn_graph_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    # parquet-footer row count (no job) sizes the block grid; 128-row
    # blocks force a real multi-block pair grid at every fixture sf
    n = rows_hint(emb)
    return knn_graph_blocked(
        emb, k=3, block_rows=128, n_blocks=max(1, -(-n // 128))
    )


# --- single-pass distributed covariance (round 10) ----------------------
# One mapInPandas moment pass (count + sums + full Gram per Arrow
# batch, one BLAS matmul each), one O(d²)-byte exchange, Catalyst
# assembly — shuffle bytes independent of row count. The oracle
# recomputes every entry with DuckDB's streaming covar_pop; the
# assembled-from-sums formula agrees to ~1e-13, certified at 6
# decimals.
@register(
    "embedding_covariance",
    """
    WITH x AS (
      SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS xi
      FROM embeddings, unnest(generate_series(0, 63)) t(i)),
    p AS (
      SELECT a.i AS i, b.i AS j, covar_pop(a.xi, b.xi) AS cov
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i)
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           round(cov, 6) + 0.0 AS cov
    FROM p
    """,
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.linalg import covariance_long

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_long(emb, vec_col="embedding", dims=64, decimals=6)


# --- embedding drift / dataset-shift detection (round 10) ---------------
# Per-dim mean/variance/standardized-mean-difference between two
# corpus slices — the training-pipeline check for "did this crawl
# batch shift the embedding distribution". Spark side is the one-pass
# grouped-moment plan (no joins, data read once); the oracle replays
# with DuckDB's streaming avg/var_pop and is free to join its CTEs.
@register(
    "embedding_drift",
    """
    WITH x AS (
      SELECT CASE WHEN label % 2 = 0 THEN 'even' ELSE 'odd' END AS grp,
             i, CAST(embedding[i + 1] AS DOUBLE) AS xi
      FROM embeddings, unnest(generate_series(0, 63)) t(i)),
    s AS (
      SELECT grp, i,
             round(avg(xi), 6) + 0.0 AS mean,
             round(var_pop(xi), 6) + 0.0 AS var
      FROM x GROUP BY grp, i),
    a AS (SELECT i, mean AS mean_a, var AS var_a FROM s WHERE grp = 'even'),
    b AS (SELECT i, mean AS mean_b, var AS var_b FROM s WHERE grp = 'odd')
    SELECT CAST(a.i AS INT) AS i, mean_a, mean_b, var_a, var_b,
           round((mean_a - mean_b) / sqrt((var_a + var_b) / 2), 6) + 0.0 AS smd
    FROM a JOIN b USING (i)
    """,
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.linalg import drift_per_dim

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "grp",
        F.when(F.col("label") % 2 == 0, F.lit("even")).otherwise(F.lit("odd")),
    )
    return drift_per_dim(emb, "grp", "even", "odd", dims=64)
