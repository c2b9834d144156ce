"""Keyword retrieval and diversity-aware selection over the documents
corpus (beyond-reference extension per BASELINE.json north star):
BM25 scoring/top-k and Maximal-Marginal-Relevance (MMR) selection.

Training-data pipelines use both: BM25 to pull keyword-targeted
subsets out of a crawl (topic curation, eval-set mining) and MMR to
pick a *diverse* top-k from an embedding neighborhood instead of k
near-duplicates of the best hit (Carbonell & Goldstein 1998).

Scale shape (100 TB):
- BM25: ONE shuffle builds the (doc, term, tf) postings from the
  corpus; document length comes from a window over the same
  partitioning (no second corpus pass). Everything model-sized — the
  query-term table, per-term document frequencies, the corpus-stats
  row — is broadcast, so scoring is map-side over the postings and
  the only other exchanges are the per-(query, doc) score sum and the
  final per-query rank window, which Spark ≥3.5 rewrites into
  per-partition WindowGroupLimit (local top-k before the shuffle).
- MMR: the distributed work is the candidate-pool construction
  (brute-force or ANN top-M, delegated to similarity.cosine_topk /
  ivf_topk); the greedy selection itself is inherently sequential
  over M pooled rows, so it runs on the driver over a BOUNDED
  collected pool (M·d doubles — the kmeans-centroid pattern), and the
  returned plan re-derives every output VALUE Spark-side, the driver
  deciding only the selection order.

Determinism: tf/df/dl are exact integers; the per-term BM25
contribution is identical per-row arithmetic in any engine; per-doc
scores are sums of ≤|query| doubles rounded to 6 d.p. (generic values
— never on a half-quantum; suite_llm.py header). MMR's driver-side
cosines use the multiply-round form (floor(|x|·1e6 + 0.5)) certified
bit-identical to DuckDB's round in operators/similarity.py
knn_graph_blocked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence
from deepicedrain_spark.operators.textstats import whitespace_tokens


def bm25_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """BM25 (Robertson/Sparck Jones idf, the ``ln(1 + …)`` form that is
    always positive) top-k documents per query.

    ``query_terms`` is a SMALL (query_id, term) table — it is broadcast,
    as are the derived per-term df counts and the one-row corpus stats.
    Output: (query_id, doc_id, rank, score) with score rounded to 6.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(whitespace_tokens(F.col(text_col))).alias("tok"),
    )
    # one corpus shuffle: exact term frequencies per document, then the
    # document length as a window over the SAME doc-partitioned rows.
    # fence: the postings feed THREE consumers (corpus stats, per-term
    # df, the scoring stream) — without the fence this plan explodes
    # the corpus three times (the DSIR one-pass lesson)
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    tf = fence(tf.withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id"))))

    # corpus stats: dl sums are exact integers, and avgdl is spelled
    # sum/count (not avg()) so both engines divide the same exact sum
    stats = tf.groupBy("doc_id").agg(F.first("dl").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )

    terms = query_terms.select(F.col(term_col).alias("tok")).distinct()
    # df per query term: tf already has one row per (doc, term), so the
    # document frequency is a plain count — no countDistinct pass
    dfreq = (
        tf.join(F.broadcast(terms), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )

    qt = F.broadcast(
        query_terms.select(
            F.col(query_id_col).alias("query_id"), F.col(term_col).alias("tok")
        )
    )
    scored = (
        tf.join(qt, "tok")
        .join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


def mmr_select(
    pool: DataFrame,
    k: int = 8,
    lam: float = 0.7,
    div: float = 0.3,
    max_pool: int = 64,
    id_col: str = "cand_id",
    rel_col: str = "rel",
    vec_col: str = "cv",
    prune: bool = False,
) -> DataFrame:
    """Maximal Marginal Relevance selection over a candidate pool.

    Greedily picks k candidates maximizing
    ``lam·rel − div·max(cos to already-selected)``, ties broken by
    lowest id — so the first pick is the plain relevance argmax and
    later picks trade relevance against redundancy. ``div`` is an
    EXPLICIT weight rather than ``1 − lam``: the reproducibility
    contract needs the exact double the oracle's literal parses to,
    and ``1.0 - 0.7`` is one ulp off the ``0.3`` literal.

    ``pool`` must be SMALL (top-M from cosine_topk / ivf_topk — the
    distributed stage); it is collected to the driver (bounded state,
    the kmeans-centroid pattern; guarded by ``max_pool``). With
    ``prune=True`` an oversized pool is first cut to its top
    ``max_pool`` rows by relevance DISTRIBUTED (orderBy+limit — Spark's
    TakeOrderedAndProject: per-partition top-M, one M-row merge, never
    a full sort or an unbounded collect); with the default
    ``prune=False`` an oversized pool raises instead (the explicit-pool
    API), and the ``limit(max_pool + 1)`` sits UNDER the eager
    checkpoint, so neither the executors nor the driver ever
    materialize more than max_pool + 1 rows of an oversized pool. The
    greedy order is decided driver-side with numpy float64 cosines
    rounded by the multiply-round form; the returned DataFrame joins
    the order back against ``pool`` so every output VALUE is computed
    Spark-side.

    Output: (rank, cand_id, rel) for the k selected, rank 1..k;
    cand_id/rel keep the pool's column types (including the empty
    result, whose schema is derived from ``pool.schema``).
    """
    import numpy as np
    from pyspark.sql import types as T

    pool = pool.select(id_col, rel_col, vec_col)
    if prune:
        pool = pool.orderBy(F.col(rel_col).desc(), F.col(id_col)).limit(max_pool)
    # limit BEFORE the (eager) fence: the fence itself would
    # otherwise materialize an oversized pool executor-side before the
    # guard ever ran. When the guard passes, limit(max_pool + 1)
    # returned ALL rows, so the fenced frame is the whole pool; the
    # fence still shields the two consumers (driver collect + output
    # value join) from subplan re-execution.
    pool = fence(pool.limit(max_pool + 1))
    # bounded collect: at most max_pool + 1 rows reach the driver, so
    # the oversize guard fires BEFORE an oversized pool materializes
    # anywhere (≤ max_pool rows means the limit returned ALL rows)
    rows = pool.collect()
    if len(rows) > max_pool:
        raise ValueError(
            f"MMR pool has > max_pool={max_pool} rows; "
            "prune with a distributed top-M first (or pass prune=True)"
        )
    fields = {f.name: f for f in pool.schema.fields}
    if not rows:
        spark = pool.sparkSession
        schema = T.StructType(
            [
                T.StructField("rank", T.LongType(), False),
                T.StructField("cand_id", fields[id_col].dataType, True),
                T.StructField("rel", fields[rel_col].dataType, True),
            ]
        )
        return spark.createDataFrame([], schema)

    ids = [r[id_col] for r in rows]
    rel = [float(r[rel_col]) for r in rows]
    mat = np.array([r[vec_col] for r in rows], dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    sims = (mat @ mat.T) / np.outer(norms, norms)
    sims = np.copysign(np.floor(np.abs(sims) * 1e6 + 0.5), sims) / 1e6

    selected: list[int] = []  # positions into rows
    remaining = set(range(len(rows)))
    while len(selected) < min(k, len(rows)):
        best_pos, best_key = None, None
        for p in sorted(remaining):  # sorted → ties resolve to min id
            if selected:
                max_sim = max(sims[p][q] for q in selected)
                score = lam * rel[p] - div * max_sim
            else:
                score = lam * rel[p]
            key = (-score, ids[p])
            if best_key is None or key < best_key:
                best_pos, best_key = p, key
        selected.append(best_pos)
        remaining.discard(best_pos)

    spark = pool.sparkSession
    order = spark.createDataFrame(
        [(i + 1, ids[p]) for i, p in enumerate(selected)],
        T.StructType(
            [
                T.StructField("rank", T.LongType(), False),
                T.StructField("cand_id", fields[id_col].dataType, True),
            ]
        ),
    )
    out = order.join(
        pool.select(F.col(id_col).alias("cand_id"), F.col(rel_col).alias("rel")),
        "cand_id",
    )
    return out.select("rank", "cand_id", "rel").orderBy("rank")


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-similar candidates with a DIFFERENT label — the
    highest-loss negatives a triplet/InfoNCE trainer wants.

    Same plan as similarity.cosine_topk (broadcast query set, norms
    folded once per row, WindowGroupLimit rank) with the label
    mismatch folded into the join condition so same-label rows never
    enter the scored stream. Output: (query_id, cand_id, rank, cos).
    """
    from deepicedrain_spark.operators.similarity import dot_expr, norm2_expr

    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.col(label_col).alias("_ql"),
        ).withColumn("qn", norm2_expr("qv"))
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("_cl"),
    ).withColumn("cn", norm2_expr("cv"))
    scored = c.join(q, F.col("_ql") != F.col("_cl")).withColumn(
        "cos",
        F.round(dot_expr("qv", "cv") / F.sqrt(F.col("qn") * F.col("cn")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cos")
    )


def sample_negatives(
    anchors: DataFrame,
    corpus: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Deterministic uniform negative sampling: per anchor, k
    different-label candidates ranked by an md5-derived pseudo-random
    key over the (anchor, candidate) pair — reproducible on any
    engine and any partitioning (the random-but-stable convention the
    sampling family uses).

    The anchor table is broadcast; the per-anchor rank window
    collapses via WindowGroupLimit, so the shuffle carries
    O(anchors · k · partitions) rows. Output: (anchor_id, neg_id,
    rank), rank 1..k by the hash order (ties by neg_id).
    """
    a = F.broadcast(
        anchors.select(
            F.col(id_col).alias("anchor_id"), F.col(label_col).alias("_al")
        )
    )
    c = corpus.select(F.col(id_col).alias("neg_id"), F.col(label_col).alias("_cl"))
    paired = c.join(a, F.col("_al") != F.col("_cl")).withColumn(
        "_h",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("anchor_id").cast("string"),
                        F.col("neg_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )
    w = Window.partitionBy("anchor_id").orderBy("_h", "neg_id")
    return (
        paired.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "neg_id", "rank")
    )
