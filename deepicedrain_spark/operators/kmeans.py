"""Lloyd's k-means over an embedding column, Spark-first.

Shape (the one that survives 100 TB):
  - centroids always live on the driver (k*d doubles — MLlib keeps
    them the same way) and enter the plan as LITERAL arrays, so the
    assignment step is MAP-ONLY: no join, no shuffle, whole-stage
    codegen end to end;
  - the update step is one partial-aggregating groupBy on
    (cluster, dim) — shuffle payload O(k*d*partitions), never rows;
  - per-iteration centroid components are rounded to 6 d.p. in BOTH
    engines, so cross-engine fp accumulation differences (~1e-13
    relative) cannot compound across iterations — the property that
    lets a DuckDB oracle replay the training loop iteration-for-
    iteration (same trick as gridding.tension_spline_grid).

Determinism: seeds are the k rows with the smallest md5(vec_id) (no
RNG); assignment ties break on the lower cluster id via a sorted
(dist, cluster) struct array.

The reference engine has no clustering beyond DBSCAN
(/root/reference/atlxi_lake.py:327-340, cuml/sklearn seam); k-means
extends the similarity-search surface (operators/similarity.py) with
a trained IVF coarse quantizer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deepicedrain_spark.io import memo


def _lit_vec(vals: list[float]) -> Column:
    # one py4j call (lit of the whole list), not len(vals) F.lit()s —
    # at k centroids x d dims per scoring expression the per-lit py4j
    # round trips dominated driver time (round 8, same finding as the
    # bloom literal array)
    return F.lit([float(v) for v in vals]).cast("array<double>")


def _sql_vec(vals: list[float]) -> str:
    """array<double> literal as SQL text: ``<repr>D`` double literals
    parse via Double.parseDouble — bit-exact round trip for every
    finite double incl. -0.0 (verified r12; the CAST-decimal form
    loses the -0.0 sign)."""
    return "array(" + ", ".join(f"{float(v)!r}D" for v in vals) + ")"


def sq_dist_sql(vec_col: str, centroid: list[float]) -> str:
    """SQL text of :func:`sq_dist_to` — the same zip_with + aggregate
    fold, assembled as ONE parser call instead of a nested Column tree
    (r12 optimization round: Column-API construction of the k×d
    literal scoring expressions cost seconds of py4j round trips per
    query build; the parsed tree — and therefore every value — is
    identical)."""
    return (
        f"aggregate(zip_with(CAST({vec_col} AS ARRAY<DOUBLE>), "
        f"{_sql_vec(centroid)}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def sq_dist_to(vec_col: str, centroid: list[float]) -> Column:
    """Squared L2 distance from a (float) array column to a literal
    centroid, folded left-to-right like DuckDB's list_sum."""
    return F.expr(sq_dist_sql(vec_col, centroid))


def sq_dist_cols(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array columns — the same
    zip_with + aggregate fold as sq_dist_to (left-to-right, so the
    doubles are bit-identical whichever side is a literal)."""
    return F.aggregate(
        F.zip_with(
            a.cast("array<double>"),
            b,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_to_centroids(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """Adds ``cluster`` (bigint) and ``dist`` columns: nearest literal
    centroid, ties to the lower cluster id.  Map-only — the centroid
    list is folded into the expression tree as literals.

    The (dist, cluster) tie-break sorts on the squared distance ROUNDED
    to 6 d.p. (same drift-pinning as the round(6) centroids, ADVICE
    r2): a last-ulp difference between Spark's fold and another
    engine's list_sum on a near-equidistant point would otherwise flip
    the argmin and compound through later Lloyd iterations. ``dist``
    stays unrounded for downstream use. The raw distances are computed
    ONCE per centroid (base array), then re-projected with the rounded
    key via transform — and the argmin is array_min (O(k) struct
    compare on (key, cluster, dist), unique per (key, cluster)).

    Assembled as ONE SQL string (r12 optimization round): the former
    nested Column-API construction of the k × d literal tree cost
    ~1-2 s of py4j round trips per query BUILD; the parsed expression
    — struct fields, fold order, round-6 tie key — is identical, so
    every assignment and distance is bit-unchanged."""
    structs = ", ".join(
        f"struct({sq_dist_sql(vec_col, c)} AS dist, "
        f"CAST({i} AS BIGINT) AS cluster)"
        for i, c in enumerate(centroids)
    )
    scored = F.expr(
        f"array_min(transform(array({structs}), "
        f"s -> struct(round(s.dist, 6) AS key, "
        f"s.cluster AS cluster, s.dist AS dist)))"
    )
    return df.withColumn("_best", scored).withColumn(
        "cluster", F.col("_best.cluster")
    ).withColumn("dist", F.col("_best.dist")).drop("_best")


def seed_centroids(df: DataFrame, vec_col: str, id_col: str, k: int) -> list[list[float]]:
    """k seeds = rows with the smallest md5(id) — content-stable, no RNG."""
    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v"))
        .orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(k)
        .collect()
    )
    return [list(r["_v"]) for r in rows]


# train-once memo: Lloyd training here is DETERMINISTIC (md5-ranked
# seeds, per-iteration means rounded to 6 d.p.), so for a fixed input
# table the centroids are a pure function of (k, iters) — memoizing
# them (io.memo, keyed by the source files' fingerprint) lets "train
# once, score many" pipelines (PQ/IVF over an immutable corpus)
# measure the SCORING plan instead of re-running iters × (assign job +
# k*d collect) per query (VERDICT r5 task 3); a regenerated table
# misses instead of returning stale centroids (ADVICE r6).
def trained_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    cache_key: tuple | str | None = None,
) -> tuple[list[list[float]], list[list[float]]]:
    """(penultimate, final) Lloyd centroids — penultimate = the list
    the final means were computed FROM, which is what assignments are
    scored against. ``cache_key`` identifies the input table (e.g. the
    sf_dir plus a subspace tag); pass None to always retrain (mutable
    or ad-hoc inputs). Only file-backed frames are memoized; the tag
    tells apart projections of one file (e.g. PQ subspaces)."""

    def build() -> tuple[list[list[float]], list[list[float]]]:
        cents = seed_centroids(df, vec_col, id_col, k)
        prev = cents
        for _ in range(iters):
            assigned = assign_to_centroids(df, vec_col, cents)
            prev = cents
            cents = updated_centroids(assigned, vec_col, cents)
        return prev, cents

    if cache_key is None:
        return build()
    key = ("trained_centroids", cache_key, vec_col, k, iters)
    return memo(df.sparkSession, key, df.inputFiles(), build)


def lloyd_kmeans(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    cache_key: tuple | str | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Runs ``iters`` Lloyd iterations; returns (assignments vs the
    second-to-last centroids — i.e. the ones the final means were
    computed FROM — and the final centroid list).

    Each iteration: one map-only assignment pass + one O(k*d) groupBy;
    the k*d mean table is collected to the driver (512 doubles at
    k=8, d=64) to become the next iteration's literals. With a
    ``cache_key`` the training loop is memoized (see
    :func:`trained_centroids`); the returned assignment DataFrame is
    rebuilt lazily from the cached penultimate centroids."""
    prev, cents = trained_centroids(df, vec_col, id_col, k, iters, cache_key)
    return assign_to_centroids(df, vec_col, prev), cents


def updated_centroids(
    assigned: DataFrame, vec_col: str, cents: list[list[float]]
) -> list[list[float]]:
    """Per-cluster element-wise means, rounded to 6 d.p. — one groupBy
    with d independent avg aggregates on v[i] (all partial-aggregated
    JVM-side; no posexplode, which would push rows·d elements through
    the shuffle).  Clusters that lost every point keep their previous
    centroid."""
    d = len(cents[0])
    v = F.col(vec_col).cast("array<double>")
    rows = (
        assigned.groupBy("cluster")
        .agg(*[F.round(F.avg(v[i]), 6).alias(f"m{i}") for i in range(d)])
        .collect()
    )
    got = {}
    for r in rows:
        means = [r[f"m{i}"] for i in range(d)]
        if any(m is None for m in means):
            # a NULL mean implies ragged or null-carrying vectors in the
            # cluster (v[i] past the end / a NULL element averages to
            # NULL) — fail with the cause, not a driver TypeError
            raise ValueError(
                f"kmeans: cluster {int(r['cluster'])} has vectors shorter "
                f"than d={d} or with NULL elements"
            )
        got[int(r["cluster"])] = [float(m) for m in means]
    return [got.get(c, cents[c]) for c in range(len(cents))]
