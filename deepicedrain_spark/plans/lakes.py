"""Subglacial-lake-finder pipeline (SURVEY §3.2, M1-M3).

Reference: /root/reference/atlxi_lake.py — read the wide dhdt extract
with projection (:101-105), noise-floor filter |dhdt|>0.105 (:106-110),
label drainage basins by point-in-polygon (:133-136), then per basin:
keep |dhdt| > 3·median|dhdt| (:199-203), DBSCAN eps=3000 min_samples≈
250 separately on draining/filling with draining labels negated
(:192-227), and per cluster: convex hull, 5 km donut ring,
significance test |inner_median − outer_median| ≥ 3·outer_MAD
(:231-273), attributes + GeoJSON sink (:274-312).

Spark trace: the per-basin/per-cluster Python loops become data flow —
one DataFrame program partitioned by basin then cluster. Control
flow → partitioning; the donut test is a broadcast PIP join against
the per-cluster ring table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence, release, rows_hint
from deepicedrain_spark.operators.clustering import find_clusters_signed
from deepicedrain_spark.operators.filters import adaptive_median_filter, magnitude_filter
from deepicedrain_spark.operators.spatial import (
    buffered,
    convex_hulls,
    point_in_polygon,
    raycast_predicate,
    ring_area,
    ring_to_poly_cols,
)

NOISE_FLOOR = 0.105  # m/yr — reference atlxi_lake.py:109
ACTIVITY_K = 3.0  # ×median(|dhdt|) — reference atlxi_lake.py:201-203
DBSCAN_EPS = 3000.0  # m — reference lake_algorithms.py:16
DBSCAN_MIN_SAMPLES = 250  # reference lake_algorithms.py:17
DONUT_BUFFER = 5000.0  # m — reference atlxi_lake.py:247
SIGNIFICANCE_K = 3.0  # ×outer MAD — reference atlxi_lake.py:271


def label_basins(points: DataFrame, basins: DataFrame) -> DataFrame:
    """J1: tag each point with its drainage basin (broadcast PIP)."""
    return point_in_polygon(points, basins, how="inner")


def find_lake_clusters(
    labeled: DataFrame,
    basin_col: str = "basin_name",
    dhdt: str = "dhdt_slope",
    eps: float = DBSCAN_EPS,
    min_samples: int = DBSCAN_MIN_SAMPLES,
) -> DataFrame:
    """Noise-floor + per-basin activity threshold + signed DBSCAN."""
    active = magnitude_filter(labeled, dhdt, NOISE_FLOOR)
    thresholded = adaptive_median_filter(active, [basin_col], dhdt, k=ACTIVITY_K)
    return find_clusters_signed(
        thresholded,
        [basin_col],
        ["x", "y"],
        sign_col=dhdt,
        eps=eps,
        min_samples=min_samples,
    )


def lake_attributes_and_significance(
    clustered: DataFrame,
    all_points: DataFrame,
    basin_col: str = "basin_name",
    dhdt: str = "dhdt_slope",
    rgt_col: str | None = "referencegroundtrack",
    donut_m: float = DONUT_BUFFER,
    k: float = SIGNIFICANCE_K,
    rows: int | None = None,
) -> DataFrame:
    """M2+M3: per surviving cluster — hull geometry, donut significance
    test against the surrounding points, and the reference's attribute
    set (num_points, maxabsdhdt, inner/outer medians, outer std/MAD,
    piped refgtracks). ``rows`` bounds every intermediate (an
    input-row upper bound, e.g. ``io.rows_hint``) and sizes the fences
    (``io.fence``); None leaves them at their producing stage's width."""
    # the cluster table is the root of FOUR downstream subtrees (stats,
    # hulls→rings, two donut passes). The fence runs the PIP-join +
    # DBSCAN chain once, and Catalyst analyzes each subtree against a
    # tiny leaf instead of re-carrying the whole upstream tree —
    # driver planning time dominated this query's wall clock. members
    # is the post-threshold active set (a small fraction of the input
    # by construction), so executor-local storage holds it at scale.
    members = fence(clustered.filter(F.col("cluster_id").isNotNull()), rows)

    aggs = [
        F.count(F.lit(1)).alias("num_points"),
        F.expr(f"percentile({dhdt}, 0.5D)").alias("inner_dhdt"),
        F.avg(dhdt).alias("mean_dhdt"),
        # filling: most positive; draining: most negative (reference
        # atlxi_lake.py:277-279 picks by sign)
        F.when(F.min("cluster_id") > 0, F.max(dhdt)).otherwise(F.min(dhdt)).alias("maxabsdhdt"),
    ]
    if rgt_col:
        aggs.append(
            F.concat_ws("|", F.sort_array(F.collect_set(rgt_col))).alias("refgtracks")
        )
    stats = members.groupBy(basin_col, "cluster_id").agg(*aggs)

    # one row per cluster — checkpoint so the three ring consumers
    # (outer polys, inner polys, final join) plan against a leaf
    hulls = convex_hulls(members, [basin_col, "cluster_id"])
    rings = fence(buffered(hulls, "hull", donut_m), rows)

    # donut membership: inside buffered hull, outside hull
    from deepicedrain_spark.operators.spatial import bbox_predicate

    outer_polys = ring_to_poly_cols(
        rings.select(basin_col, "cluster_id", "hull", "hull_buffered"), "hull_buffered"
    ).withColumnRenamed(basin_col, "_b").withColumnRenamed("cluster_id", "_c")
    in_outer = all_points.join(
        F.broadcast(outer_polys),
        bbox_predicate() & raycast_predicate(),
        "inner",
    )
    inner_pred = raycast_predicate("x", "y", "xs_in", "ys_in")
    inner_polys = ring_to_poly_cols(
        rings.select(basin_col, "cluster_id", "hull"), "hull"
    ).select(
        F.col(basin_col).alias("_b2"),
        F.col("cluster_id").alias("_c2"),
        F.col("xs").alias("xs_in"),
        F.col("ys").alias("ys_in"),
    )
    # narrow donut point set, computed ONCE (the MAD pass needs
    # deviations from the outer median → two aggregations over it)
    donut_pts = fence(
        in_outer.join(
            F.broadcast(inner_polys),
            (F.col("_b") == F.col("_b2")) & (F.col("_c") == F.col("_c2")),
        )
        .filter(~inner_pred)
        .select("_b", "_c", dhdt),
        rows,
    )
    donut = donut_pts.groupBy(
        F.col("_b").alias(basin_col), F.col("_c").alias("cluster_id")
    ).agg(
        F.expr(f"percentile({dhdt}, 0.5D)").alias("outer_dhdt"),
        F.stddev(dhdt).alias("outer_std"),
    )
    donut_mad = (
        donut_pts.join(
            F.broadcast(
                donut.select(
                    F.col(basin_col).alias("_b3"),
                    F.col("cluster_id").alias("_c3"),
                    "outer_dhdt",
                )
            ),
            (F.col("_b") == F.col("_b3")) & (F.col("_c") == F.col("_c3")),
        )
        .groupBy(F.col("_b").alias(basin_col), F.col("_c").alias("cluster_id"))
        .agg(
            F.expr(f"percentile(abs({dhdt} - outer_dhdt), 0.5D)").alias("outer_mad")
        )
    )

    lakes = (
        stats.join(donut, [basin_col, "cluster_id"], "left")
        .join(donut_mad, [basin_col, "cluster_id"], "left")
        .join(rings.select(basin_col, "cluster_id", "hull"), [basin_col, "cluster_id"])
        .withColumn("area_m2", ring_area("hull"))
    )
    # significance: reject when |inner − outer| < k·MAD (reference
    # atlxi_lake.py:266-273); clusters with no donut stats are kept
    # (reference keeps clusters whose ring fell outside data coverage)
    return lakes.filter(
        F.col("outer_mad").isNull()
        | (F.abs(F.col("inner_dhdt") - F.col("outer_dhdt")) >= F.lit(k) * F.col("outer_mad"))
    )


def find_lakes(
    points: DataFrame,
    basins: DataFrame,
    eps: float = DBSCAN_EPS,
    min_samples: int = DBSCAN_MIN_SAMPLES,
    basin_col: str = "basin_name",
) -> DataFrame:
    """Full pipeline: PIP basins → filters → signed DBSCAN → hulls +
    donut significance → lake attribute table.

    The labeled point table is fenced lazily because the cluster path
    and the donut all_points scan both read it; the RESULT is an
    O(lakes) table, so it is eagerly materialized here and the
    point-table fence released before returning — repeated find_lakes
    calls (per region / epoch) do not accumulate executor storage.
    Every sized fence is sized from ``io.rows_hint(points)`` (parquet
    footers, no job)."""
    rows = rows_hint(points)
    # labeled feeds both the cluster path and the donut all_points scan;
    # the first job that reads it materializes it
    labeled = fence(label_basins(points, basins), eager=False)
    try:
        clustered = find_lake_clusters(
            labeled, basin_col, eps=eps, min_samples=min_samples
        )
        out = lake_attributes_and_significance(
            clustered, labeled, basin_col, rows=rows
        )
        out = fence(out, rows)
    finally:
        release(labeled)
    return out


def dissolve_lake_catalog(
    lakes: DataFrame,
    key_cols: list[str] | None = None,
    ring_col: str = "hull",
    snap: float | str | None = "auto",
) -> DataFrame:
    """Per-basin dissolve of a lake catalog (``find_lakes`` output or
    the published GeoJSON brought to the same shape): the pipeline
    analogue of the reference's ``gpd.GeoDataFrame.dissolve`` /
    shapely ``unary_union`` (/root/reference/atlxi_lake.py:364-375).

    **snap defaults to ``'auto'`` HERE, unlike the low-level
    ``dissolve_stats``.** GEOS snap-rounds implicitly inside
    ``unary_union``, so reference users get fp-noisy contacts (the
    normal state of anything that went through a reprojection) merged
    for free. The relational overlay's low-level default (snap=None)
    preserves exact input vertices — the right contract for
    oracle bit-parity, but a silent trap at the pipeline level: two
    lakes whose shared shore differs by an ulp stay SEPARATE parts.
    Pass ``snap=None`` to opt back into exact-vertex behavior, or a
    float to pin the grid (see ``snap_vertices``).
    """
    from pyspark.sql import Window

    from deepicedrain_spark.operators.dissolve import dissolve_stats

    key_cols = key_cols or ["basin_name"]
    w = Window.partitionBy(*key_cols).orderBy(
        F.element_at("xs", 1), F.element_at("ys", 1)
    )
    polys = (
        ring_to_poly_cols(lakes.select(*key_cols, ring_col), ring_col)
        .select(*key_cols, "xs", "ys")
        .withColumn("pid", F.row_number().over(w).cast("long"))
    )
    return dissolve_stats(polys, key_cols, pid="pid", snap=snap)
