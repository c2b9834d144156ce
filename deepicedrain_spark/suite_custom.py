"""Driver-contract queries for the custom operators (SURVEY §2.3 J1/J3,
§2.4 A12/A13, §2.5 W5, §2.9 M1) mapped onto the driver testdata.

The embeddings table provides (x, y) point coordinates
(embedding[1], embedding[2] — FIXTURES.md §7); tracks for the
crossover query are synthesized deterministically from events row
order so the DuckDB oracle can rebuild the identical geometry.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence, fingerprint, load_table
from deepicedrain_spark.operators import windows as win_ops
from deepicedrain_spark.operators.clustering import find_clusters
from deepicedrain_spark.operators.crossover import (
    crossover_errors,
    crossover_join,
    track_segments,
)
from deepicedrain_spark.operators.spatial import (
    close_ring,
    convex_hulls,
    point_in_polygon,
    polygons_df,
    ring_area,
)
from deepicedrain_spark.functions.timeutils import us_of
from deepicedrain_spark.suite import _ts_us, register


def scratch_path(sf_dir: str, name: str) -> str:
    """Scratch artifact path keyed by sf_dir so concurrent driver runs at
    different scale factors never clobber each other's files mid-query
    (same pattern as the streaming upsert sink's md5-keyed dirs)."""
    import hashlib

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return f"/tmp/spark_graft_{key}_{name}"


def source_token(sf_dir: str, table: str, ver: str) -> str:
    """synth_once token for fixtures DERIVED FROM a testdata table
    (r12): folds the source parquet's (mtime_ns, size) into the token
    so a regenerated table rebuilds the fixture instead of silently
    reading a stale store — the same ``io.fingerprint`` that keys
    ``io.memo``."""
    path = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    fp = fingerprint([path])
    if fp is None:
        raise FileNotFoundError(path)
    ((_, mtime_ns, size),) = fp
    return f"{ver}-{mtime_ns}-{size}"


def synth_once(path: str, make, token: str = "v1") -> str:
    """Driver-side fixture-synthesis memo (round 7, VERDICT r6 task 5):
    the synthetic ATL06 granules are a pure function of their layout
    parameters, yet their bytes were re-encoded on every query run —
    the top line of the bench was measuring gzip, not the scan. Write
    once per (scratch path, token) like trained_centroids does for
    codebooks: ``make(tmp)`` builds the file, an atomic rename
    publishes it, and an ``.ok`` sidecar carrying ``token`` guards
    against partial files from a killed run (bump ``token`` when the
    generator changes shape)."""
    ok = path + ".ok"
    try:
        with open(ok) as fh:
            if fh.read() == token and os.path.exists(path):
                return path
    except OSError:
        pass
    tmp = f"{path}.tmp.{os.getpid()}"
    make(tmp)
    # os.replace cannot overwrite a non-empty DIRECTORY (ENOTEMPTY) —
    # and the Zarr-store fixtures route whole directories through here,
    # so a token bump on a machine holding the old store must move it
    # out of the way first (ADVICE r9). Rename ASIDE + replace + rmtree
    # the aside (round 10): rmtree-before-replace left the published
    # path absent for the whole tree removal; now the gap is two
    # renames. (Not fully atomic — POSIX has no directory exchange —
    # but a concurrent reader's window shrinks from seconds to
    # microseconds, and the .ok token guards ordinary races.)
    aside = None
    if os.path.isdir(path) and not os.path.islink(path):
        aside = f"{path}.old.{os.getpid()}"
        # a killed run with a recycled pid can leave a stale non-empty
        # aside — os.rename onto it would raise ENOTEMPTY forever
        import shutil

        shutil.rmtree(aside, ignore_errors=True)
        os.rename(path, aside)
    os.replace(tmp, path)
    if aside is not None:
        import shutil

        shutil.rmtree(aside, ignore_errors=True)
    with open(ok, "w") as fh:
        fh.write(token)
    return path

# --- literal polygon layer (a convex pentagon + a concave chevron) ---
PIP_POLYGONS = [
    {
        "poly_id": "pentagon",
        "xs": [0.00, 0.18, 0.11, -0.11, -0.18],
        "ys": [0.20, 0.04, -0.16, -0.16, 0.04],
    },
    {
        "poly_id": "chevron",
        "xs": [-0.35, -0.15, 0.05, -0.15, -0.35],
        "ys": [-0.30, -0.30, -0.10, -0.18, -0.10],
    },
]


def _edges_values() -> str:
    """Polygon edges as a SQL VALUES list (poly_id, xa, ya, xb, yb)."""
    rows = []
    for p in PIP_POLYGONS:
        xs, ys = close_ring(p["xs"], p["ys"])
        for i in range(len(xs) - 1):
            rows.append(
                f"('{p['poly_id']}', {xs[i]!r}, {ys[i]!r}, {xs[i+1]!r}, {ys[i+1]!r})"
            )
    return ",\n       ".join(rows)


@register(
    "point_in_polygon",
    f"""
    WITH pts AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    edges(poly_id, xa, ya, xb, yb) AS (VALUES
       {_edges_values()}),
    par AS (
      SELECT p.vec_id, e.poly_id, count(*) AS c
      FROM pts p JOIN edges e
        ON ((e.yb > p.y) <> (e.ya > p.y))
       AND (p.x < (e.xa - e.xb) * (p.y - e.yb) / (e.ya - e.yb) + e.xb)
      GROUP BY 1, 2)
    SELECT vec_id, poly_id FROM par WHERE c % 2 = 1
    """,
)
def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    polys = polygons_df(spark, PIP_POLYGONS)
    return point_in_polygon(pts, polys).select("vec_id", "poly_id")


# The hull ring IS SQL-expressible for points in general position (the
# float testdata has no collinear triples): a point is the source of a
# CCW hull edge iff every other point lies strictly left of it (O(n³)
# anti-join), the CCW boundary order is the centroid-angle order, and
# the shoelace fold replays ring_area's exact left-fold (same start
# vertex = min (x,y), same term order) so even round(area, 6) is
# bit-identical to the Spark HOF aggregate.
@register(
    "convex_hull_per_label",
    """
    WITH dpts AS (
      SELECT DISTINCT label, CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    hullv AS (
      SELECT DISTINCT p.label, p.x, p.y
      FROM dpts p JOIN dpts q
        ON p.label = q.label AND (p.x != q.x OR p.y != q.y)
      WHERE NOT EXISTS (
        SELECT 1 FROM dpts r
        WHERE r.label = p.label
          AND (r.x != p.x OR r.y != p.y)
          AND (r.x != q.x OR r.y != q.y)
          AND (q.x-p.x)*(r.y-p.y) - (q.y-p.y)*(r.x-p.x) <= 0)),
    ang AS (
      SELECT label, x, y,
             atan2(y - avg(y) OVER (PARTITION BY label),
                   x - avg(x) OVER (PARTITION BY label)) AS th,
             count(*) OVER (PARTITION BY label) AS n
      FROM hullv),
    rk AS (
      SELECT label, x, y, n,
             row_number() OVER (PARTITION BY label ORDER BY th) AS r,
             row_number() OVER (PARTITION BY label ORDER BY x, y) AS xyrank
      FROM ang),
    pos AS (
      SELECT a.label, a.x, a.y, a.n, (a.r - s.r0 + a.n) % a.n AS p
      FROM rk a
      JOIN (SELECT label, r AS r0 FROM rk WHERE xyrank = 1) s
        ON a.label = s.label),
    terms AS (
      SELECT a.label, a.p, a.x * b.y - b.x * a.y AS t
      FROM pos a JOIN pos b
        ON a.label = b.label AND b.p = (a.p + 1) % a.n),
    folded AS (
      SELECT label, list(t ORDER BY p) AS ts FROM terms GROUP BY label)
    SELECT label,
           CAST(len(ts) AS INT) AS hull_vertices,
           round(abs(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ts),
                                 (acc, t) -> acc + t)) / 2, 6) AS hull_area
    FROM folded
    """,
)
def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "label",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    hulls = convex_hulls(pts, ["label"])
    return hulls.select(
        "label",
        (F.size("hull") - 1).alias("hull_vertices"),
        F.round(ring_area("hull"), 6).alias("hull_area"),
    )


# find_clusters is deterministic enough for a VALUE-EXACT oracle:
# cluster ids rank components by their first (x,y)-sorted core point,
# and — because expansion runs cluster-at-a-time in id order — a border
# point contested between clusters always lands in the LOWEST cluster
# id among its core neighbors. Both rules are SQL: connected components
# over core-core eps-edges via a recursive CTE, dense_rank on min core
# rid, then min(cid) over each border point's core neighbors.
@register(
    "dbscan_clusters",
    """
    WITH pts AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    ord AS (
      SELECT vec_id, x, y, row_number() OVER (ORDER BY x, y) AS rid FROM pts),
    nbr AS (
      SELECT a.rid AS ia, b.rid AS ib
      FROM ord a JOIN ord b
        ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 0.05*0.05),
    core AS (
      SELECT ia AS rid FROM nbr GROUP BY ia HAVING count(*) >= 5),
    cedge AS (
      SELECT n.ia, n.ib FROM nbr n
      JOIN core c1 ON n.ia = c1.rid
      JOIN core c2 ON n.ib = c2.rid),
    reach AS (
      WITH RECURSIVE r(src, v) AS (
        SELECT rid, rid FROM core
        UNION
        SELECT r.src, e.ib FROM r JOIN cedge e ON e.ia = r.v)
      SELECT src AS rid, min(v) AS root FROM r GROUP BY src),
    clusters AS (
      SELECT rid, dense_rank() OVER (ORDER BY root) AS cid FROM reach),
    border AS (
      SELECT n.ia AS rid, min(c.cid) AS cid
      FROM nbr n
      JOIN clusters c ON n.ib = c.rid
      LEFT JOIN core k ON n.ia = k.rid
      WHERE k.rid IS NULL
      GROUP BY n.ia),
    labeled AS (
      SELECT o.rid, COALESCE(cl.cid, b.cid) AS cid
      FROM ord o
      LEFT JOIN clusters cl ON cl.rid = o.rid
      LEFT JOIN border b ON b.rid = o.rid)
    SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_points
    FROM labeled GROUP BY cid ORDER BY cid
    """,
)
def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    ).withColumn("all", F.lit(1))
    clustered = find_clusters(pts, ["all"], ["x", "y"], eps=0.05, min_samples=5)
    return (
        clustered.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("cluster_id")
    )


# --- crossover: 4 synthetic straight tracks derived from events ------
_TRACK_Y = {
    0: (0.37, 0.123),
    1: (-0.53, 1201.77),
    2: (0.11, 300.41),
    3: (0.93, -200.33),
}
_Y_CASE_SQL = (
    "CASE tid WHEN 0 THEN 0.37*rn + 0.123 WHEN 1 THEN 1201.77 - 0.53*rn "
    "WHEN 2 THEN 0.11*rn + 300.41 ELSE 0.93*rn - 200.33 END"
)


def _tracks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy(F.col("user_id") % 4).orderBy(_ts_us(), "event_id")
    base = ev.select(
        (F.col("user_id") % 4).alias("tid"),
        F.row_number().over(w).cast("double").alias("rn"),
        F.col("value").alias("h"),
        _ts_us().cast("double").alias("t"),
    )
    y = (
        F.when(F.col("tid") == 0, F.lit(0.37) * F.col("rn") + F.lit(0.123))
        .when(F.col("tid") == 1, F.lit(1201.77) - F.lit(0.53) * F.col("rn"))
        .when(F.col("tid") == 2, F.lit(0.11) * F.col("rn") + F.lit(300.41))
        .otherwise(F.lit(0.93) * F.col("rn") - F.lit(200.33))
    )
    return base.select("tid", F.col("rn").alias("x"), y.alias("y"), "h", "t")


@register(
    "crossover_track_intersections",
    f"""
    WITH pts AS (
      SELECT user_id % 4 AS tid,
             CAST(row_number() OVER (PARTITION BY user_id % 4
                                     ORDER BY ts, event_id) AS DOUBLE) AS rn,
             value AS h, CAST(epoch_us(ts) AS DOUBLE) AS t
      FROM events),
    tracks AS (
      SELECT tid, rn AS x, {_Y_CASE_SQL} AS y, h, t FROM pts),
    segs AS (
      SELECT tid, x AS x1, y AS y1, h AS h1, t AS t1,
             lead(x) OVER w AS x2, lead(y) OVER w AS y2,
             lead(h) OVER w AS h2, lead(t) OVER w AS t2
      FROM tracks WINDOW w AS (PARTITION BY tid ORDER BY x)),
    s2 AS (SELECT * FROM segs WHERE x2 IS NOT NULL),
    hits AS (
      SELECT a.tid AS track1, b.tid AS track2,
             ((b.x1-a.x1)*(b.y2-b.y1) - (b.y1-a.y1)*(b.x2-b.x1))
               / ((a.x2-a.x1)*(b.y2-b.y1) - (a.y2-a.y1)*(b.x2-b.x1)) AS s,
             ((b.x1-a.x1)*(a.y2-a.y1) - (b.y1-a.y1)*(a.x2-a.x1))
               / ((a.x2-a.x1)*(b.y2-b.y1) - (a.y2-a.y1)*(b.x2-b.x1)) AS u,
             a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
             a.h1 AS ah1, a.h2 AS ah2, a.t1 AS at1, a.t2 AS at2,
             b.h1 AS bh1, b.h2 AS bh2, b.t1 AS bt1, b.t2 AS bt2
      FROM s2 a JOIN s2 b ON a.tid < b.tid
      WHERE ((a.x2-a.x1)*(b.y2-b.y1) - (a.y2-a.y1)*(b.x2-b.x1)) <> 0)
    SELECT DISTINCT track1, track2,
           round(ax1 + s*(ax2-ax1), 6) AS x,
           round(ay1 + s*(ay2-ay1), 6) AS y,
           round((bh1 + u*(bh2-bh1)) - (ah1 + s*(ah2-ah1)), 6) AS h_x,
           round((bt1 + u*(bt2-bt1)) - (at1 + s*(at2-at1)), 6) AS t_d
    FROM hits
    WHERE s >= 0 AND s <= 1 AND u >= 0 AND u <= 1
    """,
)
def q_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = _tracks_df(spark, sf_dir)
    segs = track_segments(tracks, track_col="tid", order_col="x", t="t", max_gap=None)
    xo = crossover_join(segs, cell=500.0, track_col="tid")
    errs = crossover_errors(xo)
    return errs.select(
        "track1",
        "track2",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("h_X", 6).alias("h_x"),
        F.round("t_D", 6).alias("t_d"),
    ).dropDuplicates()


# --- full dhdt pipeline (SURVEY §3.1) on the events point cloud -------
@register(
    "dhdt_pipeline",
    """
    WITH pts AS (
      SELECT user_id, value AS h,
             CAST((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')) * 1000 AS DOUBLE) AS t_ns,
             CAST(user_id AS DOUBLE) AS x, 0.0 AS y
      FROM events),
    valid AS (
      SELECT *, count(h) OVER w AS n_valid,
             max(h) OVER w - min(h) OVER w AS hrange
      FROM pts WINDOW w AS (PARTITION BY user_id)),
    f AS (SELECT * FROM valid WHERE n_valid >= 2 AND hrange > 0.25)
    SELECT user_id,
           round(any_value(hrange), 6) AS h_range,
           avg(x) AS x, avg(y) AS y,
           CAST(regr_count(h, t_ns) AS BIGINT) AS n,
           round(regr_slope(h, t_ns) * 31557600000000000.0, 6) AS dhdt_slope,
           round(regr_r2(h, t_ns), 6) AS r2
    FROM f GROUP BY user_id
    """,
)
def q_dhdt_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.plans.dhdt import compute_dhdt

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        F.col("value").alias("h_corr"),
        # epoch literal precomputed in UTC python-side: to_timestamp on a
        # string literal would shift with the driver session's timezone
        ((_ts_us() - F.lit(us_of("2024-01-01"))) * 1000)
        .cast("double")
        .alias("delta_time_ns"),
        F.col("user_id").cast("double").alias("x"),
        F.lit(0.0).alias("y"),
    )
    out = compute_dhdt(pts, point_cols=["user_id"])
    return out.select(
        "user_id",
        F.round("h_range", 6).alias("h_range"),
        "x",
        "y",
        "n",
        F.round("dhdt_slope", 6).alias("dhdt_slope"),
        F.round("r2", 6).alias("r2"),
    )


# --- full lake-finder pipeline (SURVEY §3.2) — DBSCAN → rows-only ------
# The full pipeline is value-exact SQL because every stage is
# deterministic arithmetic on an integer-grid fixture (all doubles are
# exact): PIP = the same parity ray cast; the activity threshold uses
# the same interpolated median; DBSCAN labels follow the recursive-CTE
# component scheme proven for `dbscan_clusters` (ids rank components by
# first (x,y)-sorted core point, border → lowest reaching cluster);
# the donut test needs only hull-boundary parity, which is invariant
# under collinear subdivision of ring edges (a subdivided edge
# straddles py exactly when the original does, and axis-aligned
# intercepts are exact), so the weak-edge-test hull (all boundary
# points, centroid-angle order) reproduces the monotone-chain hull's
# ray cast bit-for-bit; the buffered ring (5 km ≫ 600 m data extent)
# contains every point, so in-buffer membership is WHERE true; and the
# shoelace terms are exact integers, so the unordered SUM equals the
# engine's left fold. Output: the two strips survive significance
# (|inner−outer| ≈ 1.8/3.2 ≫ 3·MAD ≈ 0.1).
_LAKE_DBSCAN = """
    WITH pts AS MATERIALIZED (
      SELECT vec_id,
             CAST((vec_id % 25) * 20 AS DOUBLE) AS x,
             CAST((vec_id // 25) * 20 AS DOUBLE) AS y,
             CAST(CASE WHEN vec_id < 100 THEN 2.0
                  WHEN vec_id >= 300 AND vec_id < 400 THEN -3.0
                  ELSE 0.15 + (vec_id % 10) * 0.01 END AS DOUBLE) AS dhdt
      FROM embeddings),
    bedges(xa, ya, xb, yb) AS (VALUES
      (-100.0, -100.0, 2000.0, -100.0),
      (2000.0, -100.0, 2000.0, 2000.0),
      (2000.0, 2000.0, -100.0, 2000.0),
      (-100.0, 2000.0, -100.0, -100.0)),
    basin_pts AS MATERIALIZED (
      SELECT p.* FROM pts p
      WHERE (SELECT count(*) FROM bedges e
             WHERE ((e.yb > p.y) <> (e.ya > p.y))
               AND (p.x < (e.xa - e.xb) * (p.y - e.yb) / (e.ya - e.yb) + e.xb)
            ) % 2 = 1),
    active AS (
      SELECT * FROM basin_pts
      WHERE abs(dhdt) > 0.105
        AND abs(dhdt) > 3 * (SELECT quantile_cont(abs(dhdt), 0.5)
                             FROM basin_pts WHERE abs(dhdt) > 0.105)),
    ord AS MATERIALIZED (
      SELECT vec_id, x, y, dhdt,
             CASE WHEN dhdt > 0 THEN 1 ELSE -1 END AS s,
             row_number() OVER (ORDER BY sign(dhdt), x, y) AS rid
      FROM active),
    nbr AS MATERIALIZED (
      SELECT a.rid AS ia, b.rid AS ib
      FROM ord a JOIN ord b
        ON a.s = b.s
       AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 45.0*45.0),
    core AS MATERIALIZED (
      SELECT ia AS rid FROM nbr GROUP BY ia HAVING count(*) >= 10),
    cedge AS MATERIALIZED (
      SELECT n.ia, n.ib FROM nbr n
      JOIN core c1 ON n.ia = c1.rid
      JOIN core c2 ON n.ib = c2.rid),
    reach AS (
      WITH RECURSIVE r(src, v) AS (
        SELECT rid, rid FROM core
        UNION
        SELECT r.src, e.ib FROM r JOIN cedge e ON e.ia = r.v)
      SELECT src AS rid, min(v) AS root FROM r GROUP BY src),
    comp AS MATERIALIZED (
      SELECT r.rid, o.s,
             dense_rank() OVER (PARTITION BY o.s ORDER BY r.root) AS k
      FROM reach r JOIN ord o ON o.rid = r.rid),
    border AS (
      SELECT n.ia AS rid, min(c.k) AS k
      FROM nbr n
      JOIN comp c ON n.ib = c.rid
      LEFT JOIN core ck ON n.ia = ck.rid
      WHERE ck.rid IS NULL
      GROUP BY n.ia),
    members AS MATERIALIZED (
      SELECT o.vec_id, o.x, o.y, o.dhdt,
             CAST(o.s * COALESCE(c.k, b.k) AS BIGINT) AS cluster_id
      FROM ord o
      LEFT JOIN comp c ON c.rid = o.rid
      LEFT JOIN border b ON b.rid = o.rid
      WHERE COALESCE(c.k, b.k) IS NOT NULL),
    mpts AS MATERIALIZED (SELECT DISTINCT cluster_id, x, y FROM members),
    hullb AS MATERIALIZED (
      SELECT DISTINCT p.cluster_id, p.x, p.y
      FROM mpts p JOIN mpts q
        ON p.cluster_id = q.cluster_id AND (p.x != q.x OR p.y != q.y)
      WHERE NOT EXISTS (
        SELECT 1 FROM mpts r
        WHERE r.cluster_id = p.cluster_id
          AND (q.x-p.x)*(r.y-p.y) - (q.y-p.y)*(r.x-p.x) < 0)),
    ang AS (
      SELECT cluster_id, x, y,
             atan2(y - avg(y) OVER (PARTITION BY cluster_id),
                   x - avg(x) OVER (PARTITION BY cluster_id)) AS th,
             count(*) OVER (PARTITION BY cluster_id) AS n
      FROM hullb),
    ring AS MATERIALIZED (
      SELECT cluster_id, x, y, n,
             row_number() OVER (PARTITION BY cluster_id ORDER BY th) - 1 AS p
      FROM ang),
    ringe AS MATERIALIZED (
      SELECT a.cluster_id, a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
      FROM ring a JOIN ring b
        ON a.cluster_id = b.cluster_id AND b.p = (a.p + 1) % a.n),
    donut AS MATERIALIZED (
      SELECT e.cluster_id, p.vec_id, p.dhdt
      FROM basin_pts p CROSS JOIN (SELECT DISTINCT cluster_id FROM ringe) cl
      JOIN ringe e ON e.cluster_id = cl.cluster_id
      GROUP BY e.cluster_id, p.vec_id, p.dhdt
      HAVING count(*) FILTER (
               ((e.yb > p.y) <> (e.ya > p.y))
               AND (p.x < (e.xa - e.xb) * (p.y - e.yb) / (e.ya - e.yb) + e.xb)
             ) % 2 = 0),
    dstats AS MATERIALIZED (
      SELECT cluster_id, quantile_cont(dhdt, 0.5) AS outer_dhdt
      FROM donut GROUP BY cluster_id),
    dmad AS (
      SELECT d.cluster_id,
             quantile_cont(abs(d.dhdt - s.outer_dhdt), 0.5) AS outer_mad
      FROM donut d JOIN dstats s ON d.cluster_id = s.cluster_id
      GROUP BY d.cluster_id),
    area AS (
      SELECT cluster_id, abs(sum(xa * yb - xb * ya)) / 2 AS area_m2
      FROM ringe GROUP BY cluster_id),
    stats AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS num_points,
             quantile_cont(dhdt, 0.5) AS inner_dhdt
      FROM members GROUP BY cluster_id)
    SELECT 'basin' AS basin_name, s.cluster_id, s.num_points,
           round(s.inner_dhdt, 6) AS inner_dhdt,
           round(a.area_m2, 6) AS area_m2
    FROM stats s
    JOIN area a ON s.cluster_id = a.cluster_id
    LEFT JOIN dstats ds ON s.cluster_id = ds.cluster_id
    LEFT JOIN dmad dm ON s.cluster_id = dm.cluster_id
    WHERE dm.outer_mad IS NULL
       OR abs(s.inner_dhdt - ds.outer_dhdt) >= 3 * dm.outer_mad
"""


# --- lake finder at the REFERENCE parameters (round 3) ---------------
# Same pipeline, but with the reference's actual DBSCAN settings —
# eps=3000 m, min_samples=250 (lake_algorithms.py:16-17, the BDD
# scenario's parameters) — on an events-derived basin: 5 planted lakes
# (3 filling +2.0, 2 draining −3.0, ~600 pts each at sf0.01, blob
# diameter 2.8 km < eps so each blob is one clique) in a 60 km basin
# of diffuse active background. Unlike the small-extent fixture above,
# the 5 km donut ring here does NOT cover the basin, so the oracle
# replicates the buffer construction exactly: offset every hull vertex
# by a 16-gon of radius 5000 (identical `2*pi()*k/16` expression text
# on both engines → identical libm doubles), re-hull, and test
# in-buffer AND out-of-hull parity. The 16/31 BDD cluster-count parity
# lives in tests/test_lake_reference_parity.py on the full-density
# track-sampled fixture; this query certifies the same code path
# value-exactly at the same (eps, min_samples).
_REF_EPS = 3000.0
_REF_MIN_SAMPLES = 250

_LAKE_REF_PTS = """
      SELECT event_id AS pid,
             CASE WHEN event_id % 10 < 7
                  THEN CAST((event_id * 7919 + 13) % 60000 AS DOUBLE)
                  ELSE CAST(10000 + ((event_id // 10) % 5) * 12000
                            + ((event_id * 2654435761) % 2001 - 1000) AS DOUBLE) END AS x,
             CASE WHEN event_id % 10 < 7
                  THEN CAST((event_id * 104729 + 17) % 60000 AS DOUBLE)
                  ELSE CAST(10000 + ((((event_id // 10) % 5) * 17) % 40) * 1000
                            + ((event_id * 40503) % 2001 - 1000) AS DOUBLE) END AS y,
             CAST(CASE WHEN event_id % 10 < 7 THEN 0.11 + (event_id % 7) * 0.01
                  WHEN ((event_id // 10) % 5) < 3 THEN 2.0 ELSE -3.0 END AS DOUBLE) AS dhdt
      FROM events WHERE event_id < 10000
"""

_LAKE_REF_ORACLE = f"""
    WITH basin_pts AS MATERIALIZED ({_LAKE_REF_PTS}),
    active AS (
      SELECT * FROM basin_pts
      WHERE abs(dhdt) > 0.105
        AND abs(dhdt) > 3 * (SELECT quantile_cont(abs(dhdt), 0.5)
                             FROM basin_pts WHERE abs(dhdt) > 0.105)),
    ord AS MATERIALIZED (
      SELECT pid, x, y, dhdt,
             CASE WHEN dhdt > 0 THEN 1 ELSE -1 END AS s,
             row_number() OVER (ORDER BY sign(dhdt), x, y) AS rid
      FROM active),
    nbr AS MATERIALIZED (
      SELECT a.rid AS ia, b.rid AS ib
      FROM ord a JOIN ord b
        ON a.s = b.s
       AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= {_REF_EPS}*{_REF_EPS}),
    core AS MATERIALIZED (
      SELECT ia AS rid FROM nbr GROUP BY ia HAVING count(*) >= {_REF_MIN_SAMPLES}),
    cedge AS MATERIALIZED (
      SELECT n.ia, n.ib FROM nbr n
      JOIN core c1 ON n.ia = c1.rid
      JOIN core c2 ON n.ib = c2.rid),
    -- components via 2-hop min-label propagation instead of a full
    -- recursive closure (whose src×v expansion is |clique|² rows here:
    -- ~45 s vs <1 s). EXACT for this fixture by construction: each
    -- blob's geometric diameter 2·sqrt(2)·1000 m < eps = 3000 m, so
    -- every core-graph component is a clique (graph diameter 1 ≤ 2).
    lab1 AS MATERIALIZED (
      SELECT e.ia AS rid, min(e.ib) AS lab FROM cedge e GROUP BY e.ia),
    reach AS MATERIALIZED (
      SELECT e.ia AS rid, min(l.lab) AS root
      FROM cedge e JOIN lab1 l ON l.rid = e.ib GROUP BY e.ia),
    comp AS MATERIALIZED (
      SELECT r.rid, o.s,
             dense_rank() OVER (PARTITION BY o.s ORDER BY r.root) AS k
      FROM reach r JOIN ord o ON o.rid = r.rid),
    border AS MATERIALIZED (
      SELECT n.ia AS rid, min(c.k) AS k
      FROM nbr n
      JOIN comp c ON n.ib = c.rid
      LEFT JOIN core ck ON n.ia = ck.rid
      WHERE ck.rid IS NULL
      GROUP BY n.ia),
    members AS MATERIALIZED (
      SELECT o.pid, o.x, o.y, o.dhdt,
             CAST(o.s * COALESCE(c.k, b.k) AS BIGINT) AS cluster_id
      FROM ord o
      LEFT JOIN comp c ON c.rid = o.rid
      LEFT JOIN border b ON b.rid = o.rid
      WHERE COALESCE(c.k, b.k) IS NOT NULL),
    mpts AS MATERIALIZED (SELECT DISTINCT cluster_id, x, y FROM members),
    hullb AS MATERIALIZED (
      SELECT DISTINCT p.cluster_id, p.x, p.y
      FROM mpts p JOIN mpts q
        ON p.cluster_id = q.cluster_id AND (p.x != q.x OR p.y != q.y)
      WHERE NOT EXISTS (
        SELECT 1 FROM mpts r
        WHERE r.cluster_id = p.cluster_id
          AND (q.x-p.x)*(r.y-p.y) - (q.y-p.y)*(r.x-p.x) < 0)),
    ang AS (
      SELECT cluster_id, x, y,
             atan2(y - avg(y) OVER (PARTITION BY cluster_id),
                   x - avg(x) OVER (PARTITION BY cluster_id)) AS th,
             count(*) OVER (PARTITION BY cluster_id) AS n
      FROM hullb),
    ring AS MATERIALIZED (
      SELECT cluster_id, x, y, n,
             row_number() OVER (PARTITION BY cluster_id ORDER BY th) - 1 AS p
      FROM ang),
    ringe AS MATERIALIZED (
      SELECT a.cluster_id, a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
      FROM ring a JOIN ring b
        ON a.cluster_id = b.cluster_id AND b.p = (a.p + 1) % a.n),
    bufp AS MATERIALIZED (
      SELECT h.cluster_id,
             h.x + 5000 * cos(2 * pi() * t.k / 16) AS x,
             h.y + 5000 * sin(2 * pi() * t.k / 16) AS y
      FROM hullb h, range(16) t(k)),
    bufd AS MATERIALIZED (SELECT DISTINCT cluster_id, x, y FROM bufp),
    bufb AS MATERIALIZED (
      SELECT DISTINCT p.cluster_id, p.x, p.y
      FROM bufd p JOIN bufd q
        ON p.cluster_id = q.cluster_id AND (p.x != q.x OR p.y != q.y)
      WHERE NOT EXISTS (
        SELECT 1 FROM bufd r
        WHERE r.cluster_id = p.cluster_id
          AND (q.x-p.x)*(r.y-p.y) - (q.y-p.y)*(r.x-p.x) < 0)),
    bang AS (
      SELECT cluster_id, x, y,
             atan2(y - avg(y) OVER (PARTITION BY cluster_id),
                   x - avg(x) OVER (PARTITION BY cluster_id)) AS th,
             count(*) OVER (PARTITION BY cluster_id) AS n
      FROM bufb),
    bring AS MATERIALIZED (
      SELECT cluster_id, x, y, n,
             row_number() OVER (PARTITION BY cluster_id ORDER BY th) - 1 AS p
      FROM bang),
    bringe AS MATERIALIZED (
      SELECT a.cluster_id, a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
      FROM bring a JOIN bring b
        ON a.cluster_id = b.cluster_id AND b.p = (a.p + 1) % a.n),
    in_buf AS MATERIALIZED (
      SELECT e.cluster_id, p.pid, p.x, p.y, p.dhdt
      FROM basin_pts p CROSS JOIN (SELECT DISTINCT cluster_id FROM bringe) cl
      JOIN bringe e ON e.cluster_id = cl.cluster_id
      GROUP BY e.cluster_id, p.pid, p.x, p.y, p.dhdt
      HAVING count(*) FILTER (
               ((e.yb > p.y) <> (e.ya > p.y))
               AND (p.x < (e.xa - e.xb) * (p.y - e.yb) / (e.ya - e.yb) + e.xb)
             ) % 2 = 1),
    donut AS MATERIALIZED (
      SELECT b.cluster_id, b.pid, b.dhdt
      FROM in_buf b
      JOIN ringe e ON e.cluster_id = b.cluster_id
      GROUP BY b.cluster_id, b.pid, b.dhdt
      HAVING count(*) FILTER (
               ((e.yb > b.y) <> (e.ya > b.y))
               AND (b.x < (e.xa - e.xb) * (b.y - e.yb) / (e.ya - e.yb) + e.xb)
             ) % 2 = 0),
    dstats AS MATERIALIZED (
      SELECT cluster_id, quantile_cont(dhdt, 0.5) AS outer_dhdt
      FROM donut GROUP BY cluster_id),
    dmad AS MATERIALIZED (
      SELECT d.cluster_id,
             quantile_cont(abs(d.dhdt - s.outer_dhdt), 0.5) AS outer_mad
      FROM donut d JOIN dstats s ON d.cluster_id = s.cluster_id
      GROUP BY d.cluster_id),
    area AS MATERIALIZED (
      SELECT cluster_id, abs(sum(xa * yb - xb * ya)) / 2 AS area_m2
      FROM ringe GROUP BY cluster_id),
    stats AS MATERIALIZED (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS num_points,
             quantile_cont(dhdt, 0.5) AS inner_dhdt
      FROM members GROUP BY cluster_id)
    -- final assembly is UNION ALL + GROUP BY, not joins: DuckDB's
    -- optimizer re-plans joins BETWEEN materialized CTEs into the big
    -- dependency trees here (+30 s measured for a 5×5-row join); the
    -- union shape keeps each CTE evaluated exactly once. max() per
    -- column = the left-join semantics (each cluster_id contributes
    -- one non-null row per source; dstats/dmad rows may be absent).
    SELECT 'basin' AS basin_name, cluster_id,
           max(num_points) AS num_points,
           round(max(inner_dhdt), 6) AS inner_dhdt,
           round(max(area_m2), 6) AS area_m2
    FROM (
      SELECT cluster_id, num_points, inner_dhdt,
             CAST(NULL AS DOUBLE) AS area_m2,
             CAST(NULL AS DOUBLE) AS outer_dhdt, CAST(NULL AS DOUBLE) AS outer_mad
      FROM stats
      UNION ALL
      SELECT cluster_id, NULL, NULL, area_m2, NULL, NULL FROM area
      UNION ALL
      SELECT cluster_id, NULL, NULL, NULL, outer_dhdt, NULL FROM dstats
      UNION ALL
      SELECT cluster_id, NULL, NULL, NULL, NULL, outer_mad FROM dmad)
    GROUP BY cluster_id
    HAVING max(outer_mad) IS NULL
        OR abs(max(inner_dhdt) - max(outer_dhdt)) >= 3 * max(outer_mad)
"""


@register("lake_finder_reference_params", _LAKE_REF_ORACLE)
def q_lake_finder_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.spatial import polygons_df
    from deepicedrain_spark.plans.lakes import find_lakes

    ev = load_table(spark, sf_dir, "events").filter("event_id < 10000")
    pts = ev.selectExpr(
        """CASE WHEN event_id % 10 < 7
                THEN CAST((event_id * 7919 + 13) % 60000 AS DOUBLE)
                ELSE CAST(10000 + ((event_id div 10) % 5) * 12000
                          + ((event_id * 2654435761) % 2001 - 1000) AS DOUBLE) END AS x""",
        """CASE WHEN event_id % 10 < 7
                THEN CAST((event_id * 104729 + 17) % 60000 AS DOUBLE)
                ELSE CAST(10000 + ((((event_id div 10) % 5) * 17) % 40) * 1000
                          + ((event_id * 40503) % 2001 - 1000) AS DOUBLE) END AS y""",
        """CASE WHEN event_id % 10 < 7 THEN 0.11 + (event_id % 7) * 0.01
                WHEN ((event_id div 10) % 5) < 3 THEN 2.0 ELSE -3.0 END AS dhdt_slope""",
        "user_id AS referencegroundtrack",
    )
    basins = polygons_df(
        spark,
        [{"poly_id": "basin", "xs": [-1.0, 60001.0, 60001.0, -1.0],
          "ys": [-1.0, -1.0, 60001.0, 60001.0]}],
    ).withColumnRenamed("poly_id", "basin_name")
    lakes = find_lakes(
        pts, basins, eps=_REF_EPS, min_samples=_REF_MIN_SAMPLES,
        basin_col="basin_name",
    )
    return lakes.select(
        "basin_name",
        "cluster_id",
        "num_points",
        F.round("inner_dhdt", 6).alias("inner_dhdt"),
        F.round("area_m2", 6).alias("area_m2"),
    )


@register("lake_finder_pipeline", _LAKE_DBSCAN)
def q_lake_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.spatial import polygons_df
    from deepicedrain_spark.plans.lakes import find_lakes

    emb = load_table(spark, sf_dir, "embeddings")
    # deterministic point cloud from vec_id: a 25-wide grid (20 m pitch)
    # with a filling strip (ids 0-99 → +2 m/yr), a draining strip
    # (ids 300-399 → −3), and an active-but-diffuse background — the
    # dhdt_points fixture shape from FIXTURES.md §2
    pts = emb.select(
        ((F.col("vec_id") % 25) * 20).cast("double").alias("x"),
        (F.floor(F.col("vec_id") / 25) * 20).cast("double").alias("y"),
        F.when(F.col("vec_id") < 100, F.lit(2.0))
        .when((F.col("vec_id") >= 300) & (F.col("vec_id") < 400), F.lit(-3.0))
        .otherwise(0.15 + (F.col("vec_id") % 10) * 0.01)
        .alias("dhdt_slope"),
        F.col("label").alias("referencegroundtrack"),
    )
    basins = polygons_df(
        spark,
        [{"poly_id": "basin", "xs": [-100.0, 2000.0, 2000.0, -100.0],
          "ys": [-100.0, -100.0, 2000.0, 2000.0]}],
    ).withColumnRenamed("poly_id", "basin_name")
    lakes = find_lakes(pts, basins, eps=45.0, min_samples=10, basin_col="basin_name")
    return lakes.select(
        "basin_name",
        "cluster_id",
        "num_points",
        F.round("inner_dhdt", 6).alias("inner_dhdt"),
        F.round("area_m2", 6).alias("area_m2"),
    )


# --- surface interpolation (SURVEY A11) ------------------------------
# The IDW semantics (block-median per cell → inverse-square-distance
# weighting within a 2-cell search radius → ±3·MAD clip) are pure
# deterministic arithmetic, so the pandas-UDF pipeline is fully
# reproducible in SQL: per-node neighbor join + weighted mean. The
# block/halo sharding is an EXECUTION strategy only — every node sees
# exactly the cells within its search radius in both formulations.
@register(
    "surface_interpolation_idw",
    """
    WITH pts AS (
      SELECT embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y,
             embedding[3]::DOUBLE AS z
      FROM embeddings),
    sub AS (
      SELECT * FROM pts
      WHERE x > -0.5 AND x < 0.5 AND y > -0.5 AND y < 0.5),
    cells AS (
      SELECT CAST(floor((x + 0.5) / 0.05) AS BIGINT) AS cx,
             CAST(floor((y + 0.5) / 0.05) AS BIGINT) AS cy,
             quantile_cont(x, 0.5) AS mx,
             quantile_cont(y, 0.5) AS my,
             quantile_cont(z, 0.5) AS mz
      FROM sub GROUP BY 1, 2),
    med AS (SELECT quantile_cont(mz, 0.5) AS m FROM cells),
    lim AS (
      SELECT m, quantile_cont(abs(mz - m), 0.5) AS mad
      FROM cells, med GROUP BY m),
    nodes AS (
      SELECT gx.g AS gx, gy.g AS gy,
             -0.5 + (gx.g + 0.5) * 0.05 AS gxc,
             -0.5 + (gy.g + 0.5) * 0.05 AS gyc
      FROM generate_series(0, 19) gx(g), generate_series(0, 19) gy(g)),
    neigh AS (
      SELECT n.gx, n.gy,
             (c.mx - n.gxc) * (c.mx - n.gxc)
               + (c.my - n.gyc) * (c.my - n.gyc) AS d2,
             c.mz
      FROM nodes n JOIN cells c
        ON (c.mx - n.gxc) * (c.mx - n.gxc)
             + (c.my - n.gyc) * (c.my - n.gyc) <= 0.01),
    idw AS (
      SELECT gx, gy,
             CASE WHEN min(d2) < 1e-18
                  THEN max(CASE WHEN d2 < 1e-18 THEN mz END)
                  ELSE sum(mz / d2) / sum(1.0 / d2) END AS zi
      FROM neigh GROUP BY 1, 2)
    SELECT gx, gy,
           round(least(greatest(zi, m - 3 * mad), m + 3 * mad), 6) AS zi
    FROM idw, lim
    """,
)
def q_surface_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.gridding import interpolate_grid
    from deepicedrain_spark.region import Region

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
        F.element_at("embedding", 3).cast("double").alias("z"),
    )
    region = Region("emb", -0.5, 0.5, -0.5, 0.5)
    grid = interpolate_grid(pts, region, spacing=0.05, search_cells=2, block_cells=8)
    return grid.select("gx", "gy", F.round("zi", 6).alias("zi"))


# --- A11 exact-semantics path: GMT-style tension spline ---------------
# Jacobi relaxation of (1-T)∇⁴z − T∇²z = 0 with Dirichlet data cells
# (T=0.35, the reference's tension). Jacobi reads only the previous
# iteration, so Spark's distributed stencil join and the oracle's
# recursive-CTE list fold run the IDENTICAL fixed-order arithmetic —
# the iterative PDE solve itself is oracle-checked, not just sampled.
_TS_N = 20        # 20×20 grid over [-0.5, 0.5]²
_TS_ITERS = 60
_TS_T = 0.35


def _ts_nb(di: int, dj: int) -> str:
    """Oracle list accessor for neighbor (gx+di, gy+dj), clamped."""
    return (
        f"z[1 + least(greatest((p//{_TS_N})+({di}),0),{_TS_N - 1})*{_TS_N}"
        f" + least(greatest((p%{_TS_N})+({dj}),0),{_TS_N - 1})]"
    )


_TS_HARM = f"(({_ts_nb(0,1)} + {_ts_nb(0,-1)} + {_ts_nb(1,0)} + {_ts_nb(-1,0)}) / 4.0)"
_TS_BIHARM = (
    f"((8.0*({_ts_nb(0,1)} + {_ts_nb(0,-1)} + {_ts_nb(1,0)} + {_ts_nb(-1,0)})"
    f" - 2.0*({_ts_nb(1,1)} + {_ts_nb(-1,1)} + {_ts_nb(1,-1)} + {_ts_nb(-1,-1)})"
    f" - ({_ts_nb(0,2)} + {_ts_nb(0,-2)} + {_ts_nb(2,0)} + {_ts_nb(-2,0)})) / 20.0)"
)


@register(
    "surface_tension_spline",
    f"""
    WITH RECURSIVE pts AS (
      SELECT embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y,
             embedding[3]::DOUBLE AS z
      FROM embeddings),
    sub AS (
      SELECT * FROM pts
      WHERE x > -0.5 AND x < 0.5 AND y > -0.5 AND y < 0.5),
    cells AS (
      SELECT CAST(floor((x + 0.5) / 0.05) AS BIGINT) AS gx,
             CAST(floor((y + 0.5) / 0.05) AS BIGINT) AS gy,
             quantile_cont(z, 0.5) AS mz
      FROM sub GROUP BY 1, 2),
    med AS (SELECT quantile_cont(mz, 0.5) AS m FROM cells),
    lim AS (
      SELECT m, quantile_cont(abs(mz - m), 0.5) AS mad
      FROM cells, med GROUP BY m),
    grid0 AS (SELECT unnest(range(0, {_TS_N * _TS_N})) AS p),
    init AS (
      SELECT list(COALESCE(c.mz, 0.0) ORDER BY g.p) AS z,
             list(c.mz IS NOT NULL ORDER BY g.p) AS isd,
             list(COALESCE(c.mz, 0.0) ORDER BY g.p) AS zd
      FROM grid0 g LEFT JOIN cells c
        ON c.gx = g.p // {_TS_N} AND c.gy = g.p % {_TS_N}),
    it AS (
      SELECT 0 AS k, z, isd, zd FROM init
      UNION ALL
      SELECT k + 1,
             list_transform(range(0, {_TS_N * _TS_N}), p ->
               CASE WHEN isd[p+1] THEN zd[p+1]
                    ELSE {_TS_T} * {_TS_HARM} + {1.0 - _TS_T} * {_TS_BIHARM}
               END),
             isd, zd
      FROM it WHERE k < {_TS_ITERS}),
    fin AS (SELECT z FROM it WHERE k = {_TS_ITERS}),
    vals AS (
      SELECT g.p // {_TS_N} AS gx, g.p % {_TS_N} AS gy, f.z[g.p + 1] AS zv
      FROM grid0 g, fin f),
    mask AS (
      SELECT DISTINCT g.p // {_TS_N} AS gx, g.p % {_TS_N} AS gy
      FROM grid0 g JOIN cells c
        ON abs(c.gx - g.p // {_TS_N}) <= 3 AND abs(c.gy - g.p % {_TS_N}) <= 3)
    SELECT v.gx, v.gy,
           round(least(greatest(zv, m - 3 * mad), m + 3 * mad), 6) AS zs
    FROM vals v JOIN mask USING (gx, gy), lim
    """,
)
def q_surface_tension_spline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.gridding import tension_spline_grid
    from deepicedrain_spark.region import Region

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
        F.element_at("embedding", 3).cast("double").alias("z"),
    )
    region = Region("emb", -0.5, 0.5, -0.5, 0.5)
    return tension_spline_grid(
        pts, region, spacing=0.05, tension=_TS_T, iters=_TS_ITERS, mask_cells=3
    )


# --- A12: per-group trend (vizplots.py:413-418) -----------------------
@register(
    "grouped_trend",
    """
    WITH pts AS (
      SELECT event_type, value AS h,
             (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')) / 86400000000.0 AS t_days
      FROM events)
    SELECT event_type, round(regr_slope(h, t_days) * 365.25, 6) AS trend
    FROM pts GROUP BY event_type
    """,
)
def q_grouped_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.aggregates import grouped_trend
    from deepicedrain_spark.suite import EVENTS_EPOCH_US

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.col("value").alias("h"),
        ((_ts_us() - F.lit(EVENTS_EPOCH_US)) / F.lit(86_400_000_000.0)).alias("t_days"),
    )
    out = grouped_trend(pts, ["event_type"], "h", "t_days", scale=365.25)
    return out.select("event_type", F.round("trend", 6).alias("trend"))


# --- A8: distinct locations count (atlxi_xover.py:161-165) ------------
@register(
    "distinct_locations",
    "SELECT count(DISTINCT (l_partkey, l_suppkey)) AS n_locations FROM lineitem",
)
def q_distinct_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(F.count_distinct("l_partkey", "l_suppkey").alias("n_locations"))


# --- W5: ice-volume-over-time composite (lake_algorithms.py:76-227) ---
# Determinism note: event values are 2-d.p. doubles, so rolling means
# land on exact decimal rationals where cross-engine ROUNDING of
# near-boundary doubles diverges. Both sides therefore accumulate the
# window sums EXACTLY as integer cents (value·100 is exact) and derive
# identical doubles — no rounding at all in the output. Long sums are
# also ~4× faster than decimal window aggregation here.
@register(
    "volume_time_series",
    """
    WITH cents AS (
      SELECT event_type, event_id, epoch_us(ts) AS t,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events),
    rolled AS (
      SELECT event_type, event_id, t,
             CAST(sum(c) OVER w AS DOUBLE) AS s,
             CAST(sum(c * c) OVER w AS DOUBLE) AS ss,
             count(c) OVER w AS n
      FROM cents
      WINDOW w AS (PARTITION BY event_type ORDER BY t
                   RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)),
    anom AS (
      SELECT event_type, t,
             CASE WHEN n > 1 THEN sqrt((ss - s*s/n)/(n-1)) / 100 END AS dh_std,
             s/n/100 - first_value(s/n/100) OVER
               (PARTITION BY event_type ORDER BY t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dh
      FROM rolled)
    SELECT event_type, t, dh, dh_std,
           dh * 0.002 AS dvol_km3,
           dh_std * 0.002 AS dvol_std_km3
    FROM anom
    """,
)
def q_volume_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frame sums come from win_ops.trailing_range_sums_prefix, not a
    # RANGE frame: Spark re-aggregates the whole frame per row (O(n·w)),
    # quadratic on a dense per-type series. The prefix-sum path is
    # O(n log n) and bit-identical because the cent sums are exact longs
    # (subtraction of prefixes == direct frame sum). s/ss depend only on
    # (event_type, t), so they are computed once per distinct t and
    # joined back to restore per-event-row multiplicity.
    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        "event_id",
        _ts_us().alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    rolled_t = win_ops.trailing_range_sums_prefix(
        cents.withColumn("c2", F.col("c") * F.col("c")),
        ["event_type"],
        "t",
        ["c", "c2"],
        86_400_000_000,
    ).select(
        "event_type",
        "t",
        F.col("c_w").cast("double").alias("s"),
        F.col("c2_w").cast("double").alias("ss"),
        F.col("n_w").alias("n"),
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    roll_mean = F.col("s") / F.col("n") / 100
    anom_t = rolled_t.select(
        "event_type",
        "t",
        F.when(
            F.col("n") > 1,
            F.sqrt(
                (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
            )
            / 100,
        ).alias("dh_std"),
        (roll_mean - F.first(roll_mean).over(wf)).alias("dh"),
    )
    anom = cents.select("event_type", "t").join(anom_t, ["event_type", "t"])
    return anom.select(
        "event_type",
        "t",
        "dh",
        "dh_std",
        (F.col("dh") * F.lit(0.002)).alias("dvol_km3"),
        (F.col("dh_std") * F.lit(0.002)).alias("dvol_std_km3"),
    )


# ======================================================================
# Coverage queries: F3 reprojection, J4 positional concat, F9 replace/
# mask, S8+S9 TSV sink/scan round-trip, S2 partitioned parquet sink.
# ======================================================================

# --- F3: EPSG:3031 closed-form reprojection (spatiotemporal.py:179-216)
# The projection is pure trig (projection.py cites Snyder's equations),
# so DuckDB can evaluate the identical formula; round to mm — the two
# engines' libm implementations agree to ~1e-9 m at 1e6 m magnitudes.
_PROJ_E = "0.08181919084262149"
_PROJ_RHO = "12367396.21845986"


@register(
    "reproject_lonlat_xy",
    f"""
    WITH ll AS (
      SELECT s_suppkey,
             CAST((s_suppkey * 7) % 360 - 180 AS DOUBLE) + 0.5 AS lon,
             -60.0 - CAST((s_suppkey * 13) % 300 AS DOUBLE) / 10.0 AS lat
      FROM supplier),
    p AS (
      SELECT s_suppkey, lon, lat,
             radians(-lat) AS phi, radians(-lon) AS lam,
             {_PROJ_E} * sin(radians(-lat)) AS esin
      FROM ll),
    t AS (
      SELECT *,
             {_PROJ_RHO} * tan(pi() / 4 - phi / 2)
               * pow((1 + esin) / (1 - esin), {_PROJ_E} / 2) AS rho
      FROM p)
    SELECT s_suppkey, lon, lat,
           round(-(rho * sin(lam)), 3) AS x,
           round(-(-rho * cos(lam)), 3) AS y
    FROM t
    """,
)
def q_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized Antarctic lon/lat grid from supplier keys (integer-
    derived doubles — bit-identical in both engines)."""
    from deepicedrain_spark.functions.projection import lonlat_to_xy

    sup = load_table(spark, sf_dir, "supplier")
    ll = sup.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 7 % 360 - 180).cast("double") + F.lit(0.5)).alias("lon"),
        (F.lit(-60.0) - (F.col("s_suppkey") * 13 % 300).cast("double") / 10.0).alias("lat"),
    )
    x, y = lonlat_to_xy(F.col("lon"), F.col("lat"))
    return ll.select(
        "s_suppkey", "lon", "lat", F.round(x, 3).alias("x"), F.round(y, 3).alias("y")
    )


# --- J3 composed: curved-track crossover pipeline ---------------------
# The reference's x2sys workflow end-to-end: geographic tracks →
# great-circle densification (bounded curvature error) → polar-
# stereographic projection (F3 closed form) → straight-segment
# crossover solve with h/t interpolation. Every stage is the exact
# arithmetic both engines share, so the composed pipeline gets one
# value-exact oracle. Three synthetic tracks with distinct offsets and
# slopes cross pairwise at three separated points.
@register(
    "crossover_curved_tracks",
    f"""
    WITH base AS (
      SELECT user_id % 3 AS track,
             row_number() OVER (PARTITION BY user_id % 3
                                ORDER BY ts, event_id) AS rn0,
             value AS h
      FROM events),
    pts AS (
      SELECT track, CAST(rn0 AS DOUBLE) AS rn,
             -60.0 + CAST(rn0 AS DOUBLE) * 0.4 AS lon,
             (CASE track WHEN 0 THEN -71.9 WHEN 1 THEN -71.5 ELSE -71.2 END)
               + (CASE track WHEN 0 THEN 0.012 WHEN 1 THEN -0.004 ELSE -0.02 END)
                 * CAST(rn0 AS DOUBLE) AS lat,
             h
      FROM base WHERE rn0 <= 30),
    pairs AS (
      SELECT track, rn, lon AS lon1, lat AS lat1, h AS h1,
             lead(lon) OVER w AS lon2, lead(lat) OVER w AS lat2,
             lead(h) OVER w AS h2
      FROM pts WINDOW w AS (PARTITION BY track ORDER BY rn)),
    prep AS (
      SELECT track, rn, lon1, lat1, h1,
             lon2 IS NULL AS last_pt,
             coalesce(lon2, lon1) AS lon2, coalesce(lat2, lat1) AS lat2,
             coalesce(h2, h1) AS h2
      FROM pairs),
    vec AS (
      SELECT *,
        cos(radians(lat1))*cos(radians(lon1)) AS ax,
        cos(radians(lat1))*sin(radians(lon1)) AS ay,
        sin(radians(lat1)) AS az,
        cos(radians(lat2))*cos(radians(lon2)) AS bx,
        cos(radians(lat2))*sin(radians(lon2)) AS by,
        sin(radians(lat2)) AS bz
      FROM prep),
    om AS (
      SELECT *, acos(least(greatest(ax*bx+ay*by+az*bz, -1.0), 1.0)) AS omega
      FROM vec),
    nn AS (
      SELECT *, CASE WHEN last_pt OR omega * 6371008.8 <= 5000.0 THEN 1
                     ELSE CAST(ceil(omega * 6371008.8 / 5000.0) AS INT) END AS n
      FROM om),
    ex AS (SELECT *, unnest(range(0, n)) AS i FROM nn),
    kk AS (
      SELECT *, CAST(i AS DOUBLE)/CAST(n AS DOUBLE) AS f,
        CASE WHEN i = 0 OR omega < 1e-12 THEN 1.0
             ELSE sin((1.0 - CAST(i AS DOUBLE)/CAST(n AS DOUBLE))*omega)/sin(omega)
        END AS k1,
        CASE WHEN i = 0 OR omega < 1e-12 THEN 0.0
             ELSE sin((CAST(i AS DOUBLE)/CAST(n AS DOUBLE))*omega)/sin(omega)
        END AS k2
      FROM ex),
    dens AS (
      SELECT track, rn + CAST(i AS DOUBLE) * 0.001 AS ord,
             CASE WHEN i = 0 THEN lon1
                  ELSE degrees(atan2(k1*ay+k2*by, k1*ax+k2*bx)) END AS lon,
             CASE WHEN i = 0 THEN lat1
                  ELSE degrees(atan2(k1*az+k2*bz,
                       sqrt((k1*ax+k2*bx)*(k1*ax+k2*bx)
                            + (k1*ay+k2*by)*(k1*ay+k2*by)))) END AS lat,
             h1 + f*(h2-h1) AS h
      FROM kk),
    proj AS (
      SELECT track, ord, h,
             radians(-lat) AS phi, radians(-lon) AS lam,
             {_PROJ_E} * sin(radians(-lat)) AS esin
      FROM dens),
    xy AS (
      SELECT track, ord, h,
             -(({_PROJ_RHO} * (tan(pi() / 4 - phi / 2)
                * pow((1 + esin) / (1 - esin), {_PROJ_E} / 2))) * sin(lam)) AS x,
             -(-({_PROJ_RHO} * (tan(pi() / 4 - phi / 2)
                * pow((1 + esin) / (1 - esin), {_PROJ_E} / 2))) * cos(lam)) AS y
      FROM proj),
    segs AS (
      SELECT track, x AS x1, y AS y1, h AS h1, ord AS t1,
             lead(x) OVER w AS x2, lead(y) OVER w AS y2,
             lead(h) OVER w AS h2, lead(ord) OVER w AS t2
      FROM xy WINDOW w AS (PARTITION BY track ORDER BY ord)),
    s2 AS (SELECT * FROM segs WHERE x2 IS NOT NULL),
    hits AS (
      SELECT a.track AS track1, b.track AS track2,
             ((b.x1-a.x1)*(b.y2-b.y1) - (b.y1-a.y1)*(b.x2-b.x1))
               / ((a.x2-a.x1)*(b.y2-b.y1) - (a.y2-a.y1)*(b.x2-b.x1)) AS s,
             ((b.x1-a.x1)*(a.y2-a.y1) - (b.y1-a.y1)*(a.x2-a.x1))
               / ((a.x2-a.x1)*(b.y2-b.y1) - (a.y2-a.y1)*(b.x2-b.x1)) AS u,
             a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
             a.h1 AS ah1, a.h2 AS ah2, a.t1 AS at1, a.t2 AS at2,
             b.h1 AS bh1, b.h2 AS bh2, b.t1 AS bt1, b.t2 AS bt2
      FROM s2 a JOIN s2 b ON a.track < b.track
      WHERE ((a.x2-a.x1)*(b.y2-b.y1) - (a.y2-a.y1)*(b.x2-b.x1)) <> 0)
    SELECT DISTINCT track1, track2,
           round(ax1 + s*(ax2-ax1), 3) AS x,
           round(ay1 + s*(ay2-ay1), 3) AS y,
           round((bh1 + u*(bh2-bh1)) - (ah1 + s*(ah2-ah1)), 6) AS h_x,
           round((bt1 + u*(bt2-bt1)) - (at1 + s*(at2-at1)), 6) AS t_d
    FROM hits
    WHERE s >= 0 AND s <= 1 AND u >= 0 AND u <= 1
    """,
)
def q_crossover_curved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.functions.projection import lonlat_to_xy
    from deepicedrain_spark.operators.crossover import (
        crossover_join,
        densify_track_greatcircle,
        track_segments,
    )

    ev = load_table(spark, sf_dir, "events")
    wn = Window.partitionBy("tid").orderBy("ts", "event_id")
    base = (
        ev.select(
            (F.col("user_id") % 3).alias("tid"), "event_id", "ts",
            F.col("value").alias("h"),
        )
        .withColumn("rn", F.row_number().over(wn).cast("double"))
        .filter(F.col("rn") <= 30)
    )
    offset = (
        F.when(F.col("tid") == 0, F.lit(-71.9))
        .when(F.col("tid") == 1, F.lit(-71.5))
        .otherwise(F.lit(-71.2))
    )
    slope = (
        F.when(F.col("tid") == 0, F.lit(0.012))
        .when(F.col("tid") == 1, F.lit(-0.004))
        .otherwise(F.lit(-0.02))
    )
    pts = base.select(
        "tid",
        "rn",
        (F.lit(-60.0) + F.col("rn") * 0.4).alias("lon"),
        (offset + slope * F.col("rn")).alias("lat"),
        "h",
    )
    dens = densify_track_greatcircle(
        pts, track_col="tid", order_col="rn", max_seg_m=5000.0
    )
    x, y = lonlat_to_xy(F.col("lon"), F.col("lat"))
    proj = dens.select(
        "track",
        (F.col("rn") + F.col("i").cast("double") * 0.001).alias("ord"),
        x.alias("x"),
        y.alias("y"),
        "h",
    )
    segs = track_segments(
        proj, track_col="track", order_col="ord", x="x", y="y", h="h", t="ord",
        max_gap=None,
    )
    xo = crossover_join(segs, cell=20_000.0, track_col="track")
    return xo.select(
        "track1",
        "track2",
        F.round("x", 3).alias("x"),
        F.round("y", 3).alias("y"),
        F.round(F.col("h_2") - F.col("h_1"), 6).alias("h_x"),
        F.round(F.col("t_2") - F.col("t_1"), 6).alias("t_d"),
    )


# --- J4: column-wise positional concat (extraload.py:109-117) ---------
@register(
    "positional_concat",
    """
    WITH a AS (SELECT row_number() OVER (ORDER BY n_name) AS idx,
                      n_name AS name_alpha FROM nation),
         b AS (SELECT row_number() OVER (ORDER BY n_nationkey) AS idx,
                      n_name AS name_bykey, n_regionkey FROM nation)
    SELECT a.idx, name_alpha, name_bykey, n_regionkey
    FROM a JOIN b ON a.idx = b.idx
    """,
)
def q_positional_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zip two same-length column sets by row position (the reference's
    dask column-concat at ingest). Row index = a scalable zipWithIndex
    over an explicit total order (range buckets + local row_number +
    broadcast offsets — operators/scale.positional_index), replacing
    the round-1 single-partition Window (VERDICT r6 task 6)."""
    from deepicedrain_spark.operators.scale import positional_index

    nation = load_table(spark, sf_dir, "nation")
    a = positional_index(
        nation.select(F.col("n_name").alias("name_alpha")), ["name_alpha"]
    )
    b = positional_index(
        nation.select(F.col("n_nationkey").alias("_k"), F.col("n_name").alias("name_bykey"), "n_regionkey"),
        ["_k"],
    ).drop("_k")
    return a.join(b, "idx").select("idx", "name_alpha", "name_bykey", "n_regionkey")


# --- F9: replace-to-null + conditional mask (atlxi_lake.py:239,273) ---
@register(
    "replace_mask",
    """
    SELECT CASE WHEN l_linestatus = 'F' THEN NULL ELSE l_linestatus END
             AS status_replaced,
           count(*) AS n,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN NULL
                         ELSE CAST(l_quantity AS DECIMAL(18,2)) END)
                AS DOUBLE) AS sum_qty_masked
    FROM lineitem GROUP BY 1
    """,
)
def q_replace_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.functions.strings import replace_value

    li = load_table(spark, sf_dir, "lineitem")
    masked = F.when(
        F.col("l_returnflag") == "R", F.lit(None)
    ).otherwise(F.col("l_quantity").cast("decimal(18,2)"))
    return (
        li.select(
            replace_value(F.col("l_linestatus"), "F").alias("status_replaced"),
            masked.alias("qty_masked"),
        )
        .groupBy("status_replaced")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qty_masked").cast("double").alias("sum_qty_masked"),
        )
    )


# --- S8+S9: TSV sink → CSV scan round-trip (lake_algorithms.py:219-225,
# atl06_to_atl11.py:258-261). The query WRITES the aggregate through the
# TSV sink and returns the re-scanned rows, so the driver's value hash
# certifies sink/scan fidelity (separators, header, decimal text forms).
@register(
    "tsv_roundtrip",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY 1, 2
    """,
)
def q_tsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.io import read_csv, write_tsv

    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )
    path = scratch_path(sf_dir, "tsv_roundtrip")
    write_tsv(agg, path)
    back = read_csv(
        spark,
        path,
        {
            "l_returnflag": "string",
            "l_linestatus": "string",
            "sum_qty": "decimal(28,2)",
            "n": "bigint",
        },
        sep="\t",
        null_value="NaN",
    )
    return back.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        "n",
    )


# --- S8-adjacent: JSONL sink + scan round-trip -------------------------
@register(
    "jsonl_roundtrip",
    """
    SELECT doc_id, lang, source,
           CAST(n_chars AS BIGINT) AS n_chars,
           md5(text) AS text_md5
    FROM documents
    ORDER BY doc_id
    """,
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL (one JSON object per line) sink + scan: the interchange
    format LLM data pipelines actually ship (HF datasets, Dolma, C4
    dumps).  Writes the documents table as JSON lines, reads it back
    with an EXPLICIT schema (inference on a 100 TB dump is a full
    extra pass), and proves value fidelity by emitting per-row
    checksums the oracle computes from the source table directly —
    JSON string escaping must round-trip the text byte-exactly for
    the md5s to match."""
    docs = load_table(spark, sf_dir, "documents")
    path = scratch_path(sf_dir, "jsonl_roundtrip")
    docs.write.mode("overwrite").json(path)
    back = spark.read.schema(docs.schema).json(path)
    return back.select(
        "doc_id",
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    ).orderBy("doc_id")


# --- S2: partitioned parquet sink round-trip (extraload.py:54-128) ----
@register(
    "parquet_roundtrip",
    """
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders GROUP BY 1, 2
    """,
)
def q_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write partitioned by o_orderpriority (partition pruning on
    re-read — the 100 TB layout), scan it back, return the rows."""
    from deepicedrain_spark.io import write_parquet

    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sum_price"),
    )
    path = scratch_path(sf_dir, "parquet_roundtrip")
    write_parquet(agg, path, partition_by=["o_orderpriority"])
    back = spark.read.parquet(path)
    return back.select(
        "o_orderpriority",
        "o_orderstatus",
        "n",
        F.col("sum_price").cast("double").alias("sum_price"),
    )


# --- skew-salted aggregation (scale operator, 100 TB surface) --------
# The salted two-phase plan must be RESULT-identical to a plain
# GROUP BY; sums run on exact long cents so the recombination is
# order-insensitive and the oracle hash matches bit-for-bit.
@register(
    "salted_skew_counts",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0
                 / count(*), 6) AS avg_value,
           min(CAST(round(value * 100) AS BIGINT)) AS min_cents,
           max(CAST(round(value * 100) AS BIGINT)) AS max_cents
    FROM events GROUP BY event_type
    """,
)
def q_salted_skew_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed groupBy via operators.scale.salted_aggregate: phase 1
    spreads each key over 16 salt reducers, phase 2 recombines the
    algebraic partials — a straggler-proof shape for hot keys that AQE
    cannot fix (AQE splits skewed JOIN partitions, not aggregations)."""
    from deepicedrain_spark.operators.scale import salted_aggregate

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    agg = salted_aggregate(
        ev, ["event_type"], {"c": ["sum", "count", "min", "max"]}, salt_buckets=16
    )
    return agg.select(
        "event_type",
        F.col("count_c").alias("n"),
        F.col("sum_c").alias("sum_cents"),
        F.round(F.col("sum_c") / F.lit(100.0) / F.col("count_c"), 6).alias("avg_value"),
        F.col("min_c").alias("min_cents"),
        F.col("max_c").alias("max_cents"),
    )


# --- batch sessionization (gap-based, batch parity with streaming
# session windows). Ties: events sharing a timestamp sort arbitrarily
# within the window, but session BOUNDARIES depend only on distinct
# time values, so per-session aggregates keyed by (user, session) are
# deterministic; the oracle replays the same lag-over-time logic.
@register(
    "session_batch",
    """
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS t FROM events),
    flagged AS (
      SELECT user_id, t,
             CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                       >= 1800000000
                  OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                  THEN 1 ELSE 0 END AS s
      FROM ev),
    sess AS (
      SELECT user_id, t,
             CAST(sum(s) OVER (PARTITION BY user_id ORDER BY t
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged)
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(t) AS t_start,
           max(t) AS t_end
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", _ts_us().alias("t"))
    sess = win_ops.sessionize(ev, ["user_id"], "t", gap=1_800_000_000)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("t").alias("t_start"),
        F.max("t").alias("t_end"),
    )


# --- multi-resolution rollup (hypertable-style continuous aggregate:
# per (type, hour), per type, grand total in ONE pass via ROLLUP —
# Catalyst expands grouping sets without rescanning the input)
@register(
    "time_rollup",
    """
    SELECT event_type,
           (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(grouping(event_type) AS INT) * 2
             + CAST(grouping((epoch_us(ts) // 3600000000) * 3600000000) AS INT)
             AS grouping_level
    FROM events
    GROUP BY ROLLUP (event_type, hour_us)
    """,
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        ((_ts_us() / F.lit(3_600_000_000)).cast("long") * F.lit(3_600_000_000)).alias(
            "hour_us"
        ),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    return ev.rollup("event_type", "hour_us").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sum_cents"),
        (
            F.grouping("event_type").cast("int") * F.lit(2)
            + F.grouping("hour_us").cast("int")
        ).alias("grouping_level"),
    )


# --- spatiotemporal cube: one grid per stacking key (reference
# spatiotemporal_cube at spatiotemporal.py:310-477 stacks a per-cycle
# grid sequence into a (cycle, y, x) cube; label is the stacking
# dimension here). Grid = block median per cell, exactly the
# blockmedian pre-pass the reference feeds its surface fit.
@register(
    "raster_cube",
    """
    SELECT label,
           CAST(floor((CAST(embedding[1] AS DOUBLE) - (-0.5)) / 0.25) AS BIGINT) AS cx,
           CAST(floor((CAST(embedding[2] AS DOUBLE) - (-0.5)) / 0.25) AS BIGINT) AS cy,
           count(*) AS n,
           round(quantile_cont(CAST(embedding[3] AS DOUBLE), 0.5), 6) AS z_med
    FROM embeddings GROUP BY 1, 2, 3
    """,
)
def q_raster_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "label",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
        F.element_at("embedding", 3).cast("double").alias("z"),
    )
    cell = lambda c: F.floor((F.col(c) - F.lit(-0.5)) / F.lit(0.25)).cast("long")  # noqa: E731
    return (
        pts.groupBy("label", cell("x").alias("cx"), cell("y").alias("cy"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(z, 0.5)"), 6).alias("z_med"),
        )
    )


# S5 — NetCDF cube sink + scan, LIVE (atlxi_lake.py:428 to_netcdf;
# spatiotemporal.py:443-449 stacks per-cycle grids into a cube). The
# raster aggregate's sparse cells densify into a (cycle, y, x) CDF-1
# cube written byte-for-byte by the pure-numpy writer, then scan back
# to the non-empty cells — oracle identical to raster_cube because the
# cube round trip must be the identity on stored values (count var is
# the emptiness mask, so no fill sentinel can collide with data).
# Cubes are aggregated grids (tiny vs the point cloud), so the
# single-file sink collects cells like the single-file GeoJSON writer.
@register(
    "netcdf_roundtrip",
    """
    SELECT CAST(label AS INTEGER) AS label,
           CAST(floor((CAST(embedding[1] AS DOUBLE) - (-0.5)) / 0.25) AS BIGINT) AS cx,
           CAST(floor((CAST(embedding[2] AS DOUBLE) - (-0.5)) / 0.25) AS BIGINT) AS cy,
           count(*) AS n,
           round(quantile_cont(CAST(embedding[3] AS DOUBLE), 0.5), 6) AS z_med
    FROM embeddings GROUP BY 1, 2, 3
    """,
)
def q_netcdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.sources.netcdf import read_cube, write_cube

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("label").cast("int").alias("label"),
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
        F.element_at("embedding", 3).cast("double").alias("z"),
    )
    cell = lambda c: F.floor((F.col(c) - F.lit(-0.5)) / F.lit(0.25)).cast("long")  # noqa: E731
    cells = pts.groupBy("label", cell("x").alias("cx"), cell("y").alias("cy")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(z, 0.5)"), 6).alias("z_med"),
    )
    path = scratch_path(sf_dir, "netcdf_roundtrip.nc")
    write_cube(path, cells, "label", "cx", "cy", {"n": "n", "z_med": "z_med"})
    # round 8 (VERDICT r7 task 6): the same cube as CDF-5 (64-bit
    # counts/sizes — the pnetcdf variant for int64 vars and >4 GiB
    # cubes). Byte-level header checks here; the returned frame reads
    # the CDF-5 file, so the driver's oracle gates the 64-bit decode.
    path5 = scratch_path(sf_dir, "netcdf_roundtrip_v5.nc")
    write_cube(
        path5, cells, "label", "cx", "cy", {"n": "n", "z_med": "z_med"}, version=5
    )
    with open(path5, "rb") as fh:
        magic = fh.read(8)
    if magic[:4] != b"CDF\x05":
        raise AssertionError(f"CDF-5 magic expected, got {magic[:4]!r}")
    with open(path, "rb") as fh:
        if fh.read(4) != b"CDF\x01":
            raise AssertionError("CDF-1 magic expected on the v1 file")
    back = read_cube(spark, path5, ["n", "z_med"])
    return back.select(
        F.col("cycle").cast("int").alias("label"),
        "cx",
        "cy",
        F.col("n").cast("long").alias("n"),
        "z_med",
    )


# --- S6/S7 vector IO roundtrip: hulls → geojsonl sink → scan back ----
# The sink serializes each hull ring as a GeoJSON Feature (to_json of
# doubles is shortest-roundtrip, so the re-read ring is bit-identical)
# and the re-scan recomputes vertex count + shoelace area from the
# ring that survived the roundtrip. Oracle = the convex-hull oracle
# (roundtrip is identity), reused verbatim from the registry.
def _register_geojson_roundtrip():
    from deepicedrain_spark.suite import REGISTRY

    hull_oracle = REGISTRY["convex_hull_per_label"].sql

    @register("geojson_roundtrip", hull_oracle)
    def q_geojson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        from deepicedrain_spark.sources.geojson import write_geojsonl

        emb = load_table(spark, sf_dir, "embeddings")
        pts = emb.select(
            "label",
            F.element_at("embedding", 1).cast("double").alias("x"),
            F.element_at("embedding", 2).cast("double").alias("y"),
        )
        hulls = convex_hulls(pts, ["label"])
        path = scratch_path(sf_dir, "geojson_roundtrip")
        write_geojsonl(hulls, "hull", ["label"], path)
        feats = spark.read.json(path)
        ring = F.expr(
            "transform(geometry.coordinates[0], "
            "p -> struct(p[0] as x, p[1] as y))"
        )
        # spark.read.json infers long; restore the source int32 label so
        # the roundtrip schema (and the driver's type-sensitive hash)
        # matches the parquet original.
        back = feats.select(
            F.col("properties.label").cast("int").alias("label"), ring.alias("hull")
        )
        return back.select(
            "label",
            (F.size("hull") - 1).alias("hull_vertices"),
            F.round(ring_area("hull"), 6).alias("hull_area"),
        )

    return q_geojson_roundtrip


q_geojson_roundtrip = _register_geojson_roundtrip()


# --- J3 support: great-circle track densification ----------------------
# Curved-track robustness for the crossover join: the reference's
# x2sys operates on geographic tracks whose inter-point gaps follow
# great circles; densifying to a max arc length before the straight-
# segment solve bounds the curvature error (ICESAT2.tag -Wd gap rule).
# Both engines run the identical slerp trig, so outputs compare at
# round-6.
@register(
    "track_densify_greatcircle",
    """
    WITH base AS (
      SELECT user_id % 3 AS track,
             row_number() OVER (PARTITION BY user_id % 3
                                ORDER BY ts, event_id) AS rn0,
             value AS h
      FROM events),
    pts AS (
      SELECT track, CAST(rn0 AS DOUBLE) AS rn,
             -60.0 + CAST(rn0 AS DOUBLE) * 0.4 AS lon,
             -71.5 + CAST(track AS DOUBLE) * 0.8 AS lat, h
      FROM base WHERE rn0 <= 30),
    pairs AS (
      SELECT track, rn, lon AS lon1, lat AS lat1, h AS h1,
             lead(lon) OVER w AS lon2, lead(lat) OVER w AS lat2,
             lead(h) OVER w AS h2
      FROM pts WINDOW w AS (PARTITION BY track ORDER BY rn)),
    prep AS (
      SELECT track, rn, lon1, lat1, h1,
             lon2 IS NULL AS last_pt,
             coalesce(lon2, lon1) AS lon2, coalesce(lat2, lat1) AS lat2,
             coalesce(h2, h1) AS h2
      FROM pairs),
    vec AS (
      SELECT *,
        cos(radians(lat1))*cos(radians(lon1)) AS ax,
        cos(radians(lat1))*sin(radians(lon1)) AS ay,
        sin(radians(lat1)) AS az,
        cos(radians(lat2))*cos(radians(lon2)) AS bx,
        cos(radians(lat2))*sin(radians(lon2)) AS by,
        sin(radians(lat2)) AS bz
      FROM prep),
    om AS (
      SELECT *, acos(least(greatest(ax*bx+ay*by+az*bz, -1.0), 1.0)) AS omega
      FROM vec),
    nn AS (
      SELECT *, CASE WHEN last_pt OR omega * 6371008.8 <= 5000.0 THEN 1
                     ELSE CAST(ceil(omega * 6371008.8 / 5000.0) AS INT) END AS n
      FROM om),
    ex AS (SELECT *, unnest(range(0, n)) AS i FROM nn),
    kk AS (
      SELECT *, CAST(i AS DOUBLE)/CAST(n AS DOUBLE) AS f,
        CASE WHEN i = 0 OR omega < 1e-12 THEN 1.0
             ELSE sin((1.0 - CAST(i AS DOUBLE)/CAST(n AS DOUBLE))*omega)/sin(omega)
        END AS k1,
        CASE WHEN i = 0 OR omega < 1e-12 THEN 0.0
             ELSE sin((CAST(i AS DOUBLE)/CAST(n AS DOUBLE))*omega)/sin(omega)
        END AS k2
      FROM ex)
    SELECT track, rn, CAST(i AS INT) AS i,
           round(CASE WHEN i = 0 THEN lon1
                      ELSE degrees(atan2(k1*ay+k2*by, k1*ax+k2*bx)) END, 6) AS lon,
           round(CASE WHEN i = 0 THEN lat1
                      ELSE degrees(atan2(k1*az+k2*bz,
                           sqrt((k1*ax+k2*bx)*(k1*ax+k2*bx)
                                + (k1*ay+k2*by)*(k1*ay+k2*by)))) END, 6) AS lat,
           round(h1 + f*(h2-h1), 6) AS h
    FROM kk
    """,
)
def q_track_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.crossover import densify_track_greatcircle

    ev = load_table(spark, sf_dir, "events")
    wn = Window.partitionBy("tid").orderBy("ts", "event_id")
    base = ev.select(
        (F.col("user_id") % 3).alias("tid"), "event_id", "ts",
        F.col("value").alias("h"),
    ).withColumn("rn", F.row_number().over(wn).cast("double"))
    pts = base.filter(F.col("rn") <= 30).select(
        "tid",
        "rn",
        (F.lit(-60.0) + F.col("rn") * 0.4).alias("lon"),
        (F.lit(-71.5) + F.col("tid").cast("double") * 0.8).alias("lat"),
        "h",
    )
    out = densify_track_greatcircle(
        pts, track_col="tid", order_col="rn", max_seg_m=5000.0
    )
    return out.select(
        "track",
        "rn",
        "i",
        F.round("lon", 6).alias("lon"),
        F.round("lat", 6).alias("lat"),
        F.round("h", 6).alias("h"),
    )


# --- as-of (point-in-time) join: extension op Spark lacks natively ----
# Each click gets the user's most recent purchase at-or-before it,
# within a 2-day tolerance. The oracle is DuckDB's native ASOF JOIN;
# the Spark side is operators/asof.py's union+window formulation (one
# shuffle, no join state — see that module's 100 TB notes).
_ASOF_TOL_US = 2 * 86_400_000_000


@register(
    "asof_last_purchase",
    f"""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, epoch_us(ts) AS t_us
      FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, epoch_us(ts) AS p_us, max(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
    SELECT c.user_id, c.click_id, c.t_us,
           CASE WHEN c.t_us - p.p_us <= {_ASOF_TOL_US}
                THEN p.purchase_value END AS purchase_value,
           CASE WHEN c.t_us - p.p_us <= {_ASOF_TOL_US}
                THEN p.p_us END AS purchase_t_us
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.t_us >= p.p_us
    """,
)
def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), _ts_us().alias("t_us")
    )
    # pre-aggregate the right side so equal-instant duplicates cannot
    # make the match nondeterministic (same dedup in the oracle)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", _ts_us().alias("p_us"))
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join_backward(
        clicks,
        purchases,
        key_cols=["user_id"],
        left_time="t_us",
        right_time="p_us",
        value_cols=["purchase_value"],
        tolerance=_ASOF_TOL_US,
        matched_time_alias="purchase_t_us",
    )


# --- range (interval) join: the other temporal join Spark lacks ------
# Attribution shape: every click inside a purchase's 24 h window. The
# oracle is the plain inequality join; the Spark side is the binned
# equi-join strategy (operators/rangejoin.py — exploded interval bins,
# one shuffle per side, AQE-splittable skew), which is what survives
# when neither side broadcasts at cluster scale.
_ATTR_WIN_US = 24 * 3_600_000_000


@register(
    "range_join_attribution",
    f"""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, epoch_us(ts) AS t_us
      FROM events WHERE event_type = 'click'),
    win AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS s_us,
             epoch_us(ts) + {_ATTR_WIN_US} AS e_us
      FROM events WHERE event_type = 'purchase')
    SELECT c.user_id, c.click_id, c.t_us, w.purchase_id, w.s_us, w.e_us
    FROM clicks c JOIN win w
      ON c.user_id = w.user_id AND c.t_us BETWEEN w.s_us AND w.e_us
    """,
)
def q_range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.rangejoin import interval_join_binned

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), _ts_us().alias("t_us")
    )
    windows = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        _ts_us().alias("s_us"),
        (_ts_us() + F.lit(_ATTR_WIN_US)).alias("e_us"),
    )
    return interval_join_binned(
        clicks,
        windows,
        key_cols=["user_id"],
        point_time="t_us",
        start_col="s_us",
        end_col="e_us",
    )


# --- TPC-H Q3 shape: top-k unshipped-order revenue (generic SQL surface)
@register(
    "shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue,
           epoch_us(o.o_orderdate) AS orderdate_us,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp_ntz(F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp_ntz(F.lit("1998-01-01"))
    )
    # exact decimal revenue (sum order never matters), tie-broken top-k
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("double")
    from deepicedrain_spark.functions.timeutils import ntz_epoch_us

    return (
        li.join(orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
                .select("o_orderkey", "o_orderdate", "o_orderpriority"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            ntz_epoch_us(F.col("o_orderdate")).alias("orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --- TPC-H Q18 shape: customers with very large orders -----------------
@register(
    "large_order_customers",
    """
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 220)
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           epoch_us(o.o_orderdate) AS orderdate_us,
           o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.functions.timeutils import ntz_epoch_us

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # l_quantity is an integral double (1..50): plain sum is exact
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 220)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            ntz_epoch_us(F.col("o_orderdate")).alias("orderdate_us"),
            "o_totalprice",
            "sum_qty",
        )
    )


# --- scale-path variants of J1 and M1 ---------------------------------
# The same semantics as `point_in_polygon` / `dbscan_clusters`, through
# the operators built for clouds too big for a broadcast nested loop /
# a single task: grid-cell equi-join PIP and block+halo distributed
# DBSCAN. Exercising them under the driver oracle proves the scale
# paths return the SAME answers as the small-data paths.
@register(
    "point_in_polygon_gridded",
    f"""
    WITH pts AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    edges(poly_id, xa, ya, xb, yb) AS (VALUES
       {_edges_values()}),
    par AS (
      SELECT p.vec_id, e.poly_id, count(*) AS c
      FROM pts p JOIN edges e
        ON ((e.yb > p.y) <> (e.ya > p.y))
       AND (p.x < (e.xa - e.xb) * (p.y - e.yb) / (e.ya - e.yb) + e.xb)
      GROUP BY 1, 2)
    SELECT vec_id, poly_id FROM par WHERE c % 2 = 1
    """,
)
def q_point_in_polygon_gridded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.spatial import point_in_polygon_gridded

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    polys = polygons_df(spark, PIP_POLYGONS)
    return point_in_polygon_gridded(pts, polys, cell=0.25).select("vec_id", "poly_id")


# DBSCAN cluster IDs depend on scan order for contested border points,
# but three aggregates are scan-order-INVARIANT (a point is clustered
# iff core or within eps of a core; components are core-connectivity):
# cluster count, clustered-point count, noise count — so the block+halo
# distributed path can be value-checked against the same recursive-CTE
# oracle as the single-task path.
@register(
    "dbscan_distributed_summary",
    """
    WITH pts AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    ord AS (
      SELECT vec_id, x, y, row_number() OVER (ORDER BY x, y) AS rid FROM pts),
    nbr AS (
      SELECT a.rid AS ia, b.rid AS ib
      FROM ord a JOIN ord b
        ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 0.05*0.05),
    core AS (
      SELECT ia AS rid FROM nbr GROUP BY ia HAVING count(*) >= 5),
    cedge AS (
      SELECT n.ia, n.ib FROM nbr n
      JOIN core c1 ON n.ia = c1.rid
      JOIN core c2 ON n.ib = c2.rid),
    reach AS (
      WITH RECURSIVE r(src, v) AS (
        SELECT rid, rid FROM core
        UNION
        SELECT r.src, e.ib FROM r JOIN cedge e ON e.ia = r.v)
      SELECT src AS rid, min(v) AS root FROM r GROUP BY src),
    border AS (
      SELECT DISTINCT n.ia AS rid
      FROM nbr n
      JOIN reach c ON n.ib = c.rid
      LEFT JOIN core k ON n.ia = k.rid
      WHERE k.rid IS NULL),
    stats AS (
      SELECT (SELECT count(DISTINCT root) FROM reach) AS n_clusters,
             (SELECT count(*) FROM reach) + (SELECT count(*) FROM border) AS n_clustered,
             (SELECT count(*) FROM ord) AS n_total)
    SELECT CAST(n_clusters AS BIGINT) AS n_clusters,
           CAST(n_clustered AS BIGINT) AS n_clustered,
           CAST(n_total - n_clustered AS BIGINT) AS n_noise
    FROM stats
    """,
)
def q_dbscan_distributed_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.clustering import dbscan_distributed

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("point_id"),
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    labeled = dbscan_distributed(
        pts, ["x", "y"], eps=0.05, min_samples=5, block_cells=4
    )
    return labeled.agg(
        F.count_distinct("cluster_id").alias("n_clusters"),
        F.count("cluster_id").alias("n_clustered"),
        F.sum(F.when(F.col("cluster_id").isNull(), 1).otherwise(0)).alias("n_noise"),
    )


# --- S3/S4: Zarr sink → scan roundtrip --------------------------------
# The reference's canonical store is per-track Zarr
# (atl06_to_atl11.py:299-303); this engine treats parquet as primary
# but ships a distributed pure-numpy Zarr v2 source/sink
# (sources/zarr.py). The query writes a numeric projection of events
# to a Zarr group, reads it back chunk-parallel, and aggregates — the
# oracle aggregates the original table, so any loss in the store (row
# loss, dtype corruption, chunk misalignment) breaks the match.
@register(
    "zarr_roundtrip",
    """
    SELECT user_id,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           min(epoch_us(ts)) AS first_us
    FROM events GROUP BY user_id
    """,
)
def q_zarr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.sources.zarr import read_zarr, write_zarr

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "value", _ts_us().alias("t_us")
    )
    path = scratch_path(sf_dir, "zarr_roundtrip")
    write_zarr(ev, path, chunk_rows=4096)
    back = read_zarr(spark, path)
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        F.min("t_us").alias("first_us"),
    )


# S11 — named-source catalog (round 3): intake-style parameterized
# sources (atlas_catalog.yaml; deepicedrain/__init__.py:31-37 consumes
# catalog.icesat2dhdt(placename=...)). The query resolves two
# parameterized path templates through the Catalog shim — one with a
# default, one requiring a parameter — and joins them, proving name →
# (driver, formatted path) → DataFrame end-to-end.
@register(
    "catalog_named_source",
    """
    SELECT n.n_name,
           count(*) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_catalog_named_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.catalog import Catalog

    cat = Catalog.from_dict(
        {
            "sources": {
                "customers": {
                    "driver": "parquet",
                    "parameters": {"sf_dir": {"default": sf_dir}},
                    "args": {"urlpath": "{sf_dir}/customer.parquet"},
                },
                "dim_table": {
                    "driver": "parquet",
                    "parameters": {
                        "sf_dir": {"default": sf_dir},
                        "table": {"default": None},
                    },
                    "args": {"urlpath": "{sf_dir}/{table}.parquet"},
                },
            }
        }
    )
    cust = cat.customers(spark)
    nation = cat.read(spark, "dim_table", table="nation")
    return (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        )
    )


# S3 — HDF5 scan AND distributed sink, LIVE (atl06_to_atl11.py:171-196
# reads per-beam ATL06 HDF5 groups; atl06_play.py:318-327 walks the
# same layout; atlxi_dhdt.py:73-82 is the file-per-track store layout).
# Round-trip through REAL multi-granule HDF5: events shuffle once on a
# granule key, each granule is written chunked+gzip ON AN EXECUTOR
# (write_hdf5_partitioned — no driver-side fact-table collect, VERDICT
# r4 task 4), then the multi-file chunk-stripe scan reads everything
# back and aggregates. Values must survive the byte-level format round
# trip exactly for the oracle to hash-match.
@register(
    "hdf5_roundtrip",
    """
    SELECT user_id,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           min(epoch_us(ts)) AS first_us
    FROM events GROUP BY user_id
    """,
)
def q_hdf5_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from deepicedrain_spark.sources.hdf5 import (
        read_hdf5_dir,
        write_hdf5_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "value",
        _ts_us().alias("t_us"),
        F.pmod("user_id", F.lit(8)).alias("rgt"),
    )
    out_dir = scratch_path(sf_dir, "hdf5_granules")

    # write-once fixture (r12; the synth_once class bench.py already
    # lists this query under): the granule set is a pure function of
    # the events table, so re-encoding 8 gzip'd granules per run
    # measured the WRITER on every bench pass; the round trip is
    # certified by the oracle hash on the read-back either way.
    def _make(tmp: str) -> None:
        manifest = write_hdf5_partitioned(
            ev,
            tmp,
            "gt1l/land_ice_segments",
            key_col="rgt",
            columns=["user_id", "value", "t_us"],
            chunk_rows=4096,
            gzip=4,
            shuffle=True,
        )
        n_granules = manifest.count()  # forces the distributed write
        if n_granules != 8:
            raise RuntimeError(f"hdf5_roundtrip: expected 8 granules, wrote {n_granules}")

    synth_once(out_dir, _make, token=source_token(sf_dir, "events", "h5rt-v1"))
    back = read_hdf5_dir(
        spark,
        out_dir,
        "gt1l/land_ice_segments",
        ["user_id", "value", "t_us"],
        chunk_rows=4096,
    )
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        F.min("t_us").alias("first_us"),
    )


# S3 missing-beam/missing-dataset union (round 11): real ICESat-2
# archives are HETEROGENEOUS — a granule can lack a dataset (optional
# products) or a whole beam group (beam off / no land-ice segments),
# and the reference's per-beam loops simply skip what's absent
# (atl06_play.py:318-327). read_hdf5_dir(missing_ok=True) is that
# semantics as one scan: granule g1 lacks the t dataset (column
# null-fills for its rows, metadata-driven), granule g2 lacks the
# requested beam group entirely (contributes zero rows). Values are
# closed-form so the oracle recomputes every row without a parser;
# count(t) distinguishing the granules proves absent reads as NULL.
@register(
    "hdf5_missing_beam_union",
    """
    WITH rows AS (
      SELECT g.g, i.i FROM (VALUES (0),(1)) g(g),
           (SELECT unnest(range(0, 2000)) AS i) i),
    named AS (
      SELECT concat('g', CAST(g AS VARCHAR), '.h5') AS granule,
             ((i * 7 + g * 13) % 1000) * 0.5 AS val,
             CASE WHEN g = 0 THEN i + g * 100000 END AS t
      FROM rows)
    SELECT granule, count(*) AS n,
           CAST(sum(CAST(val AS DECIMAL(18,1))) AS DOUBLE) AS sum_val,
           CAST(count(t) AS BIGINT) AS n_t,
           min(t) AS min_t
    FROM named GROUP BY 1 ORDER BY 1
    """,
)
def q_hdf5_missing_beam_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from deepicedrain_spark.sources.hdf5 import read_hdf5_dir
    from deepicedrain_spark.sources.hdf5lite import write_hdf5

    n = 2000
    gdir = scratch_path(sf_dir, "granules_missing")
    os.makedirs(gdir, exist_ok=True)
    i = np.arange(n)
    specs = {
        # g0: full beam; g1: beam present, t dataset absent; g2: the
        # requested beam group absent entirely (only gt2l present)
        "g0.h5": {"gt1l/land_ice_segments": {
            "val": (((i * 7) % 1000) * 0.5).astype("f8"),
            "t": i.astype("i8")}},
        "g1.h5": {"gt1l/land_ice_segments": {
            "val": (((i * 7 + 13) % 1000) * 0.5).astype("f8")}},
        "g2.h5": {"gt2l/land_ice_segments": {
            "val": (((i * 7 + 26) % 1000) * 0.5).astype("f8"),
            "t": (i + 200000).astype("i8")}},
    }
    for fname, groups in specs.items():
        synth_once(
            os.path.join(gdir, fname),
            lambda p, groups=groups: write_hdf5(p, groups, chunk_rows=512),
        )
    back = read_hdf5_dir(
        spark,
        gdir,
        "gt1l/land_ice_segments",
        ["val", "t"],
        chunk_rows=512,
        granule_col="granule",
        missing_ok=True,
    )
    return (
        back.groupBy("granule")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast("decimal(18,1)")).cast("double").alias("sum_val"),
            F.count("t").alias("n_t"),
            F.min("t").alias("min_t"),
        )
        .orderBy("granule")
    )


# §3.1 front half — the ATL06 ingest pipeline over REAL granule bytes
# (round 3): three synthetic ATL06 granules (hdf5lite writer; filenames
# carry rgt+cycle exactly like the reference's reverse_format parse at
# atlxi_dhdt.py:65-70) × six beams, scanned chunk-parallel, identity
# columns attached, quality == 0 mask applied, unioned — the plan of
# atl06_to_atl11.py:171-196. Dataset values are closed-form (h_li in
# exact f32 halves), so the oracle recomputes every surviving row
# WITHOUT an HDF5 parser: a mismatch anywhere in write→scan→mask→union
# breaks the hash.
@register(
    "atl06_ingest_pipeline",
    """
    WITH rows AS (
      SELECT g.g, b.j, i.i FROM (VALUES (0),(1),(2)) g(g),
           (VALUES (0),(1),(2),(3),(4),(5)) b(j),
           (SELECT unnest(range(0, 2000)) AS i) i),
    kept AS (SELECT * FROM rows WHERE (i + g + j) % 3 = 0),
    named AS (
      SELECT CAST(1000 + g AS INTEGER) AS referencegroundtrack,
             CAST(3 + g AS INTEGER) AS cycle_number,
             ['gt1l','gt1r','gt2l','gt2r','gt3l','gt3r'][j + 1] AS beam,
             ((i * 7 + g * 13 + j * 3) % 1000) * 0.5 - 30.0 AS h_li
      FROM kept)
    SELECT referencegroundtrack, cycle_number, beam,
           count(*) AS n,
           CAST(sum(CAST(h_li AS DECIMAL(18,1))) AS DOUBLE) AS sum_h,
           CAST(min(h_li) AS DOUBLE) AS min_h
    FROM named GROUP BY 1, 2, 3
    """,
)
def q_atl06_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from deepicedrain_spark.plans.ingest import BEAMS, ingest_atl06
    from deepicedrain_spark.sources.hdf5lite import write_hdf5

    n = 2000
    gdir = scratch_path(sf_dir, "granules_synth")
    os.makedirs(gdir, exist_ok=True)
    paths = []
    for g in range(3):
        # reference granule naming: ATL06_<rgt:04d><cycle:02d>_...
        path = f"{gdir}/ATL06_{1000 + g:04d}{3 + g:02d}_spark_graft_synth.h5"
        groups = {}
        i = np.arange(n)
        for j, beam in enumerate(BEAMS):
            groups[f"{beam}/land_ice_segments"] = {
                "latitude": -80.0 + i * 1e-4 + g,
                "longitude": 100.0 + i * 1e-4 + j,
                "h_li": (((i * 7 + g * 13 + j * 3) % 1000) * 0.5 - 30.0).astype("f4"),
                "h_li_sigma": np.full(n, 0.25, dtype="f4"),
                "atl06_quality_summary": ((i + g + j) % 3).astype("u1"),
                "delta_time": i.astype("f8") * 0.1,
                "segment_id": i.astype("i8"),
            }
        synth_once(
            path,
            lambda p, groups=groups: write_hdf5(
                p, groups, chunk_rows=512, gzip=2, shuffle=True
            ),
        )
        paths.append(path)
    df = ingest_atl06(spark, paths, chunk_rows=512)
    return df.groupBy("referencegroundtrack", "cycle_number", "beam").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h_li").cast("double").cast("decimal(18,1)"))
        .cast("double")
        .alias("sum_h"),
        F.min("h_li").cast("double").alias("min_h"),
    )


# §3.1 WHOLE program on real granule bytes (round 3): repeat-cycle
# ATL06 granules (same rgt, cycles 3-5) → distributed HDF5 scans →
# quality mask → union → long-format per-(beam, segment) dhdt
# regression — the reference's atlxi_dhdt.py flow rooted at its true
# input format instead of pre-staged parquet. h_li values are exact
# f32 quarters and t = cycle number exactly, so regr_* over the
# surviving (segment, cycle) points is closed-form recomputable;
# planted slope = ((i mod 7) − 3)/4 m/cycle.
@register(
    "atl06_dhdt_end_to_end",
    """
    WITH rows AS (
      SELECT b.j, i.i, c.c
      FROM (VALUES (0),(1)) b(j),
           (SELECT unnest(range(0, 1500)) AS i) i,
           (VALUES (3),(4),(5)) c(c)),
    kept AS (SELECT * FROM rows WHERE (i + c) % 5 > 0),
    pts AS (
      SELECT ['gt1l','gt2r'][j + 1] AS beam,
             CAST(i AS BIGINT) AS segment_id,
             CAST(c AS DOUBLE) AS t,
             (i % 100) * 0.5 + (c - 3) * ((i % 7) - 3) * 0.25 + j AS h
      FROM kept)
    SELECT beam, segment_id,
           CAST(regr_count(h, t) AS BIGINT) AS n,
           round(regr_slope(h, t), 6) AS dhdt_slope,
           round(regr_intercept(h, t), 6) AS intercept
    FROM pts GROUP BY beam, segment_id
    HAVING regr_count(h, t) >= 2
    """,
)
def q_atl06_dhdt_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from deepicedrain_spark.operators.regression import linregress_aggs
    from deepicedrain_spark.plans.ingest import ingest_atl06
    from deepicedrain_spark.sources.hdf5lite import write_hdf5

    n = 1500
    beams = ("gt1l", "gt2r")
    gdir = scratch_path(sf_dir, "granules_dhdt")
    os.makedirs(gdir, exist_ok=True)
    paths = []
    for c in (3, 4, 5):
        path = f"{gdir}/ATL06_1234{c:02d}_spark_graft_dhdt.h5"
        i = np.arange(n)
        groups = {}
        for j, beam in enumerate(beams):
            groups[f"{beam}/land_ice_segments"] = {
                "latitude": -80.0 + i * 1e-4,
                "longitude": 100.0 + i * 1e-4,
                "h_li": ((i % 100) * 0.5 + (c - 3) * ((i % 7) - 3) * 0.25 + j).astype("f4"),
                "h_li_sigma": np.full(n, 0.2, dtype="f4"),
                # keep (i + c) % 5 > 0 → quality 0 on the kept rows
                "atl06_quality_summary": ((i + c) % 5 == 0).astype("u1"),
                "delta_time": np.full(n, float(c)),
                "segment_id": i.astype("i8"),
            }
        synth_once(
            path,
            lambda p, groups=groups: write_hdf5(p, groups, chunk_rows=512, gzip=2),
        )
        paths.append(path)
    pts = ingest_atl06(spark, paths, beams=beams, chunk_rows=512).select(
        "beam",
        "segment_id",
        F.col("delta_time").alias("t"),
        F.col("h_li").cast("double").alias("h"),
    )
    out = pts.groupBy("beam", "segment_id").agg(*linregress_aggs("h", "t"))
    return out.filter(F.col("n") >= 2).select(
        "beam",
        "segment_id",
        "n",
        F.round("slope", 6).alias("dhdt_slope"),
        F.round("intercept", 6).alias("intercept"),
    )


# --- §3.1 wide path: per-point regression with ZERO shuffles ----------
# The long-format flagship pays one exchange on the point key; when the
# data is already wide at rest (per-cycle suffixed columns, the
# reference's parquet layout at extraload.py:54-128), the same
# regression is a pure map: scan → per-row closed-form fit → sink, no
# Exchange anywhere (asserted in tests/test_plans.py). Setup
# materializes the wide table once (that pivot is the one-time ingest
# cost, not the query); both engines then run the identical fixed-order
# double arithmetic, so outputs are bit-comparable unrounded.
_WC = 6  # observations per point in the wide fixture


def _wide_fixture_sql(with_stats: bool) -> str:
    hs = ", ".join(
        f"max(CASE WHEN rn = {i} THEN h END) AS h_{i}, "
        f"max(CASE WHEN rn = {i} THEN t END) AS t_{i}"
        for i in range(1, _WC + 1)
    )
    n = " + ".join(f"(CASE WHEN h_{i} IS NOT NULL THEN 1 ELSE 0 END)" for i in range(1, _WC + 1))
    s_t = " + ".join(f"COALESCE(t_{i}, 0)" for i in range(1, _WC + 1))
    s_h = " + ".join(f"COALESCE(h_{i}, 0)" for i in range(1, _WC + 1))
    s_th = " + ".join(f"COALESCE(t_{i} * h_{i}, 0)" for i in range(1, _WC + 1))
    s_tt = " + ".join(f"COALESCE(t_{i} * t_{i}, 0)" for i in range(1, _WC + 1))
    return f"""
    WITH obs AS (
      SELECT user_id, value AS h,
             (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')) / 86400000000.0 AS t,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    wide AS (
      SELECT user_id, {hs} FROM obs WHERE rn <= {_WC} GROUP BY user_id),
    sums AS (
      SELECT user_id,
             CAST({n} AS BIGINT) AS n,
             CAST({s_t} AS DOUBLE) AS s_t, CAST({s_h} AS DOUBLE) AS s_h,
             CAST({s_th} AS DOUBLE) AS s_th, CAST({s_tt} AS DOUBLE) AS s_tt
      FROM wide)
    SELECT user_id, n,
           CASE WHEN n >= 2 AND n * s_tt - s_t * s_t != 0
                THEN (n * s_th - s_t * s_h) / (n * s_tt - s_t * s_t) END AS slope,
           CASE WHEN n >= 2 AND n * s_tt - s_t * s_t != 0
                THEN (s_h - (n * s_th - s_t * s_h) / (n * s_tt - s_t * s_t) * s_t) / n
                END AS intercept
    FROM sums
    """


@register("dhdt_wide_maponly", _wide_fixture_sql(True))
def q_dhdt_wide_maponly(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = build_wide_events(spark, sf_dir)
    path = scratch_path(sf_dir, "wide_events")
    wide.write.mode("overwrite").parquet(path)
    return wide_regression(spark.read.parquet(path))


def build_wide_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-time ingest pivot: first _WC observations per point into
    h_i/t_i suffixed columns (reference extraload.py:36-40 naming)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(_ts_us(), "event_id")
    obs = ev.select(
        "user_id",
        F.col("value").alias("h"),
        ((_ts_us() - F.lit(us_of("2024-01-01"))) / F.lit(86_400_000_000.0)).alias("t"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= _WC)
    aggs = []
    for i in range(1, _WC + 1):
        aggs.append(F.max(F.when(F.col("rn") == i, F.col("h"))).alias(f"h_{i}"))
        aggs.append(F.max(F.when(F.col("rn") == i, F.col("t"))).alias(f"t_{i}"))
    return obs.groupBy("user_id").agg(*aggs)


def wide_regression(wide: DataFrame) -> DataFrame:
    """Closed-form per-row least squares over suffixed cycle columns —
    the SHUFFLE-FREE wide path (map-only; fixed left-to-right term
    order so any engine reproduces the doubles exactly)."""
    def chain(terms):
        e = terms[0]
        for t in terms[1:]:
            e = e + t
        return e

    n = chain([F.when(F.col(f"h_{i}").isNotNull(), 1).otherwise(0) for i in range(1, _WC + 1)]).cast("long")
    s_t = chain([F.coalesce(F.col(f"t_{i}"), F.lit(0.0)) for i in range(1, _WC + 1)])
    s_h = chain([F.coalesce(F.col(f"h_{i}"), F.lit(0.0)) for i in range(1, _WC + 1)])
    s_th = chain([F.coalesce(F.col(f"t_{i}") * F.col(f"h_{i}"), F.lit(0.0)) for i in range(1, _WC + 1)])
    s_tt = chain([F.coalesce(F.col(f"t_{i}") * F.col(f"t_{i}"), F.lit(0.0)) for i in range(1, _WC + 1)])
    base = (
        wide.withColumn("n", n)
        .withColumn("s_t", s_t.cast("double"))
        .withColumn("s_h", s_h.cast("double"))
        .withColumn("s_th", s_th.cast("double"))
        .withColumn("s_tt", s_tt.cast("double"))
    )
    denom = F.col("n") * F.col("s_tt") - F.col("s_t") * F.col("s_t")
    ok = (F.col("n") >= 2) & (denom != 0)
    slope = (F.col("n") * F.col("s_th") - F.col("s_t") * F.col("s_h")) / denom
    return base.select(
        "user_id",
        "n",
        F.when(ok, slope).alias("slope"),
        F.when(ok, (F.col("s_h") - slope * F.col("s_t")) / F.col("n")).alias("intercept"),
    )


# --- reference published lake catalog round-trip (VERDICT r4 task 3) -
# The reference SHIPS its result: antarctic_subglacial_lakes_3031.geojson
# (193 features, written by atlxi_lake.py:304-310). Reading that file
# through the S6 GeoJSON scan and recomputing per-basin geometry with
# the A13 ring aggregates is free ground truth against the published
# catalog — both engines parse the same bytes and must agree on the
# shoelace areas and property roll-ups.
_LAKE_CATALOG_PATH = "/root/reference/antarctic_subglacial_lakes_3031.geojson"


@register(
    "reference_lake_catalog",
    f"""
    WITH feat AS (
      SELECT unnest(features) AS f
      FROM read_json_auto('{_LAKE_CATALOG_PATH}',
                          maximum_object_size=33554432)
    ),
    lakes AS (
      SELECT f.properties.basin_name AS basin_name,
             CAST(f.properties.num_points AS BIGINT) AS num_points,
             CAST(f.properties.mean_dhdt AS DOUBLE) AS mean_dhdt,
             f.geometry.coordinates[1] AS ring
      FROM feat
    ),
    areas AS (
      SELECT basin_name, num_points, mean_dhdt,
             abs(list_sum(list_transform(generate_series(1, len(ring) - 1),
                 i -> ring[i][1] * ring[i + 1][2]
                      - ring[i + 1][1] * ring[i][2]))) / 2 AS area_m2
      FROM lakes
    )
    SELECT basin_name,
           count(*) AS n_lakes,
           CAST(sum(num_points) AS BIGINT) AS total_points,
           round(sum(area_m2) / 1e6, 3) AS area_km2,
           round(avg(mean_dhdt), 6) AS mean_dhdt
    FROM areas GROUP BY basin_name ORDER BY basin_name
    """,
)
def q_reference_lake_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 scan of the reference's published lake layer + A13 shoelace
    area per lake, rolled up per drainage basin. The ring struct is
    rebuilt from the scan's (xs, ys) arrays so ring_area (the same HOF
    the lake pipeline uses) does the area math — Catalyst-only, no
    UDF, no driver geometry loop."""
    from deepicedrain_spark.operators.spatial import ring_area
    from deepicedrain_spark.sources.geojson import read_geojson_polygons

    df = read_geojson_polygons(spark, _LAKE_CATALOG_PATH, id_property="basin_name")
    per_lake = df.select(
        F.col("poly_id").alias("basin_name"),
        F.col("properties.num_points").cast("long").alias("num_points"),
        F.col("properties.mean_dhdt").cast("double").alias("mean_dhdt"),
        F.expr(
            "transform(arrays_zip(xs, ys), p -> struct(p.xs AS x, p.ys AS y))"
        ).alias("_ring"),
    ).withColumn("area_m2", ring_area("_ring"))
    return (
        per_lake.groupBy("basin_name")
        .agg(
            F.count(F.lit(1)).alias("n_lakes"),
            F.sum("num_points").alias("total_points"),
            F.round(F.sum("area_m2") / 1e6, 3).alias("area_km2"),
            F.round(F.avg("mean_dhdt"), 6).alias("mean_dhdt"),
        )
        .orderBy("basin_name")
    )


# S5 record-dimension variant (VERDICT r3 task 8): the same cube as
# netcdf_roundtrip, but the cycle axis is the UNLIMITED dimension and
# the file is grown cycle-by-cycle through append_records — the
# streaming-append shape for per-cycle grid stacking
# (spatiotemporal.py:443-449). Oracle identical to netcdf_roundtrip:
# a round trip (by whichever layout) is the identity on stored cells.
@register(
    "netcdf_record_append",
    """
    SELECT CAST(label AS INTEGER) AS label,
           CAST(floor((CAST(embedding[1] AS DOUBLE) - (-0.5)) / 0.25) AS BIGINT) AS cx,
           CAST(floor((CAST(embedding[2] AS DOUBLE) - (-0.5)) / 0.25) AS BIGINT) AS cy,
           count(*) AS n,
           round(quantile_cont(CAST(embedding[3] AS DOUBLE), 0.5), 6) AS z_med
    FROM embeddings GROUP BY 1, 2, 3
    """,
)
def q_netcdf_record_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.sources.netcdf import read_cube, write_cube

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("label").cast("int").alias("label"),
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
        F.element_at("embedding", 3).cast("double").alias("z"),
    )
    cell = lambda c: F.floor((F.col(c) - F.lit(-0.5)) / F.lit(0.25)).cast("long")  # noqa: E731
    cells = pts.groupBy("label", cell("x").alias("cx"), cell("y").alias("cy")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(z, 0.5)"), 6).alias("z_med"),
    )
    path = scratch_path(sf_dir, "netcdf_record_append.nc")
    write_cube(
        path, cells, "label", "cx", "cy", {"n": "n", "z_med": "z_med"}, record=True
    )
    back = read_cube(spark, path, ["n", "z_med"])
    return back.select(
        F.col("cycle").cast("int").alias("label"),
        "cx",
        "cy",
        F.col("n").cast("long").alias("n"),
        "z_med",
    )


# §3.1 dense-layout variant (round 4): the SAME ingest program over
# granules written in the NEW-style dense group layout (Link Info ->
# fractal heap + v2 B-tree) with a fixed-length string dataset in the
# group — the layout modern writers produce. The oracle recomputes the
# expected rows closed-form: any breakage in the dense-group walk,
# string datatype parse, or chunk decode breaks the hash. One granule
# and two beams keep it cheap; the symbol-table variant above covers
# the fan-out.
@register(
    "atl06_ingest_dense_layout",
    """
    WITH rows AS (
      SELECT b.j, i.i FROM (VALUES (0),(1)) b(j),
           (SELECT unnest(range(0, 1500)) AS i) i),
    kept AS (SELECT * FROM rows WHERE (i + j) % 4 <> 0),
    named AS (
      SELECT ['gt1l','gt2r'][j + 1] AS beam,
             ((i * 11 + j * 5) % 800) * 0.25 - 40.0 AS h_li
      FROM kept)
    SELECT beam,
           count(*) AS n,
           CAST(sum(CAST(h_li AS DECIMAL(18,2))) AS DOUBLE) AS sum_h,
           CAST(max(h_li) AS DOUBLE) AS max_h
    FROM named GROUP BY 1
    """,
)
def q_atl06_ingest_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from deepicedrain_spark.plans.ingest import ingest_atl06
    from deepicedrain_spark.sources.hdf5lite import write_hdf5

    n = 1500
    beams = ("gt1l", "gt2r")
    gdir = scratch_path(sf_dir, "granules_dense")
    os.makedirs(gdir, exist_ok=True)
    path = f"{gdir}/ATL06_055509_spark_graft_dense.h5"
    i = np.arange(n)
    groups = {}
    for j, beam in enumerate(beams):
        groups[f"{beam}/land_ice_segments"] = {
            "latitude": -80.5 + i * 1e-4,
            "longitude": 120.0 + i * 1e-4 + j,
            "h_li": (((i * 11 + j * 5) % 800) * 0.25 - 40.0).astype("f4"),
            "h_li_sigma": np.full(n, 0.2, dtype="f4"),
            "atl06_quality_summary": ((i + j) % 4 == 0).astype("u1"),
            "delta_time": i.astype("f8"),
            "segment_id": i.astype("i8"),
            # string dataset rides along to exercise datatype class 3
            # in the dense layout (ingest selects only the numerics)
            "beam_tag": np.array([beam.encode()] * n, dtype="S6"),
        }
    synth_once(
        path,
        lambda p: write_hdf5(p, groups, dense_groups=True, chunk_rows=512, gzip=2),
    )
    df = ingest_atl06(spark, [path], beams=beams, chunk_rows=512)
    return df.groupBy("beam").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h_li").cast("double").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_h"),
        F.max("h_li").cast("double").alias("max_h"),
    )


# S3/S4 v3 variant (round 4): the SAME aggregate as zarr_roundtrip but
# through the Zarr v3 (ZEP1) layout — zarr.json metadata nodes,
# bytes+gzip codec chain, c/<i> chunk keys — written and scanned by
# the same distributed machinery; read_zarr auto-detects the format.
def _register_zarr_v3_roundtrip():
    from deepicedrain_spark.suite import REGISTRY

    base_oracle = REGISTRY["zarr_roundtrip"].sql

    @register("zarr_v3_roundtrip", base_oracle)
    def q_zarr_v3_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        from deepicedrain_spark.functions.timeutils import ns_to_us
        from deepicedrain_spark.sources.zarr import read_zarr, write_zarr

        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "value", ns_to_us(F.col("ts")).alias("t_us")
        )
        path = scratch_path(sf_dir, "zarr_v3_roundtrip")
        write_zarr(ev, path, chunk_rows=4096, zarr_format=3)
        back = read_zarr(spark, path)
        return back.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.min("t_us").alias("first_us"),
        )

    return q_zarr_v3_roundtrip


q_zarr_v3_roundtrip = _register_zarr_v3_roundtrip()


# --- J6 geometry dissolve on the published lake catalog (VERDICT r4
# task 3). The reference merges selected lake polygons with geopandas
# .dissolve() (/root/reference/atlxi_lake.py:364-375); here the whole
# 193-lake catalog dissolves per basin through the relational planar
# overlay in operators/dissolve.py. The oracle replays the SAME
# arithmetic in DuckDB SQL — edges in per-basin translated coords,
# proper-crossing + endpoint-touch splits, pinned sub-edge endpoints,
# eps-offset even-odd ray casts, Green's-theorem fold over deduped
# boundary sub-edges, and recursive-CTE connected components for the
# merged-part count — so every double matches bit-for-bit before the
# final round(…, 3).
@register(
    "lake_catalog_dissolve",
    f"""
    WITH feat AS (
      SELECT unnest(features) AS f
      FROM read_json_auto('{_LAKE_CATALOG_PATH}',
                          maximum_object_size=33554432)
    ),
    lakes0 AS (
      SELECT f.properties.basin_name AS basin,
             f.geometry.coordinates[1] AS ring
      FROM feat
    ),
    lakes AS (
      SELECT basin, ring,
             row_number() OVER (
               PARTITION BY basin ORDER BY ring[1][1], ring[1][2]) AS pid
      FROM lakes0
    ),
    refs AS (
      SELECT basin,
             min(list_min(list_transform(ring, p -> p[1]))) AS xref,
             min(list_min(list_transform(ring, p -> p[2]))) AS yref
      FROM lakes GROUP BY basin
    ),
    edges AS (
      SELECT l.basin, l.pid, i AS eid,
             l.ring[i][1]   - r.xref AS x1, l.ring[i][2]   - r.yref AS y1,
             l.ring[i+1][1] - r.xref AS x2, l.ring[i+1][2] - r.yref AS y2
      FROM lakes l
      JOIN refs r ON l.basin = r.basin,
      UNNEST(generate_series(1, len(l.ring) - 1)) AS g(i)
    ),
    pairs AS (
      SELECT a.basin, a.pid AS apid, a.eid AS aeid,
             a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
             b.pid AS bpid,
             b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
      FROM edges a JOIN edges b
        ON a.basin = b.basin AND a.pid != b.pid
    ),
    crossraw AS (
      SELECT *,
             (ax2-ax1)*(by2-by1) - (ay2-ay1)*(bx2-bx1) AS den,
             ((bx1-ax1)*(by2-by1) - (by1-ay1)*(bx2-bx1))
               / ((ax2-ax1)*(by2-by1) - (ay2-ay1)*(bx2-bx1)) AS t,
             ((bx1-ax1)*(ay2-ay1) - (by1-ay1)*(ax2-ax1))
               / ((ax2-ax1)*(by2-by1) - (ay2-ay1)*(bx2-bx1)) AS u
      FROM pairs
    ),
    splits AS (
      SELECT DISTINCT basin, pid, eid, t FROM (
        SELECT basin, apid AS pid, aeid AS eid, t
        FROM crossraw
        WHERE den != 0 AND t > 0 AND t < 1 AND u > 0 AND u < 1
        UNION ALL
        SELECT basin, apid AS pid, aeid AS eid,
               ((bx1-ax1)*(ax2-ax1) + (by1-ay1)*(ay2-ay1))
                 / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1)) AS t
        FROM pairs
        WHERE (ax2-ax1)*(by1-ay1) - (ay2-ay1)*(bx1-ax1) = 0
          AND ((bx1-ax1)*(ax2-ax1) + (by1-ay1)*(ay2-ay1))
                / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1)) > 0
          AND ((bx1-ax1)*(ax2-ax1) + (by1-ay1)*(ay2-ay1))
                / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1)) < 1
        UNION ALL
        SELECT basin, apid AS pid, aeid AS eid,
               ((bx2-ax1)*(ax2-ax1) + (by2-ay1)*(ay2-ay1))
                 / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1)) AS t
        FROM pairs
        WHERE (ax2-ax1)*(by2-ay1) - (ay2-ay1)*(bx2-ax1) = 0
          AND ((bx2-ax1)*(ax2-ax1) + (by2-ay1)*(ay2-ay1))
                / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1)) > 0
          AND ((bx2-ax1)*(ax2-ax1) + (by2-ay1)*(ay2-ay1))
                / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1)) < 1
      )
    ),
    tls AS (
      SELECT basin, pid, eid, list(t) AS ts
      FROM splits GROUP BY basin, pid, eid
    ),
    sub0 AS (
      SELECT e.basin, e.pid, e.eid, e.x1, e.y1, e.x2, e.y2,
             list_sort(list_concat([CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)],
                                   coalesce(ts, []))) AS tl
      FROM edges e LEFT JOIN tls
        ON e.basin = tls.basin AND e.pid = tls.pid AND e.eid = tls.eid
    ),
    sub AS (
      SELECT basin, pid, eid, x1, y1, x2, y2,
             tl[i] AS ta, tl[i+1] AS tb
      FROM sub0, UNNEST(generate_series(1, len(tl) - 1)) AS g(i)
      WHERE tl[i+1] > tl[i]
    ),
    subg AS (
      SELECT basin, pid, eid, ta, tb,
        CASE WHEN ta = 0 THEN x1 WHEN ta = 1 THEN x2
             ELSE x1 + ta * (x2 - x1) END AS ax,
        CASE WHEN ta = 0 THEN y1 WHEN ta = 1 THEN y2
             ELSE y1 + ta * (y2 - y1) END AS ay,
        CASE WHEN tb = 0 THEN x1 WHEN tb = 1 THEN x2
             ELSE x1 + tb * (x2 - x1) END AS bx,
        CASE WHEN tb = 0 THEN y1 WHEN tb = 1 THEN y2
             ELSE y1 + tb * (y2 - y1) END AS by,
        x1 + ((ta + tb) / 2) * (x2 - x1) AS mx,
        y1 + ((ta + tb) / 2) * (y2 - y1) AS my,
        -1e-6 * (tb - ta) * (y2 - y1) AS ox,
        1e-6 * (tb - ta) * (x2 - x1) AS oy
      FROM sub
    ),
    tlakes AS (
      SELECT l.basin, l.pid,
             list_transform(l.ring, p -> p[1] - r.xref) AS txs,
             list_transform(l.ring, p -> p[2] - r.yref) AS tys
      FROM lakes l JOIN refs r ON l.basin = r.basin
    ),
    covp AS (
      SELECT s.basin, s.pid, s.eid, s.ta, s.tb, s.ax, s.ay, s.bx, s.by,
        l.pid AS rpid,
        CASE WHEN sum(len(list_filter(generate_series(1, len(l.txs) - 1), i ->
              ((l.tys[i+1] > (s.my + s.oy)) != (l.tys[i] > (s.my + s.oy))) AND
              ((s.mx + s.ox) < (l.txs[i] - l.txs[i+1])
                   * ((s.my + s.oy) - l.tys[i+1])
                   / (l.tys[i] - l.tys[i+1])
                   + l.txs[i+1])
            ))) % 2 = 1 THEN 1 ELSE 0 END AS inl,
        CASE WHEN sum(len(list_filter(generate_series(1, len(l.txs) - 1), i ->
              ((l.tys[i+1] > (s.my - s.oy)) != (l.tys[i] > (s.my - s.oy))) AND
              ((s.mx - s.ox) < (l.txs[i] - l.txs[i+1])
                   * ((s.my - s.oy) - l.tys[i+1])
                   / (l.tys[i] - l.tys[i+1])
                   + l.txs[i+1])
            ))) % 2 = 1 THEN 1 ELSE 0 END AS inr
      FROM subg s
      JOIN tlakes l ON s.basin = l.basin
      GROUP BY s.basin, s.pid, s.eid, s.ta, s.tb, s.ax, s.ay, s.bx, s.by, l.pid
    ),
    cov AS (
      SELECT basin, pid, eid, ta, tb, ax, ay, bx, by,
             max(inl) AS covl, max(inr) AS covr
      FROM covp
      GROUP BY basin, pid, eid, ta, tb, ax, ay, bx, by
    ),
    bnd AS (
      SELECT DISTINCT basin,
        CASE WHEN covl = 1 THEN ax ELSE bx END AS ax,
        CASE WHEN covl = 1 THEN ay ELSE by END AS ay,
        CASE WHEN covl = 1 THEN bx ELSE ax END AS bx,
        CASE WHEN covl = 1 THEN by ELSE ay END AS by
      FROM cov WHERE covl != covr
    ),
    uarea AS (
      SELECT basin, sum((ax * by - bx * ay) / 2) AS union_area
      FROM bnd GROUP BY basin
    ),
    ovl AS (
      SELECT DISTINCT basin, least(apid, bpid) AS p, greatest(apid, bpid) AS q
      FROM crossraw
      WHERE den != 0 AND t > 0 AND t < 1 AND u > 0 AND u < 1
      UNION
      -- positive-length collinear boundary overlap (shared edge runs):
      -- parallel, b1 on e's line, projection interval strictly
      -- overlapping (0, 1) — edge-touching polygons merge (round 6)
      SELECT DISTINCT basin, least(apid, bpid) AS p, greatest(apid, bpid) AS q
      FROM pairs
      WHERE (ax2-ax1)*(by2-by1) - (ay2-ay1)*(bx2-bx1) = 0
        AND (ax2-ax1)*(by1-ay1) - (ay2-ay1)*(bx1-ax1) = 0
        AND least(
              ((bx1-ax1)*(ax2-ax1) + (by1-ay1)*(ay2-ay1))
                / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1)),
              ((bx2-ax1)*(ax2-ax1) + (by2-ay1)*(ay2-ay1))
                / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1))) < 1
        AND greatest(
              ((bx1-ax1)*(ax2-ax1) + (by1-ay1)*(ay2-ay1))
                / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1)),
              ((bx2-ax1)*(ax2-ax1) + (by2-ay1)*(ay2-ay1))
                / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1))) > 0
      UNION
      -- any-vertex containment: some vertex of a strictly inside b
      -- (even-odd) and NOT exactly on b's boundary (round 6, was
      -- first-vertex-only)
      SELECT DISTINCT a.basin, least(a.pid, b.pid) AS p, greatest(a.pid, b.pid) AS q
      FROM lakes a JOIN lakes b
        ON a.basin = b.basin AND a.pid != b.pid
      WHERE len(list_filter(generate_series(1, len(a.ring) - 1), vi ->
              (len(list_filter(generate_series(1, len(b.ring) - 1), i ->
                ((b.ring[i+1][2] > a.ring[vi][2]) != (b.ring[i][2] > a.ring[vi][2])) AND
                (a.ring[vi][1] < (b.ring[i][1] - b.ring[i+1][1])
                   * (a.ring[vi][2] - b.ring[i+1][2])
                   / (b.ring[i][2] - b.ring[i+1][2]) + b.ring[i+1][1])
              )) % 2 = 1)
              AND NOT (len(list_filter(generate_series(1, len(b.ring) - 1), i ->
                (b.ring[i+1][1] - b.ring[i][1]) * (a.ring[vi][2] - b.ring[i][2]) -
                (b.ring[i+1][2] - b.ring[i][2]) * (a.ring[vi][1] - b.ring[i][1]) = 0 AND
                (a.ring[vi][1] - b.ring[i][1]) * (b.ring[i+1][1] - b.ring[i][1]) +
                (a.ring[vi][2] - b.ring[i][2]) * (b.ring[i+1][2] - b.ring[i][2]) >= 0 AND
                (a.ring[vi][1] - b.ring[i][1]) * (b.ring[i+1][1] - b.ring[i][1]) +
                (a.ring[vi][2] - b.ring[i][2]) * (b.ring[i+1][2] - b.ring[i][2]) <=
                (b.ring[i+1][1] - b.ring[i][1]) * (b.ring[i+1][1] - b.ring[i][1]) +
                (b.ring[i+1][2] - b.ring[i][2]) * (b.ring[i+1][2] - b.ring[i][2])
              )) > 0)
            )) > 0
    ),
    sym AS (
      SELECT basin, p, q FROM ovl
      UNION SELECT basin, q AS p, p AS q FROM ovl
    ),
    reach AS (
      WITH RECURSIVE walk(basin, a, b) AS (
        SELECT basin, pid, pid FROM lakes
        UNION
        SELECT w.basin, w.a, e.q
        FROM walk w JOIN sym e ON e.basin = w.basin AND e.p = w.b
      ) SELECT * FROM walk
    ),
    comp AS (
      SELECT basin, a AS pid, min(b) AS part FROM reach GROUP BY basin, a
    ),
    nparts AS (
      SELECT basin, count(DISTINCT part) AS n_parts FROM comp GROUP BY basin
    ),
    parea AS (
      SELECT basin, count(*) AS n_lakes,
             sum(abs(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(generate_series(1, len(ring) - 1),
                   i -> ring[i][1] * ring[i+1][2] - ring[i+1][1] * ring[i][2])),
                 (acc, v) -> acc + v)) / 2) AS sum_part_area
      FROM lakes GROUP BY basin
    )
    SELECT p.basin AS basin_name,
           p.n_lakes,
           CAST(np.n_parts AS BIGINT) AS n_parts,
           round(u.union_area / 1e6, 3) AS dissolved_km2,
           round(p.sum_part_area / 1e6, 3) AS sum_parts_km2
    FROM parea p
    JOIN nparts np ON p.basin = np.basin
    JOIN uarea u ON p.basin = u.basin
    ORDER BY basin_name
    """,
)
def q_lake_catalog_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 dissolve: merge the 193 published lake polygons per drainage
    basin (reference: geopandas .dissolve(), atlxi_lake.py:364-375)
    via the relational planar overlay — union area from a
    Green's-theorem fold over boundary sub-edges, merged-part count
    from the overlap-graph components. n_parts < n_lakes and
    dissolved_km2 < sum_parts_km2 exactly where lakes overlap."""
    from deepicedrain_spark.operators.dissolve import dissolve_stats
    from deepicedrain_spark.sources.geojson import read_geojson_polygons

    df = read_geojson_polygons(spark, _LAKE_CATALOG_PATH, id_property="basin_name")
    w = Window.partitionBy("basin_name").orderBy(
        F.element_at("xs", 1), F.element_at("ys", 1)
    )
    # 193 rows feeding ~8 self-join branches: fence once so the
    # multiLine JSON scan doesn't re-execute per branch
    polys = fence(
        df.select(F.col("poly_id").alias("basin_name"), "xs", "ys")
        .withColumn("pid", F.row_number().over(w).cast("long"))
        .coalesce(1)
    )
    stats = dissolve_stats(polys, ["basin_name"], pid="pid")
    return stats.select(
        "basin_name",
        F.col("n_polys").alias("n_lakes"),
        "n_parts",
        F.round(F.col("union_area") / 1e6, 3).alias("dissolved_km2"),
        F.round(F.col("sum_part_area") / 1e6, 3).alias("sum_parts_km2"),
    ).orderBy("basin_name")


# --- J6 + fp-tolerance: snap-rounded noisy catalog dissolve (round 7,
# VERDICT r6 task 3). The catalog coordinates pass through a
# DETERMINISTIC pseudo-reprojection noise (integer-hash perturbation,
# ±1 mm, closed-ring-consistent — pure int/double arithmetic both
# engines reproduce bit-for-bit, unlike libm trig) and are then
# snap-rounded to a 1 cm grid by snap_vertices before the overlay —
# the GEOS-style tolerance pre-pass shapely's unary_union applies
# implicitly (atlxi_lake.py:364-375). The oracle replays noise + snap
# + the full relational overlay in DuckDB.
def _register_dissolve_snapped() -> None:
    from deepicedrain_spark.suite import REGISTRY

    base = REGISTRY["lake_catalog_dissolve"].sql
    old = """lakes AS (
      SELECT basin, ring,
             row_number() OVER (
               PARTITION BY basin ORDER BY ring[1][1], ring[1][2]) AS pid
      FROM lakes0
    ),"""
    assert old in base, "lake_catalog_dissolve oracle changed; update snap variant"
    new = """lakes1 AS (
      SELECT basin, ring,
             row_number() OVER (
               PARTITION BY basin ORDER BY ring[1][1], ring[1][2]) AS pid
      FROM lakes0
    ),
    noisy AS (
      SELECT basin, pid,
        list_transform(generate_series(1, len(ring)), i ->
          [ring[i][1] + ((CAST(pid AS BIGINT) * 1103515245
              + (CASE WHEN i = len(ring) THEN 1 ELSE i END) * 12345)
              % 1000 - 500) * 2e-6,
           ring[i][2] + ((CAST(pid AS BIGINT) * 48271
              + (CASE WHEN i = len(ring) THEN 1 ELSE i END) * 69621)
              % 1000 - 500) * 2e-6]) AS ring
      FROM lakes1
    ),
    srefs AS (
      SELECT basin,
             min(list_min(list_transform(ring, p -> p[1]))) AS sxr,
             min(list_min(list_transform(ring, p -> p[2]))) AS syr
      FROM noisy GROUP BY basin
    ),
    lakes AS (
      SELECT n.basin, n.pid,
             list_transform(n.ring, p ->
               [round((p[1] - r.sxr) / 0.01) * 0.01 + r.sxr,
                round((p[2] - r.syr) / 0.01) * 0.01 + r.syr]) AS ring
      FROM noisy n JOIN srefs r ON n.basin = r.basin
    ),"""
    sql = base.replace(old, new)

    @register("dissolve_snapped_catalog", sql)
    def q_dissolve_snapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from deepicedrain_spark.operators.dissolve import dissolve_stats, snap_vertices
        from deepicedrain_spark.sources.geojson import read_geojson_polygons

        df = read_geojson_polygons(spark, _LAKE_CATALOG_PATH, id_property="basin_name")
        w = Window.partitionBy("basin_name").orderBy(
            F.element_at("xs", 1), F.element_at("ys", 1)
        )
        polys = (
            df.select(F.col("poly_id").alias("basin_name"), "xs", "ys")
            .withColumn("pid", F.row_number().over(w).cast("long"))
        )
        # spark i is 0-based; DuckDB's generate_series is 1-based — the
        # noise index j is the 1-based vertex, with the closing vertex
        # reusing j=1 so rings stay exactly closed
        jx = "(CASE WHEN i = size(xs) - 1 THEN 1 ELSE i + 1 END)"
        jy = "(CASE WHEN i = size(ys) - 1 THEN 1 ELSE i + 1 END)"
        noisy = polys.select(
            "basin_name",
            "pid",
            F.expr(
                f"transform(xs, (v, i) -> v + ((pid * 1103515245L + {jx} * 12345L)"
                " % 1000 - 500) * 2e-6)"
            ).alias("xs"),
            F.expr(
                f"transform(ys, (v, i) -> v + ((pid * 48271L + {jy} * 69621L)"
                " % 1000 - 500) * 2e-6)"
            ).alias("ys"),
        )
        # round 8: the snap pre-pass is now a dissolve_stats parameter
        # (snap=0.01) instead of a composition callers must remember;
        # fence the noisy frame so the two overlay passes don't
        # recompute the noise transforms (tiny data, lineage cut only)
        noisy = fence(noisy.coalesce(1))
        stats = dissolve_stats(noisy, ["basin_name"], pid="pid", snap=0.01)
        return stats.select(
            "basin_name",
            F.col("n_polys").alias("n_lakes"),
            "n_parts",
            F.round(F.col("union_area") / 1e6, 3).alias("dissolved_km2"),
            F.round(F.col("sum_part_area") / 1e6, 3).alias("sum_parts_km2"),
        ).orderBy("basin_name")


_register_dissolve_snapped()


# --- J6 hot-key driver proof: the cells (grid-bucketed) strategy on a
# constructed overlapping grid whose union is CLOSED-FORM (round 7 —
# the bucketed plan is the new scale path; this row driver-proves it
# directly rather than only via the plain/cells parity test). 64 unit
# squares stepped 0.75 apart in an 8x8 grid fully tile the square
# [0, 6.25]^2 (step < side ⇒ no gaps): union = 6.25^2, one part;
# a second key holds two disjoint squares: union 2, two parts.
@register(
    "dissolve_hot_key_bucketed",
    """
    SELECT * FROM (VALUES
      ('cold', CAST(2 AS BIGINT), CAST(2 AS BIGINT),
       round(CAST(2.0 AS DOUBLE), 6), round(CAST(2.0 AS DOUBLE), 6)),
      ('hot', CAST(64 AS BIGINT), CAST(1 AS BIGINT),
       round(CAST(6.25 * 6.25 AS DOUBLE), 6), round(CAST(64.0 AS DOUBLE), 6))
    ) AS t(key, n_polys, n_parts, union_area, sum_part_area)
    ORDER BY key
    """,
)
def q_dissolve_hot_key_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.dissolve import dissolve_stats

    sq = (
        "transform(array(0.0D, 1.0D, 1.0D, 0.0D, 0.0D), v -> v + {o})",
        "transform(array(0.0D, 0.0D, 1.0D, 1.0D, 0.0D), v -> v + {o})",
    )
    hot = spark.range(64).select(
        F.lit("hot").alias("key"),
        F.col("id").alias("pid"),
        F.expr(sq[0].format(o="CAST(id % 8 AS DOUBLE) * 0.75")).alias("xs"),
        F.expr(sq[1].format(o="CAST(id DIV 8 AS DOUBLE) * 0.75")).alias("ys"),
    )
    cold = spark.range(2).select(
        F.lit("cold").alias("key"),
        F.col("id").alias("pid"),
        F.expr(sq[0].format(o="CAST(id AS DOUBLE) * 5.0")).alias("xs"),
        F.expr(sq[1].format(o="0.0D")).alias("ys"),
    )
    st = dissolve_stats(hot.unionByName(cold), ["key"], strategy="cells")
    return st.select(
        "key",
        "n_polys",
        "n_parts",
        F.round("union_area", 6).alias("union_area"),
        F.round("sum_part_area", 6).alias("sum_part_area"),
    ).orderBy("key")


# --- S7 OGR_GMT vector sink variant (round 7, VERDICT r6 task 8):
# the reference writes lake geometries BOTH as GeoJSON and as
# driver='OGR_GMT' for GMT plotting (atlxi_lake.py:407-412). Write the
# catalog through the GMT ASCII sink, read it back (exact %.17g
# round-trip), and aggregate per basin; the oracle aggregates the
# GeoJSON source directly — any sink/parse drift breaks the hash.
@register(
    "lake_geometry_gmt",
    f"""
    WITH feat AS (
      SELECT unnest(features) AS f
      FROM read_json_auto('{_LAKE_CATALOG_PATH}', maximum_object_size=33554432)
    ),
    lakes AS (
      SELECT f.properties.basin_name AS basin,
             f.geometry.coordinates[1] AS ring
      FROM feat
    )
    SELECT basin AS basin_name,
           count(*) AS n_lakes,
           CAST(sum(len(ring) - 1) AS BIGINT) AS n_vertices,
           round(sum(abs(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, len(ring) - 1),
                 i -> ring[i][1] * ring[i+1][2] - ring[i+1][1] * ring[i][2])),
               (acc, v) -> acc + v)) / 2) / 1e6, 3) AS area_km2
    FROM lakes GROUP BY basin ORDER BY basin
    """,
)
def q_lake_geometry_gmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.sources.geojson import read_geojson_polygons
    from deepicedrain_spark.sources.gmt import read_gmt_polygons, write_gmt_polygons

    df = read_geojson_polygons(spark, _LAKE_CATALOG_PATH, id_property="basin_name")
    out = scratch_path(sf_dir, "lakes_gmt") + ".gmt"
    write_gmt_polygons(df.select("poly_id", "xs", "ys"), out)
    back = read_gmt_polygons(spark, out)
    shoelace = F.expr(
        """
        abs(aggregate(sequence(0, size(xs) - 2), cast(0.0 as double),
            (acc, i) -> acc + (xs[i] * ys[i+1] - xs[i+1] * ys[i]))) / 2
        """
    )
    return (
        back.select(
            F.col("poly_id").alias("basin_name"),
            (F.size("xs") - 1).alias("nv"),
            shoelace.alias("area"),
        )
        .groupBy("basin_name")
        .agg(
            F.count(F.lit(1)).alias("n_lakes"),
            F.sum("nv").cast("long").alias("n_vertices"),
            F.round(F.sum("area") / 1e6, 3).alias("area_km2"),
        )
        .orderBy("basin_name")
    )


# --- S3 multi-store Zarr scan (round 5) -------------------------------
# The reference's ACTUAL ingest is 1387 per-track Zarr stores opened in
# one logical dataset (xr.open_mfdataset combine='nested' +
# add_path_to_ds, atlxi_dhdt.py:60-82). Three per-shard stores are
# written distributed, then read back through read_zarr_dir's single
# (store x chunk) task table; per-store aggregates must match the
# oracle's sharded aggregation of the original table exactly.
@register(
    "zarr_multistore_scan",
    """
    SELECT concat('shard_', CAST(user_id % 3 AS VARCHAR)) AS store,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           min(epoch_us(ts)) AS first_us
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q_zarr_multistore_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from deepicedrain_spark.sources.zarr import read_zarr_dir, write_zarr

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "value",
        _ts_us().alias("t_us"),
        F.pmod("user_id", F.lit(3)).alias("_shard"),
    )
    parent = scratch_path(sf_dir, "zarr_stores")

    # write-once fixture (r12, same rationale as hdf5_roundtrip): the
    # three stores are a pure function of the events table; the token
    # carries the source fingerprint so a regenerated table rebuilds
    def _make(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        for shard in range(3):
            write_zarr(
                ev.filter(F.col("_shard") == shard).drop("_shard"),
                os.path.join(tmp, f"shard_{shard}"),
                chunk_rows=4096,
                # exercise BOTH layouts through one logical scan
                zarr_format=3 if shard == 2 else 2,
            )

    synth_once(parent, _make, token=source_token(sf_dir, "events", "zms-v1"))
    back = read_zarr_dir(spark, parent, columns=["user_id", "value", "t_us"])
    return (
        back.groupBy("store")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.min("t_us").alias("first_us"),
        )
        .orderBy("store")
    )


# --- S3 un-consolidated v2 scan (round 11): zarr-python only writes
# .zmetadata when the caller consolidates explicitly, so stores in the
# wild commonly ship WITHOUT it. The scan falls back to walking the
# per-array <name>/.zarray documents (same metadata, one file per
# array); mixed parents — consolidated, un-consolidated, v3 — read
# through ONE task table. Fixture: three shards, shard_1's .zmetadata
# deleted after the write.
@register(
    "zarr_unconsolidated_scan",
    """
    SELECT concat('shard_', CAST(user_id % 3 AS VARCHAR)) AS store,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(sum(user_id) AS BIGINT) AS id_sum
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q_zarr_unconsolidated_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from deepicedrain_spark.sources.zarr import read_zarr_dir, write_zarr

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "value", F.pmod("user_id", F.lit(3)).alias("_shard")
    )
    parent = scratch_path(sf_dir, "zarr_unconsolidated")

    def _make(tmp: str) -> None:  # write-once fixture (r12)
        os.makedirs(tmp, exist_ok=True)
        for shard in range(3):
            store = os.path.join(tmp, f"shard_{shard}")
            write_zarr(
                ev.filter(F.col("_shard") == shard).drop("_shard"),
                store,
                chunk_rows=4096,
                zarr_format=3 if shard == 2 else 2,
            )
            if shard == 1:  # strip consolidation: the in-the-wild layout
                os.remove(os.path.join(store, ".zmetadata"))

    synth_once(parent, _make, token=source_token(sf_dir, "events", "zuc-v1"))
    back = read_zarr_dir(spark, parent, columns=["user_id", "value"])
    return (
        back.groupBy("store")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.sum("user_id").cast("long").alias("id_sum"),
        )
        .orderBy("store")
    )


# --- S3 schema-evolution multi-store scan (round 11, VERDICT r10
# task 3): xr.open_mfdataset(combine='nested') unions granules whose
# VARIABLE SETS differ — a track missing some cycles simply lacks those
# height columns, and the absent values read as missing so the
# downstream dropna(thresh=2) prunes them (atlxi_dhdt.py:73-82, 111).
# Three shard stores are written with HETEROGENEOUS variable sets
# (shard_0 all three, shard_1 without t_us, shard_2 without value);
# read_zarr_dir(missing_ok=True) presents the union schema with
# metadata-driven NULL fill (no chunk I/O for absent variables), and
# per-store null-aware aggregates must match the oracle's CASE-gated
# aggregation of the source table exactly — count(col) counting only
# the stores that HAVE the variable proves absent reads as NULL, not
# as a fill value.
@register(
    "zarr_evolving_union",
    """
    WITH base AS (
      SELECT user_id % 3 AS shard, user_id, value, epoch_us(ts) AS t_us
      FROM events)
    SELECT concat('shard_', CAST(shard AS VARCHAR)) AS store,
           count(*) AS n,
           CAST(sum(CASE WHEN shard <> 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_value,
           CASE WHEN shard <> 2
                THEN CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) END AS sum_value,
           CAST(sum(CASE WHEN shard <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
           CASE WHEN shard <> 1 THEN min(t_us) END AS first_us
    FROM base GROUP BY shard ORDER BY 1
    """,
)
def q_zarr_evolving_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from deepicedrain_spark.sources.zarr import read_zarr_dir, write_zarr

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "value",
        _ts_us().alias("t_us"),
        F.pmod("user_id", F.lit(3)).alias("_shard"),
    )
    parent = scratch_path(sf_dir, "zarr_evolving")

    def _make(tmp: str) -> None:  # write-once fixture (r12)
        os.makedirs(tmp, exist_ok=True)
        shard_cols = {
            0: ["user_id", "value", "t_us"],
            1: ["user_id", "value"],
            2: ["user_id", "t_us"],
        }
        for shard, keep in shard_cols.items():
            write_zarr(
                ev.filter(F.col("_shard") == shard).select(*keep),
                os.path.join(tmp, f"shard_{shard}"),
                chunk_rows=4096,
                zarr_format=3 if shard == 2 else 2,
            )

    synth_once(parent, _make, token=source_token(sf_dir, "events", "zev-v1"))
    back = read_zarr_dir(spark, parent, missing_ok=True)
    return (
        back.groupBy("store")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("value").alias("n_value"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.count("t_us").alias("n_t"),
            F.min("t_us").alias("first_us"),
        )
        .orderBy("store")
    )


# --- J6 follow-on: the reference's lake-selection flow end-to-end ----
# atlxi_lake.py:350-380: pick a lake group, DISSOLVE the polygons into
# one geometry, build a Region from it, and SUBSET the point table to
# that region. Here: the Whillans basin's 19 published lakes dissolve
# (2 merge), the region is the selection's bbox, and the embeddings
# table is affine-mapped into that region and point-in-polygon tested
# against the dissolved geometry (membership in the union == membership
# in ANY part, which both engines evaluate with the identical ray-cast).
@register(
    "lake_region_subset",
    f"""
    WITH feat AS (
      SELECT unnest(features) AS f
      FROM read_json_auto('{_LAKE_CATALOG_PATH}',
                          maximum_object_size=33554432)
    ),
    lakes0 AS (
      SELECT f.properties.basin_name AS basin,
             f.geometry.coordinates[1] AS ring
      FROM feat WHERE f.properties.basin_name = 'Whillans'
    ),
    lakes AS (
      SELECT basin, ring,
             row_number() OVER (
               PARTITION BY basin ORDER BY ring[1][1], ring[1][2]) AS pid
      FROM lakes0
    ),
    pairs AS (
      SELECT a.basin, a.pid AS apid, b.pid AS bpid,
             ax.x1 AS ax1, ax.y1 AS ay1, ax.x2 AS ax2, ax.y2 AS ay2,
             bx.x1 AS bx1, bx.y1 AS by1, bx.x2 AS bx2, bx.y2 AS by2
      FROM lakes a JOIN lakes b ON a.basin = b.basin AND a.pid != b.pid,
      LATERAL (SELECT a.ring[i][1] AS x1, a.ring[i][2] AS y1,
                      a.ring[i+1][1] AS x2, a.ring[i+1][2] AS y2
               FROM UNNEST(generate_series(1, len(a.ring) - 1)) AS g(i)) ax,
      LATERAL (SELECT b.ring[j][1] AS x1, b.ring[j][2] AS y1,
                      b.ring[j+1][1] AS x2, b.ring[j+1][2] AS y2
               FROM UNNEST(generate_series(1, len(b.ring) - 1)) AS h(j)) bx
    ),
    ovl AS (
      SELECT DISTINCT basin, least(apid, bpid) AS p, greatest(apid, bpid) AS q
      FROM pairs
      WHERE ((ax2-ax1)*(by2-by1) - (ay2-ay1)*(bx2-bx1)) != 0
        AND ((bx1-ax1)*(by2-by1) - (by1-ay1)*(bx2-bx1))
              / ((ax2-ax1)*(by2-by1) - (ay2-ay1)*(bx2-bx1)) > 0
        AND ((bx1-ax1)*(by2-by1) - (by1-ay1)*(bx2-bx1))
              / ((ax2-ax1)*(by2-by1) - (ay2-ay1)*(bx2-bx1)) < 1
        AND ((bx1-ax1)*(ay2-ay1) - (by1-ay1)*(ax2-ax1))
              / ((ax2-ax1)*(by2-by1) - (ay2-ay1)*(bx2-bx1)) > 0
        AND ((bx1-ax1)*(ay2-ay1) - (by1-ay1)*(ax2-ax1))
              / ((ax2-ax1)*(by2-by1) - (ay2-ay1)*(bx2-bx1)) < 1
      UNION
      -- positive-length collinear boundary overlap (round 6, matches
      -- overlap_components' touch-pair rule)
      SELECT DISTINCT basin, least(apid, bpid) AS p, greatest(apid, bpid) AS q
      FROM pairs
      WHERE (ax2-ax1)*(by2-by1) - (ay2-ay1)*(bx2-bx1) = 0
        AND (ax2-ax1)*(by1-ay1) - (ay2-ay1)*(bx1-ax1) = 0
        AND least(
              ((bx1-ax1)*(ax2-ax1) + (by1-ay1)*(ay2-ay1))
                / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1)),
              ((bx2-ax1)*(ax2-ax1) + (by2-ay1)*(ay2-ay1))
                / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1))) < 1
        AND greatest(
              ((bx1-ax1)*(ax2-ax1) + (by1-ay1)*(ay2-ay1))
                / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1)),
              ((bx2-ax1)*(ax2-ax1) + (by2-ay1)*(ay2-ay1))
                / ((ax2-ax1)*(ax2-ax1) + (ay2-ay1)*(ay2-ay1))) > 0
      UNION
      -- any-vertex strict containment with on-boundary exclusion
      -- (round 6, was first-vertex-only)
      SELECT DISTINCT a.basin, least(a.pid, b.pid), greatest(a.pid, b.pid)
      FROM lakes a JOIN lakes b ON a.basin = b.basin AND a.pid != b.pid
      WHERE len(list_filter(generate_series(1, len(a.ring) - 1), vi ->
              (len(list_filter(generate_series(1, len(b.ring) - 1), i ->
                ((b.ring[i+1][2] > a.ring[vi][2]) != (b.ring[i][2] > a.ring[vi][2])) AND
                (a.ring[vi][1] < (b.ring[i][1] - b.ring[i+1][1])
                   * (a.ring[vi][2] - b.ring[i+1][2])
                   / (b.ring[i][2] - b.ring[i+1][2]) + b.ring[i+1][1])
              )) % 2 = 1)
              AND NOT (len(list_filter(generate_series(1, len(b.ring) - 1), i ->
                (b.ring[i+1][1] - b.ring[i][1]) * (a.ring[vi][2] - b.ring[i][2]) -
                (b.ring[i+1][2] - b.ring[i][2]) * (a.ring[vi][1] - b.ring[i][1]) = 0 AND
                (a.ring[vi][1] - b.ring[i][1]) * (b.ring[i+1][1] - b.ring[i][1]) +
                (a.ring[vi][2] - b.ring[i][2]) * (b.ring[i+1][2] - b.ring[i][2]) >= 0 AND
                (a.ring[vi][1] - b.ring[i][1]) * (b.ring[i+1][1] - b.ring[i][1]) +
                (a.ring[vi][2] - b.ring[i][2]) * (b.ring[i+1][2] - b.ring[i][2]) <=
                (b.ring[i+1][1] - b.ring[i][1]) * (b.ring[i+1][1] - b.ring[i][1]) +
                (b.ring[i+1][2] - b.ring[i][2]) * (b.ring[i+1][2] - b.ring[i][2])
              )) > 0)
            )) > 0
    ),
    sym AS (
      SELECT basin, p, q FROM ovl UNION SELECT basin, q, p FROM ovl
    ),
    reach AS (
      WITH RECURSIVE walk(basin, a, b) AS (
        SELECT basin, pid, pid FROM lakes
        UNION
        SELECT w.basin, w.a, e.q
        FROM walk w JOIN sym e ON e.basin = w.basin AND e.p = w.b
      ) SELECT * FROM walk
    ),
    comp AS (SELECT basin, a AS pid, min(b) AS part FROM reach GROUP BY basin, a),
    bbox AS (
      SELECT min(list_min(list_transform(ring, p -> p[1]))) AS xmin,
             max(list_max(list_transform(ring, p -> p[1]))) AS xmax,
             min(list_min(list_transform(ring, p -> p[2]))) AS ymin,
             max(list_max(list_transform(ring, p -> p[2]))) AS ymax
      FROM lakes
    ),
    pts AS (
      SELECT vec_id,
             (SELECT xmin FROM bbox)
               + (CAST(embedding[1] AS DOUBLE) + 0.5)
                 * ((SELECT xmax FROM bbox) - (SELECT xmin FROM bbox)) AS px,
             (SELECT ymin FROM bbox)
               + (CAST(embedding[2] AS DOUBLE) + 0.5)
                 * ((SELECT ymax FROM bbox) - (SELECT ymin FROM bbox)) AS py
      FROM embeddings
    ),
    inside AS (
      SELECT DISTINCT p.vec_id
      FROM pts p JOIN lakes l ON len(list_filter(
            generate_series(1, len(l.ring) - 1), i ->
              ((l.ring[i+1][2] > p.py) != (l.ring[i][2] > p.py)) AND
              (p.px < (l.ring[i][1] - l.ring[i+1][1])
                 * (p.py - l.ring[i+1][2])
                 / (l.ring[i][2] - l.ring[i+1][2]) + l.ring[i+1][1])
          )) % 2 = 1
    )
    SELECT 'Whillans' AS basin_name,
           (SELECT count(*) FROM lakes) AS n_lakes,
           (SELECT count(DISTINCT part) FROM comp) AS n_parts,
           (SELECT count(*) FROM pts) AS n_points,
           (SELECT count(*) FROM pts
            WHERE px >= (SELECT xmin FROM bbox) AND px <= (SELECT xmax FROM bbox)
              AND py >= (SELECT ymin FROM bbox) AND py <= (SELECT ymax FROM bbox)
           ) AS n_in_region,
           (SELECT count(*) FROM inside) AS n_in_union
    """,
)
def q_lake_region_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissolve-driven region subset: Whillans lakes → overlap-graph
    parts (operators/dissolve.overlap_components) → bbox Region →
    affine-mapped embeddings → ray-cast membership in the dissolved
    geometry (PIP against any part == PIP against the union)."""
    from deepicedrain_spark.operators.dissolve import overlap_components
    from deepicedrain_spark.sources.geojson import read_geojson_polygons

    df = read_geojson_polygons(spark, _LAKE_CATALOG_PATH, id_property="basin_name")
    w = Window.partitionBy("basin_name").orderBy(
        F.element_at("xs", 1), F.element_at("ys", 1)
    )
    polys = fence(
        df.filter(F.col("poly_id") == "Whillans")
        .select(F.col("poly_id").alias("basin_name"), "xs", "ys")
        .withColumn("pid", F.row_number().over(w).cast("long"))
        .coalesce(1)
    )
    # fully lazy single-action assembly (VERDICT r5 task 7 — was
    # count()×3 + first(), four driver actions): every scalar is a
    # 1-row aggregate DataFrame, combined by broadcast cross-joins, so
    # the driver's one collect runs the whole flow as one job.
    base = polys.agg(
        F.first(F.lit("Whillans")).alias("basin_name"),
        F.count(F.lit(1)).alias("n_lakes"),
        F.min(F.array_min("xs")).alias("xmin"),
        F.max(F.array_max("xs")).alias("xmax"),
        F.min(F.array_min("ys")).alias("ymin"),
        F.max(F.array_max("ys")).alias("ymax"),
    )
    parts = overlap_components(polys, ["basin_name"]).agg(
        F.countDistinct("part").alias("n_parts")
    )
    # all rings in ONE row (19 small hulls) so the union-membership
    # test is a map-only exists() over a broadcast literal — no ×rings
    # row expansion, no distinct
    rings_one = polys.agg(F.collect_list(F.struct("xs", "ys")).alias("rings"))
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("e1"),
        F.element_at("embedding", 2).cast("double").alias("e2"),
    )
    pts = emb.crossJoin(F.broadcast(base)).select(
        "vec_id",
        (F.col("xmin") + (F.col("e1") + 0.5) * (F.col("xmax") - F.col("xmin"))).alias("px"),
        (F.col("ymin") + (F.col("e2") + 0.5) * (F.col("ymax") - F.col("ymin"))).alias("py"),
        "xmin",
        "xmax",
        "ymin",
        "ymax",
    )
    in_region = (
        (F.col("px") >= F.col("xmin"))
        & (F.col("px") <= F.col("xmax"))
        & (F.col("py") >= F.col("ymin"))
        & (F.col("py") <= F.col("ymax"))
    )
    # same ray-cast parity as raycast_predicate, per ring of the
    # broadcast rings array, any-ring membership == union membership
    in_union = F.expr(
        """
        exists(rings, r ->
          size(filter(sequence(0, size(r.xs) - 2), i ->
            ((r.ys[i+1] > py) != (r.ys[i] > py)) AND
            (px < (r.xs[i] - r.xs[i+1]) * (py - r.ys[i+1])
                  / (r.ys[i] - r.ys[i+1]) + r.xs[i+1])
          )) % 2 = 1)
        """
    )
    stats = (
        pts.crossJoin(F.broadcast(rings_one))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(in_region.cast("bigint")).alias("n_in_region"),
            F.sum(in_union.cast("bigint")).alias("n_in_union"),
        )
    )
    return (
        base.select("basin_name", "n_lakes")
        .crossJoin(F.broadcast(parts))
        .crossJoin(F.broadcast(stats))
        .select(
            "basin_name", "n_lakes", "n_parts", "n_points", "n_in_region", "n_in_union"
        )
    )


# --- J6 dissolve with input HOLES (round 6) ---------------------------
# Driver-verifies the rid ring-role path end-to-end: per key k, a
# donut (outer (4+k)-square with a 2x2 hole) plus a second polygon
# that is (k%3==0) a square exactly FILLING the hole — shares the hole
# boundary, merges, union = outer area; (k%3==1) an island strictly
# inside the hole — stays a separate part and the hole's void stays
# out of the union; (k%3==2) a square CROSSING the hole boundary —
# proper crossings merge it and re-plug the hole. All coordinates are
# small integers/halves, so every area is an exact double and the
# oracle COMPUTES the expected stats in closed form from the same
# construction parameters — an independent derivation, not a replay.
@register(
    "dissolve_input_holes",
    """
    WITH p AS (SELECT k, CAST(k AS DOUBLE) + CAST(4 AS DOUBLE) AS s
               FROM range(5) t(k))
    SELECT k,
           CAST(2 AS BIGINT) AS n_polys,
           CAST(CASE WHEN k % 3 = 1 THEN 2 ELSE 1 END AS BIGINT) AS n_parts,
           CASE WHEN k % 3 = 1 THEN s*s - CAST(3 AS DOUBLE)
                ELSE s*s END AS union_area,
           CASE WHEN k % 3 = 0 THEN s*s
                WHEN k % 3 = 1 THEN s*s - CAST(3 AS DOUBLE)
                ELSE s*s + CAST(5 AS DOUBLE) END AS sum_part_area
    FROM p
    ORDER BY k
    """,
)
def q_dissolve_input_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepicedrain_spark.operators.dissolve import dissolve_stats

    rings = spark.range(5).select(
        F.col("id").alias("k"),
        F.expr(
            """
            explode(array(
              struct(CAST(0 AS BIGINT) AS pid, 0 AS rid,
                array(0.0D, CAST(id AS DOUBLE) + 4.0, CAST(id AS DOUBLE) + 4.0, 0.0D, 0.0D) AS xs,
                array(0.0D, 0.0D, CAST(id AS DOUBLE) + 4.0, CAST(id AS DOUBLE) + 4.0, 0.0D) AS ys),
              struct(CAST(0 AS BIGINT) AS pid, 1 AS rid,
                array(1.0D, 3.0D, 3.0D, 1.0D, 1.0D) AS xs,
                array(1.0D, 1.0D, 3.0D, 3.0D, 1.0D) AS ys),
              struct(CAST(1 AS BIGINT) AS pid, 0 AS rid,
                CASE WHEN id % 3 = 0 THEN array(1.0D, 3.0D, 3.0D, 1.0D, 1.0D)
                     WHEN id % 3 = 1 THEN array(1.5D, 2.5D, 2.5D, 1.5D, 1.5D)
                     ELSE array(0.5D, 3.5D, 3.5D, 0.5D, 0.5D) END AS xs,
                CASE WHEN id % 3 = 0 THEN array(1.0D, 1.0D, 3.0D, 3.0D, 1.0D)
                     WHEN id % 3 = 1 THEN array(1.5D, 1.5D, 2.5D, 2.5D, 1.5D)
                     ELSE array(0.5D, 0.5D, 3.5D, 3.5D, 0.5D) END AS ys)
            ))
            """
        ).alias("r"),
    ).select("k", "r.*")
    # 15 tiny rows feeding ~8 self-join branches of the overlay: pin
    # one partition + fence so every branch reuses the same
    # materialized fixture (same pattern as lake_catalog_dissolve)
    rings = fence(rings.coalesce(1))
    st = dissolve_stats(rings, ["k"], pid="pid")
    return st.select("k", "n_polys", "n_parts", "union_area", "sum_part_area").orderBy(
        "k"
    )


# §3.1 from the TRUE ATL11 shape (round 9): the reference's dhdt
# program starts from ATL11 whose h_corr is TWO-dimensional —
# (ref_pt, cycle_number) — not long-format points
# (/root/reference/atlxi_dhdt.py:72-126 loads h_corr[ref_pt, cycle],
# drops ref_pts with <2 valid cycles at :111, runs the per-point trend
# at :160-178). Here the granule is REAL HDF5 bytes whose 2-D h_corr /
# delta_time are stored in MULTI-AXIS chunks (256 x 4, gzip+shuffle —
# the round-9 hdf5lite N-D layer), scanned chunk-parallel into
# array<float> rows, position-zipped with the 2-D delta_time (the
# reference's regression abscissa), NaN fills dropped (xarray-dropna
# parity), and regressed per ref_pt against delta_time. h values are
# exact f32 quarters (planted slope ((i%7)-3)/4 m/cycle) and
# delta_time equals the cycle number exactly, so the oracle
# recomputes every surviving row closed-form without an HDF5 parser —
# a mismatch anywhere in N-D write -> chunk assembly -> zip-explode ->
# regr breaks the hash.
@register(
    "atl11_ingest_cube",
    """
    WITH rows AS (
      SELECT i.i, c.c
      FROM (SELECT unnest(range(0, 1200)) AS i) i,
           (SELECT unnest(range(3, 12)) AS c) c),
    kept AS (SELECT * FROM rows WHERE (i + c) % 5 != 0),
    pts AS (
      SELECT CAST(i AS BIGINT) AS ref_pt,
             CAST(c AS DOUBLE) AS t,
             (i % 100) * 0.5 + (c - 3) * ((i % 7) - 3) * 0.25 AS h
      FROM kept)
    SELECT ref_pt,
           CAST(regr_count(h, t) AS BIGINT) AS n,
           round(regr_slope(h, t), 6) AS dhdt_slope,
           round(regr_intercept(h, t), 6) AS intercept
    FROM pts GROUP BY ref_pt
    HAVING regr_count(h, t) >= 2
    ORDER BY ref_pt
    """,
)
def q_atl11_ingest_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from deepicedrain_spark.sources.hdf5 import read_hdf5
    from deepicedrain_spark.sources.hdf5lite import write_hdf5

    n = 1200
    cycles = np.arange(3, 12, dtype="i4")
    gdir = scratch_path(sf_dir, "granules_atl11")
    os.makedirs(gdir, exist_ok=True)
    path = f"{gdir}/ATL11_004512_spark_graft_synth.h5"

    def make(p: str) -> None:
        i = np.arange(n, dtype="i8")[:, None]
        c = cycles[None, :].astype("i8")
        h = ((i % 100) * 0.5 + (c - 3) * ((i % 7) - 3) * 0.25).astype("f4")
        h[(i + c) % 5 == 0] = np.nan  # ATL11 fill: missing cycles
        dt = np.broadcast_to(c.astype("f8"), h.shape).copy()
        write_hdf5(
            p,
            {
                "pt1": {
                    "ref_pt": np.arange(n, dtype="i8"),
                    "cycle_number": cycles,
                    "h_corr": h,
                    "delta_time": dt,
                }
            },
            chunk_shape=(256, 4),
            gzip=2,
            shuffle=True,
        )

    # token v2: round-9 writer fix chunks+gzips the rank-1 datasets
    # too (chunk_shape axis-0 fallback), changing the granule bytes
    synth_once(path, make, token="v2")
    # regress h_corr against the granule's own 2-D delta_time — the
    # reference's abscissa (atlxi_dhdt.py:160-178); in this fixture
    # delta_time equals the cycle number exactly, so the closed-form
    # oracle can use t = c
    cube = read_hdf5(spark, path, "pt1", ["ref_pt", "h_corr", "delta_time"], chunk_rows=256)
    long = (
        cube.select(
            "ref_pt",
            F.posexplode(F.arrays_zip("h_corr", "delta_time")).alias("pos", "z"),
        )
        .select(
            "ref_pt",
            F.col("z.h_corr").cast("double").alias("h"),
            F.col("z.delta_time").alias("t"),
        )
        .where(~F.isnan("h"))
    )
    return (
        long.groupBy("ref_pt")
        .agg(
            F.expr("regr_count(h, t)").cast("long").alias("n"),
            F.round(F.expr("regr_slope(h, t)"), 6).alias("dhdt_slope"),
            F.round(F.expr("regr_intercept(h, t)"), 6).alias("intercept"),
        )
        .where(F.col("n") >= 2)
        .orderBy("ref_pt")
    )


# The reference's LITERAL ATL11 entry shape (round 9): per-track Zarr
# stores whose h_corr is 2-D (ref_pt x cycle_number) read through
# xr.open_mfdataset (/root/reference/atlxi_dhdt.py:72-87), NaN-filled
# missing cycles dropped when fewer than 2 remain (:111 dropna
# thresh=2), then the A1 h_range (nanptp) step (:160-178). Here two
# per-track stores — deliberately ONE v2 and ONE v3, since the
# multi-store scan allows per-store versions — hold 2-D h_corr in
# 256 x 4 zlib/gzip chunks (the round-9 Zarr N-D layer); read_zarr_dir
# scans them through ONE task table, h_corr explodes to long with
# cycle = pos + first_cycle, NaNs drop, and the per-(track, ref_pt)
# range aggregates. Values are exact f32 quarters, so the oracle
# recomputes every row closed-form; a mismatch anywhere in the 2-D
# chunk-grid write -> multi-axis gather -> explode -> range breaks it.
@register(
    "atl11_zarr_cube",
    """
    WITH rows AS (
      SELECT g.g, i.i, c.c
      FROM (VALUES (0),(1)) g(g),
           (SELECT unnest(range(0, 900)) AS i) i,
           (SELECT unnest(range(3, 12)) AS c) c),
    kept AS (SELECT * FROM rows WHERE (i + c + g) % 4 != 0),
    pts AS (
      SELECT concat('track_', CAST(1000 + g AS VARCHAR)) AS store,
             CAST(i AS BIGINT) AS ref_pt,
             CAST((i % 50) * 0.5 + (c - 3) * ((i % 5) - 2) * 0.25 + g AS DOUBLE) AS h
      FROM kept)
    SELECT store, ref_pt,
           CAST(count(*) AS BIGINT) AS n_valid,
           round(max(h) - min(h), 6) AS h_range
    FROM pts GROUP BY store, ref_pt
    HAVING count(*) >= 2
    ORDER BY store, ref_pt
    """,
)
def q_atl11_zarr_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from deepicedrain_spark.sources.zarr import read_zarr_dir, write_zarr_local

    n, cycles = 900, np.arange(3, 12, dtype="i8")
    parent = scratch_path(sf_dir, "zarr_atl11")
    os.makedirs(parent, exist_ok=True)
    for g, fmt in ((0, 2), (1, 3)):
        store = os.path.join(parent, f"track_{1000 + g}")

        def make(tmp: str, g: int = g, fmt: int = fmt) -> None:
            i = np.arange(n, dtype="i8")[:, None]
            c = cycles[None, :]
            h = ((i % 50) * 0.5 + (c - 3) * ((i % 5) - 2) * 0.25 + g).astype("f4")
            h[(i + c + g) % 4 == 0] = np.nan
            write_zarr_local(
                tmp,
                {"ref_pt": np.arange(n, dtype="i8"), "h_corr": h},
                zarr_format=fmt,
                chunk_shape=(256, 4),
            )

        synth_once(store, make, token="v1")
    df = read_zarr_dir(spark, parent, columns=["ref_pt", "h_corr"])
    long = df.select(
        "store",
        "ref_pt",
        F.explode("h_corr").alias("h"),
    ).where(~F.isnan("h"))
    return (
        long.groupBy("store", "ref_pt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_valid"),
            F.round(
                F.max(F.col("h").cast("double")) - F.min(F.col("h").cast("double")), 6
            ).alias("h_range"),
        )
        .where(F.col("n_valid") >= 2)
        .orderBy("store", "ref_pt")
    )


# §3.1 WHOLE ATL11 program end-to-end (round 10) — the reference's
# dhdt notebook at its TRUE topology, granule bytes to parquet in ONE
# plan: N per-track Zarr stores with 2-D h_corr[ref_pt, cycle] and 2-D
# delta_time unioned through xr.open_mfdataset
# (/root/reference/atlxi_dhdt.py:73-82 — 1387 stores in production),
# ref_pts with <2 valid cycles dropped (:111 dropna thresh=2), h_corr
# regressed against the granule's own delta_time per point (:160-178),
# and the per-point trend table SUNK to partitioned parquet
# (:383-393 ndarray_to_parquet) and scanned back. Six stores (mixed
# v2/v3, per-track time offsets) stand in for the 1387; the scan is
# one mapInPandas task table of (store x axis-0 stripe) — 24 tasks
# here, 1387 x stripes on the real archive — with the per-point
# aggregation as the plan's ONLY exchange before the sink. h is exact
# f32 quarters and delta_time exact eighths, so the oracle recomputes
# every surviving row closed-form; a mismatch anywhere in 2-D chunk
# write -> multi-store gather -> zip-explode -> regr -> partitioned
# sink -> re-scan breaks the hash.
@register(
    "atl11_dhdt_end_to_end",
    """
    WITH rows AS (
      SELECT g.g, i.i, c.c
      FROM (SELECT unnest(range(0, 6)) AS g) g,
           (SELECT unnest(range(0, 800)) AS i) i,
           (SELECT unnest(range(3, 12)) AS c) c),
    kept AS (SELECT * FROM rows WHERE (i + c + g) % 5 != 0),
    pts AS (
      SELECT concat('track_', CAST(1000 + g AS VARCHAR)) AS track,
             CAST(i AS BIGINT) AS ref_pt,
             CAST(c AS DOUBLE) + g * 0.125 AS t,
             (i % 100) * 0.5 + (c - 3) * ((i % 7) - 3) * 0.25 + g AS h
      FROM kept)
    SELECT track, ref_pt,
           CAST(regr_count(h, t) AS BIGINT) AS n,
           round(regr_slope(h, t), 6) AS dhdt_slope,
           round(regr_intercept(h, t), 6) AS intercept
    FROM pts GROUP BY track, ref_pt
    HAVING regr_count(h, t) >= 2
    ORDER BY track, ref_pt
    """,
)
def q_atl11_dhdt_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from deepicedrain_spark.io import write_parquet
    from deepicedrain_spark.sources.zarr import read_zarr_dir, write_zarr_local

    n, cycles = 800, np.arange(3, 12, dtype="i8")
    parent = scratch_path(sf_dir, "zarr_atl11_e2e")
    os.makedirs(parent, exist_ok=True)
    for g in range(6):
        store = os.path.join(parent, f"track_{1000 + g}")

        def make(tmp: str, g: int = g) -> None:
            i = np.arange(n, dtype="i8")[:, None]
            c = cycles[None, :]
            h = ((i % 100) * 0.5 + (c - 3) * ((i % 7) - 3) * 0.25 + g).astype("f4")
            h[(i + c + g) % 5 == 0] = np.nan  # missing cycles
            # per-track acquisition-time offset: the regression must
            # use the granule's delta_time, not the cycle index
            dt = np.broadcast_to(c.astype("f8") + g * 0.125, h.shape).copy()
            write_zarr_local(
                tmp,
                {"ref_pt": np.arange(n, dtype="i8"), "h_corr": h, "delta_time": dt},
                zarr_format=2 + g % 2,
                chunk_shape=(256, 4),
            )

        synth_once(store, make, token="v1")
    cube = read_zarr_dir(spark, parent, columns=["ref_pt", "h_corr", "delta_time"])
    long = (
        cube.select(
            F.col("store").alias("track"),
            "ref_pt",
            F.explode(F.arrays_zip("h_corr", "delta_time")).alias("z"),
        )
        .select(
            "track",
            "ref_pt",
            F.col("z.h_corr").cast("double").alias("h"),
            F.col("z.delta_time").alias("t"),
        )
        .where(~F.isnan("h"))
    )
    fit = (
        long.groupBy("track", "ref_pt")
        .agg(
            F.expr("regr_count(h, t)").cast("long").alias("n"),
            F.round(F.expr("regr_slope(h, t)"), 6).alias("dhdt_slope"),
            F.round(F.expr("regr_intercept(h, t)"), 6).alias("intercept"),
        )
        .where(F.col("n") >= 2)
    )
    out = scratch_path(sf_dir, "atl11_dhdt_parquet")
    write_parquet(fit, out, partition_by=["track"])
    back = spark.read.parquet(out)
    return back.select("track", "ref_pt", "n", "dhdt_slope", "intercept").orderBy(
        "track", "ref_pt"
    )


# Union-mode variant of the whole-ATL11 pipeline (round 11, follows
# VERDICT r10 task 3): real multi-granule archives have HETEROGENEOUS
# variable sets — some granules carry auxiliary variables (here
# h_corr_sigma on the even tracks) that others lack, and
# xr.open_mfdataset(combine='nested') unions them with missing reads
# (atlxi_dhdt.py:73-82). The cube is read with missing_ok=True;
# rows from sigma-less tracks carry a NULL sigma array (coalesced to a
# NULL-element array so the zip-explode keeps their cycles), the
# per-point regression runs over every track, and the sigma aggregates
# (count + mean) must come out 0/NULL exactly on the tracks that lack
# the variable — the oracle CASE-gates sigma on track parity, so a
# fill-value leak or a dropped row anywhere in the union path breaks
# the hash. Sigma values are exact eighths; avg is an exact-dyadic sum
# divided once, IEEE-identical in both engines.
@register(
    "atl11_union_dhdt",
    """
    WITH rows AS (
      SELECT g.g, i.i, c.c
      FROM (SELECT unnest(range(0, 6)) AS g) g,
           (SELECT unnest(range(0, 800)) AS i) i,
           (SELECT unnest(range(3, 12)) AS c) c),
    kept AS (SELECT * FROM rows WHERE (i + c + g) % 5 != 0),
    pts AS (
      SELECT concat('track_', CAST(1000 + g AS VARCHAR)) AS track,
             CAST(i AS BIGINT) AS ref_pt,
             CAST(c AS DOUBLE) + g * 0.125 AS t,
             (i % 100) * 0.5 + (c - 3) * ((i % 7) - 3) * 0.25 + g AS h,
             CASE WHEN g % 2 = 0
                  THEN 0.25 + ((i + c) % 4) * 0.125 END AS sig
      FROM kept)
    SELECT track, ref_pt,
           CAST(regr_count(h, t) AS BIGINT) AS n,
           round(regr_slope(h, t), 6) AS dhdt_slope,
           CAST(count(sig) AS BIGINT) AS n_sig,
           round(avg(sig), 6) AS mean_sigma
    FROM pts GROUP BY track, ref_pt
    HAVING regr_count(h, t) >= 2
    ORDER BY track, ref_pt
    """,
)
def q_atl11_union_dhdt(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from deepicedrain_spark.sources.zarr import read_zarr_dir, write_zarr_local

    n, cycles = 800, np.arange(3, 12, dtype="i8")
    parent = scratch_path(sf_dir, "zarr_atl11_union")
    os.makedirs(parent, exist_ok=True)
    for g in range(6):
        store = os.path.join(parent, f"track_{1000 + g}")

        def make(tmp: str, g: int = g) -> None:
            i = np.arange(n, dtype="i8")[:, None]
            c = cycles[None, :]
            h = ((i % 100) * 0.5 + (c - 3) * ((i % 7) - 3) * 0.25 + g).astype("f4")
            h[(i + c + g) % 5 == 0] = np.nan  # missing cycles
            dt = np.broadcast_to(c.astype("f8") + g * 0.125, h.shape).copy()
            arrays = {
                "ref_pt": np.arange(n, dtype="i8"),
                "h_corr": h,
                "delta_time": dt,
            }
            if g % 2 == 0:  # only even tracks ship the sigma variable
                arrays["h_corr_sigma"] = (
                    0.25 + ((i + c) % 4) * 0.125
                ).astype("f4")
            write_zarr_local(
                tmp, arrays, zarr_format=2 + g % 2, chunk_shape=(256, 4)
            )

        synth_once(store, make, token="v1")
    cube = read_zarr_dir(spark, parent, missing_ok=True)
    # sigma-less tracks: NULL array -> array of NULLs, so arrays_zip
    # doesn't null out and the explode keeps every cycle of every track
    cube = cube.withColumn(
        "sig",
        F.coalesce(
            F.col("h_corr_sigma"),
            F.expr("transform(h_corr, x -> CAST(NULL AS FLOAT))"),
        ),
    )
    long = (
        cube.select(
            F.col("store").alias("track"),
            "ref_pt",
            F.explode(F.arrays_zip("h_corr", "delta_time", "sig")).alias("z"),
        )
        .select(
            "track",
            "ref_pt",
            F.col("z.h_corr").cast("double").alias("h"),
            F.col("z.delta_time").alias("t"),
            F.col("z.sig").cast("double").alias("sig"),
        )
        .where(~F.isnan("h"))
    )
    return (
        long.groupBy("track", "ref_pt")
        .agg(
            F.expr("regr_count(h, t)").cast("long").alias("n"),
            F.round(F.expr("regr_slope(h, t)"), 6).alias("dhdt_slope"),
            F.count("sig").alias("n_sig"),
            F.round(F.avg("sig"), 6).alias("mean_sigma"),
        )
        .where(F.col("n") >= 2)
        .orderBy("track", "ref_pt")
    )


# S3/S4 sharded variant (round 10): the same per-track ATL11 2-D shape
# served from v3 sharding_indexed stores — zarr-python 3's layout for
# the millions-of-tiny-files problem (one object per SHARD of inner
# chunks + a crc32c-stamped index; at the reference's 1387-store scale
# a plain 256-row chunk grid is ~40 objects per array per store, and a
# 100 TB archive multiplies that into object-store death). Two sharded
# stores (inner 128x4 chunks grouped 2x2 into 256x8 shards) scan
# through the SAME read_zarr_dir task table as plain stores — the
# shard assembly happens inside the chunk decode, so stripes, schema
# signatures and the exchange topology are identical to
# atl11_zarr_cube. Values exact f32 quarters; closed-form oracle.
@register(
    "zarr_sharded_cube",
    """
    WITH rows AS (
      SELECT g.g, i.i, c.c
      FROM (VALUES (0),(1)) g(g),
           (SELECT unnest(range(0, 700)) AS i) i,
           (SELECT unnest(range(3, 12)) AS c) c),
    kept AS (SELECT * FROM rows WHERE (i + c + g) % 4 != 0),
    pts AS (
      SELECT concat('track_', CAST(2000 + g AS VARCHAR)) AS store,
             CAST(i AS BIGINT) AS ref_pt,
             CAST((i % 40) * 0.5 + (c - 3) * ((i % 5) - 2) * 0.25 + g AS DOUBLE) AS h
      FROM kept)
    SELECT store, ref_pt,
           CAST(count(*) AS BIGINT) AS n_valid,
           round(max(h) - min(h), 6) AS h_range
    FROM pts GROUP BY store, ref_pt
    HAVING count(*) >= 2
    ORDER BY store, ref_pt
    """,
)
def q_zarr_sharded_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from deepicedrain_spark.sources.zarr import read_zarr_dir, write_zarr_local

    n, cycles = 700, np.arange(3, 12, dtype="i8")
    parent = scratch_path(sf_dir, "zarr_sharded")
    os.makedirs(parent, exist_ok=True)
    for g in (0, 1):
        store = os.path.join(parent, f"track_{2000 + g}")

        def make(tmp: str, g: int = g) -> None:
            i = np.arange(n, dtype="i8")[:, None]
            c = cycles[None, :]
            h = ((i % 40) * 0.5 + (c - 3) * ((i % 5) - 2) * 0.25 + g).astype("f4")
            h[(i + c + g) % 4 == 0] = np.nan
            write_zarr_local(
                tmp,
                {"ref_pt": np.arange(n, dtype="i8"), "h_corr": h},
                zarr_format=3,
                chunk_shape=(128, 4),
                shard_shape=(256, 8),
            )

        synth_once(store, make, token="v1")
    df = read_zarr_dir(spark, parent, columns=["ref_pt", "h_corr"])
    long = df.select("store", "ref_pt", F.explode("h_corr").alias("h")).where(
        ~F.isnan("h")
    )
    return (
        long.groupBy("store", "ref_pt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_valid"),
            F.round(
                F.max(F.col("h").cast("double")) - F.min(F.col("h").cast("double")), 6
            ).alias("h_range"),
        )
        .where(F.col("n_valid") >= 2)
        .orderBy("store", "ref_pt")
    )


# --- S2 ext: ORC sink/scan round-trip (round 10, session 3) -----------
# Spark's second built-in columnar format — the interchange surface a
# mixed Hive/Trino estate expects alongside parquet_roundtrip. Written
# partitioned (partition pruning on re-read, the 100 TB layout); the
# oracle is the pre-write aggregate, so the row makes the ORC
# writer+reader prove value fidelity end-to-end. Money sums accumulate
# in DECIMAL and cast once to double (the parquet_roundtrip pattern).
@register(
    "orc_roundtrip",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY 1, 2
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_price"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )
    path = scratch_path(sf_dir, "orc_roundtrip")
    agg.write.mode("overwrite").partitionBy("l_returnflag").orc(path)
    back = spark.read.orc(path)
    return back.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.col("sum_price").cast("double").alias("sum_price"),
        "sum_qty",
    )
