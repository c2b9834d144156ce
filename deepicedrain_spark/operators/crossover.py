"""Crossover (track-intersection) join — SURVEY J3, the hardest op.

Reference: /root/reference/atlxi_xover.py:118-146 iterates
``itertools.combinations`` of track pairs, prunes same-RGT pairs and
non-intersecting LineStrings with shapely, then shells into GMT's
``x2sys_cross`` per pair (temp files, C library) to find exact
intersection points and linearly interpolate per-track height/time at
the crossing. Gap semantics: segments longer than 250 m are not
crossed (X2SYS/ICESAT2.tag:6 ``-Wd250e``).

Spark-first rewrite — the whole thing is ONE declarative plan, no
driver-side pair loop, no subprocess:

1. ``lead()`` window per track → consecutive-point segments
   (one shuffle, partitioned by track — reused from ingest sort).
2. Drop segments with gap > max_gap (−Wd250e).
3. Assign each segment to every spatial grid cell its bbox touches
   (cell ≥ max_gap ⇒ ≤4 cells/segment), **equi-join on cell** with
   ``track1 < track2`` — this replaces the reference's shapely
   pre-filter with a hash join Catalyst can shuffle-partition; the
   same-RGT prune is a join predicate.
4. Exact segment-intersection solve + linear h/t interpolation as
   pure SQL arithmetic (whole-stage codegen).
5. Dedup crossings discovered in multiple shared cells.

At 100 TB the only shuffles are the lead() window and the cell-keyed
join; cell keys are uniform (ground tracks), so no skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence


def track_segments(
    df: DataFrame,
    track_col: str = "track_id",
    order_col: str = "t",
    x: str = "x",
    y: str = "y",
    h: str = "h",
    t: str | None = None,
    max_gap: float | None = 250.0,
) -> DataFrame:
    """Consecutive-point segments per track via lead().

    ``order_col`` defines along-track order; ``t`` (defaults to
    ``order_col``) is the time attribute interpolated at crossings.
    Output: (track_id, x1, y1, x2, y2, h1, h2, t1, t2). ``max_gap``
    drops segments whose euclidean length exceeds it (x2sys -Wd)."""
    t = t or order_col
    w = Window.partitionBy(track_col).orderBy(order_col)
    seg = df.select(
        F.col(track_col),
        F.col(x).alias("x1"),
        F.col(y).alias("y1"),
        F.col(h).alias("h1"),
        F.col(t).alias("t1"),
        F.lead(x).over(w).alias("x2"),
        F.lead(y).over(w).alias("y2"),
        F.lead(h).over(w).alias("h2"),
        F.lead(t).over(w).alias("t2"),
    ).filter(F.col("x2").isNotNull())
    if max_gap is not None:
        dx = F.col("x2") - F.col("x1")
        dy = F.col("y2") - F.col("y1")
        seg = seg.filter(dx * dx + dy * dy <= F.lit(max_gap * max_gap))
    return seg


def _explode_cells(seg: DataFrame, cell: float) -> DataFrame:
    """Replicate each segment into every grid cell its bbox covers."""
    cx_lo = F.floor(F.least("x1", "x2") / cell)
    cx_hi = F.floor(F.greatest("x1", "x2") / cell)
    cy_lo = F.floor(F.least("y1", "y2") / cell)
    cy_hi = F.floor(F.greatest("y1", "y2") / cell)
    return seg.withColumn("cx", F.explode(F.sequence(cx_lo, cx_hi))).withColumn(
        "cy", F.explode(F.sequence(cy_lo, cy_hi))
    )


def _auto_salt(cells: DataFrame, target_pairs: float = 4e6, cap: int = 64) -> int:
    """Derive the hot-cell salt S from a cheap cell histogram instead of
    a caller-supplied constant (VERDICT r3 task 5).

    Join work inside one cell is ~count²/2 pair candidates; salting by S
    cuts the per-partition candidates to count²/S. The criterion is
    ABSOLUTE, not relative: a cell whose own pair work exceeds one
    task's budget (count² > target_pairs) is a straggler regardless of
    what the other cells look like (a relative max/median gate misses
    the few-cells-all-hot case — measured on the scalecheck_skew
    radiating-tracks fixture, where every segment lands in 4 cells).
    S = ceil(max² / target_pairs), capped because the B side pays an
    S× replication of its segment rows.

    Cost: one count-per-cell aggregation over the already-checkpointed
    exploded segments — a rollup of the same exchange the join needs
    anyway, O(distinct cells) output, scalar collect."""
    import math

    row = (
        cells.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .first()
    )
    mx = int(row["mx"] or 0)
    if mx * mx <= target_pairs:
        return 1
    return max(1, min(cap, math.ceil(mx * mx / target_pairs)))


def crossover_join(
    segments: DataFrame,
    cell: float = 1000.0,
    track_col: str = "track_id",
    rgt_of=None,
    hot_cell_salt: int | str = 1,
) -> DataFrame:
    """Find all pairwise track crossings with interpolated h/t.

    Output: (track1, track2, x, y, h_1, h_2, t_1, t_2) — the
    x2sys_cross 'xyht' format (X2SYS/ICESAT2/xyht.fmt:10-14).
    ``rgt_of(col)`` optionally maps a track id to its repeat-ground-
    track so same-RGT pairs are pruned (atlxi_xover.py:126-127).

    ``hot_cell_salt`` (S > 1) splits each cell key into S salted
    sub-keys for skew resilience. AQE's skew-join splitter CANNOT help
    this join: the two sides reuse one exchange (a self-join of the
    same checkpointed frame), and OptimizeSkewedJoin skips reused
    shuffle stages — measured in tools/scalecheck_skew.py, a one-hot-
    cell fixture runs its whole pair set in a single task regardless
    of skew-join settings. Salting fixes it at the operator level:
    side A carries salt = hash(track) mod S, side B replicates each
    row to all S salt values, and the join key becomes
    (cx, cy, salt) — every pair still meets exactly once (at B's
    replica matching A's salt), the hot cell spreads over S
    partitions, and B pays an S× replication of only its (tiny)
    segment rows. Default S=1 keeps the replication-free plan for
    normal track densities; ``hot_cell_salt="auto"`` derives S from
    a cell histogram (see _auto_salt) so the plan is skew-safe
    without manual tuning.
    """
    # both join sides are the same exploded-segment table — the
    # fence runs the lead() window + cell explode once and Catalyst
    # doesn't re-analyze the upstream tree per join side (cold
    # planning dominated small-SF wall time)
    cells = fence(_explode_cells(segments, cell))
    if hot_cell_salt == "auto":
        hot_cell_salt = _auto_salt(cells)
    if hot_cell_salt > 1:
        s_vals = F.array(*[F.lit(i) for i in range(hot_cell_salt)])
        a = cells.withColumn(
            "_salt", F.pmod(F.xxhash64(track_col), F.lit(hot_cell_salt))
        ).alias("a")
        b = cells.withColumn("_salt", F.explode(s_vals)).alias("b")
    else:
        a = cells.alias("a")
        b = cells.alias("b")

    cond = (
        (F.col("a.cx") == F.col("b.cx"))
        & (F.col("a.cy") == F.col("b.cy"))
        & (F.col(f"a.{track_col}") < F.col(f"b.{track_col}"))
    )
    if hot_cell_salt > 1:
        cond = cond & (F.col("a._salt") == F.col("b._salt"))
    if rgt_of is not None:
        cond = cond & (rgt_of(F.col(f"a.{track_col}")) != rgt_of(F.col(f"b.{track_col}")))

    j = a.join(b, cond)

    # exact 2-D segment intersection: P = A1 + s·(A2−A1) = B1 + u·(B2−B1)
    rx = F.col("a.x2") - F.col("a.x1")
    ry = F.col("a.y2") - F.col("a.y1")
    sx = F.col("b.x2") - F.col("b.x1")
    sy = F.col("b.y2") - F.col("b.y1")
    qpx = F.col("b.x1") - F.col("a.x1")
    qpy = F.col("b.y1") - F.col("a.y1")
    denom = rx * sy - ry * sx
    s = (qpx * sy - qpy * sx) / denom
    u = (qpx * ry - qpy * rx) / denom

    crossed = (
        j.filter(denom != 0)
        .withColumn("_s", s)
        .withColumn("_u", u)
        .filter(
            (F.col("_s") >= 0) & (F.col("_s") <= 1) & (F.col("_u") >= 0) & (F.col("_u") <= 1)
        )
    )

    out = crossed.select(
        F.col(f"a.{track_col}").alias("track1"),
        F.col(f"b.{track_col}").alias("track2"),
        (F.col("a.x1") + F.col("_s") * rx).alias("x"),
        (F.col("a.y1") + F.col("_s") * ry).alias("y"),
        (F.col("a.h1") + F.col("_s") * (F.col("a.h2") - F.col("a.h1"))).alias("h_1"),
        (F.col("b.h1") + F.col("_u") * (F.col("b.h2") - F.col("b.h1"))).alias("h_2"),
        (F.col("a.t1") + F.col("_s") * (F.col("a.t2") - F.col("a.t1"))).alias("t_1"),
        (F.col("b.t1") + F.col("_u") * (F.col("b.t2") - F.col("b.t1"))).alias("t_2"),
    )
    # the same crossing surfaces once per shared cell → dedup
    return out.dropDuplicates(["track1", "track2", "x", "y"])


def densify_track_greatcircle(
    df: DataFrame,
    track_col: str = "track_id",
    order_col: str = "rn",
    lon: str = "lon",
    lat: str = "lat",
    h: str = "h",
    max_seg_m: float = 5000.0,
    radius_m: float = 6_371_008.8,
) -> DataFrame:
    """Insert intermediate points along the GREAT CIRCLE between
    consecutive track points so no arc exceeds ``max_seg_m`` — the
    curved-track robustness step before straight-segment crossover
    (reference x2sys operates on geographic tracks whose inter-point
    gaps follow great circles; cf. X2SYS/ICESAT2.tag -Wd250e gap rule,
    /root/reference/atlxi_xover.py:118-146).

    Pure Catalyst trig (slerp on unit vectors):
      P(f) = (sin((1−f)ω)·A + sin(fω)·B) / sin ω,  ω = acos(A·B)
    with attributes (h) interpolated linearly in f, matching x2sys's
    along-track linear interpolation. One lead() window + one explode —
    map-side after the per-track shuffle; output grows by
    ceil(arc/max_seg_m) per gap, bounded and uniform.

    Output: (track, rn, i, lon, lat, h) where (rn, i) orders densified
    points within the track (i = 0 is the original point; the track's
    final point carries i = 0 of a degenerate pair)."""
    w = Window.partitionBy(track_col).orderBy(order_col)
    pairs = df.select(
        F.col(track_col).alias("track"),
        F.col(order_col).alias("rn"),
        F.col(lon).alias("lon1"),
        F.col(lat).alias("lat1"),
        F.col(h).alias("h1"),
        F.lead(lon).over(w).alias("lon2"),
        F.lead(lat).over(w).alias("lat2"),
        F.lead(h).over(w).alias("h2"),
    )
    # degenerate final point: B := A so the trig below stays null-free
    pairs = pairs.withColumn("_last", F.col("lon2").isNull()).select(
        "track", "rn", "lon1", "lat1", "h1", "_last",
        F.coalesce("lon2", "lon1").alias("lon2"),
        F.coalesce("lat2", "lat1").alias("lat2"),
        F.coalesce("h2", "h1").alias("h2"),
    )
    ax = F.cos(F.radians("lat1")) * F.cos(F.radians("lon1"))
    ay = F.cos(F.radians("lat1")) * F.sin(F.radians("lon1"))
    az = F.sin(F.radians("lat1"))
    bx = F.cos(F.radians("lat2")) * F.cos(F.radians("lon2"))
    by = F.cos(F.radians("lat2")) * F.sin(F.radians("lon2"))
    bz = F.sin(F.radians("lat2"))
    dot = F.least(F.greatest(ax * bx + ay * by + az * bz, F.lit(-1.0)), F.lit(1.0))
    omega = F.acos(dot)
    n = F.when(
        F.col("_last") | (omega * radius_m <= F.lit(max_seg_m)), F.lit(1)
    ).otherwise(F.ceil(omega * radius_m / F.lit(max_seg_m)).cast("int"))
    g = (
        pairs.withColumn("_ax", ax).withColumn("_ay", ay).withColumn("_az", az)
        .withColumn("_bx", bx).withColumn("_by", by).withColumn("_bz", bz)
        .withColumn("_omega", omega)
        .withColumn("i", F.explode(F.sequence(F.lit(0), n - 1)))
    )
    f = F.col("i").cast("double") / n.cast("double")
    sin_o = F.sin(F.col("_omega"))
    # f = 0 (every original point) and tiny arcs short-circuit to A —
    # no 0/0 when ω = 0
    k1 = F.when(
        (F.col("i") == 0) | (F.col("_omega") < F.lit(1e-12)), F.lit(1.0)
    ).otherwise(F.sin((F.lit(1.0) - f) * F.col("_omega")) / sin_o)
    k2 = F.when(
        (F.col("i") == 0) | (F.col("_omega") < F.lit(1e-12)), F.lit(0.0)
    ).otherwise(F.sin(f * F.col("_omega")) / sin_o)
    px = k1 * F.col("_ax") + k2 * F.col("_bx")
    py = k1 * F.col("_ay") + k2 * F.col("_by")
    pz = k1 * F.col("_az") + k2 * F.col("_bz")
    orig = F.col("i") == 0
    # i = 0 is the original point — pass it through verbatim instead of
    # round-tripping it through atan2 (which costs ~1 ulp of longitude)
    return g.select(
        "track",
        "rn",
        "i",
        F.when(orig, F.col("lon1")).otherwise(F.degrees(F.atan2(py, px))).alias("lon"),
        F.when(orig, F.col("lat1"))
        .otherwise(F.degrees(F.atan2(pz, F.sqrt(px * px + py * py))))
        .alias("lat"),
        (F.col("h1") + f * (F.col("h2") - F.col("h1"))).alias("h"),
    )


def crossover_errors(xovers: DataFrame, seconds_per_year: float = 365.25 * 86400) -> DataFrame:
    """Derived crossover metrics (atlxi_xover.py:170-173):
    h_X = h_2 − h_1 (later minus earlier), t_D = t_2 − t_1,
    dhdt = h_X / (t_D in years). Track order already guarantees
    track1 < track2; the reference sorts so track2 is the later pass —
    callers control ordering via track ids."""
    t_d = F.col("t_2") - F.col("t_1")
    return (
        xovers.withColumn("h_X", F.col("h_2") - F.col("h_1"))
        .withColumn("t_D", t_d)
        .withColumn("dhdt", F.col("h_X") / (t_d / F.lit(seconds_per_year)))
    )
