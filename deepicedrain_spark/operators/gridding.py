"""Surface interpolation onto a regular grid (SURVEY A11).

Reference: ``spatiotemporal_cube`` at
/root/reference/deepicedrain/spatiotemporal.py:310-477 — GMT
``blockmedian`` (A10) then ``surface`` (adjustable-tension
continuous-curvature spline) per cycle, masked to cells within 3 grid
cells of data (M='3c') and clipped to ±3·MAD limits (L).

Spark-first: an exact GMT tension-spline port is out of scope (GMT is
a global iterative PDE solver); the engine provides inverse-distance
weighting (IDW) over a cell+halo partitioning — the accepted
approximation per SURVEY §7 step 8, validated on relative tolerances:

1. block-median the points per grid cell (one shuffle — A10);
2. shard the grid into blocks of ``block_cells`` cells; replicate cell
   medians into neighboring blocks within the search halo;
3. per block (applyInPandas), evaluate IDW at each grid node from the
   cell medians within ``search_cells``; nodes with no data in range
   stay null (the M='3c' mask);
4. clip to median ± 3·MAD of the input (the L limits), computed as a
   broadcast aggregate.

Shuffle profile at 100 TB: points → cells is a partial-agg shuffle of
O(cells); the halo fan-out is ≤9× on CELL MEDIANS (already reduced),
never on raw points.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence, release
from deepicedrain_spark.region import Region


def interpolate_grid(
    df: DataFrame,
    region: Region,
    spacing: float,
    z: str = "z",
    x: str = "x",
    y: str = "y",
    cycle_col: str | None = None,
    search_cells: int = 3,
    block_cells: int = 32,
    power: float = 2.0,
    clip_mad: float = 3.0,
) -> DataFrame:
    """IDW surface per (optional) cycle. Output: (cycle?, gx, gy, zi)
    with gx/gy grid indices and zi the interpolated (masked, clipped)
    value — the DataFrame form of the reference's x/y/cycle data cube."""
    spark = df.sparkSession
    keys = [cycle_col] if cycle_col else []
    if search_cells > block_cells:
        # the halo only replicates into the +/-1 neighbor block, which
        # covers a search radius of at most one block width — a larger
        # radius would SILENTLY miss in-range cell medians
        raise ValueError(
            f"interpolate_grid: search_cells ({search_cells}) must be <= "
            f"block_cells ({block_cells}) — the halo replicates one "
            "neighbor block deep"
        )

    # 1. block-median per cell (reduces points → cells).
    # fence: this full point-table scan+shuffle feeds med, mad AND
    # the halo — without materialization it re-runs 3x per action (it
    # is the most expensive stage of the plan)
    cx = F.floor((F.col(x) - F.lit(region.xmin)) / F.lit(spacing)).alias("cx")
    cy = F.floor((F.col(y) - F.lit(region.ymin)) / F.lit(spacing)).alias("cy")
    cells = fence(
        region.subset(df, x, y)
        .groupBy(*keys, cx, cy)
        .agg(
            F.expr(f"percentile({x}, 0.5D)").alias("mx"),
            F.expr(f"percentile({y}, 0.5D)").alias("my"),
            F.expr(f"percentile({z}, 0.5D)").alias("mz"),
        )
    )

    # clip limits: median ± k·MAD of the cell medians (GMT L option)
    med = cells.agg(F.expr("percentile(mz, 0.5D)").alias("m"))
    mad = (
        cells.crossJoin(F.broadcast(med))
        .agg(
            F.first("m").alias("m"),
            F.expr("percentile(abs(mz - m), 0.5D)").alias("mad"),
        )
    )

    # 2. halo replication of cell medians into neighbor blocks
    bx = F.floor(F.col("cx") / block_cells)
    by = F.floor(F.col("cy") / block_cells)
    fx = F.col("cx") - bx * block_cells
    fy = F.col("cy") - by * block_cells
    bxs = F.array_distinct(
        F.array(
            bx,
            F.when(fx < search_cells, bx - 1).otherwise(bx),
            F.when(fx >= block_cells - search_cells, bx + 1).otherwise(bx),
        )
    )
    bys = F.array_distinct(
        F.array(
            by,
            F.when(fy < search_cells, by - 1).otherwise(by),
            F.when(fy >= block_cells - search_cells, by + 1).otherwise(by),
        )
    )
    haloed = cells.withColumn("_bx", F.explode(bxs)).withColumn("_by", F.explode(bys))

    nx = int(round((region.xmax - region.xmin) / spacing))
    ny = int(round((region.ymax - region.ymin) / spacing))
    x0, y0 = region.xmin, region.ymin

    key_schema = ""
    if cycle_col:
        key_schema = f"{cycle_col} " + dict(df.dtypes)[cycle_col] + ", "
    schema = key_schema + "gx long, gy long, zi double"

    def idw(pdf: pd.DataFrame) -> pd.DataFrame:
        bx0 = int(pdf["_bx"].iloc[0]) * block_cells
        by0 = int(pdf["_by"].iloc[0]) * block_cells
        px = pdf["mx"].to_numpy(np.float64)
        py = pdf["my"].to_numpy(np.float64)
        pz = pdf["mz"].to_numpy(np.float64)
        rows = []
        r2max = (search_cells * spacing) ** 2
        key = {c: pdf[c].iloc[0] for c in ([cycle_col] if cycle_col else [])}
        for gx in range(max(bx0, 0), min(bx0 + block_cells, nx)):
            gx_c = x0 + (gx + 0.5) * spacing
            for gy in range(max(by0, 0), min(by0 + block_cells, ny)):
                gy_c = y0 + (gy + 0.5) * spacing
                d2 = (px - gx_c) ** 2 + (py - gy_c) ** 2
                m = d2 <= r2max
                if not m.any():
                    continue  # M='3c' mask: no data within range
                d2m = d2[m]
                if (d2m < 1e-18).any():
                    zi = float(pz[m][d2m < 1e-18][0])
                else:
                    w = 1.0 / d2m ** (power / 2)
                    zi = float((w * pz[m]).sum() / w.sum())
                rows.append({**key, "gx": gx, "gy": gy, "zi": zi})
        return pd.DataFrame(rows, columns=[*([cycle_col] if cycle_col else []), "gx", "gy", "zi"])

    # each node is evaluated only in its home block (the gx/gy ranges
    # above), so no dedup pass is needed — halo rows only widen the
    # data each block sees
    grid = haloed.groupBy(*keys, "_bx", "_by").applyInPandas(idw, schema=schema)

    # 4. clip to ±k·MAD
    return (
        grid.crossJoin(F.broadcast(mad))
        .withColumn(
            "zi",
            F.least(
                F.greatest(F.col("zi"), F.col("m") - F.lit(clip_mad) * F.col("mad")),
                F.col("m") + F.lit(clip_mad) * F.col("mad"),
            ),
        )
        .drop("m", "mad")
    )


# ---------------------------------------------------------------------------
# A11 exact-semantics path: tension-spline relaxation (GMT `surface`)
# ---------------------------------------------------------------------------
# GMT's continuous-curvature spline under tension solves
#   (1-T)∇⁴z − T∇²z = 0 with data constraints (Smith & Wessel 1990,
#   reference call at spatiotemporal.py:310-477, T=0.35). This is the
#   iterative-PDE form the IDW path approximates; here it is solved
#   directly with fixed-iteration JACOBI relaxation of the blended
#   membrane/plate stencil:
#     z' = T·(N+S+E+W)/4
#        + (1-T)·(8(N+S+E+W) − 2(NE+NW+SE+SW) − (NN+SS+EE+WW))/20
#   Dirichlet at data cells (block-median value), replicate-edge
#   clamping at the boundary. Jacobi (not SOR) because every update
#   reads only the PREVIOUS iteration — order-independent, so a
#   distributed stencil-join iteration is bit-identical to any serial
#   evaluation of the same arithmetic (the DuckDB oracle replays it
#   with a recursive CTE over the grid-as-list).

_STENCIL = [
    (0, 0, 1),   # N
    (1, 0, -1),  # S
    (2, 1, 0),   # E
    (3, -1, 0),  # W
    (4, 1, 1),   # NE
    (5, -1, 1),  # NW
    (6, 1, -1),  # SE
    (7, -1, -1), # SW
    (8, 0, 2),   # NN
    (9, 0, -2),  # SS
    (10, 2, 0),  # EE
    (11, -2, 0), # WW
]


def tension_spline_grid(
    df: DataFrame,
    region: Region,
    spacing: float,
    z: str = "z",
    x: str = "x",
    y: str = "y",
    tension: float = 0.35,
    iters: int = 60,
    mask_cells: int = 3,
    clip_mad: float = 3.0,
    batch: int = 10,
    dense_cells: int = 1 << 20,
) -> DataFrame:
    """Tension-spline surface on a regular grid. Output (gx, gy, zs)
    for nodes within ``mask_cells`` (Chebyshev) of data (M='3c'),
    clipped to median ± clip_mad·MAD (L limits).

    Shuffle profile: points→cells is one partial-agg shuffle; each
    Jacobi iteration is a stencil equi-join + 12-slot gather groupBy on
    the GRID (orders of magnitude smaller than the point table);
    ``batch`` iterations compose lazily between fences. The
    12 neighbor contributions aggregate into separate single-element
    slots and combine in a fixed expression order, so results are
    deterministic and engine-reproducible.

    Grids at or under ``dense_cells`` nodes (≈8 MB of doubles per 2²⁰)
    skip the per-iteration shuffles entirely: the relaxation runs
    vectorized over the dense array in ONE applyInPandas task — the
    same elementwise IEEE arithmetic in the same order, so the two
    paths are bit-identical (pinned by a test). After block-median
    reduction the grid is orders of magnitude smaller than the point
    table, so the dense path covers most real uses; the stencil-join
    path remains for grids that exceed one task's memory."""
    nx = int(round((region.xmax - region.xmin) / spacing))
    ny = int(round((region.ymax - region.ymin) / spacing))

    cx = F.floor((F.col(x) - F.lit(region.xmin)) / F.lit(spacing)).alias("gx")
    cy = F.floor((F.col(y) - F.lit(region.ymin)) / F.lit(spacing)).alias("gy")
    # fence: the point-table percentile aggregation feeds med, lim,
    # the relaxation base AND the final mask — without it it re-runs
    # up to 5x per action
    cells = fence(
        region.subset(df, x, y)
        .groupBy(cx, cy)
        .agg(F.expr(f"percentile({z}, 0.5D)").alias("mz"))
        .filter(
            (F.col("gx") >= 0) & (F.col("gx") < nx)
            & (F.col("gy") >= 0) & (F.col("gy") < ny)
        )
    )
    med = cells.agg(F.expr("percentile(mz, 0.5D)").alias("m"))
    lim = (
        cells.crossJoin(F.broadcast(med))
        .agg(
            F.first("m").alias("m"),
            F.expr("percentile(abs(mz - m), 0.5D)").alias("mad"),
        )
    )

    spark = df.sparkSession
    nodes = (
        spark.range(nx * ny)
        .select(
            (F.col("id") / ny).cast("long").alias("gx"),
            (F.col("id") % ny).alias("gy"),
        )
    )
    base = fence(
        nodes.join(F.broadcast(cells), ["gx", "gy"], "left").select(
            "gx",
            "gy",
            F.col("mz").isNotNull().alias("is_data"),
            F.coalesce("mz", F.lit(0.0)).alias("zd"),
        ),
        eager=True,
    )

    if nx * ny <= dense_cells:
        t = float(tension)

        def relax(pdf: pd.DataFrame) -> pd.DataFrame:
            zd = np.zeros((nx, ny), dtype=np.float64)
            isd = np.zeros((nx, ny), dtype=bool)
            zd[pdf["gx"].to_numpy(np.int64), pdf["gy"].to_numpy(np.int64)] = pdf[
                "zd"
            ].to_numpy(np.float64)
            isd[pdf["gx"].to_numpy(np.int64), pdf["gy"].to_numpy(np.int64)] = pdf[
                "is_data"
            ].to_numpy(bool)
            zv = zd.copy()
            for _ in range(iters):
                # pad-edge == clamped neighbor indexing; expression
                # order mirrors the stencil-join path exactly
                p = np.pad(zv, 2, mode="edge")
                zN = p[2:-2, 3:-1]
                zS = p[2:-2, 1:-3]
                zE = p[3:-1, 2:-2]
                zW = p[1:-3, 2:-2]
                zNE = p[3:-1, 3:-1]
                zNW = p[1:-3, 3:-1]
                zSE = p[3:-1, 1:-3]
                zSW = p[1:-3, 1:-3]
                zNN = p[2:-2, 4:]
                zSS = p[2:-2, :-4]
                zEE = p[4:, 2:-2]
                zWW = p[:-4, 2:-2]
                harm = (zN + zS + zE + zW) / 4.0
                biharm = (
                    8.0 * (zN + zS + zE + zW)
                    - 2.0 * (zNE + zNW + zSE + zSW)
                    - (zNN + zSS + zEE + zWW)
                ) / 20.0
                stepped = t * harm + (1.0 - t) * biharm
                zv = np.where(isd, zd, stepped)
            gx, gy = np.meshgrid(np.arange(nx), np.arange(ny), indexing="ij")
            return pd.DataFrame(
                {"gx": gx.ravel(), "gy": gy.ravel(), "zv": zv.ravel()}
            )

        grid = (
            base.withColumn("_g", F.lit(1))
            .groupBy("_g")
            .applyInPandas(relax, schema="gx long, gy long, zv double")
        )
        return _spline_finish(grid, cells, lim, nx, ny, mask_cells, clip_mad)

    offs = F.array(
        *[
            F.struct(F.lit(i).alias("oid"), F.lit(di).alias("di"), F.lit(dj).alias("dj"))
            for i, di, dj in _STENCIL
        ]
    )

    def clamp(col: F.Column, hi: int) -> F.Column:
        return F.least(F.greatest(col, F.lit(0)), F.lit(hi - 1))

    def one_iter(grid: DataFrame) -> DataFrame:
        recv = base.select("gx", "gy", F.explode(offs).alias("o")).select(
            "gx",
            "gy",
            F.col("o.oid").alias("oid"),
            clamp(F.col("gx") + F.col("o.di"), nx).alias("sx"),
            clamp(F.col("gy") + F.col("o.dj"), ny).alias("sy"),
        )
        src = grid.select(
            F.col("gx").alias("sx"), F.col("gy").alias("sy"), F.col("zv").alias("sz")
        )
        gathered = (
            recv.join(src, ["sx", "sy"])
            .groupBy("gx", "gy")
            .agg(
                *[
                    F.sum(F.when(F.col("oid") == i, F.col("sz"))).alias(f"z{i}")
                    for i in range(12)
                ]
            )
        )
        harm = (F.col("z0") + F.col("z1") + F.col("z2") + F.col("z3")) / F.lit(4.0)
        biharm = (
            F.lit(8.0) * (F.col("z0") + F.col("z1") + F.col("z2") + F.col("z3"))
            - F.lit(2.0) * (F.col("z4") + F.col("z5") + F.col("z6") + F.col("z7"))
            - (F.col("z8") + F.col("z9") + F.col("z10") + F.col("z11"))
        ) / F.lit(20.0)
        stepped = F.lit(tension) * harm + F.lit(1.0 - tension) * biharm
        return gathered.join(base, ["gx", "gy"]).select(
            "gx",
            "gy",
            F.when(F.col("is_data"), F.col("zd")).otherwise(stepped).alias("zv"),
        )

    grid = base.select("gx", "gy", F.col("zd").alias("zv"))
    prev = None  # the previous batch's fence (base is read by every batch)
    done = 0
    while done < iters:
        for _ in range(min(batch, iters - done)):
            grid = one_iter(grid)
        done += min(batch, iters - done)
        grid = fence(grid, eager=True)
        # grid is materialized: the previous fence is no longer read
        if prev is not None:
            release(prev)
        prev = grid

    return _spline_finish(grid, cells, lim, nx, ny, mask_cells, clip_mad)


def _spline_finish(
    grid: DataFrame,
    cells: DataFrame,
    lim: DataFrame,
    nx: int,
    ny: int,
    mask_cells: int,
    clip_mad: float,
) -> DataFrame:
    """M='3c' mask (keep nodes within Chebyshev mask_cells of data) and
    L clip (median ± clip_mad·MAD) — shared by both relaxation paths."""
    span = F.sequence(F.lit(-mask_cells), F.lit(mask_cells))
    masked_nodes = (
        cells.select(
            F.explode(span).alias("dx"), F.col("gx").alias("bgx"), F.col("gy").alias("bgy")
        )
        .withColumn("dy", F.explode(span))
        .select(
            (F.col("bgx") + F.col("dx")).alias("gx"),
            (F.col("bgy") + F.col("dy")).alias("gy"),
        )
        .filter(
            (F.col("gx") >= 0) & (F.col("gx") < nx)
            & (F.col("gy") >= 0) & (F.col("gy") < ny)
        )
        .distinct()
    )
    out = grid.join(masked_nodes, ["gx", "gy"]).crossJoin(F.broadcast(lim))
    zs = F.least(
        F.greatest(F.col("zv"), F.col("m") - F.lit(clip_mad) * F.col("mad")),
        F.col("m") + F.lit(clip_mad) * F.col("mad"),
    )
    return out.select("gx", "gy", F.round(zs, 6).alias("zs"))
