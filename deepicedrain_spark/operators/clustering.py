"""Density clustering — DBSCAN (SURVEY M1).

Reference: ``find_clusters`` at
/root/reference/deepicedrain/lake_algorithms.py:13-73 runs cuML/
sklearn DBSCAN(eps=3000 m, min_samples=250) on [x, y, dhdt_slope] per
drainage basin, separately for draining (labels negated) and filling;
noise (−1) → null.

Spark-first: the reference's unit of work is ONE BASIN (≤ a few
million points), so the natural distribution is ``groupBy(basin).
applyInPandas(local_dbscan)`` — each basin fits one task comfortably
and results are bit-identical to a single-node run (no cross-
partition merge ambiguity). The local kernel is a vectorized numpy
grid-bucket DBSCAN (O(n·k) with eps-cell hashing, no sklearn needed).

For clouds where one group exceeds a task (no such case in the
reference), ``dbscan_distributed`` shards a group into eps-grid
blocks with halo replication and merges local clusters whose core
points fall within eps across block borders via iterative
label-propagation joins (connected components).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence, release


def dbscan_numpy(
    X: np.ndarray, eps: float, min_samples: int, return_core: bool = False
):
    """Exact DBSCAN labels (−1 = noise) via eps-cell bucketing.

    Semantics match sklearn/cuML: a point is core iff it has
    ≥ min_samples neighbors within eps INCLUDING itself; border points
    join the first core cluster that reaches them; noise stays −1.
    With ``return_core`` also returns the core mask — free, because the
    sweep computes every point's neighborhood exactly once.
    """
    n = len(X)
    if n == 0:
        empty = np.empty(0, dtype=np.int64)
        return (empty, np.zeros(0, dtype=bool)) if return_core else empty
    cells = np.floor(X / eps).astype(np.int64)
    buckets: dict[tuple, np.ndarray] = {}
    order = np.lexsort(cells.T[::-1])
    sorted_cells = cells[order]
    boundaries = np.flatnonzero(
        np.any(np.diff(sorted_cells, axis=0) != 0, axis=1)
    )
    starts = np.concatenate(([0], boundaries + 1))
    ends = np.concatenate((boundaries + 1, [n]))
    for s, e in zip(starts, ends):
        buckets[tuple(sorted_cells[s])] = order[s:e]

    d = X.shape[1]
    offsets = np.array(np.meshgrid(*([[-1, 0, 1]] * d))).T.reshape(-1, d)

    def neighbors(i: int) -> np.ndarray:
        c = cells[i]
        cand_list = [
            buckets[key]
            for off in offsets
            if (key := tuple(c + off)) in buckets
        ]
        cand = np.concatenate(cand_list)
        diff = X[cand] - X[i]
        return cand[np.einsum("ij,ij->i", diff, diff) <= eps * eps]

    labels = np.full(n, -1, dtype=np.int64)
    core = np.zeros(n, dtype=bool)
    visited = np.zeros(n, dtype=bool)
    cluster = -1
    for i in range(n):
        if visited[i]:
            continue
        visited[i] = True
        nbrs = neighbors(i)
        core[i] = len(nbrs) >= min_samples
        if len(nbrs) < min_samples:
            continue
        cluster += 1
        labels[i] = cluster
        seeds = list(nbrs[labels[nbrs] == -1])
        labels[nbrs[labels[nbrs] == -1]] = cluster
        labels[i] = cluster
        while seeds:
            j = seeds.pop()
            if visited[j]:
                continue
            visited[j] = True
            jn = neighbors(j)
            core[j] = len(jn) >= min_samples
            if len(jn) >= min_samples:
                new = jn[(labels[jn] == -1)]
                labels[new] = cluster
                seeds.extend(new)
    return (labels, core) if return_core else labels


def find_clusters(
    df: DataFrame,
    group_cols: Sequence[str],
    feature_cols: Sequence[str],
    eps: float = 3000.0,
    min_samples: int = 250,
    label_col: str = "cluster_id",
) -> DataFrame:
    """M1: per-group DBSCAN via applyInPandas.

    Output: input columns + ``label_col`` (long; 1-based like the
    reference's cluster labels at lake_algorithms.py:66-68, NULL for
    noise). One shuffle on group key; each group is clustered locally
    and deterministically.
    """
    group_cols = list(group_cols)
    feature_cols = list(feature_cols)
    out_schema = df.schema.simpleString()[7:-1] + f", {label_col} long"

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        # canonical scan order: label discovery (and thus cluster ids)
        # must not depend on how the shuffle delivered the rows
        pdf = pdf.sort_values(feature_cols, kind="mergesort", ignore_index=True)
        X = pdf[feature_cols].to_numpy(dtype=np.float64)
        mask = ~np.isnan(X).any(axis=1)
        labels = np.full(len(pdf), -1, dtype=np.int64)
        if mask.sum() > 0:
            labels[mask] = dbscan_numpy(X[mask], eps, min_samples)
        out = pdf.copy()
        # 1-based labels, noise → <NA> (reference: cluster_label = labels+1,
        # zero masked to NaN at lake_algorithms.py:66-69)
        lab = pd.array(labels + 1, dtype="Int64")
        lab[lab == 0] = pd.NA
        out[label_col] = lab
        return out

    return df.groupBy(*group_cols).applyInPandas(run, schema=out_schema)


def find_clusters_signed(
    df: DataFrame,
    group_cols: Sequence[str],
    feature_cols: Sequence[str],
    sign_col: str,
    eps: float = 3000.0,
    min_samples: int = 250,
    label_col: str = "cluster_id",
) -> DataFrame:
    """Reference semantics (atlxi_lake.py:212-227): cluster draining
    (sign<0) and filling (sign>0) populations separately; draining
    cluster ids are NEGATED so signs encode direction.

    Rows belonging to NEITHER population (sign exactly 0, NULL, or
    NaN) come back with a NULL cluster label instead of vanishing —
    output row count equals input row count, matching find_clusters'
    keep-noise convention (previously 0/NULL rows were silently
    dropped and NaN rows leaked into a NaN-sign cluster group)."""
    base = df.withColumn("_sign", F.signum(F.col(sign_col)))
    clusterable = (F.col("_sign") == 1) | (F.col("_sign") == -1)
    split = base.filter(clusterable)
    rest = (
        base.filter(~F.coalesce(clusterable, F.lit(False)))
        .withColumn(label_col, F.lit(None).cast("long"))
        .drop("_sign")
    )
    clustered = find_clusters(
        split,
        [*group_cols, "_sign"],
        feature_cols,
        eps,
        min_samples,
        label_col,
    )
    return (
        clustered.withColumn(
            label_col, (F.col(label_col) * F.col("_sign")).cast("long")
        )
        .drop("_sign")
        .unionByName(rest)
    )


def dbscan_distributed(
    df: DataFrame,
    feature_cols: Sequence[str],
    eps: float,
    min_samples: int,
    block_cells: int = 64,
    label_col: str = "cluster_id",
    id_col: str = "point_id",
    merge_collect_max: int = 1_000_000,
) -> DataFrame:
    """Scale-out DBSCAN for a single huge cloud (beyond-reference).

    1. Shard space into blocks of ``block_cells``·eps per side; each
       point goes to its home block and is REPLICATED into neighbor
       blocks when within eps of the border (halo).
    2. Local numpy DBSCAN per block (applyInPandas).
    3. Merge: halo points carrying two block-local core labels witness
       that the clusters are one; iterate min-label propagation over
       the witness edges until fixpoint (connected components).

    Only 2-D supported here (x, y = feature_cols[:2]); higher dims
    cluster per-group via find_clusters.
    """
    x, y = feature_cols[0], feature_cols[1]
    bsize = block_cells * eps

    # home + halo replication (≤4 copies in 2-D corner case)
    def block_assignments(df: DataFrame) -> DataFrame:
        bx = F.floor(F.col(x) / bsize)
        by = F.floor(F.col(y) / bsize)
        fx = F.col(x) - bx * bsize
        fy = F.col(y) - by * bsize
        bxs = F.array_distinct(
            F.array(
                bx,
                F.when(fx < eps, bx - 1).otherwise(bx),
                F.when(fx > bsize - eps, bx + 1).otherwise(bx),
            )
        )
        bys = F.array_distinct(
            F.array(
                by,
                F.when(fy < eps, by - 1).otherwise(by),
                F.when(fy > bsize - eps, by + 1).otherwise(by),
            )
        )
        return (
            df.withColumn("_bx", F.explode(bxs))
            .withColumn("_by", F.explode(bys))
            .withColumn(
                "_is_home",
                (F.col("_bx") == F.floor(F.col(x) / bsize))
                & (F.col("_by") == F.floor(F.col(y) / bsize)),
            )
        )

    pts = block_assignments(df)

    schema = pts.schema.simpleString()[7:-1] + ", _local long, _is_core boolean"

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        X = pdf[[x, y]].to_numpy(dtype=np.float64)
        labels, core = dbscan_numpy(X, eps, min_samples, return_core=True)
        out = pdf.copy()
        out["_local"] = labels
        out["_is_core"] = core
        return out

    local = pts.groupBy("_bx", "_by").applyInPandas(run, schema=schema)
    local = local.filter(F.col("_local") >= 0).withColumn(
        "_gid",
        F.concat_ws("_", F.col("_bx"), F.col("_by"), F.col("_local")),
    )
    # eager fence: it feeds the edge collect, the gid collect AND the
    # returned label join — so it is not released here: the returned
    # frame still reads it
    local = fence(local, eager=True)

    # witness edges: same point id clustered in two blocks, core in ≥1
    copies = local.select(id_col, "_gid", "_is_core")
    edges = (
        copies.alias("a")
        .join(copies.alias("b"), on=id_col)
        .filter(F.col("a._gid") < F.col("b._gid"))
        .filter(F.col("a._is_core") | F.col("b._is_core"))
        .select(F.col("a._gid").alias("src"), F.col("b._gid").alias("dst"))
        .distinct()
    )

    # connected components: the fragment graph has one node per
    # (block, local-cluster) — normally O(blocks), microscopic next to
    # the point table even at 100 TB — so union-find on the driver +
    # broadcast of the root map back beats iterative label-propagation
    # joins (whose unbounded lineage cripples planning). GUARD (VERDICT
    # r4 task 5): a pathological eps/block_cells choice can make
    # fragments ~ points; count first and fall back to distributed
    # min-label propagation above ``merge_collect_max`` instead of
    # collecting an O(points) edge list to the driver.
    gids = local.select(F.col("_gid").alias("gid")).distinct()
    n_fragments = gids.count()
    if n_fragments <= merge_collect_max:
        parent: dict[str, str] = {}

        def find(a: str) -> str:
            while parent.setdefault(a, a) != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for row in edges.collect():
            ra, rb = find(row["src"]), find(row["dst"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        mapping = [(r["gid"], find(r["gid"])) for r in gids.collect()]
        labels = df.sparkSession.createDataFrame(mapping, "gid string, root string")
    else:
        # distributed fallback: min-label propagation over the fragment
        # graph; converges in O(component diameter) rounds, driver sees
        # one scalar (the changed-count) per round
        sym = edges.select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        ).unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        sym = fence(sym, eager=True)
        lbl = fence(gids.withColumn("root", F.col("gid")), eager=True)
        while True:
            nbr = (
                sym.join(lbl, sym["b"] == lbl["gid"])
                .groupBy("a")
                .agg(F.min("root").alias("nroot"))
            )
            stepped = fence(
                lbl.join(nbr, lbl["gid"] == nbr["a"], "left").select(
                    "gid",
                    "root",
                    F.least(F.col("root"), F.coalesce("nroot", "root")).alias(
                        "root_new"
                    ),
                ),
                eager=True,
            )
            changed = stepped.filter(F.col("root_new") != F.col("root")).count()
            # stepped is materialized: the previous fence is no longer read
            release(lbl)
            lbl = stepped.select("gid", F.col("root_new").alias("root"))
            if changed == 0:
                break
        release(sym)
        labels = lbl

    # Per-point label = min root over ALL copies, not just the home
    # copy: a border point can be reached by a cluster only in the
    # neighbor block where that cluster's core lives (its home-block
    # copy stays noise there), so keeping only home labels silently
    # drops it to noise. min() also makes contested border points
    # (reachable from two clusters) deterministic — lowest root wins,
    # independent of local scan order.
    point_labels = (
        local.join(F.broadcast(labels), local["_gid"] == labels["gid"])
        .groupBy(id_col)
        .agg(F.min("root").alias(label_col))
    )
    home = pts.filter(F.col("_is_home")).drop("_bx", "_by", "_is_home")
    return home.join(point_labels, on=id_col, how="left")
