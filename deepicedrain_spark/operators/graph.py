"""Distributed connected components over an edge DataFrame.

The lake-finder's cluster-merge step and the near-duplicate grouping
step (collapse pairwise near-dup edges into dedup groups) both need
components; the reference gets them implicitly from single-node DBSCAN
(/root/reference/deepicedrain/lake_algorithms.py:13-73) — at 100 TB
the edge set no longer fits one node, so components must be an
iterative DataFrame program.

Algorithm: min-label propagation with pointer jumping. Each round
  1. neighbor-min: l(v) <- min(l(v), min_{u in N(v)} l(u))  (one
     shuffle keyed on the edge endpoint), then
  2. pointer jump:  l(v) <- l(l(v))  (self-join on the label), which
     contracts label chains so convergence needs O(log n) rounds on a
     path instead of O(n) — the same doubling idea as the
     large-star/small-star MapReduce formulation (Kiveris et al. 2014).
Every round fences its label table (eager ``io.fence``) and releases
the previous one, so each round's plan is O(1) — without truncation the
logical plan re-carries both the whole upstream edge-producing subtree
and every earlier round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence, release, size_to

# Checkpointed per-round state tables are sized to the edge count
# (io.fence / io.size_to, r13 optimization round): their parent
# shuffle's 32 partitions made every round run dozens of near-empty
# tasks per stage on a small graph, while big graphs keep their
# parallelism. The row bound is one count over the checkpointed edge
# table, not a partition probe (.rdd costs a full physical-planning
# pass, ~0.16 s/call driver-side, measured r13).


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    out_node: str = "node",
    out_comp: str = "component",
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; the
    component id is the minimum node id in the component (stable,
    engine-independent)."""
    # fence: every round's plan would otherwise re-carry the upstream
    # edge-producing subtree (e.g. a full minhash pipeline), and
    # per-round driver planning dominates on small graphs
    sym = fence(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # one cheap count over the checkpointed RDD sizes every per-round
    # state table (labels rows <= sym rows)
    n_sym = sym.count()
    sym = size_to(sym, n_sym)
    labels = fence(
        sym.select(F.col("a").alias("node")).distinct().withColumn(
            "label", F.col("node")
        ),
        n_sym,
    )
    # labels only ever decrease, so the label sum is a strictly
    # decreasing convergence metric — one cheap agg per round instead
    # of an old-vs-new join. Probing every round is deliberate:
    # batching 2 rounds per probe was A/B-measured SLOWER at sf0.1
    # (4.3 s vs 3.3 s — deeper per-job plans + a forfeited early exit
    # beat the saved driver round-trip; see ROADMAP.md "Measured dead
    # ends").
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]

    for it in range(max_iter):
        nbr_min = (
            sym.join(
                labels.select(F.col("node").alias("b"), F.col("label").alias("bl")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("bl").alias("nl"))
        )
        # lazy fence (r13, guide §5.4): the pointer jump consumes
        # stepped on BOTH sides of an aliased self-join keyed on
        # DIFFERENT columns (label vs node), so the planner cannot
        # reuse one exchange and the neighbor-min join executed twice
        # per round. The fence materializes stepped once (when
        # jumped's eager checkpoint runs) — O(nodes) state, the same
        # table the round keeps anyway.
        stepped = fence(
            labels.join(nbr_min, labels.node == nbr_min.a, "left").select(
                "node",
                F.least(F.col("label"), F.coalesce("nl", F.col("label"))).alias("label"),
            ),
            eager=False,
        )
        # pointer jump: label <- label's label (labels are node ids, so
        # an inner self-join always finds the parent row)
        parents = stepped.select(
            F.col("node").alias("p"), F.col("label").alias("pl")
        )
        jumped = (
            stepped.join(parents, stepped.label == parents.p)
            .select("node", F.col("pl").alias("label"))
        )
        # checkpoint every round: label tables are tiny (one row per
        # node in the edge set) and a truncated plan keeps round
        # planning O(1) instead of O(iterations)
        jumped = fence(jumped, n_sym)
        new_sum = jumped.agg(F.sum("label")).collect()[0][0]
        # jumped is materialized — the previous round's checkpointed
        # blocks are no longer read
        release(stepped)
        release(labels)
        labels = jumped
        if new_sum == prev_sum:
            break
        prev_sum = new_sum

    release(sym)
    return labels.select(F.col("node").alias(out_node), F.col("label").alias(out_comp))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 5,
    round_dp: int = 9,
) -> DataFrame:
    """PageRank over an edge list as an iterative DataFrame program —
    per round ONE join (contributions keyed on the source) and ONE
    groupBy (summing into the destination), both equi-key shuffles, so
    each iteration is a fixed two-exchange plan at any graph size
    (the GraphX/Pregel shape expressed in plain DataFrames).

    Nodes = every endpoint; ranks start uniform at 1/N.  Dangling
    nodes (no out-edges) redistribute their rank mass uniformly each
    round (standard PageRank; total rank stays 1, matching
    GraphX/NetworkX on graphs with dangling nodes — ADVICE r2). The
    dangling mass is a 1-row aggregate broadcast into the update, so
    the per-iteration plan stays fixed-size. Ranks round to
    ``round_dp`` decimals each iteration IN BOTH ENGINES so
    cross-engine fp accumulation (~1e-16/term) cannot compound across
    rounds — the same drift-pinning trick as kmeans.updated_centroids.

    Every round fences the O(nodes) rank table, keeping the
    per-round plan O(1) like connected_components above.
    """
    e = fence(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    # one cheap count over the checkpointed RDD sizes the per-round
    # state tables (nodes/deg/ranks rows <= 2*edge rows)
    n_e = e.count()
    e = size_to(e, n_e)
    nodes = fence(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct(),
        n_e,
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # legitimately empty edge set (e.g. a near-dup threshold that
        # matched nothing): empty ranks, not a ZeroDivisionError
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n_nodes
    # fence deg ONCE (r13, guide §5.4): unfenced, its groupBy shuffle
    # re-executed per round for BOTH consumers (contribution join +
    # dangling anti-join) — 2*iters shuffles of an O(nodes) table
    deg = fence(e.groupBy("u").agg(F.count(F.lit(1)).alias("deg")), n_e)
    ranks = nodes.withColumn("rank", F.round(F.lit(1.0 / n_nodes), round_dp))
    for i in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "u"), "u")
            .join(deg, "u")
            .select(F.col("v").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        # dangling mass: rank held by nodes with no out-edges (1-row
        # aggregate, broadcast; NULL → 0.0 when no node dangles)
        dangling = ranks.join(
            deg.withColumnRenamed("u", "node"), "node", "left_anti"
        ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        prev = ranks
        ranks = fence(
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("in_sum"), F.lit(0.0))
                        + F.col("_dm") / F.lit(float(n_nodes))
                    ),
                    round_dp,
                ).alias("rank"),
            ),
            n_e,
        )
        # drop the superseded round's checkpointed blocks (same hygiene
        # as connected_components) — without this a long run pins
        # `iters` copies of the O(nodes) rank table in executor
        # storage. Round 0's prev is a projection of nodes, which every
        # round still reads.
        if i:
            release(prev)
    return ranks
