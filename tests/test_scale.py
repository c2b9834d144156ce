"""Scale-operator tests: salted aggregation equivalence and bucketed
shuffle-free joins."""

import pandas as pd
from pyspark.sql import functions as F

from deepicedrain_spark.operators.scale import (
    bucketed_join_is_shuffle_free,
    salted_aggregate,
    write_bucketed,
)

SF_SMALL = "/root/testdata/sf0.001"


def test_salted_aggregate_matches_plain_groupby(spark):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "event_type", "user_id", "value"
    )
    got = {
        r["event_type"]: r
        for r in salted_aggregate(
            ev,
            ["event_type"],
            {"value": ["sum", "avg", "min", "max"], "user_id": ["count"]},
            salt_buckets=8,
        ).collect()
    }
    want = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.sum("value").alias("sum_value"),
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count("user_id").alias("count_user_id"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k]["count_user_id"] == want[k]["count_user_id"]
        assert got[k]["min_value"] == want[k]["min_value"]
        assert got[k]["max_value"] == want[k]["max_value"]
        assert abs(got[k]["sum_value"] - want[k]["sum_value"]) < 1e-6
        assert abs(got[k]["avg_value"] - want[k]["avg_value"]) < 1e-9


def test_bucketed_join_drops_exchange(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        lineitem = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice"
        )
        write_bucketed(orders, "t_orders_b", ["o_orderkey"], num_buckets=8)
        write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "t_lineitem_b",
            ["o_orderkey"],
            num_buckets=8,
        )
        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b")
        joined = a.join(b, "o_orderkey")
        assert bucketed_join_is_shuffle_free(joined)
        # and it still computes the right thing
        n = joined.count()
        plain = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        ).count()
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_shuffle_free_helper_catches_all_exchange_kinds(spark):
    """ADVICE r4 (low): the helper must flag range-partitioning and
    SinglePartition exchanges too, not just hash shuffles — while still
    treating BroadcastExchange as shuffle-free."""
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    # orderBy on a derived column => Exchange rangepartitioning
    # (orderBy("id") would NOT do: Range reports sorted-by-id output
    # ordering and Catalyst eliminates that sort outright)
    assert not bucketed_join_is_shuffle_free(df.orderBy("k"))
    # global agg => Exchange SinglePartition
    assert not bucketed_join_is_shuffle_free(df.groupBy().sum("id"))
    # groupBy => Exchange hashpartitioning
    assert not bucketed_join_is_shuffle_free(df.groupBy("k").count())
    # broadcast join only => shuffle-free
    small = spark.range(0, 7).select(F.col("id").alias("k"))
    from pyspark.sql.functions import broadcast

    assert bucketed_join_is_shuffle_free(df.join(broadcast(small), "k"))


def test_positional_index_matches_total_order_without_single_partition(spark):
    """Round 7 (VERDICT r6 task 6): the scalable zipWithIndex must
    assign exactly the ranks a global ORDER BY would, with NO
    single-partition WindowExec in the plan."""
    from pyspark.sql import functions as F

    from deepicedrain_spark.operators.scale import positional_index

    df = spark.range(0, 10_000).select(
        (F.xxhash64("id") % 100000).alias("k"), F.col("id").alias("payload")
    ).repartition(16)
    out = positional_index(df, ["k", "payload"])
    rows = out.orderBy("idx").collect()
    expected = sorted((r["k"], r["payload"]) for r in df.collect())
    assert [(r["k"], r["payload"]) for r in rows] == expected
    assert [r["idx"] for r in rows] == list(range(1, len(expected) + 1))
    # the window partitions by the range bucket — never a global sort
    # into one window partition
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    import re

    for m in re.finditer(r"Window .*?windowspecdefinition\(([^)]*)\)", plan):
        assert "_pid" in m.group(1) or "spark_partition_id" in m.group(1)


def test_trained_centroids_cache_invalidates_on_rewrite(spark, tmp_path):
    """ADVICE r6 (low): the train-once memo must not serve stale
    centroids after the table at a cached path is regenerated."""
    from pyspark.sql import functions as F

    from deepicedrain_spark.io import clear_memo
    from deepicedrain_spark.operators.kmeans import trained_centroids

    p = str(tmp_path / "emb.parquet")

    def write(seed: float) -> None:
        spark.range(0, 200).select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"transform(sequence(0, 7), i -> cast(id * {seed} + i as double))"
            ).alias("embedding"),
        ).coalesce(1).write.mode("overwrite").parquet(p)

    clear_memo()
    write(1.0)
    df1 = spark.read.parquet(p)
    _, c1 = trained_centroids(df1, "embedding", "vec_id", k=4, iters=1, cache_key=p)
    # same data, cache hit: identical object
    _, c1b = trained_centroids(
        spark.read.parquet(p), "embedding", "vec_id", k=4, iters=1, cache_key=p
    )
    assert c1 == c1b

    import time

    time.sleep(0.05)  # ensure a distinct mtime_ns on fast filesystems
    write(250.0)
    _, c2 = trained_centroids(
        spark.read.parquet(p), "embedding", "vec_id", k=4, iters=1, cache_key=p
    )
    assert c1 != c2, "regenerated table must invalidate the memo"
