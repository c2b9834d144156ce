"""Adversarial-partitioning correctness probe (round 10).

The driver compares value hashes, so any query whose result depends on
partition COUNT or task scheduling is a latent failure waiting for a
different cluster shape. This probe re-runs the partition/order-
sensitive subset of the suite (sampling, positional ids, deciles,
splits, salted/mergeable aggregation, distributed DBSCAN, packing,
medians, the parquet-sink pipelines) against the DuckDB oracle on a
deliberately hostile session: local[3], spark.sql.shuffle.partitions=7
(vs the engine default 32 and the driver's vanilla 200). Exit code =
number of failures.

Usage: python tools/partition_adversary.py [sf_dir] [query ... | --all]
  (--all sweeps every oracle-bearing query, not just the sensitive set)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2:]

SENSITIVE = [
    "deterministic_sample", "positional_concat", "equi_depth_deciles",
    "dataset_split", "stratified_sample_events", "weighted_sample_docs",
    "salted_skew_counts", "dbscan_distributed_summary", "leakage_safe_split",
    "dedup_keep_best", "sequence_packing", "session_batch",
    "mergeable_agg_state", "block_median", "grouped_median_mad",
    "atl11_dhdt_end_to_end", "url_dedup_hosts",
    # block/batch-shaped by construction: Arrow batch boundaries feed
    # the covariance/drift moment passes; the k-NN graph's GEMM grid
    "knn_graph_blocked", "embedding_covariance", "embedding_drift",
    # micro-batch boundary sensitivity by construction (foreachBatch
    # state gate; semantics must be batch-split invariant)
    "streaming_lsh_dedup",
]


def main() -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[3]")
        .config("spark.sql.shuffle.partitions", "7")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .appName("partition_adversary")
        .getOrCreate()
    )
    import check as ck
    import __spark_entry__ as entry

    qs, osql = entry.queries(), entry.oracle_sql()
    con = ck.duck_connection(SF_DIR)
    names = list(osql) if ONLY == ["--all"] else (ONLY or SENSITIVE)
    n_pass = n_fail = 0
    for name in names:
        try:
            ok, msg, _ = ck.compare_query(spark, con, qs[name], osql[name], SF_DIR)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, repr(e)[:200]
        spark.catalog.clearCache()
        n_pass += ok
        n_fail += not ok
        print(("PASS " if ok else "FAIL ") + name + ("" if ok else f": {msg}"))
    print(f"\n{n_pass} pass, {n_fail} fail under local[3] / 7 shuffle partitions")
    return n_fail


if __name__ == "__main__":
    raise SystemExit(main())
