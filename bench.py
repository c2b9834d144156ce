"""Benchmark harness: runs the suite's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes its full physical plan through a no-op sink
(format("noop")) so timings measure scan+compute+shuffle, not driver
collect. A warmup query amortizes JVM/codegen startup, and every query
is timed over two passes with the MIN reported: single-pass timings on
a shared host swing 2-3x under transient CPU contention (observed:
same suite 60s vs 156s minutes apart), and min-of-2 recovers the
machine-capability number instead of the noise. Queries carrying
one-time memoized work (fixture synthesis, codebook/LM training —
see WARMUP_QUERIES) additionally get one UNTIMED warmup run first, so
their min-of-2 also compares two warm samples instead of one
fixture-loaded sample and one contention-exposed single (r12; the
r10/r11 min-of-2 starvation artifact).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from deepicedrain_spark.session import get_spark  # noqa: E402
from deepicedrain_spark import suite  # noqa: E402
from deepicedrain_spark import suite_custom  # noqa: E402,F401
from deepicedrain_spark import suite_llm  # noqa: E402,F401
from deepicedrain_spark import suite_retrieval  # noqa: E402,F401
from deepicedrain_spark import suite_sketch  # noqa: E402,F401
from deepicedrain_spark import suite_streaming  # noqa: E402,F401

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Queries whose FIRST run pays one-time memoized work that later runs
# skip: their pass-1 timing lands the fixture/model cost, so min-of-2
# degenerates to a SINGLE warm sample — maximally exposed to transient
# host contention — while ordinary queries min over two clean samples.
# This starved the r10 and r11 driver benches (21 lines >2x the
# same-SHA solo close, ~70 s phantom wall in BENCH_r11). Each of these
# gets one UNTIMED warmup run before the timing loop so both timed
# passes are warm (VERDICT r11 task 2). Classes:
#   fixture  — synth_once / write-once Zarr+HDF5 stores on local disk
#   catalog  — lake-catalog GeoJSON fixture reads
#   trainer  — memoized Lloyd/IVF/PQ codebooks, BPE merges, logreg fits
#   pairs    — memoized MinHash near-dup pair tables (io.memo)
#   pyworker — heavy mapInPandas paths whose first run pays Python
#              worker fork + numpy import across all executor threads
WARMUP_QUERIES = frozenset([
    # fixture
    "zarr_roundtrip", "zarr_v3_roundtrip", "zarr_multistore_scan",
    "zarr_unconsolidated_scan", "zarr_evolving_union", "zarr_sharded_cube",
    "hdf5_roundtrip", "catalog_named_source", "hdf5_missing_beam_union",
    "atl06_ingest_pipeline", "atl06_ingest_dense_layout",
    "atl06_dhdt_end_to_end", "atl11_ingest_cube", "atl11_zarr_cube",
    "atl11_dhdt_end_to_end", "atl11_union_dhdt",
    # catalog
    "reference_lake_catalog", "lake_catalog_dissolve", "dissolve_input_holes",
    "dissolve_snapped_catalog", "lake_geometry_gmt", "lake_region_subset",
    # trainer
    "bpe_merge_table", "bpe_encode_tokens", "tokenizer_fertility",
    "quality_classifier_train", "quality_classifier_score",
    "streaming_classifier_score", "kmeans_clusters", "ivf_topk_trained",
    "ann_recall_at_k", "pq_encode", "pq_adc_topk", "ivfpq_topk",
    "ivfpq_recall_at_k", "semantic_dedup_kmeans", "semantic_dedup",
    # pairs
    "minhash_near_dup", "near_dup_components", "leakage_safe_split",
    "pagerank_near_dup", "dedup_keep_best", "triangle_count",
    # pyworker
    "multimodal_decode_features", "multimodal_frame_sample",
    "multimodal_resize", "multimodal_audio_resample",
    "multimodal_jpeg_decode", "multimodal_jpeg_progressive",
    "multimodal_mjpeg_frames", "multimodal_real_audio",
    "multimodal_real_decode", "multimodal_real_video", "knn_graph_blocked",
])


def run_one(spark, fn, sf_dir: str) -> float:
    t0 = time.time()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM + codegen + parquet footer caches (tolerated like the
    # timed loop — a bad SF dir must still produce the JSON line, with
    # errors visible in it, not a naked traceback the capture drops)
    try:
        run_one(spark, suite.q_height_range, SF_DIR)
    except Exception as e:  # noqa: BLE001
        print(f"bench warmup error: {e}", file=sys.stderr)

    # untimed warmup pass for memoized-fixture queries (see
    # WARMUP_QUERIES above): lands the one-time fixture/model cost
    # OUTSIDE the timing loop so min-of-2 compares two warm samples
    qdict = suite.queries()
    stale = WARMUP_QUERIES - set(qdict)
    if stale:  # a renamed/retired query would otherwise silently lose
        # its warmup and quietly re-grow the starvation artifact
        print(f"bench warmup: stale WARMUP_QUERIES names {sorted(stale)}",
              file=sys.stderr)
    n_warm = 0
    for name in (n for n in qdict if n in WARMUP_QUERIES):
        try:
            run_one(spark, qdict[name], SF_DIR)
            n_warm += 1
        except Exception as e:  # noqa: BLE001
            print(f"bench warmup error {name}: {e}", file=sys.stderr)
        spark.catalog.clearCache()

    timings: dict[str, float] = {}
    for _pass in range(2):
        for name, fn in suite.queries().items():
            try:
                t = round(run_one(spark, fn, SF_DIR), 3)
            except Exception as e:  # noqa: BLE001
                print(f"bench error {name}: {e}", file=sys.stderr)
                t = -1.0
            prev = timings.get(name)
            timings[name] = t if prev is None or prev < 0 else (prev if t < 0 else min(prev, t))
            # queries persist intermediates reused inside their own
            # plan; drop them so later queries aren't squeezed by
            # stale caches
            spark.catalog.clearCache()

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    errors = sorted(n for n, t in timings.items() if t < 0)
    sf = 0.1
    try:
        sf = float(SF_DIR.rstrip("/").split("sf")[-1])
    except ValueError:
        pass
    # Round 1 the full 90-query dict overflowed the driver's capture
    # (BENCH_r01.json "parsed": null) — keep the stdout line compact:
    # suite total + 10 slowest queries; full detail goes to a file.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(
            {"metric": "suite_total_wall", "value": total, "unit": "sec",
             "queries": timings, "n_queries": len(timings), "sf": sf,
             "errors": errors,
             # harness provenance: r12 added the untimed memoized-
             # fixture warmup pass — r12+ totals are not directly
             # comparable to r11-and-earlier lines for the warmed
             # cohort (whose earlier mins carried one-time cost)
             "harness": {"memoized_warmup": True, "n_warmup": n_warm}},
            f, indent=1, sort_keys=True,
        )
    top10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "suite_total_wall",
                "value": total,
                "unit": "sec",
                "queries": top10,
                "n_queries": len(timings),
                "sf": sf,
                "n_errors": len(errors),
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
