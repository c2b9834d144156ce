"""The benchmark's workloads: which registered suite queries each runs.
Every workload reads inputs staged at ``SCALE`` times sf0.1. Why each
exists is in BENCHMARK.json and README.md."""

from __future__ import annotations

SCALE = 0.1  # multiple of sf0.1 for the staged tables

WORKLOADS = {
    "icesat_pipeline": (
        "atl06_ingest_dense_layout",
        "dhdt_pipeline",
        "lake_finder_pipeline",
        "dissolve_input_holes",
    ),
    "llm_corpus": (
        "near_dup_components",
        "bm25_topk_per_lang",
        "cosine_topk",
        "streaming_stateful_dedup",
    ),
}

ALL_QUERIES = tuple(q for qs in WORKLOADS.values() for q in qs)
