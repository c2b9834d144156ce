"""Streaming MinHash-LSH near-duplicate gate: dedup-on-ingest.

The production pattern batch dedup can't cover: documents arrive in
micro-batches (a crawl feed), and each batch must be filtered against
EVERYTHING already ingested, not just itself. Reference-class batch
ops (`operators.dedup.minhash_near_duplicates`) dedup a static corpus;
this gate maintains an LSH band index + shingle-hash store as
persisted state and processes each batch with one band equi-join
against it.

Semantics (batch- and ARRIVAL-ORDER-invariant, which is what makes the
result certifiable): a document is a duplicate iff some document with
a SMALLER doc_id anywhere in the stream is a verified near-duplicate
(band collision AND exact Jaccard ≥ threshold on distinct shingle
hashes). Every unordered pair is examined exactly once — when its
later-ARRIVING member processes — and the dup markers merge by
min(smaller id), a commutative/associative reduction, so any batch
split or reordering of the same documents produces the identical
final table. (An "earlier-arrival wins" gate would depend on feed
order — untestable and irreproducible after a replay.)

State layout under ``state_dir``:
- ``docs/b<batch_id>/``  one parquet subdir per batch, ONE row per
  ingested document: (doc_id, hs array<long>, n, bands array<long>)
  — ``hs`` is the distinct xxhash64 shingle hashes the exact verify
  reads (8-byte hashes instead of shingle strings keep the state ~6×
  smaller; Jaccard on the hash sets equals Jaccard on the shingle
  sets absent 64-bit collisions), ``bands`` the LSH band digests,
  stored packed and exploded per batch at read time. Per-batch
  subdirs written with overwrite make crash-replay idempotent WITHOUT
  a doc_id dedup — a dedup would shuffle the entire accumulated state
  every batch, the history-bound cost the flat wall profile forbids.
- ``markers_c<seq>/`` + ``_markers.json`` pointer — the min-merged
  dup markers, committed by writing a fresh commit-numbered version
  then atomically flipping the pointer (a crash at any point leaves
  the pointer on the last complete version, and a replay never
  overwrites the directory its own merge plan is lazily reading);
  stale versions are cleaned after the flip.
- ``_batches.json`` — the applied-batch manifest (foreachBatch can
  replay a batch after a failure; applied ids are skipped so the
  gate is exactly-once on at-least-once delivery).

Scale: per batch the work is map-side signature/banding over the
batch, one equi-join of batch bands against the band index, and exact
verify on candidates only. The state grows with corpus DISTINCT
content, the markers table with duplicates found — both tiny next to
the corpus.

Cluster-scale state layout (``bucketed=B``): the docs store and the
EXPLODED band index are maintained as Spark bucketed parquet tables
under ``state_dir`` (CLUSTERED BY doc_id / (band_idx, band_hash) INTO
B BUCKETS), appended per batch. The verify join's state side then
arrives pre-partitioned — the bucketed scan reports
hashpartitioning(doc_id, B), so only the batch-sized candidate side
exchanges (zero state-side shuffle even when the candidate set
outgrows the broadcast threshold; SCALE.md r11) — and the band index
is read instead of re-exploded from the whole docs store every batch.
Verdicts are layout-invariant (pytest proves flat == bucketed row for
row); the default flat layout keeps the demo free of catalog state.
Crash-replay: a batch is skipped once in the applied manifest; a
crash BETWEEN the bucketed appends and the manifest write can leave
duplicate state rows, which the semantics absorb (candidate distinct,
marker min-merge, read_gate_result distinct) — same contract as a doc
redelivered under two batch ids in flat mode.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepicedrain_spark.io import fence
from deepicedrain_spark.operators.dedup import (
    band_hash_array,
    minhash_sig_from_hashes,
    with_minhash_sig_arrow,
    word_shingles,
)


def _markers_pointer(state_dir: str) -> str:
    return os.path.join(state_dir, "_markers.json")


def _markers_state(state_dir: str) -> tuple[str | None, int]:
    """(current marker dir name or None, last commit seq)."""
    try:
        with open(_markers_pointer(state_dir)) as f:
            p = json.load(f)
        return p["current"], int(p.get("seq", 0))
    except (FileNotFoundError, KeyError, ValueError):
        return None, -1


def _current_markers_dir(state_dir: str) -> str | None:
    name, _ = _markers_state(state_dir)
    return None if name is None else os.path.join(state_dir, name)


def _manifest_path(state_dir: str) -> str:
    return os.path.join(state_dir, "_batches.json")


def _applied(state_dir: str) -> set[int]:
    try:
        with open(_manifest_path(state_dir)) as f:
            return set(json.load(f)["batches"])
    except (FileNotFoundError, KeyError, ValueError):
        return set()


def _mark_applied(state_dir: str, batch_id: int) -> None:
    ids = sorted(_applied(state_dir) | {int(batch_id)})
    tmp = _manifest_path(state_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"batches": ids}, f)
    os.replace(tmp, _manifest_path(state_dir))


def _read_markers(spark: SparkSession, state_dir: str) -> DataFrame | None:
    path = _current_markers_dir(state_dir)
    if path is None or not os.path.isdir(path):
        return None
    return spark.read.parquet(path)


def _read_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    docs_dir = os.path.join(state_dir, "docs")
    if not os.path.isdir(docs_dir) or not any(
        e.is_dir() for e in os.scandir(docs_dir)
    ):
        return None
    return spark.read.parquet(os.path.join(docs_dir, "b*"))


def _bucket_tag(state_dir: str) -> str:
    return hashlib.md5(os.path.abspath(state_dir).encode()).hexdigest()[:12]


def _bucket_specs(
    state_dir: str,
) -> dict[str, tuple[str, str, list[str], list[str]]]:
    """table name -> (location, column DDL, bucket keys, sort keys)."""
    tag = _bucket_tag(state_dir)
    return {
        f"gate_docs_{tag}": (
            os.path.join(state_dir, "docs_bkt"),
            "doc_id BIGINT, hs ARRAY<BIGINT>, n BIGINT",
            ["doc_id"],
            ["doc_id"],
        ),
        f"gate_bands_{tag}": (
            os.path.join(state_dir, "bands_bkt"),
            "doc_id BIGINT, band_idx INT, band_hash BIGINT",
            ["band_idx", "band_hash"],
            [],
        ),
    }


def _buckets_meta_path(state_dir: str) -> str:
    return os.path.join(state_dir, "_buckets.json")


def _check_bucket_count(state_dir: str, buckets: int) -> None:
    """Pin the layout's bucket count: the physical files are hashed
    into B buckets at write time, so reopening the state with a
    different B would register catalog metadata the files don't obey —
    the bucketed scan would advertise a partitioning the rows violate
    and joins would silently drop matches. Refuse instead."""
    meta = _buckets_meta_path(state_dir)
    try:
        with open(meta) as f:
            existing = int(json.load(f)["buckets"])
    except FileNotFoundError:
        tmp = meta + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"buckets": int(buckets)}, f)
        os.replace(tmp, meta)
        return
    except (KeyError, ValueError, json.JSONDecodeError) as e:
        # a corrupt/malformed meta file must NOT silently re-pin to the
        # caller's B — that bypasses the guard exactly when the
        # metadata is damaged and lets a wrong B corrupt the physical
        # layout. Make the operator repair it explicitly.
        raise ValueError(
            f"near_dup_gate: bucket-count metadata at {meta} is unreadable "
            f"({type(e).__name__}: {e}); refusing to guess the layout's "
            "bucket count — restore or delete the file (deleting re-pins "
            "to the caller's value, which is only safe if it matches the "
            "count the state files were written with)"
        ) from e
    if existing != int(buckets):
        raise ValueError(
            f"near_dup_gate: state at {state_dir} was written with "
            f"bucketed={existing}; reopening with bucketed={buckets} would "
            "corrupt the bucketed layout — pass the original value"
        )


def _ensure_bucket_tables(spark: SparkSession, state_dir: str, buckets: int) -> list[str]:
    """Register the bucketed state tables, re-attaching existing table
    files after a session restart (the default in-memory catalog loses
    table metadata with the session). The CREATE must carry the FULL
    BucketSpec the writer uses — including SORTED BY for the docs
    table — or the first post-restart append fails Spark's
    bucket-spec equality check ('Specified bucketing does not match
    that of the existing table')."""
    names = []
    for name, (path, ddl, keys, sort) in _bucket_specs(state_dir).items():
        names.append(name)
        if not spark.catalog.tableExists(name) and os.path.isdir(path):
            sorted_by = (
                f"SORTED BY ({', '.join(f'{s} ASC' for s in sort)}) " if sort else ""
            )
            spark.sql(
                f"CREATE TABLE {name} ({ddl}) USING PARQUET "
                f"CLUSTERED BY ({', '.join(keys)}) {sorted_by}"
                f"INTO {buckets} BUCKETS "
                f"LOCATION '{path}'"
            )
    return names


def _bucketed_docs(spark: SparkSession, state_dir: str) -> DataFrame | None:
    name = next(iter(_bucket_specs(state_dir)))
    return spark.table(name) if spark.catalog.tableExists(name) else None


def near_dup_gate(
    spark: SparkSession,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    workers: int = 8,
    bucketed: int = 0,
    broadcast_batch: bool = True,
):
    """Returns the foreachBatch callable. Feed it document batches;
    read the verdicts back with :func:`read_gate_result`.

    ``bucketed``: 0 (default) keeps the flat per-batch-subdir layout;
    B > 0 maintains the docs store and the exploded band index as
    Spark bucketed tables with B buckets (module docstring, cluster
    layout) — verdict-identical, state-side-shuffle-free. One state
    dir is ONE layout: reopening flat state as bucketed (or vice
    versa) raises rather than silently ignoring the other layout's
    ingested documents, and the bucket count is pinned at first write
    (_buckets.json) so a different B cannot corrupt the files'
    physical bucketing."""
    docs_dir = os.path.join(state_dir, "docs")
    os.makedirs(state_dir, exist_ok=True)

    def _has_flat() -> bool:
        return os.path.isdir(docs_dir) and any(
            e.is_dir() for e in os.scandir(docs_dir)
        )

    def _has_bucketed() -> bool:
        return os.path.isdir(os.path.join(state_dir, "docs_bkt"))

    if bucketed:
        if _has_flat():
            raise ValueError(
                f"near_dup_gate: state at {state_dir} holds a FLAT docs/ "
                "layout; reopening it with bucketed>0 would ignore every "
                "previously ingested document — use a fresh state_dir or "
                "the original bucketed=0"
            )
        _check_bucket_count(state_dir, bucketed)
    elif _has_bucketed():
        raise ValueError(
            f"near_dup_gate: state at {state_dir} holds a BUCKETED layout; "
            "reopening it with bucketed=0 would ignore every previously "
            "ingested document — pass the original bucketed=B"
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) in _applied(state_dir):
            return  # replay after failure: already committed

        # a micro-batch usually arrives as ONE file = one partition;
        # the shingle walk + 64-permutation MinHash are the heavy math
        # of the whole gate, so spread them first. A MODEST fan-out:
        # full defaultParallelism (32) measured 4-5x SLOWER end-to-end
        # than single-partition at sf0.1 — every downstream stage
        # inherits the width and task scheduling swamps the 1-2k-doc
        # batch. Size via workers= to the real batch at cluster scale.
        sh = word_shingles(
            batch_df.repartition(workers), text_col=text_col, n=shingle_n
        )
        # signature via the vectorized Arrow kernel (r12 optimization
        # round, guide §4.2): the interpreted-HOF expression form
        # (minhash_sig_from_hashes) cost ~1.4 s per micro-batch at
        # sf0.1 — the dominant per-batch cost of the whole gate; the
        # numpy fold runs the identical integer arithmetic (bit-equal
        # signatures, pytest-pinned) at memory bandwidth. Shingle
        # xxhash64 and band digests stay JVM-side.
        prep = (
            sh.select(
                F.col(id_col).cast("long").alias("doc_id"),
                F.array_distinct(
                    F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
                ).alias("hs"),
            )
            .withColumn("n", F.size("hs").cast("long"))
        )
        # ONE eager fence per batch: every downstream consumer
        # (candidate join, verify, state append) reads this
        prep = fence(
            with_minhash_sig_arrow(prep, "hs", num_hashes, out="_sig")
            .withColumn(
                "bands",
                F.when(
                    F.col("n") > 0,
                    band_hash_array(F.col("_sig"), num_hashes, bands),
                ).otherwise(F.array().cast("array<long>")),
            )
            .drop("_sig"),
            eager=True,
        )

        def explode_bands(df: DataFrame) -> DataFrame:
            return df.select(
                "doc_id",
                F.posexplode("bands").alias("band_idx", "band_hash"),
            )

        batch_bands = explode_bands(prep)
        if bucketed:
            _ensure_bucket_tables(spark, state_dir, bucketed)
            prior = _bucketed_docs(spark, state_dir)
            # the index is a MAINTAINED table — read it back instead of
            # re-exploding the whole docs store every batch
            bands_tbl = list(_bucket_specs(state_dir))[1]
            prior_bands = (
                spark.table(bands_tbl)
                if spark.catalog.tableExists(bands_tbl)
                else None
            )
            index = (
                batch_bands
                if prior_bands is None
                else prior_bands.unionByName(batch_bands)
            )
        else:
            prior = _read_state(spark, state_dir)
            index = (
                batch_bands
                if prior is None
                else explode_bands(prior).unionByName(batch_bands)
            )

        # candidates: any band shared between a batch doc and ANY doc
        # (prior state or this batch); orient each pair (later, earlier).
        # The batch side is micro-batch-sized by definition while the
        # index side grows with ingested history, so broadcast the
        # batch side (broadcast_batch=True): the state/index side then
        # NEVER shuffles, in flat mode too — without the hint the
        # fence leaves both sides with unknown size stats and
        # Spark sort-merge-joins, re-shuffling the ENTIRE accumulated
        # index every batch (O(history) per batch, the cost profile
        # the gate exists to avoid). Pass broadcast_batch=False when
        # micro-batches outgrow the broadcast cap — the bucketed
        # layout's pre-partitioning then carries the join instead.
        batch_side = (
            F.broadcast(batch_bands) if broadcast_batch else batch_bands
        )
        cand = (
            batch_side.alias("b")
            .join(
                index.alias("i"),
                (F.col("b.band_idx") == F.col("i.band_idx"))
                & (F.col("b.band_hash") == F.col("i.band_hash"))
                & (F.col("b.doc_id") != F.col("i.doc_id")),
            )
            .select(
                F.greatest("b.doc_id", "i.doc_id").alias("id_hi"),
                F.least("b.doc_id", "i.doc_id").alias("id_lo"),
            )
            .distinct()
        )

        # no doc_id dedup here: each batch writes its OWN subdirectory
        # with mode=overwrite, so a crash-replay rewrites the same
        # files instead of appending duplicates. (A dropDuplicates
        # would shuffle the ENTIRE accumulated state every batch —
        # exactly the history-bound per-batch cost this gate's flat
        # wall profile forbids.) A doc redelivered under two DIFFERENT
        # batch ids can still appear twice; the verify groupBy-min and
        # read_gate_result's distinct absorb that.
        store = prep.select("doc_id", "hs", "n")
        if prior is not None:
            store = prior.select("doc_id", "hs", "n").unionByName(store)

        inter = F.size(F.array_intersect("a.hs", "b.hs")).cast("double")
        # candidate pairs are batch-bounded (band collisions of ONE
        # micro-batch) while the store is the whole ingested history:
        # broadcast the candidates so the verify reads the store
        # map-side instead of shuffling it by doc_id twice per batch
        cand_side = F.broadcast(cand) if broadcast_batch else cand
        verified = (
            cand_side.join(store.alias("a"), F.col("id_hi") == F.col("a.doc_id"))
            .join(store.alias("b"), F.col("id_lo") == F.col("b.doc_id"))
            .withColumn("jac", inter / (F.col("a.n") + F.col("b.n") - inter))
            .filter(F.col("jac") >= threshold)
            .groupBy(F.col("id_hi").alias("doc_id"))
            .agg(F.min("id_lo").alias("dup_of"))
        )

        old = _read_markers(spark, state_dir)
        merged = verified if old is None else old.unionByName(verified)
        merged = merged.groupBy("doc_id").agg(F.min("dup_of").alias("dup_of"))
        # versioned commit: write the new marker table under a FRESH
        # name (commit counter, never reused — a batch-id name would
        # make a crash-replay overwrite the very directory the lazy
        # `old` plan is reading), then flip the pointer atomically. A
        # crash at ANY point leaves the pointer on the last complete
        # version — the earlier delete-then-rename scheme had a window
        # that lost every prior batch's markers (review r10s2). Stale
        # versions are cleaned only after the pointer moves on.
        cur_name, seq = _markers_state(state_dir)
        new_name = f"markers_c{seq + 1}"
        merged.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(state_dir, new_name)
        )
        tmp = _markers_pointer(state_dir) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"current": new_name, "seq": seq + 1}, f)
        os.replace(tmp, _markers_pointer(state_dir))
        import shutil

        for e in os.scandir(state_dir):
            if (
                e.is_dir()
                and e.name.startswith("markers_")
                and e.name != new_name
            ):
                shutil.rmtree(e.path, ignore_errors=True)

        # state append LAST (after the markers commit) so a replay
        # re-verifies against pre-batch state.
        if bucketed:
            docs_tbl, bands_tbl = _ensure_bucket_tables(spark, state_dir, bucketed)
            specs = _bucket_specs(state_dir)
            (
                prep.select("doc_id", "hs", "n")
                .write.format("parquet")
                .bucketBy(bucketed, "doc_id")
                .sortBy("doc_id")
                .option("path", specs[docs_tbl][0])
                .mode("append")
                .saveAsTable(docs_tbl)
            )
            (
                batch_bands.write.format("parquet")
                .bucketBy(bucketed, "band_idx", "band_hash")
                .option("path", specs[bands_tbl][0])
                .mode("append")
                .saveAsTable(bands_tbl)
            )
        else:
            # per-batch subdir with overwrite: crash-replay rewrites the
            # same files (idempotent), never appends duplicates.
            prep.write.mode("overwrite").parquet(
                os.path.join(docs_dir, f"b{int(batch_id)}")
            )
        _mark_applied(state_dir, batch_id)

    return process


def read_gate_result(spark: SparkSession, state_dir: str) -> DataFrame:
    """(doc_id, kept, dup_of) for every document the gate has seen:
    kept = no smaller-id verified near-duplicate exists anywhere in
    the ingested stream. Reads whichever state layout the gate wrote
    (flat per-batch subdirs or the bucketed tables)."""
    bkt_dir = os.path.join(state_dir, "docs_bkt")
    flat_dir = os.path.join(state_dir, "docs")
    if os.path.isdir(bkt_dir) and os.path.isdir(flat_dir) and any(
        e.is_dir() for e in os.scandir(flat_dir)
    ):
        raise ValueError(
            f"read_gate_result: {state_dir} holds BOTH flat and bucketed "
            "docs state — the layouts were mixed; results would silently "
            "drop one side"
        )
    if os.path.isdir(bkt_dir):
        # ids only — a plain path read suffices (no join on this side)
        docs = spark.read.parquet(bkt_dir).select("doc_id").distinct()
    else:
        docs = (
            spark.read.parquet(os.path.join(state_dir, "docs", "b*"))
            .select("doc_id")
            .distinct()  # a doc redelivered under two batch ids appears twice
        )
    markers = _read_markers(spark, state_dir)
    if markers is None:
        return docs.select(
            "doc_id", F.lit(True).alias("kept"), F.lit(None).cast("long").alias("dup_of")
        )
    return docs.join(markers, "doc_id", "left").select(
        "doc_id", F.col("dup_of").isNull().alias("kept"), "dup_of"
    )
