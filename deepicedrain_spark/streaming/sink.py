"""Exactly-once keyed upsert sink for Structured Streaming.

``streaming_parquet_sink`` (suite_streaming.py) covers the
complete-mode aggregate story: every micro-batch overwrites the whole
table, so replay is trivially idempotent. This module covers the other
production shape — an UPSERT (MERGE-style last-writer-wins per key)
table fed by append-mode batches — where exactly-once needs real work:

- **Idempotent replay**: foreachBatch can redeliver a batch after a
  restart (same epoch id). The sink records applied batch ids in a
  manifest and makes redelivery a no-op — the standard
  "foreachBatch + transactional target" recipe from the Structured
  Streaming docs, implemented here against plain parquet.
- **Atomic visibility**: each applied batch writes a NEW versioned
  directory (``v=<n>``) and then atomically renames a manifest pointer
  — readers see either the old or the new version, never a half
  overwrite. (On a real deployment this role is played by Delta/
  Iceberg snapshot commits; the mechanics are the same.)

At 100 TB the merge join is the standard incremental-MERGE plan: the
batch is small, the target is large, so the anti-join side broadcasts
the batch keys; with the target bucketed by key the rewrite touches
only matching buckets.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from deepicedrain_spark.fslock import PathLock
from deepicedrain_spark.io import fence


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.json")


class _SinkLock(PathLock):
    """Advisory lock on ``<out_dir>/_manifest.lock`` — the shared
    :class:`deepicedrain_spark.fslock.PathLock` (O_CREAT|O_EXCL
    acquisition, RENAME-based stale break, token-checked release; see
    fslock.py for the full protocol). The commit ALSO carries a version
    fence (_commit_manifest) because a lock broken as stale can leave
    two holders alive."""

    def __init__(self, out_dir: str, timeout: float = 120.0, stale_after: float = 600.0):
        super().__init__(os.path.join(out_dir, "_manifest.lock"), timeout, stale_after)


def _read_manifest(out_dir: str) -> dict:
    try:
        with open(_manifest_path(out_dir)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {"version": -1, "applied": []}


def _staging_dir(out_dir: str, new_version: int) -> str:
    return os.path.join(out_dir, f".staging.v={new_version}.{os.getpid()}")


def _commit_manifest(
    out_dir: str,
    manifest: dict,
    expected_version: int | None = None,
    publish: tuple[str, str] | None = None,
) -> None:
    """Atomic manifest swap. ``expected_version`` is the CAS fence: the
    version this writer READ at the start of its critical section. If
    the on-disk manifest moved past it (possible only if this writer's
    lock was broken as stale and another writer committed), refuse to
    commit rather than silently erase the other writer's update.

    ``publish`` = (staging_dir, final_dir): writers stage their data
    under a pid-unique directory and it is RENAMED into place only
    after the fence passes — so a fenced-out writer leaves the
    committed version's files untouched (writing the final dir before
    the fence would clobber the other writer's data and then fail)."""
    if expected_version is not None:
        on_disk = _read_manifest(out_dir)["version"]
        if on_disk != expected_version:
            if publish:
                import shutil

                shutil.rmtree(publish[0], ignore_errors=True)
            raise RuntimeError(
                f"upsert sink: lost-update fence tripped — read version "
                f"{expected_version} but disk is at {on_disk}; another "
                f"writer committed while this one held a broken lock"
            )
    if publish:
        import shutil

        staging, final = publish
        shutil.rmtree(final, ignore_errors=True)  # crashed-writer leftover
        os.rename(staging, final)
    tmp = _manifest_path(out_dir) + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, _manifest_path(out_dir))  # atomic on POSIX


def _history_entry(version: int, batch_id: int | None, op: str) -> dict:
    return {"version": version, "batch_id": batch_id, "op": op, "ts": time.time()}


def table_history(out_dir: str) -> list[dict]:
    """Commit log: one entry per committed version — {version, batch_id
    (None for compactions), op ('merge'|'compact'), ts}. The Delta
    DESCRIBE HISTORY analogue; empty for tables written before history
    was recorded."""
    return _read_manifest(out_dir).get("history", [])


def current_version_dir(out_dir: str) -> str | None:
    m = _read_manifest(out_dir)
    if m["version"] < 0:
        return None
    return os.path.join(out_dir, f"v={m['version']}")


def read_upsert_table(spark: SparkSession, out_dir: str) -> DataFrame | None:
    d = current_version_dir(out_dir)
    if d is None:
        return None
    # recursiveFileLookup: bucketed versions nest files under b=<k>/;
    # without it Spark's partition discovery would invent an int column
    # "b". Plain (flat) versions are unaffected by the option.
    return spark.read.option("recursiveFileLookup", "true").parquet(d)


def read_upsert_table_at(
    spark: SparkSession, out_dir: str, version: int
) -> DataFrame:
    """Time travel (Delta ``VERSION AS OF``): read snapshot ``version``.
    Every committed version is immutable on disk until vacuumed, so this
    is a plain directory read — O(snapshot), no log replay. Raises a
    clear error for versions that never existed or were vacuumed."""
    m = _read_manifest(out_dir)
    if version < 0 or version > m["version"]:
        raise ValueError(
            f"read_upsert_table_at: version {version} does not exist "
            f"(table is at version {m['version']})"
        )
    d = os.path.join(out_dir, f"v={version}")
    if not os.path.isdir(d):
        raise ValueError(
            f"read_upsert_table_at: version {version} was vacuumed — "
            "raise vacuum_versions(keep_last=...) retention to time-travel "
            "further back"
        )
    return spark.read.option("recursiveFileLookup", "true").parquet(d)


def diff_versions(
    spark: SparkSession,
    out_dir: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
) -> DataFrame:
    """Change-data-feed between two snapshots (Delta CDF analogue):
    one row per key whose state changed, with ``change_type`` in
    {'insert', 'update', 'delete'} and the row's values — post-image
    for insert/update, pre-image for delete. One full-outer shuffle
    join on the keys; null-safe struct comparison so NULL field flips
    count as updates."""
    old = read_upsert_table_at(spark, out_dir, v_old)
    new = read_upsert_table_at(spark, out_dir, v_new)
    if set(old.columns) != set(new.columns):
        raise ValueError(
            "diff_versions: snapshot schemas differ — "
            f"{sorted(old.columns)} vs {sorted(new.columns)}"
        )
    vals = [c for c in new.columns if c not in key_cols]
    o = old.select(*key_cols, F.struct(*vals).alias("_o"))
    n = new.select(*key_cols, F.struct(*vals).alias("_n"))
    j = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("_o").isNull(), F.lit("insert"))
        .when(F.col("_n").isNull(), F.lit("delete"))
        .when(~F.col("_o").eqNullSafe(F.col("_n")), F.lit("update"))
    )
    picked = F.when(F.col("_n").isNull(), F.col("_o")).otherwise(F.col("_n"))
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *key_cols,
            "change_type",
            *[picked.getField(c).alias(c) for c in vals],
        )
    )


def apply_upsert_batch(
    spark: SparkSession,
    out_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    key_cols: list[str],
    order_cols: list[str],
) -> bool:
    """MERGE one micro-batch into the versioned table. Returns True if
    applied, False if ``batch_id`` was already applied (replay no-op).

    Within a batch, the winner per key is the highest ``order_cols``
    tuple (deterministic under shuffle); across table and batch the
    batch wins (the rows it replaces leave via the anti-join).

    Concurrent-writer safe: the whole read-merge-commit section runs
    under a lock file, and the commit carries a version fence (CAS on
    the version read at entry) so even a broken-stale-lock race cannot
    produce a lost update — one writer commits, the other raises."""
    os.makedirs(out_dir, exist_ok=True)
    with _SinkLock(out_dir):
        manifest = _read_manifest(out_dir)
        if batch_id in manifest["applied"]:
            return False  # exactly-once: redelivered epoch is a no-op

        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc_nulls_last() for c in order_cols]
        )
        batch_last = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        cur = read_upsert_table(spark, out_dir)
        if cur is None:
            merged = batch_last
        else:
            # incremental MERGE: batch keys broadcast into the anti-join
            keys = batch_last.select(*key_cols)
            merged = cur.join(F.broadcast(keys), key_cols, "left_anti").unionByName(
                batch_last
            )
        new_version = manifest["version"] + 1
        staging = _staging_dir(out_dir, new_version)
        merged.write.mode("overwrite").parquet(staging)
        _commit_manifest(
            out_dir,
            {
                "version": new_version,
                "applied": sorted(manifest["applied"] + [batch_id]),
                "history": manifest.get("history", [])
                + [_history_entry(new_version, batch_id, "merge")],
            },
            expected_version=manifest["version"],
            publish=(staging, os.path.join(out_dir, f"v={new_version}")),
        )
    return True


def vacuum_versions(out_dir: str, keep_last: int = 2) -> list[int]:
    """Delete version directories older than the newest ``keep_last``
    (the current version is always kept). Returns the versions
    removed. Safe against concurrent readers of RECENT versions — the
    reader contract is 'resolve the manifest, then read', so keep_last
    ≥ 2 leaves the previous snapshot intact for in-flight reads, same
    retention logic as Delta's VACUUM."""
    import re
    import shutil

    m = _read_manifest(out_dir)
    if m["version"] < 0:
        return []
    keep = set(range(max(0, m["version"] - keep_last + 1), m["version"] + 1))
    removed = []
    for name in os.listdir(out_dir):
        match = re.fullmatch(r"v=(\d+)", name)
        if match and int(match.group(1)) not in keep:
            shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)
            removed.append(int(match.group(1)))
    return sorted(removed)


def upsert_sink(
    spark: SparkSession,
    out_dir: str,
    key_cols: list[str],
    order_cols: list[str],
):
    """foreachBatch callback factory: stream.writeStream.foreachBatch(
    upsert_sink(spark, dir, keys, order)).start()."""

    def write_batch(bdf: DataFrame, bid: int) -> None:
        apply_upsert_batch(spark, out_dir, bdf, bid, key_cols, order_cols)

    return write_batch


def compact_table(
    spark: SparkSession,
    out_dir: str,
    target_files: int = 1,
) -> int | None:
    """OPTIMIZE: rewrite the current version's many small part files
    (each applied batch leaves however many the merge shuffle produced)
    into ``target_files`` coalesced files, committed as a NEW version
    under the same lock + CAS fence as a batch apply. Readers are
    unaffected mid-compaction (they resolve the manifest, then read);
    replay bookkeeping is untouched — the applied-batch set carries
    over verbatim, so a redelivered batch is still a no-op after
    compaction. Returns the new version, or None when the table is
    empty. This is the small-files half of Delta's OPTIMIZE; vacuum
    (below) is the retention half.

    Layout-aware: a bucket-partitioned table (v=<n>/b=<k> dirs from
    apply_upsert_batch_bucketed) compacts PER BUCKET, preserving the
    layout the bucketed merge depends on — flattening it would make
    the next bucketed apply see no buckets and drop the table."""
    if not os.path.isdir(out_dir):
        return None  # never written: nothing to compact
    with _SinkLock(out_dir):
        manifest = _read_manifest(out_dir)
        if manifest["version"] < 0:
            return None
        cur_dir = os.path.join(out_dir, f"v={manifest['version']}")
        buckets = sorted(
            n for n in os.listdir(cur_dir) if n.startswith("b=") and
            os.path.isdir(os.path.join(cur_dir, n))
        )
        new_version = manifest["version"] + 1
        staging = _staging_dir(out_dir, new_version)
        if buckets:
            os.makedirs(staging, exist_ok=True)
            for b in buckets:
                spark.read.parquet(os.path.join(cur_dir, b)).coalesce(
                    max(1, target_files)
                ).write.mode("overwrite").parquet(os.path.join(staging, b))
        else:
            spark.read.parquet(cur_dir).coalesce(max(1, target_files)).write.mode(
                "overwrite"
            ).parquet(staging)
        _commit_manifest(
            out_dir,
            {
                "version": new_version,
                "applied": manifest["applied"],
                "history": manifest.get("history", [])
                + [_history_entry(new_version, None, "compact")],
            },
            expected_version=manifest["version"],
            publish=(staging, os.path.join(out_dir, f"v={new_version}")),
        )
    return new_version


# ---------------------------------------------------------------------------
# Bucketed upsert table: only touched buckets rewrite (the 100 TB shape)
# ---------------------------------------------------------------------------


def apply_upsert_batch_bucketed(
    spark: SparkSession,
    out_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    key_cols: list[str],
    order_cols: list[str],
    n_buckets: int = 16,
) -> bool:
    """MERGE one micro-batch into a BUCKET-PARTITIONED versioned table:
    rows live under ``v=<n>/b=<hash(key) mod n_buckets>``, and a batch
    rewrites ONLY the buckets its keys hash into — untouched buckets
    are carried into the new version as-is (hard links where the OS
    allows, byte copies otherwise), so merge cost is O(touched
    buckets), not O(table). This is the plain `apply_upsert_batch`
    scaled up: at 100 TB a 1k-row batch touching 5 of 4096 buckets
    rewrites ~0.1% of the table instead of all of it. Same lock, same
    CAS fence, same manifest replay rules; `read_upsert_table` reads
    the version directory recursively, so consumers are unchanged."""
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    bcol = F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")
    with _SinkLock(out_dir):
        manifest = _read_manifest(out_dir)
        if batch_id in manifest["applied"]:
            return False
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc_nulls_last() for c in order_cols]
        )
        # fenced so AQE sees its size and broadcasts it below
        batch_last = fence(
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("_b", bcol)
        )
        touched = sorted(r["_b"] for r in batch_last.select("_b").distinct().collect())
        new_version = manifest["version"] + 1
        new_dir = _staging_dir(out_dir, new_version)  # publish at commit
        os.makedirs(new_dir, exist_ok=True)
        cur_dir = (
            os.path.join(out_dir, f"v={manifest['version']}")
            if manifest["version"] >= 0
            else None
        )
        if cur_dir and os.path.isdir(cur_dir):
            entries = os.listdir(cur_dir)
            has_buckets = any(e.startswith("b=") for e in entries)
            has_flat_data = any(
                not e.startswith(("b=", "_", ".")) for e in entries
            )
            if has_flat_data and not has_buckets:
                raise ValueError(
                    "apply_upsert_batch_bucketed: current version "
                    f"{cur_dir} is a flat (non-bucketed) layout — merging "
                    "a bucketed batch into it would silently drop every "
                    "existing row. Rewrite the table with "
                    "apply_upsert_batch_bucketed from version 0, or keep "
                    "using apply_upsert_batch."
                )
        for b in touched:
            merged_b = batch_last.filter(F.col("_b") == b).drop("_b")
            bucket_path = os.path.join(cur_dir, f"b={b}") if cur_dir else None
            if bucket_path and os.path.isdir(bucket_path):
                cur_b = spark.read.parquet(bucket_path)
                keys = merged_b.select(*key_cols)
                merged_b = cur_b.join(
                    F.broadcast(keys), key_cols, "left_anti"
                ).unionByName(merged_b)
            merged_b.write.mode("overwrite").parquet(os.path.join(new_dir, f"b={b}"))
        if cur_dir and os.path.isdir(cur_dir):
            for name in os.listdir(cur_dir):
                if not name.startswith("b=") or int(name[2:]) in touched:
                    continue
                src, dst = os.path.join(cur_dir, name), os.path.join(new_dir, name)
                os.makedirs(dst, exist_ok=True)
                for f in os.listdir(src):
                    try:  # hard link: untouched buckets cost inodes, not bytes
                        os.link(os.path.join(src, f), os.path.join(dst, f))
                    except OSError:
                        shutil.copy2(os.path.join(src, f), os.path.join(dst, f))
        _commit_manifest(
            out_dir,
            {
                "version": new_version,
                "applied": sorted(manifest["applied"] + [batch_id]),
                "history": manifest.get("history", [])
                + [_history_entry(new_version, batch_id, "merge")],
            },
            expected_version=manifest["version"],
            publish=(new_dir, os.path.join(out_dir, f"v={new_version}")),
        )
    return True


def read_upsert_table_bucketed(spark: SparkSession, out_dir: str) -> DataFrame | None:
    d = current_version_dir(out_dir)
    if d is None:
        return None
    return spark.read.option("recursiveFileLookup", "true").parquet(d)
