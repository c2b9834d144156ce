"""Table catalog + readers/writers.

Reference analogue: the intake YAML catalog
(/root/reference/deepicedrain/atlas_catalog.yaml:1-326,
/root/reference/deepicedrain/__init__.py:31-37) that resolves named,
parameterized sources. Here the catalog is ``spark.read.parquet`` over
a scale-factor directory plus registered temp views, which lets every
downstream operator be written against view names and lets Catalyst
push projections/predicates into the parquet scan.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# --- memo: one store for every source-keyed reuse in a session
#
# The engine reuses driver-side work across the queries of one
# application: lazy scan frames (a parquet or multiLine-JSON open costs
# 0.1-0.3 s of schema inference per build), stream-source schemas,
# deterministic training results (Lloyd centroids, BPE merges, logreg
# weights) and checkpointed near-dup pair tables.  Each is a pure
# function of its source files plus its parameters, so it is stored
# under (applicationId, key, fingerprint(files)): a rewritten file
# misses instead of serving a stale value, and checkpoint blocks,
# which die with their SparkContext, are never served to another
# application.  One FIFO bound covers every entry.
MEMO_ENTRIES = 256
_MEMO: dict[tuple, object] = {}


def fingerprint(files: list[str]) -> tuple | None:
    """``(uri, mtime_ns, size)`` of every file (URIs as ``inputFiles()``
    returns them, or local paths), sorted by uri; None when ``files``
    is empty or any of them cannot be stat'ed. Driver-side metadata
    through the same ``FileSystem.from_uri`` resolution as the footer
    reads; a directory's size is None."""
    from pyarrow import fs

    out = []
    for uri in sorted(files):
        try:
            filesystem, path = fs.FileSystem.from_uri(uri)
            info = filesystem.get_file_info(path)
        except (OSError, ValueError):  # unreachable or unknown filesystem
            return None
        if info.type == fs.FileType.NotFound:
            return None
        out.append((uri, info.mtime_ns, info.size))
    return tuple(out) or None


def memo(spark: SparkSession, key: tuple, files: list[str], build):
    """``build()``, stored under (application, ``key``,
    ``fingerprint(files)``) and returned as the identical object on
    the next call with an unchanged source. Nothing is stored when
    there is no fingerprint (no files, or a file that cannot be
    stat'ed): ``build()`` then runs on every call."""
    fp = fingerprint(files)
    if fp is None:
        return build()
    k = (spark.sparkContext.applicationId, key, fp)
    if k in _MEMO:
        return _MEMO[k]
    out = build()
    while len(_MEMO) >= MEMO_ENTRIES:
        _MEMO.pop(next(iter(_MEMO)))
    _MEMO[k] = out
    return out


def clear_memo() -> None:
    """Drop every memoized value (e.g. after an in-place edit of a
    source file that preserves its size and mtime)."""
    _MEMO.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan (SURVEY S1). Catalyst applies projection & predicate
    pushdown; do NOT pre-select columns here — callers' .select/.filter
    reach the scan on their own.

    The lazy scan frame is memoized (:func:`memo`): it holds no data,
    and every action on it re-reads the files.

    Engine convention (§1.3): ``events.ts`` is epoch NANOSECONDS as
    LongType. The testdata has shipped both encodings — INT64
    TIMESTAMP(NANOS) (read as ns-long via ``nanosAsLong``) and plain
    TIMESTAMP(MICROS) — so normalize here at the load boundary with
    session-timezone-independent math (the driver's session may not
    be UTC; see timeutils.timestamp_to_ns)."""
    path = os.path.abspath(table_path(sf_dir, name))

    def build() -> DataFrame:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if name == "events" and isinstance(
            df.schema["ts"].dataType, (TimestampType, TimestampNTZType)
        ):
            from deepicedrain_spark.functions.timeutils import timestamp_to_ns

            df = df.withColumn(
                "ts", timestamp_to_ns(F.col("ts"), df.schema["ts"].dataType)
            )
        return df

    return memo(spark, ("load_table", name), [path], build)


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin a narrow scan across the cluster when the file
    layout under-parallelizes it (guide §2.5 "input skew: one huge
    unsplittable file ... repartition immediately after the read").

    CPU-heavy operators (pair cosines, shingle walks, ray casts) are
    compute-bound at near-zero bytes: a corpus that fits one 128 MB
    input split arrives as ONE partition and every downstream map — and
    the stream side of every broadcast join — runs on one core (r13
    optimization round; measured 13x on the embedding pair scorer).
    Gated on the parquet ROW-GROUP count read from the footers (row
    groups bound the number of non-empty scan tasks), so at scale —
    where the table spans thousands of files — this is a NO-OP decided
    from the file count alone, and no shuffle of real data is ever
    added; the repartition only fires when the whole input is a handful
    of row groups, i.e. when the shuffle is kilobytes. A frame with no
    file source is returned unchanged. Callers must not rely on row
    order (every certified query compares order-insensitively)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) >= n:
        return df
    if sum(m.num_row_groups for m in _footers(files)) >= n:
        return df
    return df.repartition(n)


# --- fences: one size-aware layer for every inter-stage materialization
#
# A localCheckpoint freezes its parent's partitioning, so a fence fed by
# a 32-way shuffle made EVERY downstream scan of it a 32-task stage even
# when it holds a few hundred rows (dissolve_hot_key_bucketed ran 3,309
# tasks for 66 input polygons; guide §2.2/§6.1). Fences are therefore
# coalesced to ceil(rows / ROWS_PER_TASK) partitions — AFTER they are
# materialized, so the stage that computes the fenced table keeps its
# own width and only the scans of the result are narrowed. coalesce(k)
# is a narrow, shuffle-free no-op when the table already has <= k
# partitions, so big inputs keep their parallelism and a row hint that
# over-estimates (an input-table upper bound) is always safe.
# ~13 doubles/row ≈ 150 B ⇒ 500k rows ≈ 75 MB per task, inside the
# guide's 100 MB–1 GB band.
ROWS_PER_TASK = 500_000


def _footers(files: list[str]) -> list:
    """Parquet footer metadata of ``files`` (URIs as ``inputFiles()``
    returns them) — driver-side metadata reads, no Spark job."""
    import pyarrow.parquet as pq
    from pyarrow import fs

    out = []
    for uri in files:
        filesystem, path = fs.FileSystem.from_uri(uri)
        with filesystem.open_input_file(path) as f:
            out.append(pq.read_metadata(f))
    return out


def rows_hint(df: DataFrame) -> int | None:
    """Upper bound on ``df``'s rows: the footer row counts of every
    parquet file under its scans (filters and projections above the
    scan are ignored). Starts no Spark job; None when ``df`` has no
    file source (``spark.range``, in-memory frames, fences)."""
    files = df.inputFiles()
    if not files:
        return None
    return sum(m.num_rows for m in _footers(files))


def size_to(df: DataFrame, rows: int) -> DataFrame:
    """Coalesce an already-materialized frame to ceil(rows /
    ROWS_PER_TASK) partitions (no-op when it has fewer)."""
    return df.coalesce(max(1, math.ceil(rows / ROWS_PER_TASK)))


def fence(df: DataFrame, rows: int | None = None, eager: bool = True) -> DataFrame:
    """Materialize ``df`` as a localCheckpoint at the width of the
    stage that produces it, then — when a row bound is known — size
    the result with :func:`size_to`. A lazy fence (``eager=False``) is
    materialized by the first job that reads it — through a sized
    wrapper that job would run at the coalesced width — so it takes no
    ``rows``; size it with ``size_to`` once that job has run.

    This is the package's one way to share an intermediate between
    consumers; free it with :func:`release`. A localCheckpoint, not
    ``persist``/``cache``: the fence's plan is a LogicalRDD leaf, so
    every consumer is analyzed and optimized against the leaf instead
    of re-carrying the upstream tree (driver planning dominates many
    small-scale walls here), and the blocks belong to this one frame.
    A persisted plan instead registers with Spark's CacheManager,
    which serves it to ANY later plan that matches — including a new
    scan of the same path after the file was rewritten (stale rows)
    — until it is unpersisted. Blocks are MEMORY_AND_DISK on the
    executors; they do not survive the loss of an executor."""
    if rows is not None and not eager:
        raise ValueError("fence: a lazy fence cannot be sized before it is materialized")
    out = df.localCheckpoint(eager=eager)
    return out if rows is None else size_to(out, rows)


def release(df: DataFrame) -> None:
    """Free the checkpoint blocks under a fenced frame (or a sized /
    projected wrapper of one). ``DataFrame.unpersist`` cannot: the
    blocks belong to the RDD inside the plan's LogicalRDD leaf, not to
    a cached plan. Any later read of the frame fails loudly
    ("Checkpoint block ... not found"), so release only what no live
    frame reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            # constructor field 1 of LogicalRDD is its RDD[InternalRow]
            leaf.productElement(1).unpersist(False)


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> None:
    """Catalog shim (SURVEY S11): named sources as temp views.

    ``tables`` narrows registration to the views a query actually
    touches — each registration is a driver-side parquet footer read,
    so registering all 10 tables for a 2-table query is pure setup
    overhead (it showed up as a 0.6 s bench regression in r3)."""
    names = tables if tables is not None else TABLES
    for name in names:
        if os.path.exists(table_path(sf_dir, name)):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Parquet sink (SURVEY S2; reference extraload.py:54-128 writes a
    single snappy parquet). We write partitioned directories — at 100 TB
    a single file is not an option; partition columns give partition
    pruning on re-read."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_tsv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Tab-separated sink with NaN representation (SURVEY S8; reference
    lake_algorithms.py:219-225 exports tsv time series)."""
    (
        df.write.mode(mode)
        .option("sep", "\t")
        .option("header", "true")
        .option("nullValue", "NaN")
        .csv(path)
    )


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (SURVEY S7 geometry sink uses this shape)."""
    df.write.mode(mode).json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    dtypes: dict[str, str] | None = None,
    sep: str = ",",
    null_value: str | None = None,
) -> DataFrame:
    """CSV scan with an optional dtype-coercion map (SURVEY S9/F10;
    reference atl06_to_atl11.py:257-269 coerces dtypes from an external
    CSV dictionary). Explicit schema beats inferSchema (no extra pass)."""
    reader = spark.read.option("sep", sep)
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    if dtypes:
        schema = ", ".join(f"`{c}` {t}" for c, t in dtypes.items())
        return reader.csv(path, header=True, schema=schema)
    return reader.csv(path, header=True, inferSchema=True)


def write_zordered(
    df: DataFrame,
    path: str,
    x_int_col: str,
    y_int_col: str,
    n_files: int = 8,
    mode: str = "overwrite",
    curve: str = "morton",
) -> None:
    """Space-filling-curve parquet layout: range-partition the rows by
    their Morton (default) or Hilbert code over two quantized int
    columns and sort within each file, so spatially-near rows land in
    the same file/row-group and a bbox read prunes to O(perimeter)
    curve ranges via parquet min/max stats — the Delta/Iceberg
    OPTIMIZE ZORDER layout expressed as a plain write.  One
    range-partitioning exchange (sampled boundaries), no other
    shuffle.  ``curve="hilbert"`` trades a slightly costlier key
    (chained-projection state machine vs one interleave expression)
    for seam-free locality: consecutive Hilbert cells are always
    4-adjacent, so file bboxes are tighter."""
    from deepicedrain_spark.operators.spatial import (
        hilbert_order_sql,
        morton_code_sql,
    )

    from pyspark.sql import functions as F

    reserved = ({"hilbert", "_z"} if curve == "hilbert" else {"_z"}) & set(df.columns)
    if reserved:
        raise ValueError(
            f"write_zordered(curve={curve!r}) reserves column names"
            f" {sorted(reserved)}; rename them in the input frame"
        )
    if curve == "hilbert":
        bits = 16
        spark = df.sparkSession
        view = f"_zorder_src_{abs(hash(path)) % (1 << 30)}"
        df.createOrReplaceTempView(view)
        cols = ", ".join(df.columns)
        # spark.sql analyzes eagerly, so the view can be dropped as
        # soon as the staged plan exists (it is not needed at write)
        try:
            staged = spark.sql(
                hilbert_order_sql(
                    f"SELECT * FROM {view}", x_int_col, y_int_col, cols, bits=bits,
                    dialect="spark",
                )
            ).withColumnRenamed("hilbert", "_z")
        finally:
            spark.catalog.dropTempView(view)
    elif curve == "morton":
        code = F.expr(morton_code_sql(x_int_col, y_int_col, dialect="spark"))
        staged = df.withColumn("_z", code)
    else:
        raise ValueError(f"unknown curve {curve!r} (morton|hilbert)")
    (
        staged.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
