"""io's fence-and-size layer: rows_hint, spread_scan, fence, release."""

import ast
import os
import pathlib
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from deepicedrain_spark import io
from deepicedrain_spark.io import fence, load_table, release, rows_hint, spread_scan

from conftest import SF_MED

PACKAGE = pathlib.Path(io.__file__).parent
MATERIALIZERS = {"localCheckpoint", "checkpoint", "persist", "cache", "unpersist"}


def _persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _stored(spark) -> int:
    """RDDs holding at least one materialized block."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _write(path, n_rows: int, row_group_size: int) -> str:
    table = pa.table({"id": list(range(n_rows)), "v": [float(i) for i in range(n_rows)]})
    pq.write_table(table, str(path), row_group_size=row_group_size)
    return str(path)


def test_release_frees_fence_and_sized_wrapper(spark):
    base = _persistent(spark)
    df = spark.range(0, 100, 1, 8)

    fenced = fence(df)
    assert _persistent(spark) == base + 1
    release(fenced)
    assert _persistent(spark) == base

    sized = fence(df, rows=100)
    assert sized.rdd.getNumPartitions() == 1
    assert _persistent(spark) == base + 1
    release(sized)
    assert _persistent(spark) == base

    # a lazy fence holds no blocks until the first job that reads it
    stored = _stored(spark)
    lazy = fence(df, eager=False)
    assert _stored(spark) == stored
    assert lazy.count() == 100
    assert _stored(spark) == stored + 1
    assert _persistent(spark) == base + 1
    release(lazy)
    assert _persistent(spark) == base
    assert _stored(spark) == stored


def test_fence_materializes_before_sizing(spark):
    # the stage that computes the fence keeps its width: the coalesce
    # sits above the checkpoint, not under it
    fenced = fence(spark.range(0, 100, 1, 8), rows=100)
    plan = fenced._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "Repartition"
    assert plan.children().apply(0).nodeName() == "LogicalRDD"
    assert sorted(r.id for r in fenced.collect()) == list(range(100))
    release(fenced)
    # a lazy fence would be materialized through the sized wrapper
    with pytest.raises(ValueError):
        fence(spark.range(3), rows=3, eager=False)


def test_rows_hint_reads_footers(spark):
    want = pq.ParquetFile(f"{SF_MED}/documents.parquet").metadata.num_rows
    docs = load_table(spark, SF_MED, "documents")
    assert rows_hint(docs) == want
    assert rows_hint(docs.where("lang = 'en'").select("doc_id")) == want
    assert rows_hint(spread_scan(docs)) == want
    assert rows_hint(spark.range(10)) is None


def test_spread_scan_one_row_group_spreads(spark, tmp_path):
    n = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(_write(tmp_path / "one.parquet", 100, 100))
    out = spread_scan(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == n
    assert sorted(r.id for r in out.collect()) == list(range(100))


def test_spread_scan_enough_row_groups_is_identity(spark, tmp_path):
    n = spark.sparkContext.defaultParallelism
    path = _write(tmp_path / "many.parquet", 10 * n, 10)
    assert pq.ParquetFile(path).metadata.num_row_groups >= n
    df = spark.read.parquet(path)
    assert spread_scan(df) is df
    rng = spark.range(5)
    assert spread_scan(rng) is rng


def _materializer_calls(tree: ast.Module) -> list[str]:
    return [
        f"{node.func.attr}@{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in MATERIALIZERS
    ]


def test_no_raw_materialization_outside_io():
    """Intermediates are materialized with io.fence and freed with
    io.release: no module but io.py calls localCheckpoint, checkpoint,
    persist, cache or unpersist."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel != "io.py":
            calls = _materializer_calls(ast.parse(path.read_text(), str(path)))
            offenders += [f"{rel}: {c}" for c in calls]
    assert offenders == []


def test_kmv_reads_rewritten_source(spark, tmp_path):
    """A source rewritten in place is re-read: the kmv query's shared
    distinct-pairs table is a per-build fence, not a cached plan that
    Spark's CacheManager would match to the new scan of the same path
    and serve with the old file's counts."""
    sys.path.insert(0, str(PACKAGE.parent / "tools"))
    import __spark_entry__ as entry
    import check

    for name in check.TABLES:
        src = f"{SF_MED}/{name}.parquet"
        if name == "documents":
            shutil.copyfile(src, tmp_path / "documents.parquet")
        elif os.path.exists(src):
            os.symlink(src, tmp_path / f"{name}.parquet")
    sf_dir = str(tmp_path)
    fn = entry.queries()["kmv_distinct_shingles"]
    sql = entry.oracle_sql()["kmv_distinct_shingles"]

    ok, msg, _ = check.compare_query(spark, check.duck_connection(sf_dir), fn, sql, sf_dir)
    assert ok, msg
    docs = pq.read_table(tmp_path / "documents.parquet")
    pq.write_table(docs.slice(0, docs.num_rows // 2), tmp_path / "documents.parquet")
    ok, msg, _ = check.compare_query(spark, check.duck_connection(sf_dir), fn, sql, sf_dir)
    assert ok, msg
