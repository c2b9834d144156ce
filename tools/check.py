"""Local correctness harness mirroring the driver's oracle compare.

For each query in __spark_entry__.queries(): run the Spark DataFrame
and the DuckDB oracle at the given sf dir, then compare
  - row count
  - column names (sorted)
  - Arrow-level column TYPES (sorted by column name) — the driver's
    value hash is type-sensitive (round 1: DuckDB HUGEINT vs Spark
    BIGINT hash-mismatched despite equal values), so a type difference
    is a FAIL here even when every value compares equal.
  - values: columns sorted by name, rows sorted by all columns,
    compared by exact repr (bit-faithful for floats — no rounding).

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon_type(t: pa.DataType) -> str:
    """Canonical type string: ignores list/struct field naming and
    large_* vs plain variants (representation details that no hash of
    *values* can see), keeps integer width / float width / decimal
    precision (what a type-sensitive value hash DOES see)."""
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{canon_type(f.type)}" for f in t) + ">"
    if pa.types.is_map(t):
        return f"map<{canon_type(t.key_type)},{canon_type(t.item_type)}>"
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}]"  # tz is session config, not data
    if pa.types.is_dictionary(t):
        return canon_type(t.value_type)
    return str(t)


def canon_val(v) -> str:
    """Exact repr; floats bit-faithful (repr roundtrips, -0.0 kept)."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_val(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_val(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):  # pyspark Row in nested structs
        return canon_val(v.asDict())
    return repr(v)


def canon(rows, cols):
    """Sort columns by name, rows by canonical repr of all values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_val(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def spark_arrow_types(sdf) -> dict:
    try:
        tbl = sdf.limit(0).toArrow()
    except Exception:  # noqa: BLE001 — older API fallback
        return {}
    return {f.name: canon_type(f.type) for f in tbl.schema}



def compare_query(spark, con, fn, sql, sf_dir):
    """Run one query on Spark and its oracle on DuckDB, compare
    rowcount / column names / arrow types / canonical values.
    Returns (ok, msg, n_rows). Shared by main() and the adversarial
    probes (tools/partition_adversary.py) so the compare semantics
    can never drift between harnesses."""
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    stypes = spark_arrow_types(sdf)
    ares = con.execute(sql).arrow()
    dcols = ares.schema.names
    dtypes = {f.name: canon_type(f.type) for f in ares.schema}
    dcolumns = [col.to_pylist() for col in ares.columns]
    drows = list(zip(*dcolumns)) if dcolumns else []
    if not drows and ares.num_rows:
        drows = [() for _ in range(ares.num_rows)]
    msgs = []
    if len(srows) != len(drows):
        msgs.append(f"rowcount spark={len(srows)} duck={len(drows)}")
    if sorted(scols) != sorted(dcols):
        msgs.append(f"schema spark={sorted(scols)} duck={sorted(dcols)}")
    if not msgs and stypes:
        tmism = {
            c: (stypes[c], dtypes[c])
            for c in stypes
            if c in dtypes and stypes[c] != dtypes[c]
        }
        if tmism:
            msgs.append(f"type mismatch (spark,duck): {tmism}")
    if not msgs:
        _, sc = canon(srows, scols)
        _, dc = canon(drows, dcols)
        mism = sum(1 for a, b in zip(sc, dc) if a != b)
        if mism:
            msgs.append(f"{mism}/{len(sc)} rows differ")
            for a, b in zip(sc, dc):
                if a != b:
                    msgs.append(f"  spark={a}")
                    msgs.append(f"  duck ={b}")
                    break
    return (not msgs, "; ".join(msgs), len(srows))


def main() -> int:
    from deepicedrain_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("check")
    con = duck_connection(SF_DIR)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        sql = oracles.get(name)
        if sql is None:
            try:
                n_rows = qs[name](spark, SF_DIR).count()
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: spark error: {e}")
                n_fail += 1
                continue
            print(f"weak {name}: rows={n_rows} ({time.time()-t0:.1f}s, no oracle)")
            n_weak += 1
            continue
        try:
            ok, msg, n_rows = compare_query(spark, con, fn, sql, SF_DIR)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: error: {e}")
            n_fail += 1
            continue
        if ok:
            print(f"PASS {name}: {n_rows} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {msg}")
            n_fail += 1
        spark.catalog.clearCache()  # drop per-query persisted intermediates

    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
