"""One chunk-stripe scan for the array sources, HDF5 granules and Zarr
stores: the reference's ``xr.open_mfdataset(..., combine='nested',
preprocess=add_path_to_ds)`` (reference atlxi_dhdt.py:73-82,
atl06_play.py:318-327) as ONE (part × chunk-stripe) task table and ONE
mapInPandas whatever the part count, never a per-source union plan.

A format supplies its header probe, as :class:`Part` s, and two
callables: ``open_source(source)``, a context manager entered at most
once per task for each source it reads and exited when the task ends,
and ``read_stripe(handle, key, cols, start, length)``, the arrays of
``cols`` (all present in the part) for rows [start, start+length) in
native byte order. The scan owns schema agreement, the Spark schema,
the task table and the decode.
"""

from __future__ import annotations

from contextlib import ExitStack
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# Partition cap of the task table: stripes beyond it share tasks.
TASK_CAP = 512

_NP_TO_SPARK = {
    "int64": "long",
    "int32": "int",
    "int16": "short",
    "int8": "byte",
    "uint8": "int",
    "uint16": "int",
    "uint32": "long",
    "float64": "double",
    "float32": "float",
    "bool": "boolean",
}


class Part(NamedTuple):
    """One source's row axis. ``key``: the task-table columns locating
    it (its first value is the source ``open_source`` receives);
    ``cols``: each PRESENT column's signature (numpy dtype name, rank,
    then anything else that must agree across parts); ``tags``:
    constant identity columns for every row."""

    key: dict[str, str]
    rows: int
    stride: int
    cols: dict[str, tuple]
    tags: dict = {}


def plan_chunks(n_rows: int, chunk_rows: int) -> list[tuple[int, int]]:
    """[(start, length), ...] covering [0, n_rows) in uniform stripes
    (last one ragged) — the task grid for a chunk-parallel scan."""
    if n_rows < 0 or chunk_rows <= 0:
        raise ValueError(f"plan_chunks: bad n_rows={n_rows} chunk_rows={chunk_rows}")
    return [
        (start, min(chunk_rows, n_rows - start))
        for start in range(0, n_rows, chunk_rows)
    ]


def spark_schema_for(np_dtypes: dict[str, str | tuple]) -> str:
    """DDL schema string (row_index first) for column dtype names.
    A value may be ``(dtype, ndim, ...)``: rank-2 columns land as
    ``array<T>`` (one vector per row along axis 1 — the ATL11
    ``h_corr[ref_pt, cycle]`` shape)."""
    cols = []
    for name, dt in np_dtypes.items():
        ndim = 1
        if isinstance(dt, tuple):
            dt, ndim = dt[:2]
        if dt not in _NP_TO_SPARK:
            raise TypeError(f"unsupported column dtype {name}:{dt}")
        base = _NP_TO_SPARK[dt]
        cols.append(f"`{name}` {base}" if ndim == 1 else f"`{name}` array<{base}>")
    return "row_index long, " + ", ".join(cols)


def _tag_spark_type(who: str, key: str, value) -> str:
    """Spark DDL type for a per-part tag value. isinstance-based so
    numpy scalars / bool / float from upstream parsers map cleanly;
    bool is checked before int because bool IS an int in Python."""
    if isinstance(value, (bool, np.bool_)):
        return "boolean"
    if isinstance(value, (int, np.integer)):
        return "int"  # tags are small metadata (cycle/track numbers)
    if isinstance(value, (float, np.floating)):
        return "double"
    if isinstance(value, str):
        return "string"
    raise ValueError(
        f"{who}: tag {key!r} has unsupported type {type(value).__name__} "
        "(expected bool/int/float/str or numpy scalar)"
    )


def _agree(
    parts: list[Part], columns: list[str] | None, missing_ok: bool, who: str, nouns
) -> tuple[list[str], dict[str, tuple]]:
    """The output columns (in order) and their signatures. Strict: every
    part carries the same columns with the same signatures.
    ``missing_ok``: a column absent from a part null-fills there, but
    where present its signature must agree, a part must hold at least
    one requested column, and a requested column absent from EVERY
    part raises (it has no dtype to infer; a typo must not narrow the
    frame)."""
    src, col = nouns
    sigs = {} if missing_ok else parts[0].cols
    for p in parts:
        where = ":".join(p.key.values())
        if not missing_ok:
            if p.cols != sigs:
                raise ValueError(f"{who}: schema drift at {where}: {p.cols} != {sigs}")
            continue
        if not p.cols:
            raise ValueError(
                f"{who}: {src} {where} has none of the requested {col}s {columns}"
            )
        for c, sig in p.cols.items():
            if sigs.setdefault(c, sig) != sig:
                raise ValueError(
                    f"{who}: schema drift for {col} {c!r} at {where}: "
                    f"{sig} != {sigs[c]} — missing_ok null-fills ABSENT "
                    f"{col}s but requires agreeing dtype/rank where present"
                )
    if columns is None:
        return sorted(sigs), sigs
    nowhere = [c for c in columns if c not in sigs]
    if nowhere:
        raise ValueError(
            f"{who}: requested {col}(s) {nowhere} appear in no {src} — "
            f"missing_ok null-fills {col}s absent from SOME {src}s, but one "
            "absent everywhere has no dtype to infer (check the name)"
        )
    return list(columns), sigs


def scan(
    spark: SparkSession,
    parts: list[Part],
    columns: list[str] | None,
    open_source: Callable,
    read_stripe: Callable,
    *,
    missing_ok: bool = False,
    tags_first: bool = False,
    who: str = "scan",
    nouns: tuple[str, str] = ("source", "column"),
) -> DataFrame:
    """The (part × stripe) scan. ``columns`` is the output column order
    (None: every column the parts carry, sorted). Output schema:
    ``row_index``, the columns, then the tags (``tags_first``: the tags
    lead). ``who`` and ``nouns`` (what a part and a column are called)
    word the error messages. The task table is repartitioned to
    ``min(stripes, TASK_CAP)``; each task opens a source once."""
    tag_keys = list(parts[0].tags)
    if any(list(p.tags) != tag_keys for p in parts):
        raise ValueError(f"{who}: parts disagree on tag keys")
    cols, sigs = _agree(parts, columns, missing_ok, who, nouns)
    data_ddl = [spark_schema_for({c: sigs[c] for c in cols})]
    tag_ddl = [f"`{k}` {_tag_spark_type(who, k, v)}" for k, v in parts[0].tags.items()]
    schema = ", ".join(tag_ddl + data_ddl if tags_first else data_ddl + tag_ddl)

    key_names = list(parts[0].key)
    tasks = []
    for p in parts:
        # numpy scalars -> Python natives so createDataFrame accepts
        # them against the DDL schema
        tag_vals = [v.item() if isinstance(v, np.generic) else v for v in p.tags.values()]
        key = tuple(p.key.values())
        tasks.extend(
            (*key, start, length, *tag_vals)
            for start, length in plan_chunks(p.rows, p.stride)
        )
    if not tasks:
        return spark.createDataFrame([], schema)
    task_schema = ", ".join(
        [f"`{k}` string" for k in key_names] + ["start long", "length long"] + tag_ddl
    )
    tasks_df = spark.createDataFrame(tasks, task_schema).repartition(
        min(len(tasks), TASK_CAP)
    )

    # parts lacking a column (missing_ok) read only what they hold; the
    # rest null-fill from metadata, with no I/O for the absent column
    reads = {
        tuple(p.key.values()): [c for c in cols if c in p.cols]
        for p in parts
        if len(p.cols) < len(cols)
    }
    n_key = len(key_names)

    def decode(batches):
        with ExitStack() as stack:
            handles = {}
            for pdf in batches:
                for row in pdf.itertuples(index=False, name=None):
                    key = row[:n_key]
                    h = handles.get(key[0])
                    if h is None:
                        h = handles[key[0]] = stack.enter_context(open_source(key[0]))
                    start, length = int(row[n_key]), int(row[n_key + 1])
                    present = reads.get(key, cols)
                    got = dict(zip(present, read_stripe(h, key, present, start, length)))
                    out = {"row_index": np.arange(start, start + length, dtype=np.int64)}
                    for c in cols:
                        arr = got.get(c)
                        if arr is None:
                            out[c] = pd.Series([None] * length, dtype="object")
                        else:
                            # rank-2 stripes become one vector per row
                            out[c] = list(arr) if arr.ndim == 2 else arr
                    tags = {k: [v] * length for k, v in zip(tag_keys, row[n_key + 2 :])}
                    yield pd.DataFrame({**tags, **out} if tags_first else {**out, **tags})

    return tasks_df.mapInPandas(decode, schema=schema)
