"""HDF5 columnar source — the reference's actual upstream format
(SURVEY S-gap #1): ATL06/ATL11 land-ice granules are HDF5 files whose
per-beam groups hold equal-length 1-D datasets
(``/root/reference/atl06_to_atl11.py:171-196`` reads
``<beam>/land_ice_segments/{latitude, longitude, h_li, ...}``;
``atl06_play.py:318-327`` walks the same layout).

The container ships no h5py, so the file layer is pluggable: h5py when
importable, else the vendored pure-numpy ``hdf5lite`` reader (spec
subset: superblock v0-v3, v1/v2 object headers, symbol-table groups,
contiguous + chunked/gzip/shuffle layouts with partial reads) — so the
scan runs LIVE in this environment, matching the reference's actual
ATL06/ATL11 ingest entry point. The plan (``stripes.scan``, shared with
the Zarr readers):

- driver: one header read per (file, group) — list datasets, validate
  equal lengths, derive the stripe (``chunk_rows``, else a multiple of
  HDF5's own chunk shape of at least 64k rows);
- executors: ONE task table over (file × chunk stripe) for any number
  of files; each task opens a file read-only once (HDF5 SWMR-safe for
  concurrent readers) and slices every requested dataset for each of
  its [start, start+length) stripes into one Arrow batch, plus a
  ``row_index`` column (the granule's implicit key).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from deepicedrain_spark.sources.naming import safe_key_component
from deepicedrain_spark.sources.stripes import Part, scan


def _open_h5(path: str):
    """h5py when available (battle-tested C library), else the vendored
    pure-numpy hdf5lite reader — identical minimal interface (File ->
    group ``[path]`` -> dataset with .shape/.dtype/.chunks/slicing)."""
    try:
        import h5py

        return h5py.File(path, "r")
    except ImportError:
        from deepicedrain_spark.sources import hdf5lite

        return hdf5lite.File(path)


def _probe(
    path: str, group: str, datasets: list[str], chunk_rows: int | None, missing_ok: bool
) -> tuple[int, int, dict[str, tuple]] | None:
    """One granule header read: (rows, stride, {dataset: (dtype, rank)})
    for the requested datasets of ``group``. ``missing_ok`` skips absent
    datasets and returns None when the group itself is absent."""
    with _open_h5(path) as f:
        if missing_ok and group not in f:
            return None
        grp = f[group]
        lengths, cols, native_chunks = {}, {}, set()
        for name in datasets:
            if missing_ok and name not in grp:
                continue
            d = grp[name]
            if len(d.shape) not in (1, 2):
                raise ValueError(f"read_hdf5: {path}:{group}/{name} is not 1-D or 2-D")
            lengths[name] = d.shape[0]
            # rank-2 datasets become array<T> columns: one vector per
            # row along axis 1 (ATL11 h_corr[ref_pt, cycle]);
            # newbyteorder('=') maps big-endian file dtypes to the
            # native name (reads are normalized in _h5_stripe)
            cols[name] = (str(np.dtype(d.dtype).newbyteorder("=")), len(d.shape))
            if d.chunks:
                native_chunks.add(d.chunks[0])
    if len(set(lengths.values())) > 1:
        raise ValueError(f"read_hdf5: ragged datasets in {path}:{group}: {lengths}")
    if chunk_rows:
        stride = chunk_rows
    elif native_chunks:
        # stripe = a multiple of the native chunk (decompression stays
        # aligned) of at least 64k rows — a file gzip-chunked at e.g.
        # 100 rows must not explode a 10M-row dataset into 100k tasks
        native = max(native_chunks)
        stride = native * max(1, -(-65536 // native))
    else:
        stride = 65536
    return max(lengths.values(), default=0), stride, cols


def _h5_stripe(grp, cols: list[str], start: int, length: int) -> list[np.ndarray]:
    out = []
    for name in cols:
        arr = grp[name][start : start + length]
        if arr.dtype.byteorder == ">":  # h5py keeps file order
            arr = arr.astype(arr.dtype.newbyteorder("="))
        out.append(arr)
    return out


def _read_group_stripe(f, key, cols, start, length):
    return _h5_stripe(f[key[1]], cols, start, length)  # key = (path, group)


def read_hdf5_many(
    spark: SparkSession,
    parts: list[tuple[str, str, dict]],
    datasets: list[str],
    chunk_rows: int | None = None,
) -> DataFrame:
    """Distributed scan of MANY (path, group) dataset sets through ONE
    (part × chunk-stripe) task table and ONE mapInPandas (the
    ``stripes.scan``; round 7: the per-(granule, beam) union built 18
    separate tiny scans, each with its own repartition exchange — a
    ~40-stage storm whose scheduling latency dominated
    atl06_ingest_pipeline; at 1000 granules it would be a 6000-leg
    union).

    ``parts``: (path, group, tags) triples — ``tags`` maps identity
    column name -> int|str literal (rgt/cycle/beam) attached to every
    row of that part; all parts must share tag keys and dataset dtypes.
    Driver cost is one header probe per part (O(parts), ~0.1 ms each —
    the 1387-store Zarr probe measured 0.19 s total)."""
    if not parts:
        raise ValueError("read_hdf5_many: no parts given")
    probed = []
    for path, group, tags in parts:
        path = os.path.abspath(path)
        probed.append(Part(
            {"path": path, "grp": group}, *_probe(path, group, datasets, chunk_rows, False), tags
        ))
    return scan(
        spark, probed, datasets, _open_h5, _read_group_stripe,
        who="read_hdf5_many", nouns=("granule", "dataset"),
    )


def read_hdf5(
    spark: SparkSession,
    path: str,
    group: str,
    datasets: list[str],
    chunk_rows: int | None = None,
) -> DataFrame:
    """Distributed scan of equal-length 1-D datasets under ``group``
    (the single-file special case of read_hdf5_many)."""
    return read_hdf5_many(spark, [(path, group, {})], datasets, chunk_rows)


# ATL06 convenience: the reference's per-beam column set
# (atl06_to_atl11.py:171-196). Beam ∈ gt1l/gt1r/gt2l/gt2r/gt3l/gt3r.
ATL06_DATASETS = [
    "latitude",
    "longitude",
    "h_li",
    "h_li_sigma",
    "atl06_quality_summary",
    "delta_time",
    "segment_id",
]


def read_atl06_beam(
    spark: SparkSession, path: str, beam: str = "gt1l", chunk_rows: int | None = None
) -> DataFrame:
    return read_hdf5(
        spark, path, f"{beam}/land_ice_segments", ATL06_DATASETS, chunk_rows
    )


def write_hdf5_partitioned(
    df: DataFrame,
    out_dir: str,
    group: str,
    key_col: str,
    columns: list[str] | None = None,
    chunk_rows: int | None = 4096,
    gzip: int | None = None,
    shuffle: bool = False,
    sort_col: str | None = None,
) -> DataFrame:
    """Distributed HDF5 sink: ONE granule file per distinct ``key_col``
    value (the reference's file-per-RGT layout — 1387 ATL11 stores
    named by ground track, /root/reference/atlxi_dhdt.py:73-82), each
    written ON AN EXECUTOR by the group's applyInPandas call. No
    driver-side collect: the only driver state is the returned manifest
    (one row per granule). Each file is staged ``*.tmp.<pid>`` and
    os.replace'd, so a crashed task never leaves a half-granule behind.

    Returns the LAZY manifest DataFrame (granule, key, n_rows) —
    collect it (or otherwise act on it) to force the write. Groups must
    fit in executor memory, same contract as the reference's per-RGT
    stores; pick ``key_col`` accordingly (rgt, date bucket, hash mod N).
    Writers target a shared filesystem on a real cluster (local FS here).
    """
    import pandas as pd

    from deepicedrain_spark.sources.hdf5lite import write_hdf5

    out_dir = os.path.abspath(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    cols = columns or [c for c in df.columns if c != key_col]

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        if sort_col is not None:
            pdf = pdf.sort_values(sort_col, kind="mergesort")
        name = f"granule_{safe_key_component(key)}.h5"
        path = os.path.join(out_dir, name)
        tmp = f"{path}.tmp.{os.getpid()}"
        write_hdf5(
            tmp,
            {group: {c: pdf[c].to_numpy() for c in cols}},
            chunk_rows=chunk_rows,
            gzip=gzip,
            shuffle=shuffle,
        )
        os.replace(tmp, path)
        return pd.DataFrame(
            {"granule": [name], key_col: [key], "n_rows": [len(pdf)]}
        )

    key_type = dict(df.dtypes)[key_col]
    schema = f"granule string, `{key_col}` {key_type}, n_rows long"
    return df.groupBy(key_col).applyInPandas(write_group, schema=schema)


def read_hdf5_dir(
    spark: SparkSession,
    out_dir: str,
    group: str,
    datasets: list[str],
    chunk_rows: int | None = None,
    granule_col: str | None = None,
    missing_ok: bool = False,
) -> DataFrame:
    """Multi-granule scan: every ``*.h5`` under ``out_dir`` through the
    one (path × chunk stripe) task table of ``stripes.scan`` — the file
    axis the single-file scan's docstring promises. Deliberately NOT a
    union of per-file reads: at the reference's 1387-granule store a
    union is a 1387-leg plan, while this stays a single mapInPandas
    whatever the file count. Driver cost is one header read per file
    (schema validation + row counts); each task then touches one
    contiguous stripe of one file. ``granule_col`` adds the source
    filename (the reference's add_path_to_ds, atlxi_dhdt.py:60-70).

    ``missing_ok=True`` is the schema-evolution mode real ICESat-2
    archives need (read_zarr_dir takes the same switch): a granule
    missing a requested DATASET null-fills that column for its rows
    (metadata-driven — no I/O for the absent dataset), and a granule
    missing the whole beam GROUP contributes zero rows, exactly as the
    reference's per-beam loops skip absent beams (atl06_play.py:318-327).
    Where a dataset IS present its dtype/rank must still agree across
    granules; a granule having the group but NONE of the requested
    datasets is an error (its row count would be undefined)."""
    files = sorted(
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".h5")
    )
    if not files:
        raise ValueError(f"read_hdf5_dir: no .h5 granules under {out_dir}")
    parts = []
    for path in files:
        probed = _probe(path, group, datasets, chunk_rows, missing_ok)
        if probed is None:
            continue  # granule lacks the beam entirely: zero rows
        tags = {granule_col: os.path.basename(path)} if granule_col else {}
        parts.append(Part({"path": path}, *probed, tags))
    if not parts:
        raise ValueError(f"read_hdf5_dir: no granule under {out_dir} has group {group!r}")

    def read_stripe(f, key, cols, start, length):
        return _h5_stripe(f[group], cols, start, length)

    return scan(
        spark, parts, datasets, _open_h5, read_stripe, missing_ok=missing_ok,
        who="read_hdf5_dir", nouns=("granule", "dataset"),
    )
