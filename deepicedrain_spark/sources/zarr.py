"""Zarr v2 + v3 columnar source/sink — pure numpy + stdlib, no zarr lib
(SURVEY S3/S4: the reference's canonical store is per-track Zarr;
``ds.to_zarr(store, mode='w', consolidated=True)`` at
/root/reference/atl06_to_atl11.py:299-303, multi-store scan at
/root/reference/atlxi_dhdt.py:73-82).

Layouts written (readable by the real zarr-python; v3 per ZEP1 with
the bytes+gzip codec chain, zarr.json nodes and c/<i> chunk keys;
read_zarr auto-detects the format):

    path/.zgroup                 {"zarr_format": 2}
    path/.zmetadata              consolidated metadata
    path/<col>/.zarray           dtype/shape/chunks/compressor(zlib)
    path/<col>/<i>               chunk i = rows [i*chunk, (i+1)*chunk)

Both directions are distributed and chunk-parallel:

- **write**: per-partition counts → driver cumsum → contiguous global
  row index per row (the zipWithIndex pattern: one cheap count pass,
  no single-task bottleneck) → one shuffle keyed on chunk id →
  each task writes its chunk files. Chunks are uniform by construction
  (last one ragged), as the v2 spec requires.
- **read**: chunk grid enumerated from the array metadata driver-side;
  the (store × chunk-stripe) task table of ``stripes.scan`` (shared
  with the HDF5 readers) decodes all column chunks of a stripe into
  one Arrow batch. At 100 TB each stripe is an independent unit of
  work — same parallelism story as parquet row groups.

Supported dtypes: ints/floats/bool (the reference's data model §1.3).
Writes are always little-endian; reads also accept big-endian stores
('>i*/>f*' v2 dtypes, v3 bytes-codec 'endian: big' — produced by other
toolchains, round 10, mirroring hdf5lite's BE reads) and normalize to
native. Strings are out of scope (Zarr object dtypes need msgpack
codecs — use parquet for string-bearing tables).
"""

from __future__ import annotations

import json
import os
import re
import zlib
from contextlib import nullcontext

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from deepicedrain_spark.io import fence, release
from deepicedrain_spark.sources.naming import safe_key_component
from deepicedrain_spark.sources.stripes import Part, scan

_SPARK_TO_NP = {
    "bigint": "<i8",
    "int": "<i4",
    "smallint": "<i2",
    "tinyint": "<i1",
    "double": "<f8",
    "float": "<f4",
    "boolean": "|b1",
}


def _zarray_meta(n_rows, chunk_rows, np_dtype: str) -> dict:
    """v2 array metadata; ``n_rows``/``chunk_rows`` may be ints (1-D)
    or full shape/chunk lists (N-D, round 9)."""
    shape = [n_rows] if isinstance(n_rows, int) else list(n_rows)
    chunks = [chunk_rows] if isinstance(chunk_rows, int) else list(chunk_rows)
    return {
        "zarr_format": 2,
        "shape": shape,
        "chunks": chunks,
        "dtype": np_dtype,
        "compressor": {"id": "zlib", "level": 1},
        "fill_value": None,
        "order": "C",
        "filters": None,
        "dimension_separator": ".",
    }


_NP_TO_V3 = {
    "<i8": "int64", "<i4": "int32", "<i2": "int16", "<i1": "int8",
    "<f8": "float64", "<f4": "float32", "|b1": "bool",
}
_V3_TO_NP = {v: k for k, v in _NP_TO_V3.items()}


def _zarray_meta_v3(n_rows, chunk_rows, np_dtype: str) -> dict:
    """Zarr v3 (ZEP1) array metadata: bytes codec (little endian) +
    gzip compression, regular chunk grid, default 'c/<i>' chunk keys.
    ``n_rows``/``chunk_rows`` may be ints (1-D) or full lists (N-D)."""
    shape = [n_rows] if isinstance(n_rows, int) else list(n_rows)
    chunks = [chunk_rows] if isinstance(chunk_rows, int) else list(chunk_rows)
    return {
        "zarr_format": 3,
        "node_type": "array",
        "shape": shape,
        "data_type": _NP_TO_V3[np_dtype],
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": chunks},
        },
        "chunk_key_encoding": {
            "name": "default",
            "configuration": {"separator": "/"},
        },
        "codecs": [
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": "gzip", "configuration": {"level": 1}},
        ],
        "fill_value": 0,
        "attributes": {},
    }


def _gzip_compress(raw: bytes, level: int = 1) -> bytes:
    co = zlib.compressobj(level, zlib.DEFLATED, 31)  # wbits 31 = gzip container
    return co.compress(raw) + co.flush()


def _decompress(raw: bytes, comp: dict | None) -> bytes:
    if comp is None:
        return raw
    if comp.get("id") == "zlib":
        return zlib.decompress(raw)
    if comp.get("id") == "gzip":
        return zlib.decompress(raw, 47)  # gzip/zlib auto
    raise ValueError(f"unsupported compressor {comp}")


def _chunk_file(store_path: str, col: str, a: dict, coords: tuple[int, ...]) -> str:
    """Path of one chunk: v3 'c<sep>i<sep>j...', v2 'i.j...' (the
    dimension_separator, '.' unless the store says otherwise)."""
    if a.get("_v3"):
        sep = a["_sep"]
        key = ("c" + sep + sep.join(str(c) for c in coords)).replace("/", os.sep)
    else:
        sep = a.get("_sep2", ".")
        key = sep.join(str(c) for c in coords).replace("/", os.sep)
    return os.path.join(store_path, col, key)


def _fill_of(a: dict) -> float | int:
    """Numeric fill_value of an array's metadata: the spec says a chunk
    whose key is ABSENT holds fill_value everywhere (zarr-python v3
    omits all-fill chunks by default — write_empty_chunks=False), so
    the reader must synthesize it, not crash. JSON can't carry NaN, so
    both versions spell it 'NaN'."""
    fv = a.get("fill_value")
    if fv is None:
        return 0
    if isinstance(fv, str):
        if fv.lower() == "nan":
            return float("nan")
        if fv.lower() in ("infinity", "inf"):
            return float("inf")
        if fv.lower() in ("-infinity", "-inf"):
            return float("-inf")
        raise ValueError(f"read_zarr: unsupported fill_value {fv!r}")
    return fv


_CRC32C_TABLE = None


def _crc32c(data: bytes) -> int:
    """Software CRC-32C (Castagnoli, reflected poly 0x82F63B78) — the
    checksum the v3 sharding spec's crc32c index codec appends. Only
    runs over 16-byte-per-chunk shard indexes, never over data."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            tbl.append(c)
        _CRC32C_TABLE = tbl
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _read_shard(raw: bytes, a: dict) -> bytes:
    """Assemble one full shard (C-order bytes, missing inner chunks =
    fill_value) from a sharding_indexed object: decode the
    (offset, nbytes) uint64-LE index at index_location, then place each
    present inner chunk into the shard grid (v3 sharding spec;
    2^64-1/2^64-1 marks an inner chunk that was never written)."""
    sh = a["_shard"]
    outer, inner = a["chunks"], sh["inner"]
    grid = [o // i for o, i in zip(outer, inner)]
    n_inner = 1
    for g in grid:
        n_inner *= g
    idx_len = 16 * n_inner + (4 if sh["index_crc"] else 0)
    if len(raw) < idx_len:
        raise ValueError("read_zarr: shard shorter than its index")
    idx = raw[-idx_len:] if sh["index_location"] == "end" else raw[:idx_len]
    if sh["index_crc"]:
        body, crc = idx[:-4], int.from_bytes(idx[-4:], "little")
        if _crc32c(body) != crc:
            raise ValueError("read_zarr: shard index crc32c mismatch")
        idx = body
    table = np.frombuffer(idx, dtype="<u8").reshape(n_inner, 2)
    disk = a.get("_disk_dtype", a["dtype"])
    full = np.full(outer, _fill_of(a), dtype=disk)
    missing = 0xFFFFFFFFFFFFFFFF
    for k in range(n_inner):
        off, nb = int(table[k, 0]), int(table[k, 1])
        if off == missing and nb == missing:
            continue
        if off + nb > len(raw):
            raise ValueError("read_zarr: shard index points past the object")
        block = _decompress(raw[off : off + nb], a["compressor"])
        arr = np.frombuffer(block, dtype=disk).reshape(inner)
        # inner-chunk coords: C-order enumeration of the shard grid
        pos, rem = [], k
        for g in reversed(grid):
            pos.append(rem % g)
            rem //= g
        pos = pos[::-1]
        sl = tuple(slice(p * i, (p + 1) * i) for p, i in zip(pos, inner))
        full[sl] = arr
    return full.tobytes()


def _read_chunk_raw(store_path: str, col: str, a: dict, coords: tuple[int, ...]):
    """Decompressed bytes of one chunk, or None when the chunk file is
    absent (legal: an all-fill chunk was never written). For a sharded
    v3 array the stored object is a SHARD: its inner chunks assemble
    into the full outer chunk here, so every caller keeps seeing plain
    chunk bytes."""
    p = _chunk_file(store_path, col, a, coords)
    try:
        with open(p, "rb") as f:
            raw = f.read()
    except FileNotFoundError:
        return None
    if a.get("_shard"):
        return _read_shard(raw, a)
    return _decompress(raw, a["compressor"])


def _read_stripe(store_path: str, col: str, a: dict, cid: int, length: int) -> np.ndarray:
    """Decode one axis-0 chunk stripe of a 1-D or 2-D array (round 9:
    rank-2 ATL11 h_corr[ref_pt, cycle] gathers every axis-1 chunk of
    the stripe; edge chunks are stored full-size and clipped; absent
    chunk files read as fill_value per the spec)."""
    shape, chunks, dt = a["shape"], a["chunks"], a["dtype"]
    # big-endian store: bytes decode with the on-disk order, the result
    # converts to the (LE-normalized) declared dtype
    disk = a.get("_disk_dtype", dt)
    if len(shape) == 1:
        raw = _read_chunk_raw(store_path, col, a, (cid,))
        if raw is None:
            return np.full(length, _fill_of(a), dtype=dt)
        return np.frombuffer(raw, dtype=disk)[:length].astype(dt, copy=False)
    w, cw = shape[1], chunks[1]
    out = np.empty((length, w), dtype=dt)
    for j in range((w + cw - 1) // cw):
        c1 = min(cw, w - j * cw)
        raw = _read_chunk_raw(store_path, col, a, (cid, j))
        if raw is None:
            out[:, j * cw : j * cw + c1] = np.full(
                (length, c1), _fill_of(a), dtype=dt
            )
            continue
        block = np.frombuffer(raw, dtype=disk)[: chunks[0] * cw].reshape(chunks[0], cw)
        out[:, j * cw : j * cw + c1] = block[:length, :c1]
    return out


def write_zarr(
    df: DataFrame, path: str, chunk_rows: int = 65536, zarr_format: int = 2
) -> None:
    """Distributed Zarr sink: one array per column. ``zarr_format=2``
    (default) writes the v2 layout (.zarray/.zmetadata, zlib chunks);
    ``zarr_format=3`` writes the ZEP1 v3 layout (zarr.json per node,
    bytes+gzip codec chain, 'c/<i>' chunk keys).

    Arrow end-to-end (no Python-row RDD anywhere): the count pass is a
    Catalyst aggregation, the global index is assigned per partition in
    ``mapInPandas`` (vectorized arange per batch), and the chunk write
    is an ``applyInPandas`` over the chunk id — the one shuffle, moved
    through the JVM/Arrow path instead of a pickled groupByKey.

    Overwrite semantics: a pre-existing ``path`` is deleted first, so
    stale chunk files from an earlier write (different schema or
    chunk_rows) can never sit alongside new metadata.

    NULLs are rejected (detected during the count pass, per column):
    Zarr numeric arrays have no null representation, so fill or drop
    before writing."""
    import shutil

    from pyspark.sql import functions as F

    if zarr_format not in (2, 3):
        raise ValueError("write_zarr: zarr_format must be 2 or 3")
    cols = df.columns
    dtypes = dict(df.dtypes)
    np_dtypes = {}
    for c in cols:
        if dtypes[c] not in _SPARK_TO_NP:
            raise TypeError(f"write_zarr: unsupported column type {c}:{dtypes[c]}")
        np_dtypes[c] = _SPARK_TO_NP[dtypes[c]]

    # the fence pins ONE materialization with FIXED partitions:
    # the count pass and the index pass would otherwise be two
    # independent jobs over a possibly nondeterministic upstream plan
    # (shuffle order, AQE coalesce, sample), silently corrupting the
    # global index. spark_partition_id is stable on the checkpointed
    # partitions, making the two passes consistent.
    pinned = fence(df)

    # contiguous global row index without a single-task window: count
    # rows (and nulls) per partition in one Catalyst agg, cumsum the
    # tiny per-partition counts driver-side.
    stats = (
        pinned.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *[F.count(F.when(F.isnull(c), 1)).alias(f"_null_{c}") for c in cols],
        )
        .collect()
    )
    bad = {c: sum(r[f"_null_{c}"] for r in stats) for c in cols}
    bad = {c: n for c, n in bad.items() if n}
    if bad:
        raise ValueError(
            f"write_zarr: NULL values in column(s) {bad}; Zarr numeric arrays "
            "have no null representation — fill (na.fill) or drop (na.drop) first"
        )
    offsets = {}
    acc = 0
    for r in sorted(stats, key=lambda r: r["_pid"]):
        offsets[int(r["_pid"])] = acc
        acc += int(r["_n"])
    n_rows = acc
    # stage the whole store in a sibling temp dir and rename into place
    # only after every chunk task has succeeded — a mid-job failure
    # must neither destroy the pre-existing store nor leave metadata
    # that references missing chunk files (same pattern as the
    # streaming sink's staged version publish)
    final_path = path
    path = f"{final_path}.staging.{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)

    os.makedirs(path, exist_ok=True)
    for c in cols:
        os.makedirs(os.path.join(path, c), exist_ok=True)
    if zarr_format == 2:
        meta = {"metadata": {".zgroup": {"zarr_format": 2}}, "zarr_format": 1}
        for c in cols:
            meta["metadata"][f"{c}/.zarray"] = _zarray_meta(
                n_rows, chunk_rows, np_dtypes[c]
            )
            with open(os.path.join(path, c, ".zarray"), "w") as f:
                json.dump(meta["metadata"][f"{c}/.zarray"], f)
        with open(os.path.join(path, ".zgroup"), "w") as f:
            json.dump({"zarr_format": 2}, f)
        with open(os.path.join(path, ".zmetadata"), "w") as f:
            json.dump(meta, f)
    else:
        metas = {}
        for c in cols:
            os.makedirs(os.path.join(path, c, "c"), exist_ok=True)
            metas[c] = _zarray_meta_v3(n_rows, chunk_rows, np_dtypes[c])
            with open(os.path.join(path, c, "zarr.json"), "w") as f:
                json.dump(metas[c], f)
        # root last, with consolidated metadata (one driver open per
        # store at read time; see write_zarr_local)
        with open(os.path.join(path, "zarr.json"), "w") as f:
            json.dump(_v3_root_meta(metas), f)

    spark = df.sparkSession
    b_offsets = spark.sparkContext.broadcast(offsets)

    def assign_index(batches):
        # one call per partition; batches arrive in partition row order
        pos = None
        for pdf in batches:
            if pos is None:
                pos = b_offsets.value[int(pdf["_pid"].iloc[0])]
            n = len(pdf)
            out = pdf.drop(columns=["_pid"])
            out["_gidx"] = np.arange(pos, pos + n, dtype=np.int64)
            pos += n
            yield out

    idx_schema = ", ".join(f"`{c}` {dtypes[c]}" for c in cols) + ", _gidx long"
    indexed = pinned.withColumn("_pid", F.spark_partition_id()).mapInPandas(
        assign_index, schema=idx_schema
    )

    # one shuffle keyed on chunk id; each group materializes a full,
    # uniform chunk and writes it — chunk-parallel, order-exact
    def write_chunk(pdf):
        pdf = pdf.sort_values("_gidx")
        cid = int(pdf["_gidx"].iloc[0]) // chunk_rows
        expected = min(chunk_rows, n_rows - cid * chunk_rows)
        if len(pdf) != expected:
            raise ValueError(
                f"write_zarr: chunk {cid} materialized {len(pdf)} rows, "
                f"expected {expected} — upstream recomputation diverged"
            )
        for c in cols:
            arr = pdf[c].to_numpy(dtype=np_dtypes[c])
            if len(arr) < chunk_rows:
                # Zarr v2 stores edge chunks at FULL chunk shape (shape
                # clips on read) — an unpadded ragged chunk breaks real
                # zarr-python even though our own reader slices
                full = np.zeros(chunk_rows, dtype=arr.dtype)
                full[: len(arr)] = arr
                arr = full
            raw = arr.tobytes(order="C")
            if zarr_format == 2:
                payload = zlib.compress(raw, 1)
                target = os.path.join(path, c, str(cid))
            else:  # v3: bytes(LE) + gzip codec chain, 'c/<i>' keys
                payload = _gzip_compress(raw, 1)
                target = os.path.join(path, c, "c", str(cid))
            with open(target, "wb") as f:
                f.write(payload)
        return pd.DataFrame({"cid": [cid]})

    try:
        (
            indexed.withColumn("_cid", (F.col("_gidx") / F.lit(chunk_rows)).cast("long"))
            .groupBy("_cid")
            .applyInPandas(write_chunk, schema="cid long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception:
        shutil.rmtree(path, ignore_errors=True)  # staging only; old store intact
        raise
    finally:
        release(pinned)
    _publish_store(path, final_path)


def _publish_store(staging: str, final: str) -> None:
    """Swap a fully-written staging directory into place (round-10
    review): rmtree-then-rename left the published path ABSENT for the
    whole tree removal, and a crash mid-rmtree left a half-deleted old
    store whose intact metadata reads missing chunks as silent fill
    values. Now an existing store renames ASIDE (two-syscall window),
    the staging renames in, and the aside is removed; read_zarr_dir
    skips '.old.<pid>' names so a killed process's leftover aside never
    scans as a phantom store, and a stale aside from a recycled pid is
    cleared before the rename."""
    import shutil

    aside = None
    if os.path.exists(final):
        aside = f"{final}.old.{os.getpid()}"
        shutil.rmtree(aside, ignore_errors=True)
        os.rename(final, aside)
    os.rename(staging, final)
    if aside is not None:
        shutil.rmtree(aside, ignore_errors=True)


def _v3_root_meta(metas: dict[str, dict]) -> dict:
    """Root zarr.json for a v3 store, carrying every array's metadata
    consolidated (zarr-python 3 shape) so readers open ONE file per
    store. Shared by the local and distributed writers — the on-disk
    format must not fork between them."""
    return {
        "zarr_format": 3,
        "node_type": "group",
        "attributes": {},
        "consolidated_metadata": {
            "metadata": metas,
            "kind": "inline",
            "must_understand": False,
        },
    }


def _v3_arrays(path: str) -> dict[str, dict]:
    """Normalize a Zarr v3 store's array metadata into the v2-shaped
    dict read_zarr consumes: {col: {shape, chunks, dtype (numpy str),
    compressor, filters, _v3: True, _sep: separator}}.

    Round 10: a root ``consolidated_metadata`` block (written by
    zarr-python 3's consolidate_metadata and by this module's v3
    writer) supplies every array's metadata from the ONE root
    zarr.json — at the reference's 1387-store topology that turns the
    driver metadata loop from (1 + n_arrays) file opens per store into
    exactly one. Stores without it fall back to per-array opens."""
    with open(os.path.join(path, "zarr.json")) as f:
        root = json.load(f)
    cm = (root.get("consolidated_metadata") or {}).get("metadata")
    if cm:
        items = sorted((k, v) for k, v in cm.items() if "/" not in k)
    else:
        items = []
        for name in sorted(os.listdir(path)):
            meta_p = os.path.join(path, name, "zarr.json")
            if os.path.isfile(meta_p):
                with open(meta_p) as f:
                    items.append((name, json.load(f)))
    out = {}
    for name, m in items:
        if m.get("node_type") != "array":
            continue
        if m["data_type"] not in _V3_TO_NP:
            raise ValueError(f"read_zarr: unsupported v3 data_type {m['data_type']}")
        codecs = m.get("codecs", [])
        names = [c.get("name") for c in codecs]
        shard = None
        if names == ["sharding_indexed"]:
            # v3 sharding (round 10): one stored object holds a grid of
            # inner chunks plus a (offset,nbytes) index — the layout
            # zarr-python 3 toolchains write to dodge the
            # millions-of-tiny-files problem at 100 TB. The OUTER shard
            # grid stays this dict's "chunks" so the stripe logic is
            # untouched; _read_chunk_raw assembles a full shard from
            # the index.
            cfg = codecs[0].get("configuration", {})
            inner = cfg.get("chunk_shape")
            if not inner:
                raise ValueError(
                    f"read_zarr: sharding_indexed without chunk_shape for {name!r}"
                )
            codecs = cfg.get("codecs", [])
            names = [c.get("name") for c in codecs]
            idx_names = [c.get("name") for c in cfg.get("index_codecs", [])]
            if idx_names not in (["bytes"], ["bytes", "crc32c"]):
                raise ValueError(
                    f"read_zarr: unsupported shard index_codecs {idx_names} "
                    f"for {name!r} (bytes [+ crc32c] only)"
                )
            ibytes = next(c for c in cfg.get("index_codecs", []) if c["name"] == "bytes")
            if ibytes.get("configuration", {}).get("endian", "little") != "little":
                raise ValueError(
                    f"read_zarr: big-endian shard index not supported for {name!r}"
                )
            loc = cfg.get("index_location", "end")
            if loc not in ("start", "end"):
                raise ValueError(f"read_zarr: bad shard index_location {loc!r}")
            outer = m["chunk_grid"]["configuration"]["chunk_shape"]
            if len(inner) != len(outer) or any(
                o % i != 0 for o, i in zip(outer, inner)
            ):
                raise ValueError(
                    f"read_zarr: shard chunk_shape {inner} does not divide "
                    f"the outer chunk grid {outer} for {name!r}"
                )
            shard = {
                "inner": inner,
                "index_location": loc,
                "index_crc": "crc32c" in idx_names,
            }
        if names not in (["bytes"], ["bytes", "gzip"]):
            raise ValueError(
                f"read_zarr: unsupported v3 codec chain {names} for {name!r} "
                "(bytes [+ gzip] only)"
            )
        be = next(c for c in codecs if c["name"] == "bytes")
        endian = be.get("configuration", {}).get("endian", "little")
        if endian not in ("little", "big"):
            raise ValueError(f"read_zarr: unsupported v3 bytes endian {endian!r}")
        cke = m.get("chunk_key_encoding", {"name": "default"})
        if cke.get("name", "default") != "default":
            # e.g. the spec's "v2" encoding (keys "0.1", no "c/" prefix):
            # accepted silently it would fail later with a bare
            # FileNotFoundError from the wrong c/<i> path — reject up
            # front like the codec-chain check above.
            raise ValueError(
                f"read_zarr: unsupported v3 chunk_key_encoding "
                f"{cke.get('name')!r} for {name!r} ('default' only)"
            )
        sep = cke.get("configuration", {}).get("separator", "/")
        np_dt = _V3_TO_NP[m["data_type"]]
        if endian == "big" and np_dt.startswith("<"):
            # surfaced in v2 dtype-string form; _store_arrays normalizes
            # the declared dtype back to LE and keeps this as _disk_dtype
            np_dt = ">" + np_dt[1:]
        out[name] = {
            "shape": m["shape"],
            "chunks": m["chunk_grid"]["configuration"]["chunk_shape"],
            "dtype": np_dt,
            "compressor": (
                {"id": "gzip"} if "gzip" in names else None
            ),
            "filters": None,
            "fill_value": m.get("fill_value", 0),
            "_v3": True,
            "_sep": sep,
            "_cke": cke.get("name", "default"),
        }
        if shard is not None:
            out[name]["_shard"] = shard
    if not out:
        raise ValueError(f"read_zarr: no v3 arrays under {path}")
    return out


def _v2_walk_arrays(path: str) -> dict[str, dict]:
    """Array metadata for an UN-consolidated v2 store: one
    ``<array>/.zarray`` JSON per immediate child directory."""
    arrays: dict[str, dict] = {}
    for e in os.scandir(path):
        za = os.path.join(e.path, ".zarray")
        if e.is_dir() and os.path.isfile(za):
            with open(za) as f:
                meta = json.load(f)
            meta["_sep2"] = meta.get("dimension_separator", ".")
            arrays[e.name] = meta
    return arrays


def _store_arrays(
    path: str, columns: list[str] | None, optional: bool = False
) -> dict[str, dict]:
    """Array metadata for one store (v2 consolidated or v3), restricted
    to ``columns`` when given, ragged-validated AFTER the restriction
    (a store may carry auxiliary arrays on other axes — e.g. a
    per-cycle coordinate — that a column-restricted scan never touches
    and must not trip over). ``optional=True`` keeps only the requested
    columns that EXIST (union / schema-evolution mode) instead of
    raising on a missing name."""
    if os.path.isfile(os.path.join(path, ".zmetadata")):
        with open(os.path.join(path, ".zmetadata")) as f:
            consolidated = json.load(f)["metadata"]
        arrays = {
            k.split("/")[0]: v
            for k, v in consolidated.items()
            if k.endswith("/.zarray")
        }
        for v in arrays.values():
            v["_sep2"] = v.get("dimension_separator", ".")
    elif os.path.isfile(os.path.join(path, "zarr.json")):
        arrays = _v3_arrays(path)
    else:
        # un-consolidated v2 (zarr-python only consolidates on request,
        # so stores in the wild commonly ship without .zmetadata): walk
        # the immediate children for per-array .zarray documents — the
        # same metadata, one file per array instead of one per store
        arrays = _v2_walk_arrays(path)
        if not arrays:
            raise ValueError(
                f"read_zarr: {path} has no .zmetadata (v2 consolidated), "
                "no zarr.json (v3), and no <array>/.zarray children "
                "(v2 un-consolidated)"
            )
    if columns:
        if optional:
            arrays = {c: arrays[c] for c in columns if c in arrays}
            if not arrays:
                return arrays
        else:
            missing = [c for c in columns if c not in arrays]
            if missing:
                raise ValueError(
                    f"read_zarr: store {path} has no array(s) {missing}"
                )
            arrays = {c: arrays[c] for c in columns}
    cols = sorted(arrays)
    first = arrays[cols[0]]
    n_rows, chunk_rows = first["shape"][0], first["chunks"][0]
    for c in cols:
        if len(arrays[c]["shape"]) > 2:
            raise ValueError(
                f"read_zarr: array {c} has rank {len(arrays[c]['shape'])}; "
                "1-D (scalar column) and 2-D (array<T> column) only"
            )
        # v2 allows Fortran-order chunks; decoding them C-order would
        # silently transpose every rank-2 vector — reject like filters.
        # Rank-1 F-order is byte-identical to C-order, so only rank>=2
        # declarations are actually ambiguous (ADVICE r9)
        if arrays[c].get("order", "C") != "C" and len(arrays[c]["shape"]) >= 2:
            raise ValueError(
                f"read_zarr: array {c} uses order="
                f"{arrays[c]['order']!r}; only C-order stores are supported"
            )
        if arrays[c]["shape"][0] != n_rows or arrays[c]["chunks"][0] != chunk_rows:
            raise ValueError(f"read_zarr: ragged array {c} in {path}")
        # big-endian stores (other toolchains on BE-producing pipelines,
        # same interop class as hdf5lite's r9 BE reads): normalize the
        # DECLARED dtype to little-endian — everything downstream (Spark
        # DDL mapping, cross-store schema signatures) sees the logical
        # type; _read_stripe decodes with the on-disk order and swaps
        dt = arrays[c]["dtype"]
        if isinstance(dt, str) and dt.startswith(">"):
            arrays[c]["_disk_dtype"] = dt
            arrays[c]["dtype"] = "<" + dt[1:]
    return arrays


def _stripe(arrays: dict[str, dict], key, cols, start: int, length: int):
    """``stripes.scan`` reader: one stripe of ``cols`` from the store at
    ``key[0]`` (every array of a store shares the axis-0 chunk size)."""
    return [
        _read_stripe(key[0], c, arrays[c], start // arrays[c]["chunks"][0], length)
        for c in cols
    ]


def _scan_stores(
    spark: SparkSession,
    stores: list[tuple[str, dict]],
    columns: list[str] | None,
    missing_ok: bool,
    who: str,
) -> DataFrame:
    """(store path, tags) pairs -> the one ``stripes.scan``: one
    metadata read per store, its chunk grid as the stripe, and the
    (dtype, rank, trailing shape) signature per array — rank is schema
    (a 2-D column is array<T>) and the axis-1 extent is pinned too, since
    ragged vectors across stores would silently misalign downstream
    zips. Output columns come sorted by name."""
    parts, meta = [], {}
    for path, tags in stores:
        arrays = meta[path] = _store_arrays(path, columns, optional=missing_ok)
        for c, a in arrays.items():
            if a.get("filters"):
                # decoding would inflate then frombuffer the STILL-
                # FILTERED bytes into garbage values with no error
                raise ValueError(
                    f"{who}: array {path}/{c} uses codec filters "
                    f"{a['filters']}; only plain zlib/gzip/no-compressor "
                    "stores are supported"
                )
        first = next(iter(arrays.values()), None)  # None: none requested
        sigs = {
            c: (str(np.dtype(a["dtype"])), len(a["shape"]), tuple(a["shape"][1:]))
            for c, a in arrays.items()
        }
        rows, stride = (first["shape"][0], first["chunks"][0]) if first else (0, 1)
        parts.append(Part({"path": path}, rows, stride, sigs, tags))
    return scan(
        spark, parts, sorted(columns) if columns else None,
        lambda path: nullcontext(meta[path]), _stripe,
        missing_ok=missing_ok, tags_first=True, who=who, nouns=("store", "variable"),
    )


def read_zarr(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Distributed Zarr scan (v2 OR v3 — auto-detected): one task per
    chunk stripe, all columns of a stripe decoded together; adds
    ``row_index`` (the global array position — Zarr's implicit key,
    which parquet has no analogue for). The one-store case of
    read_zarr_dir's scan."""
    return _scan_stores(spark, [(path, {})], columns, False, "read_zarr")


def read_zarr_dir(
    spark: SparkSession,
    parent: str,
    columns: list[str] | None = None,
    store_col: str = "store",
    missing_ok: bool = False,
) -> DataFrame:
    """Multi-store Zarr scan — the reference's ACTUAL ingest shape:
    ``xr.open_mfdataset("ATL11_*.zarr", combine="nested",
    concat_dim="ref_pt")`` over 1387 per-track stores with the source
    path attached per row (add_path_to_ds,
    /root/reference/atlxi_dhdt.py:60-82). Every direct child of
    ``parent`` that is a Zarr store (v2 consolidated or v3) becomes
    part of ONE (store × chunk-stripe) task table — the same
    ``stripes.scan`` as read_hdf5_dir, a single mapInPandas whatever
    the store count, never a per-store union plan. Row counts, chunk
    sizes, versions and compressors may differ per store.

    By default stores must agree exactly on column names, dtypes, ranks
    and trailing shapes — any drift raises. ``missing_ok=True`` (the
    switch read_hdf5_dir takes too): the output schema is the UNION of
    the stores' variable sets; a variable absent from a store reads as
    NULL for that store's rows — matching ``xr.open_mfdataset``
    nested-concat semantics, where a granule missing a variable (e.g. a
    track without some cycles) contributes missing values that
    downstream ``dropna(thresh=…)`` then prunes (atlxi_dhdt.py:73-82,
    111). Where a variable IS present its dtype/rank/trailing shape
    must still agree across stores (absent variables are filled;
    conflicting types are never coerced). The null-fill is metadata
    driven — no chunk is read for an absent variable, so the per-task
    work stays proportional to the bytes that exist.

    Output: ``store`` (dir name), ``row_index`` (position WITHIN the
    store — the reference's per-granule ref_pt), plus the data
    columns."""
    stores = sorted(
        d
        for d in os.listdir(parent)
        if os.path.isdir(os.path.join(parent, d))
        # a killed writer can leave a COMPLETE store under its staging
        # name (write_zarr_local publishes into '.staging.<pid>',
        # fixture synthesis into '.tmp.<pid>', both renamed last) —
        # scanning one would silently add phantom rows. Match the
        # actual '<name>.staging.<pid>' / '<name>.tmp.<pid>' SUFFIX, so
        # a legitimately named store like 'track.tmp.archive' still
        # scans (ADVICE r9)
        and not re.search(r"\.(staging|tmp|old)\.\d+$", d)
        and (
            os.path.isfile(os.path.join(parent, d, ".zmetadata"))
            or os.path.isfile(os.path.join(parent, d, "zarr.json"))
            # un-consolidated v2: any immediate <array>/.zarray child
            or any(
                e.is_dir()
                and os.path.isfile(os.path.join(e.path, ".zarray"))
                for e in os.scandir(os.path.join(parent, d))
            )
        )
    )
    if not stores:
        raise ValueError(f"read_zarr_dir: no zarr stores under {parent}")

    return _scan_stores(
        spark, [(os.path.join(parent, d), {store_col: d}) for d in stores],
        columns, missing_ok, "read_zarr_dir",
    )


def write_zarr_local(
    path: str,
    arrays: dict[str, "np.ndarray"],
    chunk_rows: int = 65536,
    zarr_format: int = 2,
    chunk_shape: tuple[int, ...] | None = None,
    shard_shape: tuple[int, ...] | None = None,
) -> None:
    """Single-process Zarr store write from numpy arrays — the
    executor-side kernel for write_zarr_partitioned (and a driver
    convenience for small dims). Byte-identical layout to the
    distributed write_zarr: v2 .zarray/.zmetadata + zlib chunks or v3
    zarr.json + bytes/gzip 'c/<i>' keys, edge chunks zero-padded to
    full shape, staged + renamed so a crash never leaves a torn store.

    Round 9: arrays may be 2-D (the ATL11 ``h_corr[ref_pt, cycle]``
    shape — what the reference's per-track stores actually hold,
    /root/reference/atlxi_dhdt.py:72-87). ``chunk_rows`` chunks axis 0
    with the full axis-1 extent; ``chunk_shape`` pins a 2-axis grid
    for rank-matched arrays (v2 keys 'i.j', v3 'c/i/j')."""
    import shutil

    if zarr_format not in (2, 3):
        raise ValueError("write_zarr_local: zarr_format must be 2 or 3")
    if not arrays:
        raise ValueError("write_zarr_local: no arrays")
    allowed = set(_SPARK_TO_NP.values())
    np_dtypes = {}
    n_rows = None
    for c, a in arrays.items():
        a = np.ascontiguousarray(a)
        if a.ndim not in (1, 2):
            raise ValueError(f"write_zarr_local: {c} is not 1-D or 2-D")
        ds = np.dtype(a.dtype).newbyteorder("<").str if a.dtype.kind in "if" else np.dtype(a.dtype).str
        if a.dtype == np.bool_:
            ds = "|b1"
        if ds not in allowed:
            raise TypeError(f"write_zarr_local: unsupported dtype {c}:{a.dtype}")
        np_dtypes[c] = ds
        if n_rows is None:
            n_rows = len(a)
        elif len(a) != n_rows:
            raise ValueError(f"write_zarr_local: ragged column {c}")
        arrays[c] = a.astype(ds)

    cols = sorted(arrays)

    def cshape_of(c: str) -> tuple[int, ...]:
        a = arrays[c]
        if chunk_shape is not None:
            if len(chunk_shape) == a.ndim:
                return tuple(int(x) for x in chunk_shape)
            # rank-mismatched arrays still share chunk_shape's axis-0
            # extent — every array in a store must stripe identically
            # (the read task grid is one stripe per axis-0 chunk)
            return (int(chunk_shape[0]),) + a.shape[1:]
        return (int(chunk_rows),) + a.shape[1:]

    def sshape_of(c: str) -> tuple[int, ...]:
        a = arrays[c]
        if len(shard_shape) == a.ndim:
            s = tuple(int(x) for x in shard_shape)
        else:  # rank-mismatch: share the axis-0 extent (as cshape_of)
            s = (int(shard_shape[0]),) + a.shape[1:]
        cs = cshape_of(c)
        if any(sv % cv != 0 for sv, cv in zip(s, cs)):
            raise ValueError(
                f"write_zarr_local: shard_shape {s} must be a multiple of "
                f"chunk_shape {cs} for {c!r}"
            )
        return s

    if shard_shape is not None:
        # sharding_indexed is a v3 codec — a v2 store has no place to
        # declare it, so a silent fallback would write unreadable data
        if zarr_format != 3:
            raise ValueError("write_zarr_local: shard_shape requires zarr_format=3")
        for c in cols:  # fail before any disk mutation, like every guard above
            sshape_of(c)

    final_path = path
    path = f"{final_path}.staging.{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

    if zarr_format == 2:
        meta = {"metadata": {".zgroup": {"zarr_format": 2}}, "zarr_format": 1}
        for c in cols:
            os.makedirs(os.path.join(path, c), exist_ok=True)
            meta["metadata"][f"{c}/.zarray"] = _zarray_meta(
                list(arrays[c].shape), list(cshape_of(c)), np_dtypes[c]
            )
            with open(os.path.join(path, c, ".zarray"), "w") as f:
                json.dump(meta["metadata"][f"{c}/.zarray"], f)
        with open(os.path.join(path, ".zgroup"), "w") as f:
            json.dump({"zarr_format": 2}, f)
        with open(os.path.join(path, ".zmetadata"), "w") as f:
            json.dump(meta, f)
    else:
        metas = {}
        for c in cols:
            os.makedirs(os.path.join(path, c, "c"), exist_ok=True)
            m3 = _zarray_meta_v3(
                list(arrays[c].shape), list(cshape_of(c)), np_dtypes[c]
            )
            if shard_shape is not None:
                # shard objects ARE the chunk grid; inner chunks + the
                # crc32c-stamped (offset, nbytes) index live inside
                m3["chunk_grid"]["configuration"]["chunk_shape"] = list(
                    sshape_of(c)
                )
                m3["codecs"] = [
                    {
                        "name": "sharding_indexed",
                        "configuration": {
                            "chunk_shape": list(cshape_of(c)),
                            "codecs": m3["codecs"],
                            "index_codecs": [
                                {
                                    "name": "bytes",
                                    "configuration": {"endian": "little"},
                                },
                                {"name": "crc32c"},
                            ],
                            "index_location": "end",
                        },
                    }
                ]
            with open(os.path.join(path, c, "zarr.json"), "w") as f:
                json.dump(m3, f)
            metas[c] = m3
        # consolidated metadata in the root (zarr-python 3 shape):
        # read_zarr_dir's driver loop opens ONE file per store instead
        # of 1 + n_arrays — at 1387 stores that is the whole metadata
        # phase; per-array zarr.json files above keep plain readers
        # working
        with open(os.path.join(path, "zarr.json"), "w") as f:
            json.dump(_v3_root_meta(metas), f)

    import itertools

    for c in cols:
        a = arrays[c]
        cs = cshape_of(c)
        if shard_shape is not None:
            ss = sshape_of(c)
            igrid = [ss[ax] // cs[ax] for ax in range(a.ndim)]
            n_inner = 1
            for g in igrid:
                n_inner *= g
            sgrid = [range(0, max(a.shape[ax], 1), ss[ax]) for ax in range(a.ndim)]
            missing = (0xFFFFFFFFFFFFFFFF, 0xFFFFFFFFFFFFFFFF)
            for soff in itertools.product(*sgrid):
                blobs, index, off = [], [], 0
                for pos in itertools.product(*[range(g) for g in igrid]):
                    abs_off = tuple(
                        so + p * cw for so, p, cw in zip(soff, pos, cs)
                    )
                    if any(o >= a.shape[ax] for ax, o in enumerate(abs_off)):
                        index.append(missing)  # inner chunk past the array
                        continue
                    sel = tuple(
                        slice(o, min(o + w, a.shape[ax]))
                        for ax, (o, w) in enumerate(zip(abs_off, cs))
                    )
                    piece = a[sel]
                    if piece.shape != cs:  # edge inner chunk, full-size
                        full = np.zeros(cs, dtype=a.dtype)
                        full[tuple(slice(0, s) for s in piece.shape)] = piece
                        piece = full
                    blob = _gzip_compress(piece.tobytes(order="C"), 1)
                    index.append((off, len(blob)))
                    blobs.append(blob)
                    off += len(blob)
                idx = np.array(index, dtype="<u8").tobytes()
                idx += _crc32c(idx).to_bytes(4, "little")
                key = tuple(o // w for o, w in zip(soff, ss))
                target = os.path.join(
                    path, c, "c", os.sep.join(str(k) for k in key)
                )
                os.makedirs(os.path.dirname(target), exist_ok=True)
                with open(target, "wb") as f:
                    f.write(b"".join(blobs) + idx)
            continue
        grid = [range(0, max(a.shape[ax], 1), cs[ax]) for ax in range(a.ndim)]
        for coords in itertools.product(*grid):
            sel = tuple(
                slice(o, min(o + w, a.shape[ax]))
                for ax, (o, w) in enumerate(zip(coords, cs))
            )
            piece = a[sel]
            if piece.shape != cs:  # edge chunk stored full-size
                full = np.zeros(cs, dtype=a.dtype)
                full[tuple(slice(0, s) for s in piece.shape)] = piece
                piece = full
            raw = piece.tobytes(order="C")
            key = tuple(o // w for o, w in zip(coords, cs))
            if zarr_format == 2:
                payload = zlib.compress(raw, 1)
                target = os.path.join(path, c, ".".join(str(k) for k in key))
            else:
                payload = _gzip_compress(raw, 1)
                target = os.path.join(
                    path, c, "c", os.sep.join(str(k) for k in key)
                )
                os.makedirs(os.path.dirname(target), exist_ok=True)
            with open(target, "wb") as f:
                f.write(payload)
    _publish_store(path, final_path)


def write_zarr_partitioned(
    df: DataFrame,
    parent: str,
    key_col: str,
    columns: list[str] | None = None,
    chunk_rows: int = 65536,
    zarr_format: int = 2,
    sort_col: str | None = None,
    shard_shape: tuple[int, ...] | None = None,
) -> DataFrame:
    """Distributed per-key Zarr store layout: ONE store per distinct
    ``key_col`` value under ``parent`` — the reference's actual output
    layout (atl06_to_atl11.py:299-303 writes one store per track; 1387
    stores feed the atlxi_dhdt multi-store scan). Each group's
    applyInPandas call writes its store ON AN EXECUTOR via
    write_zarr_local (staged + renamed, crash-safe); the lazy manifest
    (store, key, n_rows) is the only driver state. Groups must fit in
    executor memory — same contract as the reference's per-track
    stores. ``shard_shape`` (v3 only) groups chunks into
    sharding_indexed objects — at archive scale the per-store object
    count is what object-store metadata quotas meter. Read everything
    back with read_zarr_dir."""
    if shard_shape is not None and zarr_format != 3:
        # fail on the driver, not once per group on executors
        raise ValueError("write_zarr_partitioned: shard_shape requires zarr_format=3")
    os.makedirs(parent, exist_ok=True)
    cols = columns or [c for c in df.columns if c != key_col]

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        if sort_col is not None:
            pdf = pdf.sort_values(sort_col, kind="mergesort")
        name = f"store_{safe_key_component(key)}"
        write_zarr_local(
            os.path.join(parent, name),
            {c: pdf[c].to_numpy() for c in cols},
            chunk_rows=chunk_rows,
            zarr_format=zarr_format,
            shard_shape=shard_shape,
        )
        return pd.DataFrame({"store": [name], key_col: [key], "n_rows": [len(pdf)]})

    key_type = dict(df.dtypes)[key_col]
    schema = f"store string, `{key_col}` {key_type}, n_rows long"
    return df.groupBy(key_col).applyInPandas(write_group, schema=schema)
