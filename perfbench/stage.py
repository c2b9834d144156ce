"""Seeded input stager for the benchmark.

Writes the three tables the benchmark workloads read -- ``events``,
``documents`` and ``embeddings`` -- with the repository testdata schemas
(TESTDATA.md) and distribution shapes, at a chosen multiple of sf0.1.
The same (seed, scale) gives byte-identical files: each table draws,
in a fixed order, from a ``numpy`` generator seeded with (seed, table
index), and parquet is written with fixed writer settings.

Each table is one parquet file holding one row group, the layout of the
repository testdata. The layout matters: ``io.spread_scan`` repartitions
only when the scan has fewer partitions than cores, and the
``ceil(rows/500k)`` fence sizing branches on the footer row count.

Usage: python perfbench/stage.py --seed N --scale S --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the repository testdata (TESTDATA.md)
SF01_ROWS = {"events": 100_000, "documents": 5_000, "embeddings": 2_000}
SF01_USERS = 1_500

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
SPAN_US = 30 * 86_400_000_000
EMB_DIM = 64


def _rows(table: str, scale: float) -> int:
    return max(1, int(round(SF01_ROWS[table] * scale)))


def _events(rng: np.random.Generator, scale: float) -> pa.Table:
    n = _rows("events", scale)
    users = max(1, int(round(SF01_USERS * scale)))
    ts = EPOCH_US + np.sort(rng.integers(0, SPAN_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, scale: float) -> pa.Table:
    """Word streams of 10-100 tokens over the testdata's 30-word
    vocabulary; one document in twenty is a near-duplicate of an earlier
    one (one token dropped, ``dup`` appended), as in the testdata."""
    n = _rows("documents", scale)
    lengths = rng.integers(10, 101, n)
    dup = rng.random(n) < 0.05
    texts: list[str] = []
    for i in range(n):
        if dup[i] and i > 0:
            toks = texts[int(rng.integers(0, i))].split()
            del toks[int(rng.integers(0, len(toks)))]
            texts.append(" ".join(toks + ["dup"]))
        else:
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), lengths[i])]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, scale: float) -> pa.Table:
    """Unit-norm gaussian 64-dim float vectors with labels 0-9."""
    n = _rows("embeddings", scale)
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMB_DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


MAKERS = {"events": _events, "documents": _documents, "embeddings": _embeddings}


def stage(out_dir: str, seed: int, scale: float) -> dict:
    """Write every table into ``out_dir``; return the layout record:
    rows, bytes, files and row groups per table."""
    os.makedirs(out_dir, exist_ok=True)
    layout = {}
    for i, (name, make) in enumerate(MAKERS.items()):
        rng = np.random.default_rng([seed, i])
        table = make(rng, scale)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=table.num_rows, compression="snappy")
        meta = pq.ParquetFile(path).metadata
        layout[name] = {
            "rows": meta.num_rows,
            "bytes": os.path.getsize(path),
            "files": 1,
            "row_groups": meta.num_row_groups,
        }
    return layout


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0, help="multiple of sf0.1")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(stage(a.out, a.seed, a.scale)))


if __name__ == "__main__":
    main()
