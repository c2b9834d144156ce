"""The one chunk-stripe scan (``sources.stripes``) behind the HDF5 and
Zarr readers: both formats give the same rows for the same sources, and
the task table's partition cap holds for the directory scans too."""

import os

import numpy as np
import pytest

from deepicedrain_spark.sources.hdf5 import read_hdf5_dir
from deepicedrain_spark.sources.hdf5lite import write_hdf5
from deepicedrain_spark.sources.stripes import TASK_CAP
from deepicedrain_spark.sources.zarr import read_zarr_dir, write_zarr_local


def _rows(df, src_of):
    """Rows as {column: value} dicts keyed by column name (the two
    readers order columns differently), with the source-name column
    mapped through ``src_of``, sorted for comparison."""
    out = []
    for r in df.collect():
        d = r.asDict()
        d["src"] = src_of(d["src"])
        out.append(d)
    return sorted(out, key=lambda d: (d["src"], d["row_index"]))


def test_hdf5_and_zarr_scans_agree(spark, tmp_path):
    """Three sources written once as HDF5 granules and once as Zarr
    stores: b lacks ``t``, ``h`` is 2-D. With ``missing_ok`` both
    readers return identical rows (b's ``t`` NULL), once the source
    names (``a.h5`` vs ``a``) are mapped."""
    h5_dir, zarr_dir = str(tmp_path / "h5"), str(tmp_path / "zarr")
    os.makedirs(h5_dir)
    os.makedirs(zarr_dir)
    for j, name in enumerate("abc"):
        n = 37 + 11 * j
        i = np.arange(n)
        cols = {
            "v": (i * 0.5 + 100 * j).astype("f8"),
            "t": (i + 1000 * j).astype("i8"),
            "h": (np.arange(n * 3) + j).astype("f4").reshape(n, 3),
        }
        if name == "b":
            del cols["t"]
        write_hdf5(os.path.join(h5_dir, f"{name}.h5"), {"g": cols}, chunk_shape=(8, 2))
        write_zarr_local(os.path.join(zarr_dir, name), cols, chunk_shape=(16, 2))

    columns = ["v", "t", "h"]
    from_h5 = read_hdf5_dir(
        spark, h5_dir, "g", columns, missing_ok=True, granule_col="src"
    )
    from_zarr = read_zarr_dir(
        spark, zarr_dir, columns=columns, missing_ok=True, store_col="src"
    )
    assert dict(from_h5.dtypes) == dict(from_zarr.dtypes)
    got_h5 = _rows(from_h5, lambda s: s[: -len(".h5")])
    got_zarr = _rows(from_zarr, lambda s: s)
    assert len(got_h5) == 37 + 48 + 59
    assert got_h5 == got_zarr
    assert {d["t"] for d in got_h5 if d["src"] == "b"} == {None}


def test_dir_scan_caps_task_table(spark, tmp_path):
    """5,130 rows in stripes of 10 is 513 stripes: the directory scan's
    task table is capped at TASK_CAP partitions like read_hdf5_many's,
    and every row still arrives once."""
    write_hdf5(str(tmp_path / "one.h5"), {"g": {"v": np.arange(5130, dtype="i8")}})
    df = read_hdf5_dir(spark, str(tmp_path), "g", ["v"], chunk_rows=10)
    assert df.rdd.getNumPartitions() == TASK_CAP == 512
    assert df.agg({"v": "sum"}).collect()[0][0] == pytest.approx(5129 * 5130 / 2)
