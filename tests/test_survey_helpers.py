"""SURVEY-mapped helpers that no registered query calls: each is part
of the engine's public operator surface for a SURVEY row, so each is
checked here against a hand-computed expectation."""

import statistics

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from deepicedrain_spark.functions.strings import bin_label, json_field, split_track_pair
from deepicedrain_spark.io import write_json
from deepicedrain_spark.operators.aggregates import (
    cycle_delta_wide,
    distinct_count_locations,
    nanrange_long,
)
from deepicedrain_spark.operators.filters import (
    clip_to_mad,
    clip_to_sigma,
    null_threshold_wide,
)
from deepicedrain_spark.plans.xover import lake_volume_series


def test_write_json_roundtrip(spark, tmp_path):
    """S7: JSON-lines sink, read back unchanged."""
    df = spark.createDataFrame([Row(id=1, name="a"), Row(id=2, name="b")])
    path = str(tmp_path / "out.json")
    write_json(df, path)
    back = spark.read.json(path)
    assert sorted((r["id"], r["name"]) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_nanrange_long_ignores_nulls(spark):
    """A1: per-point max - min over cycles; a null cycle is skipped."""
    df = spark.createDataFrame(
        [(1, 1.0), (1, 4.0), (1, None), (2, 2.5)], "pt int, h double"
    )
    got = {r["pt"]: r["h_range"] for r in nanrange_long(df, ["pt"], "h").collect()}
    assert got == {1: 3.0, 2: 0.0}


def test_cycle_delta_wide(spark):
    """A3: new minus old cycle, map-only; a missing cycle gives null."""
    df = spark.createDataFrame([(5.0, 2.0), (1.0, None)], "h_c2 double, h_c1 double")
    got = [r[0] for r in df.select(cycle_delta_wide("h_c2", "h_c1")).collect()]
    assert got == [3.0, None]


def test_distinct_count_locations(spark):
    """A8: distinct (x, y) pairs, duplicates counted once."""
    df = spark.createDataFrame(
        [(0.0, 0.0), (0.0, 0.0), (0.0, 1.0), (1.0, 0.0)], "x double, y double"
    )
    assert distinct_count_locations(df, ["x", "y"]).collect()[0]["n_locations"] == 3


def test_null_threshold_wide(spark):
    """P6: keep rows with at least ``thresh`` non-null cycle columns."""
    df = spark.createDataFrame(
        [(1, 1.0, 2.0, None), (2, None, None, 3.0), (3, 1.0, 2.0, 3.0)],
        "id int, a double, b double, c double",
    )
    kept = sorted(r["id"] for r in null_threshold_wide(df, ["a", "b", "c"]).collect())
    assert kept == [1, 3]


def test_clip_to_sigma(spark):
    """P8: clip to mean ± k·std (sample std, as pandas)."""
    vals = [0.0] * 9 + [100.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id int, v double")
    mu, sd = statistics.mean(vals), statistics.stdev(vals)
    got = {r["id"]: r["v"] for r in clip_to_sigma(df, "v", k=1.0).collect()}
    assert got[9] == pytest.approx(mu + sd)
    assert all(got[i] == 0.0 for i in range(9))


def test_clip_to_mad(spark):
    """P8 robust variant: clip to median ± k·MAD."""
    vals = [1.0, 2.0, 3.0, 4.0, 100.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id int, v double")
    med = statistics.median(vals)
    mad = statistics.median(abs(v - med) for v in vals)
    got = [r["c"] for r in clip_to_mad(df, "v", k=3.0, out_col="c").orderBy("id").collect()]
    assert got == [1.0, 2.0, 3.0, 4.0, med + 3 * mad]


def test_lake_volume_series(spark):
    """W5 over crossover anomalies: trailing 91-day mean, anomaly vs the
    first, times the surface area (1 km² → dvol in km³ = dh / 1000)."""
    day = 86_400
    df = spark.createDataFrame(
        [(0, 0.0), (10 * day, 2.0), (200 * day, 4.0)], "t long, h_anom double"
    )
    rows = lake_volume_series(df, surface_area_m2=1e6).orderBy("t").collect()
    assert [r["t"] for r in rows] == [0, 10 * day * 1_000_000, 200 * day * 1_000_000]
    assert [r["dh"] for r in rows] == [0.0, 1.0, 4.0]
    assert [r["dvol_km3"] for r in rows] == pytest.approx([0.0, 0.001, 0.004])
    assert rows[0]["dh_std"] is None and rows[2]["dh_std"] is None
    assert rows[1]["dh_std"] == pytest.approx(statistics.stdev([0.0, 2.0]))


def test_split_track_pair(spark):
    """F6: 'rgt_pt1xrgt_pt2' → the two track ids."""
    df = spark.createDataFrame([("0111_pt1x0222_pt2",)], "pair string")
    a, b = split_track_pair(F.col("pair"))
    assert tuple(df.select(a, b).collect()[0]) == ("0111_pt1", "0222_pt2")


def test_json_field(spark):
    """F8: scalar extraction from a JSON string column."""
    df = spark.createDataFrame([('{"lake": {"name": "Whillans"}}',), ("{}",)], "j string")
    got = [r[0] for r in df.select(json_field(F.col("j"), "$.lake.name")).collect()]
    assert got == ["Whillans", None]


def test_bin_label_rejects_label_count_mismatch(spark):
    """F5: n edges make n + 1 bins; any other label count is a caller
    error raised as ValueError (an assert vanishes under python -O)."""
    with pytest.raises(ValueError, match="2 edges make 3 bins, got 2 labels"):
        bin_label(F.col("y"), [-100.0, 100.0], ["pt1", "pt2"])
