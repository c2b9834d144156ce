"""GeoJSON vector-layer source/sink (SURVEY S6/S7).

Reference: ``gpd.read_file(geojson)`` for region/basin/lake layers
(/root/reference/atlxi_dhdt.py:97-98, atlas_catalog.yaml:222-254) and
``gdf.to_file(driver='GeoJSON')`` for lake output
(/root/reference/atlxi_lake.py:304-310).

Spark-first: a FeatureCollection is one JSON document → read with
multiLine + explode(features); properties become columns, polygon
exterior rings become (xs, ys, bbox) columns ready for the PIP
predicates in operators/spatial.py. Sinks write newline-delimited
GeoJSON features (geojsonl — the distributed-friendly variant) or a
single FeatureCollection for small outputs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def read_geojson_polygons(spark: SparkSession, path: str, id_property: str = "name") -> DataFrame:
    """FeatureCollection → one row per feature with (poly_id,
    properties struct, xs, ys, bbox) — broadcast-ready polygon dim.

    The lazy frame is memoized (``io.memo``): a multiLine JSON read
    infers its schema by parsing the whole document on open — ~0.3 s
    of driver time per build across the lake-catalog queries. Nothing
    else is cached; every action re-reads and re-parses the file."""
    from deepicedrain_spark.io import memo

    path = os.path.abspath(path)

    def build() -> DataFrame:
        raw = spark.read.option("multiLine", "true").json(path)
        feats = raw.select(F.explode("features").alias("f"))
        return (
            feats.select(
                F.col(f"f.properties.{id_property}").alias("poly_id"),
                F.col("f.properties").alias("properties"),
                F.expr("transform(f.geometry.coordinates[0], p -> cast(p[0] as double))").alias("xs"),
                F.expr("transform(f.geometry.coordinates[0], p -> cast(p[1] as double))").alias("ys"),
            )
            .withColumn("xmin", F.array_min("xs"))
            .withColumn("xmax", F.array_max("xs"))
            .withColumn("ymin", F.array_min("ys"))
            .withColumn("ymax", F.array_max("ys"))
        )

    return memo(spark, ("read_geojson_polygons", id_property), [path], build)


def _feature_expr(ring_col: str, property_cols: list[str]) -> F.Column:
    props = F.to_json(F.struct(*[F.col(c) for c in property_cols]))
    coords = F.expr(f"transform({ring_col}, p -> array(p.x, p.y))")
    feature = F.concat(
        F.lit('{"type": "Feature", "properties": '),
        props,
        F.lit(', "geometry": {"type": "Polygon", "coordinates": ['),
        F.to_json(coords),
        F.lit("]}}"),
    )
    # a NULL ring would null-propagate through concat into a null
    # feature line (json.loads(None) in the single-file writer, invalid
    # geojsonl in the distributed one) — fail loudly at the source row
    return F.when(
        F.col(ring_col).isNotNull(), feature
    ).otherwise(
        F.raise_error(
            F.lit(f"geojson sink: NULL ring in column {ring_col!r} — filter "
                  "or fix upstream (GeoJSON features need a geometry)")
        )
    )


def write_geojsonl(df: DataFrame, ring_col: str, property_cols: list[str], path: str) -> None:
    """Distributed sink: one GeoJSON Feature per line (geojsonl)."""
    df.select(_feature_expr(ring_col, property_cols).alias("value")).write.mode(
        "overwrite"
    ).text(path)


def write_geojson(df: DataFrame, ring_col: str, property_cols: list[str], path: str) -> None:
    """Single-file FeatureCollection for SMALL outputs (lake layers are
    hundreds of rows — reference writes one file too). Collects to the
    driver deliberately; use write_geojsonl for large layers."""
    features = [
        json.loads(r["value"])
        for r in df.select(_feature_expr(ring_col, property_cols).alias("value")).collect()
    ]
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": features}, f)
