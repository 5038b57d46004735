"""GeoJSON ingest → the ``features`` table (SURVEY.md §2.1 S4).

The reference loads OSM amenity GeoJSON with folium
(``folium.GeoJson(path)``, DataDownloader_V2.py:96-102). Here the same
files become a queryable relation via Spark 4's VariantType —
schema-on-read that tolerates the two kinds of raggedness OSM exports
have: heterogeneous geometry nesting (Point ``[x,y]`` vs Polygon
``[[[x,y],...]]`` can't unify under JSON schema inference) and sparse
property bags (100+ distinct keys across files → ``MAP<STRING,STRING>``,
SURVEY.md §1.1).

Point features keep their coordinate; LineString/Polygon features get
their first vertex as a representative point plus the raw coordinate
JSON in ``props['__coordinates']`` for exact-geometry consumers
(``functions.geo.clip_to_polygon``).

Scale note: ``wholetext`` reads one row per file — correct for
dimension-sized vector files (the amenity tables are 12–5,130 features,
SURVEY.md §0).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _flatten_features(feats: DataFrame, src: str) -> DataFrame:
    """features rows from a column ``f`` of variant-typed Features."""
    geom_type = F.variant_get("f", "$.geometry.type", "string")
    coords_json = F.to_json(
        F.variant_get("f", "$.geometry.coordinates", "variant")
    )

    def coord(path: str) -> Column:
        return F.get_json_object(coords_json, path).cast("double")

    lon = (
        F.when(geom_type == "Point", coord("$[0]"))
        .when(geom_type == "LineString", coord("$[0][0]"))
        .otherwise(coord("$[0][0][0]"))
    )
    lat = (
        F.when(geom_type == "Point", coord("$[1]"))
        .when(geom_type == "LineString", coord("$[0][1]"))
        .otherwise(coord("$[0][0][1]"))
    )
    props = F.coalesce(
        F.variant_get("f", "$.properties", "map<string,string>"),
        F.create_map().cast("map<string,string>"),
    )
    feature_id = F.coalesce(
        F.variant_get("f", "$.id", "string"),
        F.variant_get("f", "$.properties['@id']", "string"),
        F.concat(F.lit(f"{src}/"), F.monotonically_increasing_id()),
    )
    return feats.select(
        F.lit(src).alias("source"),
        feature_id.alias("feature_id"),
        geom_type.alias("geom_type"),
        lon.alias("lon"),
        lat.alias("lat"),
        F.map_concat(
            props, F.create_map(F.lit("__coordinates"), coords_json)
        ).alias("props"),
    )


def read_geojson(
    spark: SparkSession, path: str, source: str | None = None
) -> DataFrame:
    """One GeoJSON FeatureCollection file → features rows."""
    src = source or os.path.splitext(os.path.basename(path))[0].lower()
    # NB: the option-string form ('option("wholetext", "true")') is
    # silently ignored by the text source — only the kwarg applies.
    raw = spark.read.text(path, wholetext=True)
    feats = raw.select(
        F.explode(
            F.variant_get(F.parse_json("value"), "$.features", "array<variant>")
        ).alias("f")
    )
    return _flatten_features(feats, src)

