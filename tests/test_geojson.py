"""GeoJSON ingest (S4): FeatureCollection → features rows with MAP props."""

from __future__ import annotations

import json

import pytest

from gee_datapipeline_spark.sources.geojson import read_geojson


@pytest.fixture(scope="module")
def geojson_file(tmp_path_factory):
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "id": "way/1",
                "properties": {"name": "Plant A", "plant:source": "coal"},
                "geometry": {"type": "Point", "coordinates": [77.1, 28.6]},
            },
            {
                "type": "Feature",
                "id": "way/2",
                "properties": {"highway": "primary", "maxspeed": "80"},
                "geometry": {
                    "type": "LineString",
                    "coordinates": [[77.0, 28.0], [77.2, 28.1]],
                },
            },
            {
                "type": "Feature",
                "id": "way/3",
                "properties": {"landuse": "industrial"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[76.9, 28.4], [77.0, 28.4], [77.0, 28.5], [76.9, 28.4]]
                    ],
                },
            },
        ],
    }
    p = tmp_path_factory.mktemp("geo") / "powerplants.geojson"
    p.write_text(json.dumps(fc))
    return str(p)


def test_read_geojson_flattens(spark, geojson_file):
    rows = {r.feature_id: r for r in read_geojson(spark, geojson_file).collect()}
    assert set(rows) == {"way/1", "way/2", "way/3"}

    pt = rows["way/1"]
    assert pt.geom_type == "Point"
    assert pt.lon == 77.1 and pt.lat == 28.6
    assert pt.props["name"] == "Plant A"
    assert pt.props["plant:source"] == "coal"  # ragged OSM key survives
    assert pt.source == "powerplants"

    line = rows["way/2"]
    assert line.geom_type == "LineString"
    assert (line.lon, line.lat) == (77.0, 28.0)  # first vertex
    assert line.props["maxspeed"] == "80"

    poly = rows["way/3"]
    assert (poly.lon, poly.lat) == (76.9, 28.4)
    # exact geometry retained for downstream consumers
    coords = json.loads(poly.props["__coordinates"])
    assert coords[0][0] == [76.9, 28.4]


def test_geo_fixtures_written_without_motorway_twin(tmp_path, monkeypatch):
    """The real OSM motorway export is an optional input: where it is
    absent every synthetic fixture and the manifest are still written
    (no twin); once it appears, the next call writes the twin from it
    even though the manifest already matches. No Spark session."""
    import pyarrow.parquet as pq

    from gee_datapipeline_spark.sources import fixtures

    src = tmp_path / "motorway.geojson"
    base = tmp_path / "fixtures"
    monkeypatch.setattr(fixtures, "REAL_MOTORWAY_GEOJSON", str(src))

    assert fixtures.ensure_geo_fixtures(base=base) == base
    written = {p.name for p in base.iterdir()}
    assert written == {
        "MANIFEST.json", "amenities.parquet", "dhash_media.parquet",
        "logs.jsonl", "media.parquet", "pixels.parquet", "points.csv",
        "raster_deflate_pixels.parquet", "raster_multiband_pixels.parquet",
        "raster_pixels.parquet", "raster_utm_pixels.parquet", "rasters",
        "rasters_deflate", "rasters_multiband", "rasters_utm",
        "regions.parquet", "road_vertices.parquet", "roads.geojson",
        "seam_pixels.parquet", "seam_road_vertices.parquet",
        "seam_roads.geojson", "thresholds.parquet",
    }
    assert json.loads((base / "MANIFEST.json").read_text()) == (
        fixtures._manifest()
    )

    src.write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "id": "way/1", "properties": {},
             "geometry": {"type": "Point", "coordinates": [77.1, 28.6]}},
            {"type": "Feature", "properties": {"@id": "way/2"},
             "geometry": {"type": "Point", "coordinates": [77.25, 28.5]}},
        ],
    }))
    fixtures.ensure_geo_fixtures(base=base)
    twin = pq.read_table(base / "motorway_points.parquet").to_pylist()
    assert twin == [
        {"feature_id": "way/1", "lon": 77.1, "lat": 28.6},
        {"feature_id": "way/2", "lon": 77.25, "lat": 28.5},
    ]


def test_real_motorway_query_refuses_when_reference_absent(
    tmp_path, monkeypatch
):
    """geo_proximity_roads_real names the missing file before it plans
    anything (no Spark session is touched)."""
    from gee_datapipeline_spark.plans import geo_queries

    missing = str(tmp_path / "motorway.geojson")
    monkeypatch.setattr(geo_queries, "REAL_MOTORWAY_GEOJSON", missing)
    with pytest.raises(FileNotFoundError, match="reference data absent"):
        geo_queries._geo_proximity_roads_real(None, "")
