"""GeoJSON polygon reader: bounding boxes are DOUBLE for any legal
coordinate, including integer vertices."""

from __future__ import annotations

import json


def test_integer_vertex_polygon_reads_as_double_bbox(spark, tmp_path):
    from cioos_siooc_data_transform_spark.sources.geojson_source import (
        read_geojson_polygons,
    )

    ring = [[-124, 48], [-123.5, 48], [-123.5, 49.25], [-124, 49.25], [-124, 48]]
    path = tmp_path / "polygons.geojson"
    path.write_text(
        json.dumps(
            {
                "type": "FeatureCollection",
                "features": [
                    {
                        "type": "Feature",
                        "properties": {"name": "Juan de Fuca"},
                        "geometry": {"type": "Polygon", "coordinates": [ring]},
                    }
                ],
            }
        )
    )

    rows = read_geojson_polygons(spark, str(path)).collect()

    assert len(rows) == 1
    row = rows[0]
    assert row["name"] == "Juan de Fuca"
    assert (
        row["bbox_min_lon"],
        row["bbox_max_lon"],
        row["bbox_min_lat"],
        row["bbox_max_lat"],
    ) == (-124.0, -123.5, 48.0, 49.25)
    assert all(
        isinstance(row[c], float)
        for c in ("bbox_min_lon", "bbox_max_lon", "bbox_min_lat", "bbox_max_lat")
    )
