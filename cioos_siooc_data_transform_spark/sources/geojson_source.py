"""GeoJSON polygon dimension + point-in-polygon spatial join (SURVEY.md
§2.1 S12, §2.3 J1).

The polygon set is tiny (51 named ocean areas) → broadcast dimension; the
containment test is a vectorized numpy ray-casting pandas_udf (shapely is
not available in this container; the even-odd rule is the same algorithm
shapely uses for point-in-polygon).

Deliberate divergence (SURVEY.md §1.3.4): matching area names are sorted
before concatenation (the reference concatenates in dict-insertion order,
which is non-deterministic across geojson rewrites); names have spaces
replaced by dashes like the reference (IDT/utils.py:75-81), and no-match
yields 'None' (IDT/ObsFile.py:396-398).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType


def read_geojson_polygons(spark: SparkSession, path: str) -> DataFrame:
    """GeoJSON FeatureCollection → (feature_idx, name, ring_json) rows;
    Polygon features only, exterior ring only (IDT/utils.py:53-67)."""
    with open(path) as f:
        data = json.load(f)
    rows = []
    idx = 0
    for feature in data["features"]:
        if feature["geometry"]["type"] == "Polygon":
            ring = feature["geometry"]["coordinates"][0]
            xs = [p[0] for p in ring]
            ys = [p[1] for p in ring]
            rows.append(
                (
                    idx,
                    feature["properties"]["name"],
                    json.dumps(ring),
                    float(min(xs)), float(max(xs)),
                    float(min(ys)), float(max(ys)),
                )
            )
            idx += 1
    return spark.createDataFrame(
        rows,
        "feature_idx INT, name STRING, ring_json STRING, "
        "bbox_min_lon DOUBLE, bbox_max_lon DOUBLE, "
        "bbox_min_lat DOUBLE, bbox_max_lat DOUBLE",
    )


@F.pandas_udf(BooleanType())
def _contains_udf(lon: pd.Series, lat: pd.Series, ring_json: pd.Series) -> pd.Series:
    """Vectorized even-odd ray casting; one compiled pass per Arrow batch."""
    import numpy as np

    out = np.zeros(len(lon), dtype=bool)
    # group by ring so each polygon's vertex array is built once per batch
    cache: dict[str, tuple] = {}
    for rj in ring_json.unique():
        ring = np.asarray(json.loads(rj), dtype=np.float64)
        cache[rj] = (ring[:, 0], ring[:, 1])
    lon_v = lon.to_numpy(dtype=np.float64)
    lat_v = lat.to_numpy(dtype=np.float64)
    for rj, (xs, ys) in cache.items():
        mask = (ring_json == rj).to_numpy()
        if not mask.any():
            continue
        px, py = lon_v[mask], lat_v[mask]
        inside = np.zeros(px.shape, dtype=bool)
        n = len(xs)
        for i in range(n - 1):
            x1, y1, x2, y2 = xs[i], ys[i], xs[i + 1], ys[i + 1]
            cond = (y1 > py) != (y2 > py)
            if not cond.any():
                continue
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            inside ^= cond & (px < xint)
        out[mask] = inside
    return pd.Series(out)


GRID_POLYGON_THRESHOLD = 256  # above this, the bbox-BNLJ scan loses


def assign_geo_code(
    points: DataFrame,
    polygons: DataFrame,
    key_col: str = "file_id",
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    num_polygons: int | None = None,
    grid_deg: float = 1.0,
) -> DataFrame:
    """J1: containment join; ALL matching areas concatenated
    (space-joined, names dash-ified, sorted), no match → 'None'.

    Python UDFs are not allowed in outer-join ON clauses, so the left join
    is expressed as candidate-join + conditional collect_list with a final
    left join back to the point set — identical semantics.

    Two candidate-generation strategies (SURVEY.md §4's R-tree ask):

    - DEFAULT (small catalogs, e.g. the reference's 51 polygons):
      crossJoin(broadcast) + JVM-side bounding-box filter. The exact
      ray-casting UDF only evaluates where the bbox test passes (a
      point hits ~1-3 of 51 bboxes), so the Python crossing shrinks by
      an order of magnitude. Cost is O(points × polygons) bbox tests —
      fine while the catalog is dimension-sized.
    - GRID (num_polygons > GRID_POLYGON_THRESHOLD): polygons explode to
      every grid cell their bbox overlaps, points map to exactly one
      cell, and candidates come from an EQUI-join on (cell_x, cell_y) —
      O(points + candidate pairs) instead of points × polygons, the
      same blocking idea as the dedup LSH buckets. Catalyst/AQE picks
      hash vs broadcast for the cell join, so a million-polygon catalog
      no longer needs to fit a nested-loop broadcast. Both paths are
      property-tested equal on the full corpus.

    num_polygons is caller-supplied (polygon catalogs are metadata whose
    size the driver knows) so plan construction stays lazy — no hidden
    count() job."""
    in_bbox = (
        (F.col(lon_col) >= F.col("bbox_min_lon"))
        & (F.col(lon_col) <= F.col("bbox_max_lon"))
        & (F.col(lat_col) >= F.col("bbox_min_lat"))
        & (F.col(lat_col) <= F.col("bbox_max_lat"))
    )
    pts = points.select(key_col, lon_col, lat_col)
    if num_polygons is not None and num_polygons > GRID_POLYGON_THRESHOLD:
        gridded = (
            polygons.withColumn(
                "_cx",
                F.explode(
                    F.sequence(
                        F.floor(F.col("bbox_min_lon") / grid_deg).cast("int"),
                        F.floor(F.col("bbox_max_lon") / grid_deg).cast("int"),
                    )
                ),
            ).withColumn(
                "_cy",
                F.explode(
                    F.sequence(
                        F.floor(F.col("bbox_min_lat") / grid_deg).cast("int"),
                        F.floor(F.col("bbox_max_lat") / grid_deg).cast("int"),
                    )
                ),
            )
        )
        candidates = (
            pts.withColumn(
                "_cx", F.floor(F.col(lon_col) / grid_deg).cast("int")
            )
            .withColumn("_cy", F.floor(F.col(lat_col) / grid_deg).cast("int"))
            .join(gridded, ["_cx", "_cy"])
            .filter(in_bbox)
            .drop("_cx", "_cy")
            # Batch locality for the ray-casting UDF: it vectorizes per
            # DISTINCT ring within an Arrow batch, so clustering
            # candidates by polygon cuts its per-ring masking passes.
            # A/B at 40k polygons x 500k points (tools/skew_stress.py
            # geo_grid corpus, min-of-2): 18.2 s unsorted vs 15.6 s
            # sorted (~15%); the win grows with rings-per-batch, i.e.
            # with catalog size. The 51-polygon broadcast path skips
            # the sort (batches already see few rings).
            .sortWithinPartitions("feature_idx")
        )
    else:
        candidates = pts.crossJoin(F.broadcast(polygons)).filter(
            in_bbox  # JVM-side prune BEFORE any Python crossing
        )
    matched = candidates.withColumn(
        "_inside", _contains_udf(F.col(lon_col), F.col(lat_col), F.col("ring_json"))
    ).filter(F.col("_inside"))
    dashed = F.regexp_replace(F.col("name"), " ", "-")
    agg = matched.groupBy(key_col).agg(
        F.concat_ws(" ", F.sort_array(F.collect_list(dashed))).alias("geo_code")
    )
    return (
        points.select(key_col)
        .join(agg, key_col, "left")
        .withColumn("geo_code", F.coalesce(F.col("geo_code"), F.lit("None")))
    )
