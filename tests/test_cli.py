"""End-to-end CLI conversion: the reference's primary entry point shape
(discover → parse → enrich → sink) in one call."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

IDT = "/root/reference/cioos_data_transform/ios_data_transform/ios_data_transform/tests/test_files"


def test_convert_all_ctd_with_geo_and_netcdf(spark):
    from cioos_siooc_data_transform_spark.cli import convert
    from cioos_siooc_data_transform_spark.sinks.netcdf3 import read_netcdf3

    with tempfile.TemporaryDirectory() as out:
        result = convert(
            "all",
            "ctd",
            f"{IDT}/ctd_profile",
            out,
            geojson=f"{IDT}/ios_polygons.geojson",
            netcdf=True,
            spark=spark,
        )
        assert result["files"] == 6 and result["errors"] == 0

        meas = spark.read.parquet(result["paths"]["measurements"])
        assert meas.count() > 0
        geo = spark.read.parquet(result["paths"]["geo_codes"])
        codes = {r["file_id"]: r["geo_code"] for r in geo.collect()}
        assert codes["2017-020-0474"] == "Canadian-Arctic-Archipelago-South"

        nc_path = os.path.join(out, "netcdf", "2017", "2017-020-0474.nc")
        assert os.path.exists(nc_path)
        nc = read_netcdf3(open(nc_path, "rb").read())
        assert nc["dims"]["z"] == 189


def _sample_inputs(tmp_path, n_good: int):
    """``n_good`` renamed copies of the self-authored sample IOS file, one
    malformed copy (channel-count mismatch) and a one-polygon GeoJSON
    around the sample's station (49.5 N, 123.25 W)."""
    import json

    from cioos_siooc_data_transform_spark.plans.ios_queries import SAMPLE_IOS

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i in range(n_good):
        (in_dir / f"sample-{i:03d}.ctd").write_text(SAMPLE_IOS)
    bad = SAMPLE_IOS.replace("NUMBER OF CHANNELS  : 3", "NUMBER OF CHANNELS  : 4")
    assert bad != SAMPLE_IOS
    (in_dir / "malformed.ctd").write_text(bad)
    ring = [[-124.5, 49.0], [-122.5, 49.0], [-122.5, 50.0], [-124.5, 50.0], [-124.5, 49.0]]
    geojson = tmp_path / "polygons.geojson"
    geojson.write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature",
            "properties": {"name": "Strait-of-Georgia"},
            "geometry": {"type": "Polygon", "coordinates": [ring]},
        }],
    }))
    return str(in_dir), str(geojson)


def test_convert_parses_each_file_once(spark, tmp_path, monkeypatch):
    """Every sink reads one cached parse: the executor-side parse runs
    once per input file, whatever the number of writes."""
    from cioos_siooc_data_transform_spark.cli import convert
    from cioos_siooc_data_transform_spark.sources import ios_source

    n_good = 5
    in_dir, geojson = _sample_inputs(tmp_path, n_good)
    calls = spark.sparkContext.accumulator(0)
    parse = ios_source.parse_ios_file_safe

    def counting_parse(path, text):
        calls.add(1)
        return parse(path, text)

    # parse_ios ships its module global to the executors at plan time
    monkeypatch.setattr(ios_source, "parse_ios_file_safe", counting_parse)
    out = tmp_path / "out"
    result = convert("all", "ctd", in_dir, str(out), geojson=geojson, netcdf=True,
                     spark=spark)

    assert (result["files"], result["errors"]) == (n_good + 1, 1)
    assert calls.value == n_good + 1
    nc_files = [f for _, _, fs in os.walk(out / "netcdf") for f in fs if f.endswith(".nc")]
    assert len(nc_files) == n_good  # the error row has no records to write
    geo = spark.read.parquet(result["paths"]["geo_codes"]).collect()
    assert {r["geo_code"] for r in geo if r["file_id"] != "malformed"} == {"Strait-of-Georgia"}


def test_convert_releases_its_caches_when_a_step_fails(spark, tmp_path):
    """A failing step (here a missing GeoJSON, after the CF write) must
    not leave the parse or the codes pinned in the caller's session."""
    from cioos_siooc_data_transform_spark.cli import convert

    in_dir, _ = _sample_inputs(tmp_path, 2)
    spark.catalog.clearCache()
    with pytest.raises(FileNotFoundError):
        convert("all", "ctd", in_dir, str(tmp_path / "out"),
                geojson=str(tmp_path / "missing.geojson"), spark=spark)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
