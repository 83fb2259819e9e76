"""CF Parquet sink round-trip: write the corpus, read it back, verify
partitioning, routing, and idempotent overwrite."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

IDT = "/root/reference/cioos_data_transform/ios_data_transform/ios_data_transform/tests/test_files"


def test_cf_sink_roundtrip(spark):
    from cioos_siooc_data_transform_spark.sinks.cf_parquet import write_cf_dataset
    from cioos_siooc_data_transform_spark.sources.ios_source import read_ios

    parsed = read_ios(spark, f"{IDT}/ctd_profile", ["ctd"])
    with tempfile.TemporaryDirectory() as out:
        paths = write_cf_dataset(parsed, out)
        meas = spark.read.parquet(paths["measurements"])
        assert set(meas.columns) == {"file_id", "record_idx", "var_code", "value_num", "year"}
        years = {r["year"] for r in meas.select("year").distinct().collect()}
        assert years == {2017}
        codes = {r["var_code"] for r in meas.select("var_code").distinct().collect()}
        assert "TEMPS901" in codes and "PRESPR01" in codes
        # partition pruning works on the year column
        pruned = spark.read.parquet(paths["measurements"]).filter(F.col("year") == 2017)
        assert pruned.count() == meas.count()
        # idempotent rewrite: second write replaces, row count unchanged
        n1 = meas.count()
        write_cf_dataset(parsed, out)
        assert spark.read.parquet(paths["measurements"]).count() == n1
        headers = spark.read.parquet(paths["headers"])
        assert headers.count() == 6


def _parsed_sample(spark, year=2024):
    from cioos_siooc_data_transform_spark.plans.ios_queries import SAMPLE_IOS
    from cioos_siooc_data_transform_spark.sources.ios_source import parse_ios

    text = SAMPLE_IOS.replace("PDT 2024/", f"PDT {year}/")
    files = spark.createDataFrame(
        [("memory://sample.ctd", bytearray(text.encode("ascii")))],
        "path STRING, content BINARY",
    )
    return parse_ios(files)


def test_cf_sink_leaves_the_callers_cache_alone(spark, tmp_path):
    """The caller owns a cache it passes in; the sink releases only a
    cache it created itself."""
    from cioos_siooc_data_transform_spark.sinks.cf_parquet import write_cf_dataset

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    write_cf_dataset(_parsed_sample(spark), str(tmp_path / "own"))
    assert cache_manager.isEmpty()

    parsed = _parsed_sample(spark).cache()
    try:
        write_cf_dataset(parsed, str(tmp_path / "callers"))
        assert parsed.is_cached
        assert parsed.storageLevel.useMemory  # the JVM-side cache entry
    finally:
        parsed.unpersist()


def test_cf_sink_never_sets_the_session_conf(spark, tmp_path, monkeypatch):
    """Dynamic partition overwrite is an option of the measurements write,
    not a session-wide conf that other jobs in the session would see
    while the sink runs. It still keeps the year partitions it does not
    rewrite."""
    from pyspark.sql.conf import RuntimeConfig

    from cioos_siooc_data_transform_spark.sinks.cf_parquet import write_cf_dataset

    calls = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def record_set(self, key, value):
        calls.append(("set", key, value))
        return real_set(self, key, value)

    def record_unset(self, key):
        calls.append(("unset", key))
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", record_set)
    monkeypatch.setattr(RuntimeConfig, "unset", record_unset)
    out = str(tmp_path / "cf")
    write_cf_dataset(_parsed_sample(spark, 2023), out)
    write_cf_dataset(_parsed_sample(spark, 2024), out)
    assert calls == []

    meas = spark.read.parquet(f"{out}/measurements")
    years = sorted(r["year"] for r in meas.select("year").distinct().collect())
    assert years == [2023, 2024]
