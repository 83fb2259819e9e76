"""CF-convention Parquet sink (SURVEY.md §2.8 K1-K4).

Replaces the reference's per-file NetCDF writer (IDT/OceanNcFile.py:23-65)
with a columnar layout:

- measurements: long-format CF variables partitioned by observation year
  (the reference writes out_path/yy/file.nc, IDT/ios_data_transform_script.py:73-75
  → partitionBy('year') gives the same pruning, plus dynamic partition
  pruning on read);
- variables sidecar: per-file variable attributes (CF standard/long names,
  canonical units — FIXTURES.md §6);
- headers sidecar: full header tree as JSON (the reference stores it as a
  global attr, IDT/write_ctd_ncfile.py:36).

Idempotency: mode=overwrite with dynamic partitionOverwriteMode replaces
exactly the partitions being rewritten — this subsumes the reference's
orphan-delete (K3) and failed-write cleanup (K4) shell hacks; Spark's task
commit protocol guarantees no partial files.

Scale notes: partitionBy(year) keeps files clustered for time-range scans;
within a partition, writers are sized by the upstream shuffle — repartition
by (year) with AQE coalescing avoids small-file explosions at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_cf_dataset(
    parsed: DataFrame,
    out_dir: str,
    mode: str = "overwrite",
    codes: DataFrame | None = None,
) -> dict[str, str]:
    """Write the full CF dataset (measurements + variables + headers +
    catalog). Returns the written paths.

    ``codes`` is ``assign_bodc_codes(ios_channels(parsed))``; a caller
    that already built it passes it in so the plan is built once, and it
    is derived from ``parsed`` when absent."""
    from cioos_siooc_data_transform_spark.operators.bodc import assign_bodc_codes
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        ios_catalog,
        ios_channels,
        ios_header_json,
        ios_measurements_masked,
    )

    # the binaryFile scan + Python parse feeds FOUR write actions, so the
    # parse must be cached. The caller owns a cache it passes in: cache
    # here only when the input is not cached, and release only that.
    owns_cache = not parsed.is_cached
    if owns_cache:
        parsed = parsed.cache()

    catalog = ios_catalog(parsed)
    if codes is None:
        codes = assign_bodc_codes(ios_channels(parsed))
    meas = ios_measurements_masked(parsed)

    # CF measurements: only routed channels, keyed by var_code, with the
    # observation year for partitioning (profile files: start year).
    cf = (
        meas.join(codes.select("file_id", "channel_idx", "var_code"),
                  ["file_id", "channel_idx"])
        .join(catalog.select("file_id", "start_ts"), "file_id")
        .withColumn("year", F.year("start_ts"))
        .select("year", "file_id", "record_idx", "channel_idx", "var_code", "value_num")
    )

    paths = {
        "measurements": os.path.join(out_dir, "measurements"),
        "variables": os.path.join(out_dir, "variables"),
        "headers": os.path.join(out_dir, "headers"),
        "catalog": os.path.join(out_dir, "catalog"),
    }
    try:
        # year leads the sort: the partitioned write requires rows
        # ordered by year and replaces a sort that does not start with it.
        # channel_idx makes the layout independent of the join strategy.
        # Dynamic overwrite is a per-write option, so the session conf
        # (and every other partitioned write in it) stays as it is.
        cf.repartition("year").sortWithinPartitions(
            "year", "file_id", "record_idx", "channel_idx"
        ).drop("channel_idx").write.mode(mode).option(
            "compression", "zstd"
        ).option("partitionOverwriteMode", "dynamic").partitionBy("year").parquet(
            paths["measurements"]
        )
        # sized by a shuffle like the measurements: a cached ``codes``
        # keeps its plan's shuffle partitions, which AQE does not coalesce
        codes.repartition("file_id").sortWithinPartitions(
            "file_id", "channel_idx"
        ).write.mode(mode).option("compression", "zstd").parquet(
            paths["variables"]
        )
        ios_header_json(parsed).write.mode(mode).parquet(paths["headers"])
        catalog.write.mode(mode).parquet(paths["catalog"])
    finally:
        if owns_cache:
            parsed.unpersist()
    return paths
