"""Pad masking of long-format measurements: the row-local form
(``ios_measurements_masked``) against the join form it replaced, kept
here as the reference."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _masked_by_join(parsed: DataFrame) -> DataFrame:
    """Reference: join each cell back to its exploded channel and to its
    file's PAD, then mask with the channel pad → file PAD chain."""
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        ios_channels,
        ios_measurements,
    )

    meas = ios_measurements(parsed)
    ch = ios_channels(parsed).select("file_id", "channel_idx", "pad")
    files = parsed.select("file_id", "pad_default")
    joined = meas.join(ch, ["file_id", "channel_idx"], "left").join(
        files, "file_id", "left"
    )
    pad = F.coalesce(
        F.nullif(F.trim(F.col("pad")), F.lit("")),
        F.nullif(F.trim(F.col("pad_default")), F.lit("")),
    )
    pad_num = pad.try_cast("double")
    masked = F.when(
        pad_num.isNotNull() & (F.col("value_num") == pad_num), F.lit(None)
    ).otherwise(F.col("value_num"))
    return joined.select(
        "file_id", "record_idx", "channel_idx", "value_str", masked.alias("value_num")
    )


def _ch(idx: int, pad):
    return {"channel_idx": idx, "pad": pad}


# (file_id, file PAD, channels, records); channel_idx is the 1-based array
# position, as the parser sets it
PARSED_ROWS = [
    # cell 3 lies beyond the two declared channels: it uses the file PAD
    ("beyond", "-9", [_ch(1, "-99"), _ch(2, "-99")],
     [["-99", "1.5", "-9"], ["2", "-99", "3"]]),
    # blank and whitespace-only channel pads fall back to the file PAD
    ("blank", " -9 ", [_ch(1, ""), _ch(2, "  "), _ch(3, None)],
     [["-9", "-9", "-9"], ["-9.0", "4", "x"]]),
    # a channel pad that is set but not a number masks nothing
    ("unparsable", "7", [_ch(1, "n/a"), _ch(2, " 7 ")], [["7", "7"], ["8", "7.0"]]),
    # no file PAD: only channel pads mask, cells beyond mask nothing
    ("no_file_pad", None, [_ch(1, "-99"), _ch(2, "")], [["-99", "-99", "-99"]]),
    ("blank_file_pad", "  ", [_ch(1, None)], [["0", ""]]),
    # no channel table at all: every cell uses the file PAD
    ("no_channels", "-99", [], [["-99", "5"]]),
    # NaN pads mask NaN cells (Spark orders NaN equal to NaN)
    ("nan_pad", "NaN", [_ch(1, None)], [["NaN", "1"]]),
    # an error row has no channels and no records
    ("error", None, None, None),
]

SCHEMA = (
    "file_id STRING, pad_default STRING, "
    "channels ARRAY<STRUCT<channel_idx: INT, pad: STRING>>, "
    "records ARRAY<ARRAY<STRING>>"
)


def _rows(df: DataFrame) -> list[tuple]:
    def key(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    return sorted(
        (r["file_id"], r["record_idx"], r["channel_idx"], r["value_str"], key(r["value_num"]))
        for r in df.collect()
    )


def test_row_local_masking_equals_the_join_form(spark):
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        ios_measurements_masked,
    )

    parsed = spark.createDataFrame(PARSED_ROWS, SCHEMA)
    got = ios_measurements_masked(parsed)
    want = _masked_by_join(parsed)

    assert got.columns == want.columns
    assert got.schema == want.schema
    rows = _rows(got)
    assert rows == _rows(want)
    masked = {(f, r, c) for f, r, c, _, v in rows if v is None}
    # spot checks derived by hand from PARSED_ROWS
    assert ("beyond", 0, 3) in masked and ("beyond", 0, 2) not in masked
    assert ("blank", 1, 1) in masked and ("blank", 1, 2) not in masked
    assert ("unparsable", 0, 1) not in masked and ("unparsable", 1, 2) in masked
    assert ("no_file_pad", 0, 1) in masked and ("no_file_pad", 0, 2) not in masked
    assert ("no_channels", 0, 1) in masked and ("nan_pad", 0, 1) in masked
    assert not [r for r in rows if r[0] == "error"]
