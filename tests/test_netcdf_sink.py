"""NetCDF-3 writer round-trip + CF export of the reference corpus."""

from __future__ import annotations

import glob
import math
import os
import tempfile

import numpy as np
import pytest

from cioos_siooc_data_transform_spark.sinks.netcdf3 import (
    NC_CHAR, NC_DOUBLE, NC_FLOAT, NcVariable, read_netcdf3, write_netcdf3,
)

IDT = "/root/reference/cioos_data_transform/ios_data_transform/ios_data_transform/tests/test_files"


def test_netcdf3_roundtrip():
    dims = {"z": 3, "slen": 8}
    gattrs = {"title": "test file", "version": 2}
    variables = [
        NcVariable("temp", NC_FLOAT, ["z"], {"units": "deg C"},
                   np.array([1.5, 2.5, float("nan")], dtype="f4")),
        NcVariable("time", NC_DOUBLE, [], {"standard_name": "time"}, np.asarray(1234.5)),
        NcVariable("profile", NC_CHAR, ["slen"], {"cf_role": "profile_id"}, "p-00001"),
    ]
    buf = write_netcdf3(dims, gattrs, variables)
    assert buf[:4] == b"CDF\x01"
    back = read_netcdf3(buf)
    assert back["dims"] == {"z": 3, "slen": 8}
    assert back["attrs"]["title"] == "test file"
    assert back["attrs"]["version"] == [2]
    t = back["variables"]["temp"]
    assert t["attrs"]["units"] == "deg C"
    assert t["data"][0] == np.float32(1.5) and math.isnan(float(t["data"][2]))
    assert float(back["variables"]["time"]["data"]) == 1234.5  # 0-d scalar
    assert back["variables"]["profile"]["data"] == "p-00001"


def test_cf_netcdf_export(spark):
    from cioos_siooc_data_transform_spark.sinks.cf_netcdf import write_netcdf_dir
    from cioos_siooc_data_transform_spark.sources.ios_source import read_ios

    parsed = read_ios(spark, f"{IDT}/ctd_profile", ["ctd"])
    with tempfile.TemporaryDirectory() as out:
        n = write_netcdf_dir(parsed, out)
        assert n == 6
        path = os.path.join(out, "2017", "2017-020-0474.nc")
        assert os.path.exists(path)
        nc = read_netcdf3(open(path, "rb").read())
        assert nc["dims"]["z"] == 189
        assert nc["attrs"]["featureType"] == "profile"
        assert "MISSION" in nc["attrs"]["HEADER"]
        v = nc["variables"]
        assert v["longitude"]["attrs"]["standard_name"] == "longitude"  # bug fixed
        assert abs(float(v["latitude"]["data"]) - 71.3885) < 1e-4
        temp = v["TEMPS901"]["data"]
        assert temp.shape == (189,) and abs(float(temp[0]) - 6.2644) < 1e-4
        assert v["profile"]["data"] == "2017-020-0474"
        # time scalar: 2017-09-10 01:00:42 UTC
        assert float(v["time"]["data"]) == pytest.approx(1505005242.0)


def test_attr_nc_type_follows_numpy_dtype():
    """CF requires _FillValue to carry the variable's exact type; numpy
    scalars pin the packed nc_type (np.float32 → NC_FLOAT)."""
    import struct

    import numpy as np

    from cioos_siooc_data_transform_spark.sinks.netcdf3 import (
        NC_DOUBLE,
        NC_FLOAT,
        NC_SHORT,
        _attr_values,
    )

    t, payload = _attr_values(np.float32(1.5))
    assert t == NC_FLOAT
    assert payload == struct.pack(">i", 1) + struct.pack(">f", 1.5)
    t, _ = _attr_values(1.5)  # plain Python float stays double
    assert t == NC_DOUBLE
    t, _ = _attr_values(np.int16(7))
    assert t == NC_SHORT


def test_cf_fillvalue_is_nc_float():
    """The CF writer's NC_FLOAT variables must carry an NC_FLOAT
    _FillValue in the emitted bytes."""
    import struct

    import numpy as np

    from cioos_siooc_data_transform_spark.sinks.netcdf3 import (
        NC_FLOAT,
        NcVariable,
        write_netcdf3,
    )

    var = NcVariable(
        "TEMPS901", NC_FLOAT, ["z"],
        {"_FillValue": np.float32("nan")},
        np.array([1.0, np.nan], dtype="f4"),
    )
    buf = write_netcdf3({"z": 2}, {}, [var])
    name = b"_FillValue"
    i = buf.index(name)
    # header layout: name-len + padded name + nc_type int
    after = i + len(name) + ((4 - len(name) % 4) % 4)
    (nc_type,) = struct.unpack(">i", buf[after : after + 4])
    assert nc_type == NC_FLOAT


def test_cdf2_and_cdf5_roundtrip():
    """Pinned 64-bit variants round-trip identically to CDF-1."""
    import numpy as np

    from cioos_siooc_data_transform_spark.sinks.netcdf3 import (
        NC_DOUBLE,
        NC_FLOAT,
        NcVariable,
        read_netcdf3,
        write_netcdf3,
    )

    dims = {"z": 3}
    gattrs = {"title": "t", "level": 4}
    varz = [
        NcVariable("depth", NC_DOUBLE, ["z"], {"units": "m"},
                   np.array([1.0, 2.0, 3.0])),
        NcVariable("temp", NC_FLOAT, ["z"], {"_FillValue": np.float32("nan")},
                   np.array([9.5, 8.25, 7.0], dtype="f4")),
    ]
    for version in (1, 2, 5):
        buf = write_netcdf3(dims, gattrs, varz, version=version)
        assert buf[:4] == b"CDF" + bytes([version])
        got = read_netcdf3(buf)
        assert got["dims"] == dims
        assert got["attrs"]["title"] == "t"
        assert got["variables"]["depth"]["data"].tolist() == [1.0, 2.0, 3.0]
        assert got["variables"]["temp"]["data"].tolist() == [9.5, 8.25, 7.0]
        assert got["variables"]["temp"]["attrs"]["_FillValue"][0] != got[
            "variables"
        ]["temp"]["attrs"]["_FillValue"][0]  # NaN fill survives


def test_cdf2_golden_header_layout():
    """Hand-packed spec bytes for a minimal CDF-2 file: only the begin
    field widens to 8 bytes; counts stay 32-bit (independent derivation
    from the Unidata classic spec, not the writer's own reader)."""
    import struct

    import numpy as np

    from cioos_siooc_data_transform_spark.sinks.netcdf3 import (
        NC_DOUBLE,
        NcVariable,
        write_netcdf3,
    )

    buf = write_netcdf3({"z": 2}, {}, [
        NcVariable("v", NC_DOUBLE, ["z"], {}, np.array([1.5, 2.5]))
    ], version=2)
    expect_header = (
        b"CDF\x02"
        + struct.pack(">i", 0)              # numrecs
        + struct.pack(">ii", 0x0A, 1)       # NC_DIMENSION, ndims
        + struct.pack(">i", 1) + b"z\x00\x00\x00" + struct.pack(">i", 2)
        + struct.pack(">ii", 0, 0)          # no global attrs
        + struct.pack(">ii", 0x0B, 1)       # NC_VARIABLE, nvars
        + struct.pack(">i", 1) + b"v\x00\x00\x00"   # name
        + struct.pack(">i", 1) + struct.pack(">i", 0)  # ndims, dimid 0
        + struct.pack(">ii", 0, 0)          # no var attrs
        + struct.pack(">i", NC_DOUBLE)
        + struct.pack(">I", 16)             # vsize
    )
    assert buf.startswith(expect_header)
    begin = len(expect_header) + 8          # 8-byte begin field itself
    assert buf[len(expect_header):begin] == struct.pack(">q", begin)
    assert np.frombuffer(buf[begin:begin + 16], ">f8").tolist() == [1.5, 2.5]


def test_cdf5_golden_header_layout():
    """Hand-packed spec bytes for a minimal CDF-5 file, independently
    derived from the pnetcdf CDF-5 grammar: list tags and nc_type stay
    4-byte constants; every NON_NEG (numrecs, nelems, name length, dim
    size, ndims, dimid, vsize) and begin widen to 8 bytes; an absent
    attribute list is a 4-byte zero tag + 8-byte zero nelems."""
    import struct

    import numpy as np

    from cioos_siooc_data_transform_spark.sinks.netcdf3 import (
        NC_DOUBLE,
        NcVariable,
        write_netcdf3,
    )

    buf = write_netcdf3({"z": 2}, {}, [
        NcVariable("v", NC_DOUBLE, ["z"], {}, np.array([1.5, 2.5]))
    ], version=5)
    absent = struct.pack(">i", 0) + struct.pack(">q", 0)
    expect_header = (
        b"CDF\x05"
        + struct.pack(">q", 0)              # numrecs (NON_NEG, 8 bytes)
        + struct.pack(">i", 0x0A)           # NC_DIMENSION tag (4 bytes!)
        + struct.pack(">q", 1)              # ndims
        + struct.pack(">q", 1) + b"z\x00\x00\x00" + struct.pack(">q", 2)
        + absent                            # no global attrs
        + struct.pack(">i", 0x0B)           # NC_VARIABLE tag (4 bytes!)
        + struct.pack(">q", 1)              # nvars
        + struct.pack(">q", 1) + b"v\x00\x00\x00"   # name
        + struct.pack(">q", 1) + struct.pack(">q", 0)  # ndims, dimid 0
        + absent                            # no var attrs
        + struct.pack(">i", NC_DOUBLE)      # nc_type (4 bytes)
        + struct.pack(">q", 16)             # vsize (NON_NEG, 8 bytes)
    )
    assert buf.startswith(expect_header)
    begin = len(expect_header) + 8          # 8-byte begin field itself
    assert buf[len(expect_header):begin] == struct.pack(">q", begin)
    assert np.frombuffer(buf[begin:begin + 16], ">f8").tolist() == [1.5, 2.5]


def test_cdf_version_auto_escalation():
    from cioos_siooc_data_transform_spark.sinks.netcdf3 import _pick_version

    assert _pick_version({"z": 100}, [800, 400]) == 1
    assert _pick_version({"z": 2**29}, [3 * 2**30]) == 2       # > 2 GiB file
    assert _pick_version({"z": 2**30}, [5 * 2**30]) == 5       # > 4 GiB var
    assert _pick_version({"z": 2**32}, [8]) == 5               # 64-bit dim


def test_write_netcdf_dir_counts_the_files_it_writes(spark, tmp_path):
    """One job writes and counts: the return value is the number of .nc
    files on disk; an error row (no records) writes nothing."""
    from cioos_siooc_data_transform_spark.plans.ios_queries import SAMPLE_IOS
    from cioos_siooc_data_transform_spark.sinks.cf_netcdf import write_netcdf_dir
    from cioos_siooc_data_transform_spark.sources.ios_source import parse_ios

    content = bytearray(SAMPLE_IOS.encode("ascii"))
    rows = [(f"memory://s{i}.ctd", content) for i in range(3)]
    bad = SAMPLE_IOS.replace("NUMBER OF CHANNELS  : 3", "NUMBER OF CHANNELS  : 4")
    rows.append(("memory://broken.ctd", bytearray(bad.encode("ascii"))))
    parsed = parse_ios(spark.createDataFrame(rows, "path STRING, content BINARY"))

    n = write_netcdf_dir(parsed, str(tmp_path))

    written = sorted(glob.glob(str(tmp_path / "*" / "*.nc")))
    assert n == 3
    assert [os.path.basename(p) for p in written] == ["s0.nc", "s1.nc", "s2.nc"]
    assert {os.path.basename(os.path.dirname(p)) for p in written} == {"2024"}


def test_netcdf_blank_channel_pad_falls_back_to_file_pad(spark):
    """A channel whose CHANNEL DETAIL pad is blank is masked with the file
    PAD (J5 coalesce chain), in the NetCDF variable as in the Parquet
    measurements."""
    from cioos_siooc_data_transform_spark.plans.ios_queries import SAMPLE_IOS
    from cioos_siooc_data_transform_spark.sinks.cf_netcdf import to_netcdf_bytes
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        ios_measurements_masked,
        parse_ios,
    )

    detail = "       2  -99   ' '        8  F       ' '     4"
    assert detail in SAMPLE_IOS
    text = SAMPLE_IOS.replace(detail, detail.replace("-99", "   "))
    parsed = parse_ios(spark.createDataFrame(
        [("memory://blank-pad.ctd", bytearray(text.encode("ascii")))],
        "path STRING, content BINARY",
    ))
    assert parsed.first()["channels"][1]["pad"] == ""

    masked = ios_measurements_masked(parsed).filter("channel_idx = 2")
    assert [r["value_num"] for r in masked.orderBy("record_idx").collect()] == [
        7.1, 8.2, None, 9.9,
    ]
    (row,) = to_netcdf_bytes(parsed).collect()
    temp = read_netcdf3(bytes(row["nc_bytes"]))["variables"]["TEMPS901"]["data"]
    assert math.isnan(float(temp[2]))
    assert temp[[0, 1, 3]].tolist() == np.array([7.1, 8.2, 9.9], dtype="f4").tolist()
