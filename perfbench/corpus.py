"""Seeded IOS observation-file corpus and polygon set with known answers.

Every file is rendered from channels the engine's routing and BODC ladders
recognise (pressure, ITS-90 temperature, PSS-78 salinity, dissolved oxygen,
conductivity, bottle nutrients), so conversion produces CF measurement
rows. One channel, Transmissivity, matches no routing rule and must be
dropped. About one file in a hundred is planted malformed and must come
back as an error row.

The generator keeps what the engine should produce: per file its channels,
records, routed BODC codes, the sum of every routed non-pad value, and the
geo code its station must get from the polygons written next to it.
Station positions sit well inside polygons whose vertices are non-integer
degrees, as real coastlines have.
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass, field

PAD = -99.0

#: key -> (channel name, raw units, BODC code, low, high, decimals); a
#: None code marks the channel the routing ladder drops.
CHANNELS = {
    "P": ("Pressure", "decibar", "PRESPR01", 1.0, 400.0, 2),
    "T1": ("Temperature:Primary", "'deg C (ITS90)'", "TEMPS901", 2.0, 15.0, 4),
    "T2": ("Temperature:Secondary", "'deg C (ITS90)'", "TEMPS902", 2.0, 15.0, 4),
    "S": ("Salinity:T0:C0", "PSS-78", "PSALST01", 28.0, 34.5, 4),
    "O": ("Oxygen:Dissolved", "mL/L", "DOXYZZ01", 0.5, 8.0, 3),
    "C": ("Conductivity:Primary", "S/m", "CNDCST01", 2.5, 4.5, 5),
    "X": ("Transmissivity", "%/metre", None, 40.0, 95.0, 2),
    "TR": ("Temperature:Reversing", "'deg C (ITS90)'", "TEMPRTN1", 2.0, 15.0, 3),
    "SB": ("Salinity:Bottle", "PSS-78", "PSALBST1", 28.0, 34.5, 4),
    "N": ("Nitrate_plus_Nitrite", "umol/L", "NTRZAAZ1", 0.0, 40.0, 2),
    "SI": ("Silicate", "umol/L", "SLCAAAZ1", 0.0, 80.0, 2),
    "PH": ("Phosphate", "umol/L", "PHOSAAZ1", 0.0, 3.5, 3),
}
WIDTH = 10  # every channel is written as F10.d

CTD_LAYOUTS = [
    ["P", "T1", "S", "O", "C"],
    ["P", "T1", "T2", "S", "C"],
    ["P", "T1", "S", "X", "O"],
    ["P", "T1", "S"],
]
MOORING_LAYOUT = ["P", "T1", "S", "C"]
MOORING_RECORDS = [3000, 4000, 5000, 6000]
BOTTLE_LAYOUTS = [["P", "TR", "SB", "O", "N", "SI", "PH"], ["P", "SB", "N", "SI"]]

POLYGON_NAMES = [
    "Strait of Georgia", "Juan de Fuca Strait", "Queen Charlotte Sound",
    "Hecate Strait", "Dixon Entrance", "Johnstone Strait", "Haro Strait",
    "Barkley Sound", "Clayoquot Sound", "Nootka Sound", "Knight Inlet",
    "Chatham Sound",
]
#: polygon 1 is drawn inside polygon 0, so its stations are in both (the
#: engine joins every matching name, sorted); no station is placed in the
#: outer ring of polygon 0 alone
OVERLAP_PAIR = (0, 1)


@dataclass
class Expected:
    """What converting a set of files must produce."""

    files: int = 0
    errors: int = 0
    nc_files: int = 0
    channels: int = 0
    routed_channels: int = 0
    cf_rows: int = 0  # routed channel x record cells (pads included)
    raw_rows: int = 0  # every channel x record cell (pads included)
    raw_values: int = 0  # non-pad cells over every channel
    raw_sum: float = 0.0
    in_bytes: int = 0
    var_sums: dict = field(default_factory=dict)  # var_code -> non-pad sum
    geo: dict = field(default_factory=dict)  # file_id -> geo code

    def add(self, other: "Expected") -> None:
        for k in ("files", "errors", "nc_files", "channels", "routed_channels",
                  "cf_rows", "raw_rows", "raw_values", "in_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.raw_sum += other.raw_sum
        for code, s in other.var_sums.items():
            self.var_sums[code] = self.var_sums.get(code, 0.0) + s
        self.geo.update(other.geo)


# ---------------------------------------------------------------------------
# Polygons
# ---------------------------------------------------------------------------
def _off_integer(x: float) -> float:
    x = round(x, 5)
    return x + 0.00013 if x == int(x) else x


def make_polygons(rng: random.Random) -> list[dict]:
    """Star-shaped polygons on a jittered grid over the BC coast; each
    carries its centre and an inner radius every point within which is
    inside it and outside every other polygon (except the overlap pair)."""
    polys = []
    for i, name in enumerate(POLYGON_NAMES):
        if i == OVERLAP_PAIR[1]:
            cx, cy = polys[0]["cx"], polys[0]["cy"]
            radius = polys[0]["r"] * 0.6
        else:
            col, row = i % 4, i // 4
            cx = -133.5 + 2.6 * col + rng.uniform(-0.3, 0.3)
            cy = 48.6 + 2.2 * row + rng.uniform(-0.3, 0.3)
            radius = rng.uniform(0.55, 0.8)
        n = rng.randint(5, 9)
        ring = []
        for k in range(n):
            a = 2 * math.pi * (k + rng.uniform(-0.2, 0.2)) / n
            rr = radius * rng.uniform(0.85, 1.0)
            ring.append([_off_integer(cx + rr * math.cos(a)),
                         _off_integer(cy + rr * math.sin(a))])
        ring.append(list(ring[0]))
        # the ring's inscribed circle is at least r*0.85*cos(pi/n*1.4)
        inner = radius * 0.85 * math.cos(math.pi * 1.4 / n) * 0.8
        polys.append({"name": name, "cx": cx, "cy": cy, "r": radius,
                      "inner": inner, "ring": ring})
    return polys


def write_geojson(path: str, polys: list[dict]) -> None:
    features = [
        {
            "type": "Feature",
            "properties": {"name": p["name"]},
            "geometry": {"type": "Polygon", "coordinates": [p["ring"]]},
        }
        for p in polys
    ]
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": features}, f)


def _station(rng: random.Random, polys: list[dict]) -> tuple[float, float, str]:
    """(lon, lat, expected geo code): 85 % inside one polygon, 5 % inside
    the overlap pair, 10 % far offshore in no polygon."""
    u = rng.random()
    if u < 0.10:
        return rng.uniform(-139.0, -137.0), rng.uniform(50.0, 52.0), "None"
    if u < 0.15:
        p = polys[OVERLAP_PAIR[1]]
        names = [polys[OVERLAP_PAIR[0]]["name"], p["name"]]
    else:
        p = polys[rng.randrange(2, len(polys))]
        names = [p["name"]]
    a = rng.uniform(0, 2 * math.pi)
    dist = rng.uniform(0.0, p["inner"])
    code = " ".join(sorted(n.replace(" ", "-") for n in names))
    return p["cx"] + dist * math.cos(a), p["cy"] + dist * math.sin(a), code


def _dms(value: float, pos: str, neg: str) -> str:
    """Decimal degrees -> IOS 'deg  min.mmmmm H' text."""
    hemi = pos if value >= 0 else neg
    a = abs(value)
    deg = int(a)
    minutes = f"{(a - deg) * 60.0:.5f}"
    if minutes == "60.00000":
        deg, minutes = deg + 1, "0.00000"
    return f"{deg:3d}  {minutes:>8} {hemi}"


# ---------------------------------------------------------------------------
# IOS file rendering
# ---------------------------------------------------------------------------
def _mask_row(mask: str, cells: list[str]) -> str:
    """Place each cell left-aligned into the next dash span of ``mask``."""
    out = list(" " * len(mask))
    spans, i = [], 0
    while i < len(mask):
        if mask[i] == "-":
            j = i
            while j < len(mask) and mask[j] == "-":
                j += 1
            spans.append((i, j))
            i = j
        else:
            i += 1
    for (a, b), cell in zip(spans, cells):
        text = cell[: b - a]
        out[a : a + len(text)] = text
    return "".join(out).rstrip()


CH_MASK = "    !--- ----------------------- ---------------- -------- --------"
DET_MASK = "    !---  ----  -----  -----  ------  ----  --------------"


def render_file(
    rng: random.Random,
    layout: list[str],
    n_records: int,
    start: str,
    lon: float,
    lat: float,
    kind: str,
    fortran: bool,
    malformed: str | None = None,
) -> tuple[str, list[list[float | None]]]:
    """Render one file. Returns (text, columns); columns hold the value
    each cell parses to, None for a pad cell."""
    cols: list[list[float | None]] = []
    lines_data = []
    for key in layout:
        _, _, _, lo, hi, dec = CHANNELS[key]
        col = []
        for r in range(n_records):
            if key == "P" and kind != "mooring":
                v = round(lo + (hi - lo) * r / max(n_records - 1, 1), dec)
            else:
                v = round(rng.uniform(lo, hi), dec)
            col.append(None if rng.random() < 0.004 else v)
        cols.append(col)
    for r in range(n_records):
        cells = []
        for key, col in zip(layout, cols):
            dec = CHANNELS[key][5]
            v = col[r]
            cells.append(f"{PAD if v is None else v:{WIDTH}.{dec}f}")
        lines_data.append("".join(cells))
    # the value each written cell parses back to
    cols = [
        [None if v is None else float(f"{v:.{CHANNELS[k][5]}f}") for v in col]
        for k, col in zip(layout, cols)
    ]

    n_ch = len(layout)
    ch_rows = [
        _mask_row(CH_MASK, [str(i + 1), CHANNELS[k][0], CHANNELS[k][1],
                            f"{CHANNELS[k][3]:.1f}", f"{CHANNELS[k][4]:.1f}"])
        for i, k in enumerate(layout)
    ]
    det_rows = [
        _mask_row(DET_MASK, [str(i + 1), f"{PAD:.0f}", "' '", str(WIDTH), "F",
                             "' '", str(CHANNELS[k][5])])
        for i, k in enumerate(layout)
    ]
    declared_channels = n_ch + 1 if malformed == "channels" else n_ch
    zone = "XYZ" if malformed == "zone" else start[:3]
    lat_txt = _dms(lat, "N", "S")
    lon_txt = _dms(lon, "E", "W")
    fmt_line = ""
    if fortran:
        descr = ",".join(f"F{WIDTH}.{CHANNELS[k][5]}" for k in layout)
        fmt_line = f"    FORMAT              : ({descr})\n"
    increment = ""
    if kind == "mooring":
        increment = "    TIME INCREMENT      : 0 0 15 0 0  ! (day hr min sec ms)\n"
    description = {"ctd": "CTD", "mooring": "CTD time series", "bottle": "Bottle"}[kind]
    text = (
        f"*{start[4:14]} 12:00:00.00\n"
        "*IOS HEADER VERSION 2.0      2016/04/28 2016/06/13\n\n"
        "*FILE\n"
        f"    START TIME          : {zone} {start[4:]}\n"
        f"{increment}"
        f"    NUMBER OF RECORDS   : {n_records}\n"
        f"    DATA DESCRIPTION    : {description}\n"
        f"    PAD                 : {PAD:.0f}\n"
        f"    NUMBER OF CHANNELS  : {declared_channels}\n"
        f"{fmt_line}\n"
        "    $TABLE: CHANNELS\n"
        "    ! No Name                    Units            Minimum  Maximum\n"
        f"{CH_MASK}\n" + "\n".join(ch_rows) + "\n    $END\n\n"
        "    $TABLE: CHANNEL DETAIL\n"
        "    ! No  Pad   Start  Width  Format  Type  Decimal_Places\n"
        f"{DET_MASK}\n" + "\n".join(det_rows) + "\n    $END\n\n"
        "*ADMINISTRATION\n"
        f"    MISSION             : {start[4:8]}-{rng.randint(1, 99):03d}\n"
        "    AGENCY              : IOS, Ocean Sciences Division\n"
        "    COUNTRY             : Canada\n\n"
        "*LOCATION\n"
        f"    STATION             : S{rng.randint(1, 999)}\n"
        f"    LATITUDE            : {lat_txt}  ! (deg min)\n"
        f"    LONGITUDE           : {lon_txt}  ! (deg min)\n\n"
        "*INSTRUMENT\n"
        f"    TYPE                : {'Sea-Bird CTD' if kind != 'bottle' else 'Rosette'}\n\n"
        "*END OF HEADER\n" + "\n".join(lines_data) + "\n"
    )
    return text, cols


def _start(rng: random.Random) -> str:
    zone = rng.choice(["UTC", "UTC", "UTC", "PDT", "PST"])
    y = rng.randint(2015, 2020)
    m, d = rng.randint(1, 12), rng.randint(1, 28)
    hh, mm = rng.randint(0, 23), rng.randint(0, 59)
    return f"{zone} {y}/{m:02d}/{d:02d} {hh:02d}:{mm:02d}:00.000"


def write_files(
    out_dir: str,
    rng: random.Random,
    polys: list[dict],
    kind: str,
    n: int,
    prefix: str,
    ext_choices: tuple[str, ...],
    malformed_every: int = 100,
) -> Expected:
    """Write ``n`` files of one kind into ``out_dir``; return their
    expected conversion results. Every ``malformed_every``-th file (offset
    by the seed) is planted malformed."""
    os.makedirs(out_dir, exist_ok=True)
    exp = Expected()
    offset = rng.randrange(malformed_every)
    for i in range(n):
        file_id = f"{prefix}{i:05d}"
        malformed = None
        if i % malformed_every == offset:
            malformed = rng.choice(["channels", "zone"])
        if kind == "ctd":
            layout = rng.choice(CTD_LAYOUTS)
            n_rec = rng.randint(100, 400)
            fortran = rng.random() < 0.3
        elif kind == "mooring":
            # fixed lengths, so the skew moorings cause is the same on
            # every seed
            layout = MOORING_LAYOUT
            n_rec = MOORING_RECORDS[i % len(MOORING_RECORDS)]
            fortran = True
        else:
            layout = rng.choice(BOTTLE_LAYOUTS)
            n_rec = rng.randint(8, 30)
            fortran = False
        lon, lat, code = _station(rng, polys)
        text, cols = render_file(
            rng, layout, n_rec, _start(rng), lon, lat, kind, fortran, malformed
        )
        path = os.path.join(out_dir, f"{file_id}.{rng.choice(ext_choices)}")
        with open(path, "w") as f:
            f.write(text)
        exp.files += 1
        exp.in_bytes += len(text)
        if malformed:
            exp.errors += 1
            exp.geo[file_id] = "None"
            continue
        exp.nc_files += 1
        exp.geo[file_id] = code
        exp.channels += len(layout)
        exp.raw_rows += n_rec * len(layout)
        for key, col in zip(layout, cols):
            vals = [v for v in col if v is not None]
            exp.raw_values += len(vals)
            exp.raw_sum += sum(vals)
            code_v = CHANNELS[key][2]
            if code_v is None:
                continue
            exp.routed_channels += 1
            exp.cf_rows += n_rec
            exp.var_sums[code_v] = exp.var_sums.get(code_v, 0.0) + sum(vals)
    return exp
