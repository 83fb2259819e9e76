"""BODC code assignment (SURVEY.md §2.3 J3 + §2.5 W2), which also gives
each routed channel the CF variable attributes both sinks write (§2.8 K2).

Reimplements the contract of IDT/OceanNcVar.py:160-258 (__get_bodc_code)
and IDT/write_ctd_ncfile.py:92-148 as a constant-folded CASE ladder plus a
row_number() occurrence window:

- each routed channel maps (var_type × name keywords × units keywords) →
  (base code, numeric-suffix width, canonical units, CF names);
- the reference probes code+'{:0Nd}' against already-assigned names in
  file order (IDT/OceanNcVar.py:95-110); walking channels in order, the
  nth channel of a base always gets suffix n — exactly
  row_number() OVER (PARTITION BY file_id, base ORDER BY channel_idx);
- unmatched/unmappable channels are dropped, like the reference's log-and-
  skip (IDT/write_ctd_ncfile.py:142-143).

Reference bugs deliberately fixed (SURVEY.md §1.3.7): longitude's
standard_name is 'longitude' (reference sets 'latitude',
IDT/OceanNcVar.py:63); declared min/max are carried unswapped (reference
swaps them, IDT/OceanNcVar.py:17-18).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.operators.routing import route_channels

# (var_type, name_includes, name_excludes, units_includes,
#  base_code, suffix_width, canonical_units, standard_name, long_name)
# First matching rule wins (the reference's if/elif ladder order).
BODC_RULES: list[tuple] = [
    ("temperature", ["reversing"], [], ["deg c"],
     "TEMPRTN", 1, "deg C", "sea_water_temperature", "Sea Water Temperature"),
    ("temperature", [], [], ["its90", "its-90"],
     "TEMPS9", 2, "deg C", "sea_water_temperature", "Sea Water Temperature"),
    ("temperature", [], [], ["ipts-68", "ipts68"],
     "TEMPS6", 2, "deg C", "sea_water_temperature", "Sea Water Temperature"),
    ("temperature", [], [], ["deg c", "degc"],
     "TEMPST", 2, "deg C", "sea_water_temperature", "Sea Water Temperature"),
    ("salinity", [], ["bottle"], ["pss-78"],
     "PSALST", 2, "PSS-78", "sea_water_practical_salinity", "Sea Water Practical Salinity"),
    ("salinity", [], ["bottle"], ["ppt"],
     "SSALST", 2, "PPT", "sea_water_practical_salinity", "Sea Water Practical Salinity"),
    ("salinity", ["bottle"], [], ["pss-78"],
     "PSALBST", 1, "PSS-78", "sea_water_practical_salinity", "Sea Water Practical Salinity"),
    ("salinity", ["bottle"], [], ["ppt"],
     "ODSDM021", 0, "PPT", "sea_water_practical_salinity", "Sea Water Practical Salinity"),
    ("oxygen", [], [], ["ml/l"],
     "DOXYZZ", 2, "mL/L", "dissolved_oxygen_concentration", "Oxygen concentration"),
    ("oxygen", [], [], ["umol/kg"],
     "DOXMZZ", 2, "umol/kg", "dissolved_oxygen_concentration", "Oxygen concentration"),
    ("oxygen", [], [], ["umol/l"],
     "DOXY", 2, "umol/L", "dissolved_oxygen_concentration", "Oxygen concentration"),
    ("conductivity", [], [], ["s/m"],
     "CNDCST", 2, "S/m", "sea_water_electrical_conductivity", "Sea Water Electrical Conductivity"),
    ("conductivity", [], [], ["ms/cm"],
     "CNDCSTX", 2, "mS/cm", "sea_water_electrical_conductivity", "Sea Water Electrical Conductivity"),
    ("nutrient", ["nitrate_plus_nitrite"], [], ["umol/l"],
     "NTRZAAZ", 1, "umol/L", "mole_concentration_of_nitrate_and_nitrite_in_sea_water",
     "Mole Concentration of Nitrate and Nitrite in Sea Water"),
    ("nutrient", ["phosphate"], [], ["umol/l"],
     "PHOSAAZ", 1, "umol/L", "mole_concentration_of_phosphate_in_sea_water",
     "Mole Concentration of Phosphate in Sea Water"),
    ("nutrient", ["silicate"], [], ["umol/l"],
     "SLCAAAZ", 1, "umol/L", "mole_concentration_of_silicate_in_sea_water",
     "Mole Concentration of Silicate in Sea Water"),
    # Fixed-name variable families (no BODC numbering):
    ("pressure", [], [], ["dbar", "dbars", "decibar"],
     "PRESPR01", 0, "decibar", "sea_water_pressure", "Pressure"),
    ("depth", [], [], [],
     "depth", 0, "m", "depth_below_sea_level_in_meters", "Depth in meters"),
]


# single definition shared with channel routing — a containment-matching
# fix must apply to BOTH paths or routing and BODC coding diverge
from cioos_siooc_data_transform_spark.operators.routing import _contains_any  # noqa: E402


def bodc_base_struct(var_type: Column, name: Column, units: Column) -> Column:
    """CASE ladder → struct(base, width, units, std_name, long_name);
    NULL when no rule matches (reference raises; we drop + can audit)."""
    expr = F.lit(None).cast(
        "struct<base:string,width:int,units:string,std_name:string,long_name:string>"
    )
    for vt, ninc, nexc, uinc, base, width, cu, std, lng in reversed(BODC_RULES):
        cond = var_type == vt
        if ninc:
            cond = cond & _contains_any(name, ninc)
        if nexc:
            cond = cond & ~_contains_any(name, nexc)
        if uinc:
            cond = cond & _contains_any(units, uinc)
        expr = F.when(
            cond,
            _const_struct(
                base=base, width=width, units=cu, std_name=std, long_name=lng
            ),
        ).otherwise(expr)
    return expr


def _sql_literal(value) -> str:
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return repr(int(value))


def _const_struct(**fields) -> Column:
    """A constant struct in ONE py4j call (an F.struct of five aliased
    literals takes 32); same field names, types and non-null fields."""
    return F.expr(
        "named_struct("
        + ", ".join(f"{_sql_literal(k)}, {_sql_literal(v)}" for k, v in fields.items())
        + ")"
    )


def assign_bodc_codes(channels: DataFrame, routing_rules=None) -> DataFrame:
    """Channel catalog → routed + BODC-coded variables.

    Input: ios_channels output (file_id, channel_idx, name, units, ...).
    Output adds var_type, var_code (suffixed), canonical units, CF names;
    unrouted/unmappable channels are dropped.
    """
    routed = channels.withColumn(
        "var_type", route_channels(F.col("name"), routing_rules)
    ).filter(F.col("var_type").isNotNull())
    mapped = routed.withColumn(
        "_bodc", bodc_base_struct(F.col("var_type"), F.col("name"), F.col("units"))
    ).filter(F.col("_bodc").isNotNull())
    w = Window.partitionBy("file_id", F.col("_bodc.base")).orderBy("channel_idx")
    rn = F.row_number().over(w)
    code = (
        F.when(F.col("_bodc.width") == 0, F.col("_bodc.base"))
        .when(F.col("_bodc.width") == 1, F.format_string("%s%01d", F.col("_bodc.base"), rn))
        .otherwise(F.format_string("%s%02d", F.col("_bodc.base"), rn))
    )
    return mapped.select(
        "file_id",
        "channel_idx",
        F.col("name").alias("channel_name"),
        F.col("units").alias("raw_units"),
        "var_type",
        code.alias("var_code"),
        F.col("_bodc.units").alias("units"),
        F.col("_bodc.std_name").alias("standard_name"),
        F.col("_bodc.long_name").alias("long_name"),
        F.col("minimum").alias("declared_min"),
        F.col("maximum").alias("declared_max"),
        F.col("pad"),
    )
