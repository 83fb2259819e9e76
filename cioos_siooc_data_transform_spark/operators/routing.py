"""Channel → variable routing (SURVEY.md §2.2 P2).

The reference routes each channel to a typed output variable with
keyword-containment predicates plus exclusion lists, dropping unmatched
channels with a log line (IDT/write_ctd_ncfile.py:102-143, mooring variant
IDT/write_mctd_ncfile.py:100-131). Relational form: a constant-folded
CASE WHEN ladder producing a ``var_type`` column; drop = filter NOT NULL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (var_type, include keywords, exclude keywords) — order matters: first
# match wins, like the reference's if/elif ladder.
CTD_ROUTING_RULES: list[tuple[str, list[str], list[str]]] = [
    ("depth", ["depth"], ["nominal"]),
    ("pressure", ["pressure"], []),
    ("temperature", ["temperature"], ["flag", "rinko", "bottle"]),
    ("salinity", ["salinity"], ["flag"]),
    (
        "oxygen",
        ["oxygen"],
        ["flag", "bottle", "rinko", "temperature", "current", "isotope", "saturation"],
    ),
    ("conductivity", ["conductivity"], []),
    ("nutrient", ["nitrate_plus_nitrite", "silicate", "phosphate"], ["flag"]),
]


def _contains_any(col: Column, keywords: list[str]) -> Column:
    """Case-insensitive 'any keyword is a substring' (IDT/utils.py:15-18).

    Every Column call is a py4j round trip and the routing and BODC
    ladders call this for every rule, so the column is upper-cased once
    and the hits are OR-ed without a leading FALSE literal."""
    upper = F.upper(col)
    expr = None
    for k in keywords:
        hit = upper.contains(k.upper())
        expr = hit if expr is None else expr | hit
    return F.lit(False) if expr is None else expr


def dropped_channels(channels, rules=None):
    """Audit view: channels the routing ladder drops (the reference logs
    and skips them, IDT/write_ctd_ncfile.py:142-143 — visible in its run
    log for Transmissivity/PAR/Fluorescence). Returns the unrouted rows so
    pipelines can surface them instead of losing them silently."""
    return channels.withColumn(
        "var_type", route_channels(F.col("name"), rules)
    ).filter(F.col("var_type").isNull()).drop("var_type")


def route_channels(name_col: Column, rules=None) -> Column:
    """CASE WHEN ladder: channel name → var_type (NULL = drop)."""
    if rules is None:
        rules = CTD_ROUTING_RULES
    expr = F.lit(None).cast("string")
    # Build the ladder back-to-front so earlier rules take precedence.
    for var_type, inc, exc in reversed(rules):
        cond = _contains_any(name_col, inc)
        if exc:
            cond = cond & ~_contains_any(name_col, exc)
        expr = F.when(cond, F.lit(var_type)).otherwise(expr)
    return expr
