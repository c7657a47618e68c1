"""Road extraction expressions (F4 + G7): highway filter, width derivation.

Reference semantics (/root/reference/robosat/osm/road.py:100-138):
- keep ways whose ``highway`` tag is in the 13-class whitelist (F4);
- effective lanes = class default, doubled when not oneway (missing tag or
  ``oneway=no``); an explicit parseable ``lanes`` tag REPLACES that count
  (clamped to >= 1); unparseable tags fall back (the try/except);
- width = left_shoulder + lane_width * lanes + right_shoulder; an explicit
  parseable ``width`` tag replaces it (clamped to >= 1.0 m).

All pure Column expressions — ``try_cast`` reproduces the try/except
fallbacks; the attribute table (data from road.py:15-91) folds to literals.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (lanes, lane_width, left_shoulder, right_shoulder) — data table from the
# reference, /root/reference/robosat/osm/road.py:15-91
HIGHWAY_ATTRIBUTES = {
    "motorway": (4, 3.75, 0.75, 3.00),
    "trunk": (3, 3.75, 0.75, 3.00),
    "primary": (2, 3.75, 0.50, 1.50),
    "secondary": (1, 3.50, 0.00, 0.75),
    "tertiary": (1, 3.50, 0.00, 0.75),
    "unclassified": (1, 3.50, 0.00, 0.00),
    "residential": (1, 3.50, 0.00, 0.75),
    "service": (1, 3.00, 0.00, 0.00),
    "motorway_link": (2, 3.75, 0.75, 3.00),
    "trunk_link": (2, 3.75, 0.50, 1.50),
    "primary_link": (1, 3.50, 0.00, 0.75),
    "secondary_link": (1, 3.50, 0.00, 0.75),
    "tertiary_link": (1, 3.50, 0.00, 0.00),
}

ROAD_FILTER = list(HIGHWAY_ATTRIBUTES)


def is_road(highway: Column) -> Column:
    """F4: highway-class whitelist filter."""
    return highway.isin(ROAD_FILTER)


def _attr(highway: Column, idx: int) -> Column:
    """Literal lookup table as a chained CASE (constant-folded by Catalyst)."""
    expr = F.lit(None).cast("double")
    for name, attrs in HIGHWAY_ATTRIBUTES.items():
        expr = F.when(highway == name, F.lit(float(attrs[idx]))).otherwise(expr)
    return expr


def road_width_m(
    highway: Column, oneway: Column, lanes_tag: Column, width_tag: Column
) -> Column:
    """G7: road width in meters. ``oneway``/``lanes_tag``/``width_tag`` are
    nullable string tag columns (null = tag absent)."""
    base_lanes = _attr(highway, 0)
    lane_width = _attr(highway, 1)
    lsh = _attr(highway, 2)
    rsh = _attr(highway, 3)

    both_ways = oneway.isNull() | (oneway == "no")
    lanes_default = F.when(both_ways, base_lanes * 2).otherwise(base_lanes)
    lanes_parsed = lanes_tag.try_cast("int")
    lanes_eff = F.when(
        lanes_tag.isNotNull() & lanes_parsed.isNotNull(),
        F.greatest(lanes_parsed.cast("double"), F.lit(1.0)),
    ).otherwise(lanes_default)

    computed = lsh + lane_width * lanes_eff + rsh
    width_parsed = width_tag.try_cast("double")
    return F.when(
        width_tag.isNotNull() & width_parsed.isNotNull(),
        F.greatest(width_parsed, F.lit(1.0)),
    ).otherwise(computed)

