"""JanusGraph predicate surface → Spark Column expressions (SURVEY §2.3).

The host system's query predicates (JanusGraph 0.6 `P.*` / `Text.*`,
serialized through the reference adapter as opaque index-range bytes) map
1:1 onto Catalyst-visible column expressions — every one of these pushes
into the parquet scan or stays inside whole-stage codegen:

    eq/neq/gt/gte/lt/lte      ==  !=  >  >=  <  <=
    inside/outside/between     open/closed range conjunctions
    within/without             isin / ~isin
    textContains               split-word membership
    textPrefix                 startswith
    textRegex                  rlike (anchored, Java regex)
    textFuzzy                  levenshtein distance ≤ 2

No Python UDFs: fuzziness uses the built-in levenshtein; everything else
is a comparison Catalyst can reorder, fold, and push down.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


class P:
    """Gremlin-style predicate builders returning Spark Columns."""

    @staticmethod
    def eq(col: str, v) -> Column:
        return F.col(col) == v

    @staticmethod
    def neq(col: str, v) -> Column:
        return F.col(col) != v

    @staticmethod
    def gt(col: str, v) -> Column:
        return F.col(col) > v

    @staticmethod
    def gte(col: str, v) -> Column:
        return F.col(col) >= v

    @staticmethod
    def lt(col: str, v) -> Column:
        return F.col(col) < v

    @staticmethod
    def lte(col: str, v) -> Column:
        return F.col(col) <= v

    @staticmethod
    def between(col: str, lo, hi) -> Column:
        """JanusGraph between: [lo, hi) — half-open, unlike SQL BETWEEN."""
        return (F.col(col) >= lo) & (F.col(col) < hi)

    @staticmethod
    def inside(col: str, lo, hi) -> Column:
        """(lo, hi) — both exclusive."""
        return (F.col(col) > lo) & (F.col(col) < hi)

    @staticmethod
    def outside(col: str, lo, hi) -> Column:
        return (F.col(col) < lo) | (F.col(col) > hi)

    @staticmethod
    def within(col: str, values: Sequence) -> Column:
        return F.col(col).isin(list(values))

    @staticmethod
    def without(col: str, values: Sequence) -> Column:
        return ~F.col(col).isin(list(values))

    @staticmethod
    def text_contains(col: str, word: str) -> Column:
        """JanusGraph textContains matches a whole token, not a substring."""
        return F.array_contains(F.split(F.lower(F.col(col)), r"\W+"),
                                word.lower())

    @staticmethod
    def text_prefix(col: str, prefix: str) -> Column:
        return F.col(col).startswith(prefix)

    @staticmethod
    def text_regex(col: str, pattern: str) -> Column:
        """JanusGraph textRegex matches the WHOLE string value."""
        return F.col(col).rlike(f"^(?:{pattern})$")

    @staticmethod
    def text_fuzzy(col: str, term: str, max_distance: int = 2) -> Column:
        return F.levenshtein(F.lower(F.col(col)), F.lit(term.lower())) \
            <= max_distance

    # -- geo predicates (JanusGraph Geoshape / Gremlin geoWithin etc.) --
    # Points are (lat, lon) degree column pairs — the typed-columns
    # analog of Geoshape.point (SURVEY §1.2); circles are
    # (lat, lon, radius_km), boxes are (lat_min, lat_max, lon_min,
    # lon_max).  All pure trig/comparison expressions: codegen-friendly,
    # box predicates push down to the scan.  Distance thresholds compare
    # the 6dp-ROUNDED great-circle distance (the l06 cosine discipline)
    # so cross-engine trig ulp noise cannot flip membership.

    @staticmethod
    def geo_distance_km(lat: str | Column, lon: str | Column,
                        lat2, lon2) -> Column:
        """Haversine great-circle distance in km (R = 6371.0), rounded
        to 6dp — sub-millimetre grid, far below any fixture's
        point-to-boundary gap."""
        la1, lo1 = F.radians(lat), F.radians(lon)
        la2 = F.radians(F.lit(lat2) if not isinstance(lat2, Column)
                        else lat2)
        lo2 = F.radians(F.lit(lon2) if not isinstance(lon2, Column)
                        else lon2)
        h = (F.pow(F.sin((la2 - la1) / 2), 2)
             + F.cos(la1) * F.cos(la2) * F.pow(F.sin((lo2 - lo1) / 2), 2))
        return F.round(2 * F.lit(6371.0) * F.asin(F.sqrt(h)), 6)

    @staticmethod
    def geo_within_circle(lat: str | Column, lon: str | Column,
                          center_lat: float, center_lon: float,
                          radius_km: float) -> Column:
        """geoWithin(circle): point inside the great-circle radius."""
        return P.geo_distance_km(lat, lon, center_lat, center_lon) \
            <= radius_km

    @staticmethod
    def geo_within_box(lat: str | Column, lon: str | Column,
                       lat_min: float, lat_max: float,
                       lon_min: float, lon_max: float) -> Column:
        """geoWithin(box): inclusive bounding-box containment — plain
        range conjunctions, pushed into the scan."""
        la = F.col(lat) if isinstance(lat, str) else lat
        lo = F.col(lon) if isinstance(lon, str) else lon
        return ((la >= lat_min) & (la <= lat_max)
                & (lo >= lon_min) & (lo <= lon_max))

    @staticmethod
    def geo_intersect_box(lat_min1, lat_max1, lon_min1, lon_max1,
                          lat_min2: float, lat_max2: float,
                          lon_min2: float, lon_max2: float) -> Column:
        """geoIntersect(box, box): interval overlap on both axes; the
        first box is column expressions (per-row shapes), the second a
        literal query shape."""
        def _c(x):
            return F.col(x) if isinstance(x, str) else x
        return ((_c(lat_min1) <= lat_max2) & (_c(lat_max1) >= lat_min2)
                & (_c(lon_min1) <= lon_max2) & (_c(lon_max1) >= lon_min2))

    @staticmethod
    def geo_disjoint_box(lat_min1, lat_max1, lon_min1, lon_max1,
                         lat_min2: float, lat_max2: float,
                         lon_min2: float, lon_max2: float) -> Column:
        """geoDisjoint = NOT geoIntersect for box pairs."""
        return ~P.geo_intersect_box(lat_min1, lat_max1, lon_min1,
                                    lon_max1, lat_min2, lat_max2,
                                    lon_min2, lon_max2)

