"""Scalar column functions — SURVEY.md §2.7 (SC1-SC17).

Every function here returns a Catalyst ``Column`` expression (JVM-side,
whole-stage-codegen'd); none drop to Python per row. Reference
semantics cited per function (reference file:line).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

GPS_EPOCH = "1980-01-06"
LAS14_GPS_ADJUSTMENT = 1.0e9  # adjusted-standard GPS time offset, seconds


def sanitize_name(col: Column | str) -> Column:
    """SC1 — collapse non-word runs to '_' (differencing_functions.py:402-404)."""
    return F.regexp_replace(F.col(col) if isinstance(col, str) else col, r"[^\w]+", "_")


def parse_temporal_coverage(col: Column | str) -> tuple[Column, Column]:
    """SC2 — parse 'start / end' or single-date strings into (start, end) dates
    (differencing_functions.py:467-485). A single date maps to (d, d)."""
    c = F.col(col) if isinstance(col, str) else col
    has_range = c.contains("/")
    start = F.when(has_range, F.to_date(F.trim(F.split(c, "/").getItem(0)))) \
             .otherwise(F.to_date(F.trim(c)))
    end = F.when(has_range, F.to_date(F.trim(F.split(c, "/").getItem(1)))) \
           .otherwise(F.to_date(F.trim(c)))
    return start, end


def classify_source(property_id: Column | str) -> Column:
    """SC3 — dataset source from property-id substring
    (differencing_functions.py:491-492): USGS → 'usgs', NOAA → 'noaa', else 'ot'."""
    c = F.col(property_id) if isinstance(property_id, str) else property_id
    lc = F.lower(c)
    return (F.when(lc.contains("usgs"), F.lit("usgs"))
             .when(lc.contains("noaa"), F.lit("noaa"))
             .otherwise(F.lit("ot")))


def midpoint_date(start: Column, end: Column) -> Column:
    """SC5 — epoch midpoint = start + (end-start)/2, integer-day arithmetic
    (differencing_functions.py:554-566, 1890-1893)."""
    return F.date_add(start, F.floor(F.datediff(end, start) / 2).cast("int"))


def gps_seconds_to_date(gps_s: Column | str) -> Column:
    """SC6 — GPS seconds → date; adds the 1e9 LAS-1.4 adjusted-GPS offset when
    the raw value is below it (differencing_functions.py:1559-1567)."""
    c = F.col(gps_s) if isinstance(gps_s, str) else gps_s
    adj = F.when(c < LAS14_GPS_ADJUSTMENT, c + LAS14_GPS_ADJUSTMENT).otherwise(c)
    return F.date_add(F.to_date(F.lit(GPS_EPOCH)), F.floor(adj / 86400.0).cast("int"))


def decimal_year(d: Column | str) -> Column:
    """SC7 — decimal year = year + (doy-1)/365.25
    (differencing_functions.py:1331, 1922)."""
    c = F.col(d) if isinstance(d, str) else d
    return F.year(c) + (F.dayofyear(c) - F.lit(1)) / F.lit(365.25)


def normalize_geoid_alias(col: Column | str) -> Column:
    """SC8 — normalize geoid-name aliases: lowercase, strip spaces/underscores/
    hyphens (differencing_functions.py:2218-2237). The alias→grid-file map
    itself is a broadcast lookup join (see sources.catalog)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(F.lower(c), " _-", "")


def spherical_gamma(h: Column, sills: list[float], ranges: list[float],
                    nugget: float = 0.0) -> Column:
    """SC10 — nested spherical variogram γ(h) = nugget + Σᵢ Cᵢ·sph(h/aᵢ)
    with sph(u) = 1.5u − 0.5u³ for u ≤ 1 else 1
    (variography_uncertainty.py:574-607; nugget always last :569-572)."""
    gamma: Column = F.lit(float(nugget))
    for c_i, a_i in zip(sills, ranges):
        u = h / F.lit(float(a_i))
        gamma = gamma + F.when(
            h <= F.lit(float(a_i)),
            F.lit(float(c_i)) * (F.lit(1.5) * u - F.lit(0.5) * F.pow(u, 3)),
        ).otherwise(F.lit(float(c_i)))
    return gamma


def dist2d(dx: Column, dy: Column) -> Column:
    """SC12 — Euclidean distance (variography_uncertainty.py:405-411)."""
    return F.sqrt(dx * dx + dy * dy)


def quadrature(*cols: Column) -> Column:
    """SC14 — √(Σ xᵢ²) (variography_uncertainty.py:1562-1573, 1713-1714)."""
    acc = None
    for c in cols:
        acc = c * c if acc is None else acc + c * c
    return F.sqrt(acc)


def utm_zone(lon: Column) -> Column:
    """SC16 — UTM zone = int((lon+180)/6)+1 (differencing_functions.py:1164)."""
    return (F.floor((lon + F.lit(180.0)) / F.lit(6.0)) + F.lit(1)).cast("int")


def utm_epsg(lon: Column, lat: Column) -> Column:
    """SC16 — EPSG 326xx (north) / 327xx (south) from lon/lat
    (differencing_functions.py:1156-1177)."""
    zone = utm_zone(lon)
    return F.when(lat >= 0, F.lit(32600) + zone).otherwise(F.lit(32700) + zone)
