"""Geometry without a GIS engine — WKT polygons, point-in-polygon, area.

The reference uses shapely/rasterio for these (stable_unstable_areas.py:
598-638 rasterize, 288-306 vector read; variography_uncertainty.py:1015-1034
prepared-geometry containment). Here geometry is data, not a C library:
polygons travel as WKT strings in small DataFrames, and the predicates
are vectorized numpy kernels — even-odd ray casting (holes supported),
shoelace area, Douglas–Peucker simplification.

Scale note: zone tables are tiny (tens of polygons) while pixel tables are
huge, so geometry runs on the zone side only (the scanline rasterizer in
operators/zones, the σ_A samplers in operators/uncertainty); the pixel
side meets it through a (row, col) join.
"""

from __future__ import annotations

import re

import numpy as np

_RING_RE = re.compile(r"\(([^()]+)\)")


def parse_wkt_polygon(wkt: str) -> list[np.ndarray]:
    """Parse POLYGON/MULTIPOLYGON WKT into a list of (n,2) float rings.

    Even-odd semantics downstream means outer rings and holes need no
    distinction. Raises ValueError on non-polygon WKT (mirrors the
    geometry-validity filter F8, stable_unstable_areas.py:295-298).
    """
    head = wkt.strip().split("(", 1)[0].strip().upper()
    if head not in ("POLYGON", "MULTIPOLYGON"):
        raise ValueError(f"not a polygon WKT: {head!r}")
    rings = []
    for ring_txt in _RING_RE.findall(wkt):
        pts = []
        for pair in ring_txt.split(","):
            xy = pair.split()
            if len(xy) < 2:
                raise ValueError(f"bad WKT coordinate: {pair!r}")
            pts.append((float(xy[0]), float(xy[1])))
        rings.append(np.asarray(pts, dtype=np.float64))
    if not rings:
        raise ValueError("empty polygon WKT")
    return rings


def pip_mask(xs: np.ndarray, ys: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Vectorized even-odd ray casting: True where (x, y) is inside.

    Equivalent to the reference's shapely `contains` predicate sites
    (variography_uncertainty.py:1015-1034, 1336-1341). Points exactly on
    an edge follow the half-open convention (stable under grid sampling).
    """
    inside = np.zeros(xs.shape, dtype=bool)
    for ring in rings:
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        for i in range(x1.shape[0]):
            xi1, yi1, xi2, yi2 = x1[i], y1[i], x2[i], y2[i]
            if yi1 == yi2:
                continue
            cond = ((yi1 > ys) != (yi2 > ys))
            if not cond.any():
                continue
            t = (ys - yi1) / (yi2 - yi1)
            crosses = cond & (xs < xi1 + t * (xi2 - xi1))
            inside ^= crosses
    return inside


# one polygon part: "(" ring ("," ring)* ")" where ring = "(coords)"
_GROUP_RE = re.compile(r"\(\s*\([^()]*\)(?:\s*,\s*\([^()]*\))*\s*\)")


def parse_wkt_ring_groups(wkt: str) -> list[list[np.ndarray]]:
    """Parse into per-polygon ring groups: each group's first ring is the
    outer boundary, the rest are holes (WKT ordering convention). A
    POLYGON yields one group; a MULTIPOLYGON one group per part."""
    head = wkt.strip().split("(", 1)[0].strip().upper()
    if head not in ("POLYGON", "MULTIPOLYGON"):
        raise ValueError(f"not a polygon WKT: {head!r}")
    groups = []
    for grp_txt in _GROUP_RE.findall(wkt):
        rings = []
        for ring_txt in _RING_RE.findall(grp_txt):
            pts = []
            for pair in ring_txt.split(","):
                xy = pair.split()
                if len(xy) < 2:
                    raise ValueError(f"bad WKT coordinate: {pair!r}")
                pts.append((float(xy[0]), float(xy[1])))
            rings.append(np.asarray(pts, dtype=np.float64))
        if rings:
            groups.append(rings)
    if not groups:
        raise ValueError("empty polygon WKT")
    return groups


def polygon_area(wkt: str) -> float:
    """Shoelace area: Σ over polygon parts of (outer − Σ holes), using
    WKT ring-group structure — correct for MULTIPOLYGON (each part's
    first ring is its outer boundary) and polygons with holes; matches
    shapely `.area` for valid geometry (F9 min-area filter,
    stable_unstable_areas.py:388-394; R9 detailed area,
    variography_uncertainty.py:79-91).
    """
    def shoelace(ring: np.ndarray) -> float:
        x, y = ring[:, 0], ring[:, 1]
        return 0.5 * abs(float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1])))

    total = 0.0
    for rings in parse_wkt_ring_groups(wkt):
        total += shoelace(rings[0]) - sum(shoelace(r) for r in rings[1:])
    return total


def polygon_bounds(wkt: str) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) of all rings."""
    rings = parse_wkt_polygon(wkt)
    allpts = np.vstack(rings)
    return (float(allpts[:, 0].min()), float(allpts[:, 1].min()),
            float(allpts[:, 0].max()), float(allpts[:, 1].max()))


def simplify_ring(ring: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker polyline simplification of one closed ring
    (first point == last point): drop vertices whose perpendicular
    distance to the kept chord is ≤ tol. Iterative stack (no recursion
    limit); endpoints always kept, and a degenerate result falls back
    to the original ring so output stays a valid closed ring."""
    n = len(ring)
    if n <= 4:
        return ring
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        a, b = ring[i], ring[j]
        seg = b - a
        pts = ring[i + 1:j]
        L2 = float(seg @ seg)
        if L2 == 0.0:
            d = np.hypot(pts[:, 0] - a[0], pts[:, 1] - a[1])
        else:
            # perpendicular distance to the infinite line through a-b
            d = np.abs(np.cross(seg, pts - a)) / np.sqrt(L2)
        kmax = int(np.argmax(d))
        if d[kmax] > tol:
            mid = i + 1 + kmax
            keep[mid] = True
            stack.append((i, mid))
            stack.append((mid, j))
    out = ring[keep]
    if len(out) < 4:          # collapsed below a closed triangle
        return ring
    return out


def simplify_wkt(wkt: str, tol: float) -> str:
    """F9 — `geom.simplify(tol)` analog (stable_unstable_areas.py:
    388-394): Douglas–Peucker on every ring of the polygon, WKT in/out.
    Zone tables are tiny by design (broadcast side), so this runs
    driver-side or in the zone-table map — never on the pixel side."""
    groups = parse_wkt_ring_groups(wkt)
    multi = len(groups) > 1
    parts = []
    for rings in groups:
        rs = []
        for r in rings:
            s = simplify_ring(r, tol)
            rs.append(", ".join(f"{p[0]:.10g} {p[1]:.10g}" for p in s))
        parts.append("(" + ", ".join(f"({r})" for r in rs) + ")")
    if multi:
        return "MULTIPOLYGON (" + ", ".join(parts) + ")"
    return "POLYGON " + parts[0]
