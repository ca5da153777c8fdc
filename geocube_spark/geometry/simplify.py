"""Douglas-Peucker geometry simplification (geopandas ``.simplify``
parity, GEOS ``preserve_topology=False`` semantics).

Per-ring iterative Douglas-Peucker with the point-segment distance
step vectorized (the stack loop is O(kept points) Python; each step
measures ALL candidate points of its span in one numpy expression).
Rings keep first == last; a ring that collapses below 4 points
(triangle + closure) is dropped — for an outer ring that drops the
whole part, matching GEOS's empty-geometry behavior for
sub-tolerance polygons.
"""

from __future__ import annotations

import numpy as np

from . import wkb as W


def simplify_ring(ring: np.ndarray, tolerance: float) -> np.ndarray:
    """Douglas-Peucker on a closed or open coordinate chain."""
    pts = np.asarray(ring, dtype=np.float64)
    n = len(pts)
    if n <= 2:
        return pts
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    x, y = pts[:, 0], pts[:, 1]
    tol2 = float(tolerance) * float(tolerance)
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        ax, ay, bx, by = x[a], y[a], x[b], y[b]
        sx, sy = bx - ax, by - ay
        seg2 = sx * sx + sy * sy
        qx = x[a + 1:b]
        qy = y[a + 1:b]
        if seg2 == 0.0:
            d2 = (qx - ax) ** 2 + (qy - ay) ** 2
        else:
            # perpendicular distance to the infinite line through a-b
            # (classic DP uses the line, not the clamped segment)
            cross = (qx - ax) * sy - (qy - ay) * sx
            d2 = cross * cross / seg2
        i = int(np.argmax(d2))
        if d2[i] > tol2:
            m = a + 1 + i
            keep[m] = True
            stack.append((a, m))
            stack.append((m, b))
    return pts[keep]


def simplify_geometry(geom, tolerance: float):
    """Simplified copy of a Geometry; None when it collapses away."""
    t = geom.geom_type
    if t in (W.POINT, W.MULTIPOINT):
        return geom
    if t == W.LINESTRING:
        out = simplify_ring(geom.parts, tolerance)
        return W.Geometry(t, out) if len(out) >= 2 else None
    if t == W.MULTILINESTRING:
        parts = [simplify_ring(r, tolerance) for r in geom.parts]
        parts = [p for p in parts if len(p) >= 2]
        return W.Geometry(t, parts) if parts else None
    if t == W.POLYGON:
        rings = _simplify_rings(geom.parts, tolerance)
        return W.Geometry(t, rings) if rings else None
    if t == W.MULTIPOLYGON:
        polys = []
        for poly in geom.parts:
            rings = _simplify_rings(poly, tolerance)
            if rings:
                polys.append(rings)
        return W.Geometry(t, polys) if polys else None
    if t == W.GEOMETRYCOLLECTION:
        subs = [simplify_geometry(g, tolerance) for g in geom.parts]
        subs = [g for g in subs if g is not None]
        return W.Geometry(t, subs) if subs else None
    raise ValueError(f"bad geom_type {t}")  # pragma: no cover


def _simplify_rings(rings, tolerance):
    out = []
    for j, ring in enumerate(rings):
        r = simplify_ring(ring, tolerance)
        if len(r) >= 4:  # triangle + closing point
            out.append(r)
        elif j == 0:
            return []  # outer ring collapsed -> whole part gone
    return out


def simplify_wkb(blob, tolerance: float):
    """WKB -> simplified WKB (or None when the geometry collapses)."""
    g = simplify_geometry(W.loads(bytes(blob)), tolerance)
    return None if g is None else g.to_wkb()


# ---------------------------------------------------------------------------
# convex hull (geopandas ``.convex_hull`` parity)
# ---------------------------------------------------------------------------

def convex_hull(px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain -> (k, 2) CCW hull vertices, unclosed.
    Input order/duplicates don't matter. Collinear inputs give the
    2-point extreme segment; k may be 1 or 2 for degenerate inputs."""
    # np.unique sorts the rows lexicographically (x, then y)
    pts = np.unique(np.column_stack([px, py]).astype(np.float64), axis=0)
    if len(pts) <= 2:
        return pts

    def _half(seq):
        out = []
        for p in seq:
            while len(out) >= 2 and _cross(out[-2], out[-1], p) <= 0:
                out.pop()
            out.append(p)
        return out[:-1]

    return np.asarray(_half(pts) + _half(pts[::-1]), dtype=np.float64)


def _cross(o, a, p):
    return (a[0] - o[0]) * (p[1] - o[1]) - (a[1] - o[1]) * (p[0] - o[0])


def convex_hull_points(pts: np.ndarray) -> np.ndarray:
    """:func:`convex_hull` of ``(n, 2)`` points as a CCW hull ring,
    closed (first == last) when it has 3+ vertices. Degenerate inputs
    (all collinear) return the 2-point extreme chain unclosed."""
    pts = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    hull = convex_hull(pts[:, 0], pts[:, 1])
    return np.vstack([hull, hull[:1]]) if len(hull) >= 3 else hull


def convex_hull_wkb(blob):
    """WKB -> convex hull WKB (Polygon; LineString when all points
    are collinear; Point passthrough for single points) — GEOS
    ``.convex_hull`` result-type behavior."""
    g = W.loads(bytes(blob))
    pts = np.concatenate(
        [np.asarray(a, dtype=np.float64).reshape(-1, 2)
         for a in g.coord_arrays()]
    )
    ring = convex_hull_points(pts)
    if len(ring) == 1:
        return W.Geometry(W.POINT, ring[0]).to_wkb()
    if len(ring) == 2:
        return W.Geometry(W.LINESTRING, ring).to_wkb()
    return W.Geometry(W.POLYGON, [ring]).to_wkb()
