"""Certified halo-tiled linear (Delaunay barycentric) interpolation.

Retires the last single-task weak spot (verdict r04 item 1): the
global-Delaunay fit of ``rasterize_points_griddata(method='linear')``
(reference geocube/rasterize.py:136-191 via scipy griddata). Linear
barycentric interpolation is locally determined — a cell's value
depends only on the Delaunay triangle containing it — so each tile
can fit its OWN small triangulation over the points inside a grown
halo, with a per-cell certificate that proves the local answer equals
the global one:

* **Triangle certificate** (Delaunay empty-circumcircle property): a
  triangle of the LOCAL triangulation whose circumcircle lies inside
  the gathered region R is empty of local points; since the local set
  contains EVERY global point in R, the circle is empty of all points
  — the triangle is a global Delaunay triangle, and barycentric
  interpolation inside it is the global answer. Hull-aware form: only
  the circle's intersection WITH THE GLOBAL CONVEX HULL needs to be
  point-free (every point lies in the hull), so a circle escaping R
  is still certified when each escaping piece — the hull clipped to
  the beyond-R halfplane — is missed by the disk. This is what makes
  hull-boundary sliver triangles (whose raw circumcircles span the
  whole domain) certifiable from a thin halo.
* **NaN certificate** (global convex hull, computed exactly by a
  cheap distributed reduce): a cell strictly outside the hull by more
  than the locate tolerance is outside every global triangle — fill
  in both fits.

A tile whose every cell carries one of the two certificates is DONE;
anything else (sliver triangles near the hull whose circumcircles
escape R, cells inside the hull but outside the local hull) stays
unresolved and the halo doubles — grow-until-stable, the same
protocol as the nearest-interp halo. The final round gathers every
point (R = the whole plane), where the local fit IS the global fit
(identical seq-sorted point order -> identical triangulation), so
termination with global-exact values is unconditional.

Floating-point note: a certified triangle is the same three physical
points in both fits, but the local and global builds insert different
point sets in a different order, so its stored vertex ORDER (and its
index in the triangle list, which breaks locate ties on shared edges)
may differ and barycentric weights can differ in the last ulp (values
agree to ~1e-15 relative; the parity tests pin 1e-12). The NaN
pattern is bitwise identical.
"""

from __future__ import annotations

import numpy as np

from ..geometry.simplify import convex_hull  # noqa: F401 (the band hull)
from .delaunay import Triangulation, _batch_circum


def strictly_outside(hull: np.ndarray, qx: np.ndarray, qy: np.ndarray,
                     pad: float) -> np.ndarray:
    """Mask of query points PROVABLY outside the hull by > ``pad``.

    For a CCW convex polygon each edge line supports the hull, so a
    point at signed distance < -pad from any edge line is at least
    ``pad`` from the whole polygon — a conservative certificate that
    the global locate (barycentric eps ~1e-12 relative) returns -1.
    Degenerate hulls (< 3 vertices) have no triangles: everything is
    outside."""
    qx = np.asarray(qx, dtype=np.float64)
    qy = np.asarray(qy, dtype=np.float64)
    if len(hull) < 3:
        return np.ones(qx.shape, dtype=bool)
    out = np.zeros(qx.shape, dtype=bool)
    for i in range(len(hull)):
        x0, y0 = hull[i]
        x1, y1 = hull[(i + 1) % len(hull)]
        ex, ey = x1 - x0, y1 - y0
        ln = np.hypot(ex, ey)
        if ln == 0:
            continue
        s = (ex * (qy - y0) - ey * (qx - x0)) / ln
        out |= s < -pad
    return out


def _clip_halfplane(poly: np.ndarray, a: float, b: float,
                    c: float) -> np.ndarray:
    """Sutherland-Hodgman clip of a convex polygon to the halfplane
    ``a*x + b*y >= c``. Returns (k, 2), possibly k < 3 (degenerate)
    or k == 0 (empty)."""
    if len(poly) == 0:
        return poly
    out = []
    n = len(poly)
    s = a * poly[:, 0] + b * poly[:, 1] - c
    for i in range(n):
        j = (i + 1) % n
        si, sj = s[i], s[j]
        if si >= 0:
            out.append(poly[i])
        if (si >= 0) != (sj >= 0):
            t = si / (si - sj)
            out.append(poly[i] + t * (poly[j] - poly[i]))
    return np.asarray(out, dtype=np.float64) if out else \
        np.empty((0, 2), dtype=np.float64)


def _dist_to_convex(poly: np.ndarray, cx: np.ndarray,
                    cy: np.ndarray) -> np.ndarray:
    """Euclidean distance from points to a convex polygon (0 inside).
    Handles degenerate polygons (segment / point)."""
    if len(poly) == 0:
        return np.full(cx.shape, np.inf)
    if len(poly) == 1:
        return np.hypot(cx - poly[0, 0], cy - poly[0, 1])
    n = len(poly)
    dmin = np.full(cx.shape, np.inf)
    inside = np.ones(cx.shape, dtype=bool) if n >= 3 else \
        np.zeros(cx.shape, dtype=bool)
    for i in range(n if n >= 3 else n - 1):
        x0, y0 = poly[i]
        x1, y1 = poly[(i + 1) % n] if n >= 3 else poly[i + 1]
        ex, ey = x1 - x0, y1 - y0
        ln2 = ex * ex + ey * ey
        if ln2 == 0:
            d = np.hypot(cx - x0, cy - y0)
        else:
            t = np.clip(((cx - x0) * ex + (cy - y0) * ey) / ln2, 0, 1)
            d = np.hypot(cx - (x0 + t * ex), cy - (y0 + t * ey))
        dmin = np.minimum(dmin, d)
        if n >= 3:
            # CCW polygon: inside iff left of every edge
            inside &= (ex * (cy - y0) - ey * (cx - x0)) >= 0
    return np.where(inside, 0.0, dmin)


def tile_linear_certified(px, py, vals, gx, gy, rect, hull, *,
                          n_global: int, fill=np.nan):
    """Evaluate one tile from its halo point set, with certificates.

    ``rect`` = (x0, x1, y0, y1) geometric bounds of the gathered
    region (+-inf where the halo ran off the grid edge — the edge
    buckets are unbounded, so every global point on that side is
    already in the set). ``hull`` = global convex hull (CCW).
    ``n_global`` = the band's total point count; when the local set is
    the whole band the tile is trivially certified (the fit IS the
    global fit).

    Returns (band (H, W) float64, certified: bool).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    vals = np.asarray(vals, dtype=np.float64)
    gxm, gym = np.meshgrid(np.asarray(gx, float), np.asarray(gy, float))
    qx, qy = gxm.ravel(), gym.ravel()
    band = np.full(qx.shape, fill, dtype=np.float64)
    is_global = len(px) == n_global

    span = max(
        (np.ptp(hull[:, 0]) if len(hull) else 0.0),
        (np.ptp(hull[:, 1]) if len(hull) else 0.0), 1e-300,
    )
    pad = 1e-9 * span

    if len(px) < 3:
        # fewer than 3 local points -> no triangles. Certified only if
        # that is the whole band (global fit is all-fill too).
        return band.reshape(gxm.shape), bool(is_global)

    try:
        tri = Triangulation(np.column_stack([px, py]), vals)
    except ValueError:
        # near-degenerate LOCAL subset broke the fp predicates
        # (delaunay's "near-degenerate" error): stay uncertified so the
        # halo grows — a wider subset may be buildable; if the WHOLE
        # band is degenerate the final full-gather round re-raises,
        # matching the global fit's error exactly
        if is_global:
            raise
        return band.reshape(gxm.shape), False
    if not tri._ok:
        # collinear local set: certified only when it is the whole band
        return band.reshape(gxm.shape), bool(is_global)

    loc = tri.locate(qx, qy)
    m = loc >= 0
    if m.any():
        # barycentric evaluation — same formula as Triangulation.linear
        t = tri.tris[loc[m]]
        a, b, c = tri._a[loc[m]], tri._b[loc[m]], tri._c[loc[m]]
        det = tri._det[loc[m]]
        sx, sy = qx[m], qy[m]
        l1 = ((b[:, 1] - c[:, 1]) * (sx - c[:, 0])
              + (c[:, 0] - b[:, 0]) * (sy - c[:, 1])) / det
        l2 = ((c[:, 1] - a[:, 1]) * (sx - c[:, 0])
              + (a[:, 0] - c[:, 0]) * (sy - c[:, 1])) / det
        l3 = 1.0 - l1 - l2
        band[m] = (l1 * tri.vals[t[:, 0]] + l2 * tri.vals[t[:, 1]]
                   + l3 * tri.vals[t[:, 2]])

    if is_global:
        return band.reshape(gxm.shape), True

    # certificates
    ok = True
    if m.any():
        ut = np.unique(loc[m])
        ux, uy, r2 = _batch_circum(tri.pts, tri.tris[ut])
        r = np.sqrt(np.maximum(r2, 0.0))
        x0, x1, y0, y1 = rect
        # inset by pad: a circle touching the gather boundary could
        # graze a point bucketed just beyond it
        # inf bounds certify their side unconditionally (inf
        # arithmetic: ux - r >= -inf is always True)
        contained = (
            (ux - r >= x0 + pad) & (ux + r <= x1 - pad)
            & (uy - r >= y0 + pad) & (uy + r <= y1 - pad)
            & (r2 >= 0)
        )
        escape = ~contained & (r2 >= 0)
        if escape.any() and len(hull) >= 3:
            # hull-aware certificate: the empty-circumcircle property
            # only needs the circle's intersection WITH THE HULL to be
            # point-free (every global point lies in the hull). Slivers
            # along the hull have huge circles that never fit R, but
            # their circle ∩ hull is a thin local lens — test each
            # escape side: clip the hull to the beyond-R halfplane and
            # require the disk to miss that piece by > pad.
            safe = np.ones(int(escape.sum()), dtype=bool)
            ex_, ey_, er_ = ux[escape], uy[escape], r[escape]
            for a, b, c in (
                (-1.0, 0.0, -x0), (1.0, 0.0, x1),
                (0.0, -1.0, -y0), (0.0, 1.0, y1),
            ):
                # halfplane "beyond" this R edge: a*x + b*y >= c with
                # c derived so finite edges clip, inf edges never do
                if not np.isfinite(c):
                    continue
                piece = _clip_halfplane(hull, a, b, c)
                if len(piece) == 0:
                    continue
                d = _dist_to_convex(piece, ex_, ey_)
                safe &= d > er_ + pad
            contained[escape] = safe
        ok &= bool(contained.all())
    if ok and (~m).any():
        ok = bool(strictly_outside(hull, qx[~m], qy[~m], pad).all())
    return band.reshape(gxm.shape), ok
