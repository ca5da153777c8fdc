"""Point-to-grid interpolation kernels, pure numpy.

Reference counterparts:
* rasterize_points_griddata (geocube/rasterize.py:136-191) —
  scipy.interpolate.griddata over (x, y) -> meshgrid, methods
  nearest / linear / cubic, optional rescale-to-unit-cube, fill_value.
* rasterize_points_radial (geocube/rasterize.py:194-239) —
  scipy.interpolate.Rbf, default function='linear'.
* interpolate_na post-pass (geocube/vector_to_cube.py:291-292 via
  rioxarray) — griddata from valid cells onto nodata cells.

The reference's tests compare these with rtol=atol=0.1
(test_core_integration.py:836-841), i.e. interpolator-family accuracy,
not bit-exactness across scipy versions.

Scale note (SURVEY.md §7): nearest is tileable with a halo that grows
until each tile finds a donor point; linear/cubic/RBF are globally
coupled (Delaunay / dense solve), so the distributed plan runs them
per (measurement, group) partition — exactly as single-node as the
reference, but parallel across bands/groups. 'cubic' is a real C1
Clough-Tocher interpolant (delaunay.cubic_interpolate): centroid-split
Bezier patches over our own Delaunay with globally-estimated vertex
gradients — reproduces quadratics exactly given exact gradients and
sits well inside the reference's 0.1 comparison tolerance
(test_core_integration.py:836-841) on smooth fields.
"""

from __future__ import annotations

import numpy as np

from .delaunay import Triangulation, cubic_interpolate, linear_interpolate

_CHUNK = 262144  # grid cells per distance-matrix block: bounds memory


class GridInterpolator:
    """Fit-once / evaluate-per-tile interpolator.

    The distributed interp stage (cube._interp) iterates the grid tile
    by tile for bounded memory; the globally-coupled structures — the
    Delaunay triangulation (+ CT gradients/patches) for
    linear/cubic and the dense RBF weight solve — are computed ONCE
    here and reused for every tile (previously rebuilt per tile:
    ~1 s/tile at 1k points). ``nearest`` has no global fit; its
    per-tile brute force is unchanged.
    """

    def __init__(self, function, method, px, py, values, *, fill=np.nan,
                 rescale=False):
        self.function = function
        self.method = method
        self.fill = fill
        self.px = np.asarray(px, dtype=np.float64)
        self.py = np.asarray(py, dtype=np.float64)
        self.values = np.asarray(values, dtype=np.float64)
        self.rescale = rescale
        self._ox = self._oy = 0.0
        self._sx = self._sy = 1.0
        px_f, py_f = self.px, self.py
        if rescale and len(self.px):
            self._sx = self.px.ptp() or 1.0
            self._sy = self.py.ptp() or 1.0
            self._ox, self._oy = self.px.min(), self.py.min()
            px_f = (self.px - self._ox) / self._sx
            py_f = (self.py - self._oy) / self._sy
        self._tri = None
        self._rbf = None
        if len(self.px) == 0:
            return
        if function == "points_griddata" and method in ("linear", "cubic"):
            self._tri = Triangulation(
                np.column_stack([px_f, py_f]), self.values
            )
        elif function == "points_radial":
            self._rbf = _rbf_fit(self.px, self.py, self.values, method)

    def payload(self) -> dict:
        """Everything expensive about the fit, as picklable arrays —
        the broadcast unit of the parallel tile-evaluation plan
        (cube._interp_chunks): Delaunay simplices, CT gradients, RBF
        weights. Workers rebuild with :meth:`from_payload` (vectorized
        O(n), no re-fitting)."""
        d = {
            "function": self.function, "method": self.method,
            "fill": self.fill, "rescale": self.rescale,
            "px": self.px, "py": self.py, "values": self.values,
            "scale": (self._ox, self._oy, self._sx, self._sy),
        }
        if self._tri is not None and self._tri._ok:
            d["tris"] = self._tri.tris
            if self.method == "cubic":
                d["grads"] = self._tri.gradients()
        if self._rbf is not None:
            d["rbf"] = self._rbf
        return d

    @classmethod
    def from_payload(cls, d: dict) -> "GridInterpolator":
        obj = cls.__new__(cls)
        obj.function, obj.method = d["function"], d["method"]
        obj.fill, obj.rescale = d["fill"], d["rescale"]
        obj.px, obj.py, obj.values = d["px"], d["py"], d["values"]
        obj._ox, obj._oy, obj._sx, obj._sy = d["scale"]
        obj._tri, obj._rbf = None, d.get("rbf")
        if "tris" in d:
            px_f, py_f = obj.px, obj.py
            if obj.rescale and len(obj.px):
                px_f = (obj.px - obj._ox) / obj._sx
                py_f = (obj.py - obj._oy) / obj._sy
            obj._tri = Triangulation(
                np.column_stack([px_f, py_f]), obj.values, tris=d["tris"]
            )
            if "grads" in d:
                obj._tri._grads = d["grads"]
        return obj

    def __call__(self, grid_x, grid_y):
        """Evaluate on a rectilinear tile; returns (H, W) float64."""
        gx, gy = np.meshgrid(
            np.asarray(grid_x, float), np.asarray(grid_y, float)
        )
        if len(self.px) == 0:
            return np.full(gx.shape, self.fill, dtype=np.float64)
        qx, qy = gx.ravel(), gy.ravel()
        if self.function == "points_radial":
            out = _rbf_eval(self._rbf, qx, qy)
        elif self.method == "nearest":
            px_f, py_f = self.px, self.py
            if self.rescale:
                px_f = (self.px - self._ox) / self._sx
                py_f = (self.py - self._oy) / self._sy
                qx = (qx - self._ox) / self._sx
                qy = (qy - self._oy) / self._sy
            out = nearest_interp(px_f, py_f, self.values, qx, qy)
        elif self.method.split(":", 1)[0] in ("idw", "invdist"):
            # gdal_grid 'invdist' inverse-distance-to-a-power; the
            # method string carries the parameters in gdal_grid's own
            # algorithm syntax ("invdist:power=2:smoothing=1:radius=40
            # :min_points=1"). rescale would distort distances.
            if self.rescale:
                raise ValueError("idw does not support rescale")
            p = _parse_idw(self.method)
            out = idw_interp(
                self.px, self.py, self.values, qx, qy,
                power=p["power"], smoothing=p["smoothing"],
                radius=p["radius"], min_points=p["min_points"],
                fill=self.fill,
            )
        elif self.method == "proximity":
            # distance (CRS units) to the nearest input point — the
            # GDAL/xarray-spatial proximity raster. Reuses the exact
            # nearest-index machinery: interpolating the point INDEX
            # recovers argmin (indices are exact in float64), then the
            # distance is one hypot. rescale would distort distances,
            # so it is rejected.
            if self.rescale:
                raise ValueError("proximity does not support rescale")
            idx = nearest_interp(
                self.px, self.py,
                np.arange(len(self.px), dtype=np.float64), qx, qy,
            ).astype(np.int64)
            out = np.hypot(qx - self.px[idx], qy - self.py[idx])
        elif self.method in ("linear", "cubic"):
            if self.rescale:
                qx = (qx - self._ox) / self._sx
                qy = (qy - self._oy) / self._sy
            if self.method == "linear":
                out = self._tri.linear(qx, qy, fill=self.fill)
            else:
                out = self._tri.cubic(qx, qy, fill=self.fill)
        else:
            raise ValueError(f"unsupported method {self.method!r}")
        return out.reshape(gx.shape)


def _rescale(px, py, qx, qy):
    """scipy griddata rescale=True: scale points to unit cube via ptp."""
    sx = px.ptp() or 1.0
    sy = py.ptp() or 1.0
    ox, oy = px.min(), py.min()
    return (
        (px - ox) / sx,
        (py - oy) / sy,
        (qx - ox) / sx,
        (qy - oy) / sy,
    )


_BUCKET_NN_MIN_POINTS = 2048   # below this, brute force wins


def _offsets_arange(counts):
    """Concatenated arange(0, c) per POSITIVE count."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = counts.cumsum()
    out = np.ones(total, dtype=np.int64)
    out[0] = 0
    out[ends[:-1]] = 1 - counts[:-1]
    return out.cumsum()


def _parse_idw(method: str) -> dict:
    """Parse a gdal_grid-style 'invdist' algorithm string:
    ``invdist[:power=2.0][:smoothing=0.0][:radius=<R>][:min_points=0]``
    (``idw`` is accepted as an alias; unknown keys raise)."""
    out = {"power": 2.0, "smoothing": 0.0, "radius": None,
           "min_points": 0}
    parts = method.split(":")
    for kv in parts[1:]:
        if not kv:
            continue
        k, _, v = kv.partition("=")
        if k not in out:
            raise ValueError(f"unknown idw parameter {k!r} in {method!r}")
        out[k] = int(v) if k == "min_points" else float(v)
    if out["power"] <= 0:
        raise ValueError("idw power must be > 0")
    return out


def idw_interp(px, py, values, qx, qy, *, power=2.0, smoothing=0.0,
               radius=None, min_points=0, fill=np.nan):
    """Inverse-distance-weighted interpolation — GDAL gdal_grid
    'invdist' semantics (GDAL alg_gridinvdist docs):

    * weight = 1 / (d^2 + smoothing^2)^(power/2) — the smoothing term
      enters the EFFECTIVE distance, so smoothing > 0 keeps weights
      finite everywhere
    * with smoothing == 0, a query coinciding exactly with an input
      point takes that point's value directly (lowest point index on
      a multi-hit, matching GDAL's first-found rule)
    * ``radius`` restricts donors to raw distance <= radius (the
      circular search ellipse); a query with fewer than
      ``min_points`` donors (or none) gets ``fill``

    Blocked O(queries x points) evaluation with bounded memory — the
    same shape as the brute nearest path; the distributed plan
    parallelizes evaluation per tile with the O(points) payload
    broadcast, and a radius-bounded variant is halo-tileable by
    construction (donors live within ``radius`` of the tile)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    values = np.asarray(values, dtype=np.float64)
    qx = np.asarray(qx, dtype=np.float64).ravel()
    qy = np.asarray(qy, dtype=np.float64).ravel()
    out = np.full(qx.shape, fill, dtype=np.float64)
    if len(px) == 0:
        return out
    s2 = float(smoothing) * float(smoothing)
    r2 = None if radius is None else float(radius) * float(radius)
    need = max(1, int(min_points))
    step = max(1, _CHUNK // max(1, len(px)))
    for i in range(0, len(qx), step):
        dx = qx[i:i + step, None] - px[None, :]
        dy = qy[i:i + step, None] - py[None, :]
        d2 = dx * dx + dy * dy
        with np.errstate(divide="ignore"):
            w = (d2 + s2) ** (-power / 2.0)
        if r2 is not None:
            w = np.where(d2 <= r2, w, 0.0)
        n_in = (w > 0).sum(axis=1)
        den = w.sum(axis=1)
        ok = (n_in >= need) & (den > 0) & np.isfinite(den)
        num = w @ values
        blk = np.full(len(den), fill, dtype=np.float64)
        np.divide(num, den, out=blk, where=ok)
        if s2 == 0.0:
            # exact hits: first (lowest-index) coincident point wins
            hit = d2 == 0.0
            any_hit = hit.any(axis=1)
            if any_hit.any():
                first = hit.argmax(axis=1)
                blk = np.where(any_hit, values[first], blk)
        out[i:i + step] = blk
    return out


def nearest_interp(px, py, values, qx, qy, rescale=False):
    """Value of nearest input point for each query point — exact.

    Small point sets: blocked brute force (O(|block| * n_points)).
    Large sets: uniform-grid bucket index with ring expansion —
    expected O(queries) instead of O(queries * points), which is what
    makes ``interp_nearest`` / ``interpolate_na`` usable when a (band,
    group) holds 1e5+ points. Both paths implement the same argmin
    semantics (ties -> lowest point index, i.e. lowest ``seq``) and a
    differential test pins their equality.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    values = np.asarray(values)
    qx = np.asarray(qx, dtype=np.float64).ravel()
    qy = np.asarray(qy, dtype=np.float64).ravel()
    if rescale:
        px, py, qx, qy = _rescale(px, py, qx, qy)
    if len(px) >= _BUCKET_NN_MIN_POINTS:
        idx = _bucket_nearest_idx(px, py, qx, qy)
        return values[idx].astype(np.float64, copy=False)
    out = np.empty(qx.shape, dtype=np.float64)
    step = max(1, _CHUNK // max(1, len(px)))
    for i in range(0, len(qx), step):
        dx = qx[i : i + step, None] - px[None, :]
        dy = qy[i : i + step, None] - py[None, :]
        idx = np.argmin(dx * dx + dy * dy, axis=1)
        out[i : i + step] = values[idx]
    return out


def _bucket_nearest_idx(px, py, qx, qy):
    """Exact nearest-point index per query via a uniform bucket grid.

    Ring-expansion search, vectorized over the active query set: ring
    r adds the buckets at Chebyshev bucket-distance r; a query stops
    once its best squared distance <= (r * cell)^2 (any unseen point
    is at least r*cell away, since the query sits somewhere inside its
    own bucket). Ties resolve to the lowest point index, matching
    np.argmin.
    """
    n = len(px)
    nb = max(1, int(np.sqrt(n / 2.0)))
    x0, y0 = px.min(), py.min()
    spanx = px.ptp() or 1.0
    spany = py.ptp() or 1.0
    cw = spanx / nb
    ch = spany / nb
    cell = min(cw, ch)
    bx = np.clip(((px - x0) / cw).astype(np.int64), 0, nb - 1)
    by = np.clip(((py - y0) / ch).astype(np.int64), 0, nb - 1)
    code = by * nb + bx
    order = np.argsort(code, kind="stable")   # stable: in-bucket order
    starts = np.searchsorted(code[order], np.arange(nb * nb + 1))

    m = len(qx)
    qbx = np.clip(((qx - x0) / cw).astype(np.int64), 0, nb - 1)
    qby = np.clip(((qy - y0) / ch).astype(np.int64), 0, nb - 1)
    best_d2 = np.full(m, np.inf)
    best_i = np.full(m, -1, dtype=np.int64)
    active = np.arange(m)

    def scan(qsel, bxs, bys):
        """Candidate pass: points in buckets (bxs, bys) vs queries.
        Computes the pass-minimum (distance, lowest index) per query
        and merges it into the global best."""
        ok = (bxs >= 0) & (bxs < nb) & (bys >= 0) & (bys < nb)
        qs, bxs, bys = qsel[ok], bxs[ok], bys[ok]
        if not len(qs):
            return
        b = bys * nb + bxs
        cnt = starts[b + 1] - starts[b]
        nz = np.flatnonzero(cnt > 0)
        if not len(nz):
            return
        rep = np.repeat(qs[nz], cnt[nz])
        cand = order[
            np.repeat(starts[b[nz]], cnt[nz]) + _offsets_arange(cnt[nz])
        ]
        d2 = (qx[rep] - px[cand]) ** 2 + (qy[rep] - py[cand]) ** 2
        pass_d2 = np.full(m, np.inf)
        np.minimum.at(pass_d2, rep, d2)
        hit = d2 == pass_d2[rep]
        pass_i = np.full(m, n, dtype=np.int64)
        np.minimum.at(pass_i, rep[hit], cand[hit])
        touched = np.unique(rep)
        better = pass_d2[touched] < best_d2[touched]
        equal = pass_d2[touched] == best_d2[touched]
        tb = touched[better]
        best_d2[tb] = pass_d2[tb]
        best_i[tb] = pass_i[tb]
        te = touched[equal]
        best_i[te] = np.minimum(
            np.where(best_i[te] < 0, n, best_i[te]), pass_i[te]
        )

    r = 0
    max_r = 2 * nb + 2
    while len(active) and r <= max_r:
        if r == 0:
            scan(active, qbx[active], qby[active])
        else:
            # ring perimeter at Chebyshev bucket distance r
            offs = np.arange(-r, r + 1)
            top = np.stack([offs, np.full(len(offs), -r)], axis=1)
            bot = np.stack([offs, np.full(len(offs), r)], axis=1)
            mid = np.arange(-r + 1, r)
            left = np.stack([np.full(len(mid), -r), mid], axis=1)
            right = np.stack([np.full(len(mid), r), mid], axis=1)
            ring = np.concatenate([top, bot, left, right])
            rep_q = np.repeat(active, len(ring))
            dx = np.tile(ring[:, 0], len(active))
            dy = np.tile(ring[:, 1], len(active))
            scan(rep_q, qbx[rep_q] + dx, qby[rep_q] + dy)
        # done when every unseen point is provably farther: unseen
        # buckets sit at Chebyshev distance > r, hence at least r*cell
        # from anywhere in (or beyond) the query's bucket. Strict <
        # so an exact-distance tie in an unseen ring is never lost.
        done = best_d2[active] < (r * cell) ** 2
        active = active[~done]
        r += 1
    return best_i


def griddata_interp(px, py, values, grid_x, grid_y, *, method="nearest",
                    fill=np.nan, rescale=False):
    """scipy.interpolate.griddata equivalent onto a rectilinear grid.

    grid_x: (W,) cell-center xs; grid_y: (H,) cell-center ys.
    Returns (H, W) float64.
    """
    gx, gy = np.meshgrid(np.asarray(grid_x, float), np.asarray(grid_y, float))
    qx, qy = gx.ravel(), gy.ravel()
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    if len(px) == 0:
        return np.full(gx.shape, fill, dtype=np.float64)
    if method == "nearest":
        out = nearest_interp(px, py, values, qx, qy, rescale=rescale)
    elif method in ("linear", "cubic"):
        if rescale:
            px, py, qx, qy = _rescale(px, py, qx, qy)
        kernel = cubic_interpolate if method == "cubic" else linear_interpolate
        out = kernel(np.column_stack([px, py]), values, qx, qy, fill=fill)
    else:
        raise ValueError(f"unsupported griddata method {method!r}")
    return out.reshape(gx.shape)


# ---------------------------------------------------------------------------
# RBF (scipy.interpolate.Rbf parity)
# ---------------------------------------------------------------------------

def _rbf_kernel(r, function, epsilon):
    if function == "linear":
        return r
    if function == "cubic":
        return r**3
    if function == "quintic":
        return r**5
    if function == "thin_plate":
        return np.where(r == 0, 0.0, r**2 * np.log(np.where(r == 0, 1.0, r)))
    if function == "multiquadric":
        return np.sqrt((r / epsilon) ** 2 + 1)
    if function == "inverse":
        return 1.0 / np.sqrt((r / epsilon) ** 2 + 1)
    if function == "gaussian":
        return np.exp(-((r / epsilon) ** 2))
    raise ValueError(f"unsupported RBF function {function!r}")


# Hard cap on the dense RBF solve: the system is O(n^2) memory /
# O(n^3) time, so an uncapped call on a large point set dies in one
# task with an opaque OOM. 20k points ~= 3.2 GB of O(n^2) temporaries
# and a few seconds of LAPACK — the practical single-task ceiling.
RBF_MAX_POINTS = 20_000


def _rbf_fit(px, py, values, function):
    """Solve the dense RBF system once; returns the fitted model."""
    v = np.asarray(values, dtype=np.float64)
    n = len(px)
    if n > RBF_MAX_POINTS:
        raise ValueError(
            f"rasterize_points_radial: {n} input points exceed the "
            f"dense-solve cap of {RBF_MAX_POINTS} (the RBF system is "
            "O(n^2) memory / O(n^3) time and cannot be tiled without "
            "changing semantics). Subsample the points, or use "
            "rasterize_points_griddata (nearest/linear/cubic), whose "
            "fit scales to far larger point sets."
        )
    dx = px[:, None] - px[None, :]
    dy = py[:, None] - py[None, :]
    r = np.hypot(dx, dy)
    # scipy default epsilon: "average distance between nodes" approximated
    # from the bounding-box area per node
    xi = np.stack([px, py])
    ximax = xi.max(axis=1)
    ximin = xi.min(axis=1)
    edges = (ximax - ximin)
    edges = edges[edges > 0]
    epsilon = np.power(np.prod(edges) / n, 1.0 / len(edges)) if len(edges) else 1.0
    A = _rbf_kernel(r, function, epsilon)
    w = np.linalg.solve(A, v)
    return {"px": px, "py": py, "w": w, "epsilon": epsilon,
            "function": function}


def _rbf_eval(model, qx, qy):
    px, py = model["px"], model["py"]
    w, epsilon = model["w"], model["epsilon"]
    function = model["function"]
    out = np.empty(qx.size, dtype=np.float64)
    q = np.column_stack([qx, qy])
    step = max(1, _CHUNK // max(1, len(px)))
    for i in range(0, len(q), step):
        rq = np.hypot(
            q[i : i + step, 0:1] - px[None, :], q[i : i + step, 1:2] - py[None, :]
        )
        out[i : i + step] = _rbf_kernel(rq, function, epsilon) @ w
    return out


def rbf_interp(px, py, values, grid_x, grid_y, *, function="linear"):
    """scipy Rbf(x, y, v, function=...) evaluated on meshgrid.

    Global dense solve O(n^3) — documented non-tileable, run per
    (measurement, group) partition like the reference runs it
    single-node (SURVEY.md §2.8 rasterize_points_radial).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    model = _rbf_fit(px, py, values, function)
    gx, gy = np.meshgrid(np.asarray(grid_x, float), np.asarray(grid_y, float))
    out = _rbf_eval(model, gx.ravel(), gy.ravel())
    return out.reshape(gx.shape)


def interpolate_na(arr, grid_x, grid_y, nodata, method="nearest"):
    """Fill nodata cells by interpolating from valid cells
    (rioxarray interpolate_na parity; reference vector_to_cube.py:291-292)."""
    arr = np.asarray(arr, dtype=np.float64)
    if isinstance(nodata, float) and np.isnan(nodata):
        mask = np.isnan(arr)
    else:
        mask = arr == nodata
    if not mask.any() or mask.all():
        return arr.copy()
    gx, gy = np.meshgrid(np.asarray(grid_x, float), np.asarray(grid_y, float))
    px, py, vals = gx[~mask], gy[~mask], arr[~mask]
    out = arr.copy()
    if method == "nearest":
        out[mask] = nearest_interp(px, py, vals, gx[mask], gy[mask])
    elif method in ("linear", "cubic"):
        kernel = cubic_interpolate if method == "cubic" else linear_interpolate
        filled = kernel(
            np.column_stack([px, py]), vals, gx[mask], gy[mask], fill=nodata
        )
        out[mask] = filled
    else:
        raise ValueError(f"unsupported interpolate_na method {method!r}")
    return out
