"""Seeded inputs and engine-independent exact references.

Every input is a pure function of ``(workload, seed)``: the counts,
sizes and grid are fixed per workload and the seed only moves the
geometries, so runs with different seeds do the same amount of work.

Geometry is snapped to a quarter-pixel lattice of a power-of-two
resolution, so every coordinate, pixel transform and cell-centre test
is exact in float64 and the burn reference needs no tolerance:

* a point sits on a cell centre and burns exactly that cell;
* a quad's edges sit a quarter pixel inside its cell block, so no
  cell centre lies on an edge and the block is exactly what the
  centre rule burns;
* values are multiples of 1/4 below 2^12, so every sum is exact in
  any order.

The interpolation input samples a linear field ``a*x + b*y + c``,
which barycentric (Delaunay linear) interpolation reproduces up to
rounding at every cell inside the convex hull of the points.

WKB is encoded here with numpy, not with the engine's codec.
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass, field

import numpy as np

# golden-ratio-family multipliers of the low-discrepancy sequences
_ALPHA = (0.6180339887498949, 0.7548776662466927, 0.5698402909980532,
          0.3829757679062374, 0.2451223337533073)

FIELD = (1.25, -2.5, 3.0)   # a, b, c of the sampled linear field


@dataclass(kw_only=True)
class Grid:
    """A square grid of ``grid`` x ``grid`` cells of 2**-res_exp
    degrees, top-left corner at (lon0, lat_top), in ``tile`` px tiles."""

    grid: int
    tile: int = 256
    res_exp: int
    lon0: float
    lat_top: float

    @property
    def res(self) -> float:
        return 2.0 ** -self.res_exp

    @property
    def ntx(self) -> int:
        return self.grid // self.tile

    def geom_json(self) -> str:
        """The grid's extent as the GeoJSON ``geom=`` argument."""
        x1 = self.lon0 + self.grid * self.res
        y0 = self.lat_top - self.grid * self.res
        return json.dumps({"type": "Polygon", "coordinates": [[
            [self.lon0, y0], [x1, y0], [x1, self.lat_top],
            [self.lon0, self.lat_top], [self.lon0, y0]]]})

    def bbox(self, win) -> tuple:
        """Geo bbox 8 px inside the tile range (tx0, ty0, tx1, ty1)."""
        tx0, ty0, tx1, ty1 = win
        t, r = self.tile, self.res
        return (self.lon0 + (tx0 * t + 8) * r,
                self.lat_top - ((ty1 + 1) * t - 8) * r,
                self.lon0 + ((tx1 + 1) * t - 8) * r,
                self.lat_top - (ty0 * t + 8) * r)


def windows(spec: Grid, seed: int, n: int, hot_tile=None) -> list:
    """``n`` read windows of one tile, every 4th two tiles wide; with
    ``hot_tile`` every other window holds that tile."""
    rng = np.random.default_rng(seed + 7919)
    out = []
    for k in range(n):
        wx = 1 + (k % 4 == 3)
        if hot_tile is not None and k % 2 == 0:
            tx0 = hot_tile[0] - int(rng.integers(0, wx))
            ty0 = hot_tile[1]
        else:
            tx0 = int(rng.integers(0, spec.ntx - wx + 1))
            ty0 = int(rng.integers(0, spec.ntx))
        out.append((tx0, ty0, tx0 + wx - 1, ty0))
    return out


def write_parquet(table, path: str, n_files: int) -> None:
    """``n_files`` parquet files, so a scan gets ``n_files`` tasks."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))


def _frac_seq(n: int, seed: int) -> np.ndarray:
    """(5, n) additive-recurrence sequences with seeded phases."""
    phase = np.random.default_rng(seed).random(len(_ALPHA))
    i = np.arange(n, dtype=np.float64)
    return np.stack([(i * a + p) % 1.0 for a, p in zip(_ALPHA, phase)])


def _wkb_points(x: np.ndarray, y: np.ndarray) -> list:
    n = len(x)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, :5] = np.frombuffer(struct.pack("<BI", 1, 1), dtype=np.uint8)
    buf[:, 5:13] = x.astype("<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = y.astype("<f8").view(np.uint8).reshape(n, 8)
    raw = buf.tobytes()
    return [raw[k * 21:(k + 1) * 21] for k in range(n)]


def _wkb_boxes(x0, y0, x1, y1) -> list:
    """Closed 5-vertex single-ring polygons, little-endian WKB."""
    n = len(x0)
    head = np.frombuffer(struct.pack("<BIII", 1, 3, 1, 5), dtype=np.uint8)
    ring = np.stack([x0, y0, x1, y0, x1, y1, x0, y1, x0, y0], axis=1)
    buf = np.empty((n, len(head) + 80), dtype=np.uint8)
    buf[:, :len(head)] = head
    buf[:, len(head):] = ring.astype("<f8").view(np.uint8).reshape(n, 80)
    raw = buf.tobytes()
    w = buf.shape[1]
    return [raw[k * w:(k + 1) * w] for k in range(n)]


# ---------------------------------------------------------------------------
# burn workload: grouped, replace (last seq wins), one hot (group, tile)
# ---------------------------------------------------------------------------

@dataclass(kw_only=True)
class BurnSpec(Grid):
    n_docs: int
    n_groups: int
    hot_every: int            # every k-th document: hot tile, group 0
    hot_tile: tuple           # (tile column, tile row)


@dataclass
class BurnInput:
    c0: np.ndarray      # first covered column
    r0: np.ndarray      # first covered row
    w: np.ndarray       # covered columns (1 for points)
    h: np.ndarray       # covered rows
    value: np.ndarray
    group: np.ndarray
    docs: object        # arrow table (doc_id, spans)


def burn_input(spec: BurnSpec, seed: int) -> BurnInput:
    """Half points, half 16-47 px quads, as in the flagship burn."""
    import pyarrow as pa

    n, g, t = spec.n_docs, spec.grid, spec.tile
    u = _frac_seq(n, seed)
    i = np.arange(n)
    is_pt = i % 2 == 0
    w = np.where(is_pt, 1, 16 + np.floor(32 * u[2]).astype(np.int64))
    h = np.where(is_pt, 1, 16 + np.floor(32 * u[3]).astype(np.int64))
    hot = i % spec.hot_every == spec.hot_every - 1
    hx, hy = spec.hot_tile
    c0 = np.where(hot, hx * t + np.floor(u[0] * (t - w + 1)),
                  np.floor(u[0] * (g - w + 1))).astype(np.int64)
    r0 = np.where(hot, hy * t + np.floor(u[1] * (t - h + 1)),
                  np.floor(u[1] * (g - h + 1))).astype(np.int64)
    value = (1.0 + np.floor(u[4] * 4000.0)) / 4.0
    group = np.where(hot, 0, (i * 7 // 3) % spec.n_groups)

    # pixel -> geo: x = lon0 + X*res, y = lat_top - Y*res (exact)
    res = spec.res
    gx0 = spec.lon0 + np.where(is_pt, c0 + 0.5, c0 + 0.25) * res
    gx1 = spec.lon0 + (c0 + w - 0.25) * res
    gy_top = spec.lat_top - np.where(is_pt, r0 + 0.5, r0 + 0.25) * res
    gy_bot = spec.lat_top - (r0 + h - 0.25) * res
    blobs = np.empty(n, dtype=object)
    pts, qs = np.flatnonzero(is_pt), np.flatnonzero(~is_pt)
    blobs[pts] = _wkb_points(gx0[pts], gy_top[pts])
    blobs[qs] = _wkb_boxes(gx0[qs], gy_bot[qs], gx1[qs], gy_top[qs])

    rows = [{
        "doc_id": f"d-{k:08d}",
        "spans": [
            {"kind": "attr", "media_ref": "", "offset": 0,
             "text": json.dumps({"m0": float(value[k]),
                                 "grp": int(group[k])})},
            {"kind": "geom", "text": "Point" if is_pt[k] else "Polygon",
             "media_ref": blobs[k].hex(), "offset": 1},
            {"kind": "text", "text": "noise", "media_ref": "", "offset": 2},
        ],
    } for k in range(n)]
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    return BurnInput(c0, r0, w, h, value, group,
                     pa.Table.from_pylist(rows, schema))


@dataclass
class BurnReference:
    # (group_key, tile_id) -> (n_geoms, n_cells_burned, data cells, sum)
    tiles: dict = field(default_factory=dict)
    cells_burned: int = 0


def burn_reference(spec: BurnSpec, inp: BurnInput) -> BurnReference:
    """Paint each group's grid in doc (= seq) order: last write wins."""
    g, t, nt = spec.grid, spec.tile, spec.ntx
    ref = BurnReference()
    for gid in range(spec.n_groups):
        band = np.full((g, g), np.nan)
        burned = np.zeros((nt, nt), dtype=np.int64)
        geoms = np.zeros_like(burned)
        for k in np.flatnonzero(inp.group == gid):
            r0, c0 = inp.r0[k], inp.c0[k]
            r1, c1 = r0 + inp.h[k], c0 + inp.w[k]
            band[r0:r1, c0:c1] = inp.value[k]
            for ty in range(r0 // t, (r1 - 1) // t + 1):
                for tx in range(c0 // t, (c1 - 1) // t + 1):
                    geoms[ty, tx] += 1
                    burned[ty, tx] += (
                        (min(r1, (ty + 1) * t) - max(r0, ty * t))
                        * (min(c1, (tx + 1) * t) - max(c0, tx * t)))
        for ty, tx in zip(*np.nonzero(geoms)):
            blk = band[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t]
            data = blk[~np.isnan(blk)]
            ref.tiles[(str(gid), int(ty * nt + tx))] = (
                int(geoms[ty, tx]), int(burned[ty, tx]),
                int(data.size), float(data.sum()))
        ref.cells_burned += int(burned.sum())
    return ref


# ---------------------------------------------------------------------------
# interpolation workload
# ---------------------------------------------------------------------------

@dataclass(kw_only=True)
class InterpSpec(Grid):
    n_points: int


@dataclass
class InterpInput:
    x: np.ndarray
    y: np.ndarray
    table: object   # arrow table (seq, geometry_wkb, value)


def _splitmix(i: np.ndarray, salt: int) -> np.ndarray:
    """Hash-scrambled uniforms in [0, 1): generic-position scatter
    (rank-1 lattices put points on near-collinear rows)."""
    with np.errstate(over="ignore"):
        x = (i.astype(np.uint64) + np.uint64(salt)) * \
            np.uint64(0x9E3779B97F4A7C15)
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def interp_input(spec: InterpSpec, seed: int) -> InterpInput:
    """Scattered points of one linear field; the seed moves the points
    only, so the committed bytes do not depend on it."""
    import pyarrow as pa

    i = np.arange(spec.n_points)
    ext = spec.grid * spec.res
    x = spec.lon0 + _splitmix(i, 2 * seed + 1) * ext
    y = spec.lat_top - _splitmix(i, 2 * seed + 2) * ext
    a, b, c = FIELD
    table = pa.table({"seq": i.astype(np.int64),
                      "geometry_wkb": pa.array(_wkb_points(x, y), pa.binary()),
                      "value": a * x + b * y + c})
    return InterpInput(x, y, table)


def _convex_hull(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Counter-clockwise hull vertices (Andrew's monotone chain)."""
    pts = sorted(set(zip(x.tolist(), y.tolist())))

    def cross(o, p, q):
        return (p[0] - o[0]) * (q[1] - o[1]) - (p[1] - o[1]) * (q[0] - o[0])

    lower, upper = [], []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return np.asarray(lower[:-1] + upper[:-1])


@dataclass
class InterpReference:
    expected: np.ndarray     # (grid, grid) field at cell centres
    inside: np.ndarray       # centre inside the hull by > 1e-9 deg
    outside: np.ndarray      # centre outside the hull by > 1e-9 deg
    tol: float


def interp_reference(spec: InterpSpec, inp: InterpInput) -> InterpReference:
    g, res = spec.grid, spec.res
    X, Y = np.meshgrid(spec.lon0 + (np.arange(g) + 0.5) * res,
                       spec.lat_top - (np.arange(g) + 0.5) * res)
    hull = _convex_hull(inp.x, inp.y)
    # signed distance to the nearest CCW hull edge; cells within the
    # 1e-9 degree margin of the boundary stay unchecked
    dmin = np.full(X.shape, np.inf)
    for k in range(len(hull)):
        p, q = hull[k], hull[(k + 1) % len(hull)]
        ex, ey = q[0] - p[0], q[1] - p[1]
        d = (ex * (Y - p[1]) - ey * (X - p[0])) / np.hypot(ex, ey)
        np.minimum(dmin, d, out=dmin)
    a, b, c = FIELD
    scale = abs(c) + (abs(a) + abs(b)) * (abs(spec.lon0) + abs(spec.lat_top))
    return InterpReference(a * X + b * Y + c, dmin > 1e-9, dmin < -1e-9,
                           tol=1e-10 * scale)
