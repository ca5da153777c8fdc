"""Unit tests for the pure-numpy kernels (no Spark).

Mirrors the reference's test strategy (SURVEY.md §5): dtype matrix,
grid snapping calibrated against the reference's exact assertion, burn
semantics, vectorize counts/bounds.
"""

import numpy as np
import pytest

from geocube_spark.geometry import wkb as W
from geocube_spark.geometry.affine import Affine, affine_to_coords
from geocube_spark.geometry.crs import CRS, transform as crs_transform
from geocube_spark.grid.geobox import GeoBox, GeoBoxMaker, snap_bounds
from geocube_spark.kernels.dtypes import minimize_dtype
from geocube_spark.kernels.interpolate import (
    griddata_interp,
    interpolate_na,
    rbf_interp,
)
from geocube_spark.kernels.rasterize import geometry_cells, rasterize
from geocube_spark.kernels import vectorize as V


# ---------------------------------------------------------------------------
# WKB
# ---------------------------------------------------------------------------

def test_wkb_roundtrip_polygon():
    p = W.polygon(
        [(0, 0), (3, 0), (3, 3), (0, 3), (0, 0)],
        holes=[[(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)]],
    )
    p2 = W.loads(p.to_wkb())
    assert p2.type_name == "Polygon"
    assert len(p2.parts) == 2
    np.testing.assert_array_equal(p2.parts[0], p.parts[0])


def test_wkb_roundtrip_all_types():
    geoms = [
        W.point(1.5, -2.5),
        W.linestring([(0, 0), (1, 1), (2, 0)]),
        W.multipolygon([[[(0, 0), (1, 0), (1, 1), (0, 0)]]]),
        W.Geometry(W.MULTIPOINT, np.array([[0.0, 1.0], [2.0, 3.0]])),
    ]
    for g in geoms:
        g2 = W.loads(g.to_wkb())
        assert g2.geom_type == g.geom_type
        assert g2.bounds() == pytest.approx(g.bounds())


def test_wkb_hex_input():
    hexstr = W.point(10.0, 20.0).to_wkb().hex()
    g = W.loads(hexstr)
    assert tuple(g.parts) == (10.0, 20.0)


def test_wkb_geojson_bridge():
    gj = {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]]}
    g = W.from_geojson(gj)
    assert W.to_geojson(g)["type"] == "Polygon"


# ---------------------------------------------------------------------------
# CRS: Karney transverse Mercator vs independent Snyder series
# ---------------------------------------------------------------------------

def _snyder_utm(lon, lat, lon0):
    a = 6378137.0
    f = 1 / 298.257223563
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    k0 = 0.9996
    phi = np.radians(lat)
    lam = np.radians(lon - lon0)
    N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
    T = np.tan(phi) ** 2
    Cc = ep2 * np.cos(phi) ** 2
    A = np.cos(phi) * lam
    M = a * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * np.sin(2 * phi)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * phi)
        - (35 * e2**3 / 3072) * np.sin(6 * phi)
    )
    x = (
        k0 * N * (A + (1 - T + Cc) * A**3 / 6
                  + (5 - 18 * T + T**2 + 72 * Cc - 58 * ep2) * A**5 / 120)
        + 500000
    )
    y = k0 * (
        M
        + N
        * np.tan(phi)
        * (
            A**2 / 2
            + (5 - T + 9 * Cc + 4 * Cc**2) * A**4 / 24
            + (61 - 58 * T + T**2 + 600 * Cc - 330 * ep2) * A**6 / 720
        )
    )
    return x, y


def test_utm_forward_matches_snyder():
    lons = np.array([-90.5999, -90.5834, -87.1, -93.0001])
    lats = np.array([41.4834, 41.4999, 44.9, 38.2])
    xs, ys = _snyder_utm(lons, lats, -93.0)
    xk, yk = crs_transform(CRS(4326), CRS(32615), lons, lats)
    # Snyder's truncated series itself drifts a few mm at ~6 deg from
    # the central meridian; Karney is the more accurate of the two.
    assert np.abs(xs - xk).max() < 5e-3
    assert np.abs(ys - yk).max() < 5e-3


def test_utm_roundtrip():
    rng = np.random.RandomState(7)
    lons = -93.0 + rng.uniform(-3, 3, 200)
    lats = rng.uniform(-80, 84, 200)
    x, y = crs_transform(CRS(4326), CRS(32615), lons, lats)
    lon2, lat2 = crs_transform(CRS(32615), CRS(4326), x, y)
    assert np.abs(lon2 - lons).max() < 1e-9
    assert np.abs(lat2 - lats).max() < 1e-9


def test_webmercator():
    x, y = crs_transform(CRS(4326), CRS(3857), np.array([1.0]), np.array([0.0]))
    assert x[0] == pytest.approx(111319.49079327357)
    assert y[0] == pytest.approx(0.0)
    lon, lat = crs_transform(CRS(3857), CRS(4326), x, y)
    assert lon[0] == pytest.approx(1.0)


def test_crs_parsing():
    assert CRS.from_user_input("epsg:32615").epsg == 32615
    assert CRS.from_user_input("EPSG:4326").epsg == 4326
    assert CRS.from_user_input("urn:ogc:def:crs:OGC:1.3:CRS84").epsg == 4326
    assert CRS.from_user_input(3857).epsg == 3857
    with pytest.raises(ValueError):
        CRS.from_user_input("not-a-crs")


# ---------------------------------------------------------------------------
# Grid snap: calibrated against the reference's exact current assertion
# test_core_integration.py:789-798 (test_make_geocube__new_bounds_crs)
# ---------------------------------------------------------------------------

def test_snap_bounds_reference_exact():
    # measured bbox of wgs84_geom.geojson reprojected to EPSG:32614 with
    # our TM (agrees with Snyder to <1mm); the reference asserts the
    # snapped grid bounds exactly:
    bbox = (1665478.4998387436, 7018306.670154102,
            1665944.8613495904, 7018508.452283294)
    affine, w, h = snap_bounds(bbox, (-1.0, 1.0))
    gb = GeoBox(w, h, affine, CRS(32614))
    assert gb.bounds() == pytest.approx((1665478.0, 7018306.0, 1665945.0, 7018509.0))
    assert (w, h) == (467, 203)


def test_snap_bounds_exact_multiple_edges():
    # half-open: right edge exactly on the lattice must not add a pixel
    affine, w, h = snap_bounds((0.0, 0.0, 100.0, 50.0), (-10.0, 10.0))
    assert (w, h) == (10, 5)
    assert affine.c == 0.0 and affine.f == 50.0


def test_snap_bounds_align():
    affine, w, h = snap_bounds((3.0, 3.0, 17.0, 17.0), (-10.0, 10.0),
                               align_yx=(5.0, 5.0))
    # lattice offset by 5: floor((3-5)/10)*10+5 = -5
    assert affine.c == -5.0
    assert w == 3


def test_geobox_maker_like_exclusive():
    gb = GeoBox.from_bounds((0, 0, 10, 10), (-1, 1), 4326)
    with pytest.raises(AssertionError):
        GeoBoxMaker(output_crs="epsg:4326", like=gb).from_bounds_crs(None, None)
    with pytest.raises(AssertionError):
        GeoBoxMaker(resolution=(-1, 1), like=gb).from_bounds_crs(None, None)


def test_geobox_maker_resolution_required():
    # reference geobox.py:188-189 / test_core_integration.py:454-462
    with pytest.raises(RuntimeError, match="resolution"):
        GeoBoxMaker().from_bounds_crs((0, 0, 1, 1), 4326)


def test_geobox_maker_geom_crs_honored():
    geom = {
        "type": "Polygon",
        "coordinates": [[[0, 0], [100, 0], [100, 100], [0, 100], [0, 0]]],
        "crs": {"properties": {"name": "EPSG:3857"}},
    }
    gb = GeoBoxMaker(
        output_crs="epsg:3857", resolution=(-10, 10), geom=geom
    ).from_bounds_crs(None, None)
    assert gb.bounds() == pytest.approx((0, 0, 100, 100))
    assert gb.shape == (10, 10)


def test_affine_to_coords():
    c = affine_to_coords(Affine(10, 0, 700330.0, 0, -10, 4597070.0), 3, 2)
    np.testing.assert_allclose(c["x"], [700335.0, 700345.0, 700355.0])
    np.testing.assert_allclose(c["y"], [4597065.0, 4597055.0])


# ---------------------------------------------------------------------------
# dtype minimization matrix (reference test_core_integration.py:891-914)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "dtype,fill,expected",
    [
        ("uint16", 0, "uint16"),
        ("uint16", np.nan, "float32"),
        ("int32", np.nan, "float64"),
        ("int64", 0, "int64"),
        ("int8", np.nan, "float32"),
        ("bool", 0, "float64"),
        ("float32", np.nan, "float32"),
    ],
)
def test_minimize_dtype(dtype, fill, expected):
    assert minimize_dtype(np.dtype(dtype), fill) == np.dtype(expected)


# ---------------------------------------------------------------------------
# rasterize semantics
# ---------------------------------------------------------------------------

def test_burn_center_rule():
    # polygon edges at x=0..3, y=0..3 in pixel space: centers .5/1.5/2.5
    p = W.polygon([(0, 0), (3, 0), (3, 3), (0, 3), (0, 0)])
    rows, cols = geometry_cells(p, 5, 5)
    assert set(zip(rows.tolist(), cols.tolist())) == {
        (r, c) for r in range(3) for c in range(3)
    }


def test_burn_subpixel_polygon_not_touching_center():
    p = W.polygon([(0.6, 0.6), (0.9, 0.6), (0.9, 0.9), (0.6, 0.9), (0.6, 0.6)])
    rows, cols = geometry_cells(p, 3, 3)
    assert len(rows) == 0
    rows, cols = geometry_cells(p, 3, 3, all_touched=True)
    assert set(zip(rows.tolist(), cols.tolist())) == {(0, 0)}


def test_burn_hole():
    p = W.polygon(
        [(0, 0), (5, 0), (5, 5), (0, 5), (0, 0)],
        holes=[[(1, 1), (4, 1), (4, 4), (1, 4), (1, 1)]],
    )
    out = rasterize([p], [1.0], 5, 5, fill=0.0)
    assert out.sum() == 16  # ring of one-cell width
    assert out[2, 2] == 0.0


def test_burn_replace_last_wins():
    a = W.polygon([(0, 0), (3, 0), (3, 3), (0, 3), (0, 0)])
    b = W.polygon([(1, 1), (4, 1), (4, 4), (1, 4), (1, 1)])
    out = rasterize([a, b], [1.0, 2.0], 5, 5, fill=-9999.0)
    assert out[1, 1] == 2.0  # overlap: later geometry wins
    assert out[0, 0] == 1.0
    out = rasterize([b, a], [2.0, 1.0], 5, 5, fill=-9999.0)
    assert out[1, 1] == 1.0  # order reversed


def test_burn_add():
    a = W.polygon([(0, 0), (3, 0), (3, 3), (0, 3), (0, 0)])
    out = rasterize([a, a], [1.0, 2.0], 5, 5, fill=0.0, merge_alg="add")
    assert out[1, 1] == 3.0
    assert out[4, 4] == 0.0


def test_burn_add_nan_fill_stays_nan():
    # GDAL += onto NaN-initialized buffer stays NaN (bug-for-bug parity)
    a = W.polygon([(0, 0), (3, 0), (3, 3), (0, 3), (0, 0)])
    out = rasterize([a], [1.0], 5, 5, fill=np.nan, merge_alg="add")
    assert np.isnan(out).all()


def test_burn_points():
    pts = [W.point(0.5, 0.5), W.point(2.99, 1.01), W.point(5.5, 0.5)]
    out = rasterize(pts, [1.0, 2.0, 3.0], 3, 3, fill=0.0)
    assert out[0, 0] == 1.0
    assert out[1, 2] == 2.0
    assert out.sum() == 3.0  # out-of-grid point ignored


def test_burn_multipolygon_no_double_add():
    mp = W.multipolygon(
        [
            [[(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]],
            [[(1, 1), (3, 1), (3, 3), (1, 3), (1, 1)]],
        ]
    )
    out = rasterize([mp], [5.0], 4, 4, fill=0.0, merge_alg="add")
    # one geometry burns each covered cell once even where parts overlap
    assert out.max() == 5.0


def test_burn_line():
    ls = W.linestring([(0.1, 0.5), (3.9, 0.5)])
    rows, cols = geometry_cells(ls, 2, 4)
    assert set(rows.tolist()) == {0}
    assert set(cols.tolist()) == {0, 1, 2, 3}


# ---------------------------------------------------------------------------
# batched multi-ring scanline == per-geometry fallback
# ---------------------------------------------------------------------------

def _batched_cells_via_wkb(geoms, h, w, all_touched=False):
    """Run the batched burn-path machinery (WKB parse -> edges ->
    batch_polygon_cells [+ outline]) and return per-owner cell sets."""
    from geocube_spark.geometry.wkb import batch_parse_polygons
    from geocube_spark.kernels.rasterize import (
        batch_outline_cells,
        batch_polygon_cells,
        edges_from_varying_rings,
    )

    blobs = [g.to_wkb() for g in geoms]
    mask, parsed = batch_parse_polygons(blobs)
    assert mask.all(), "all inputs should take the batched path"
    x1, y1, x2, y2, own = edges_from_varying_rings(
        parsed["coords"], parsed["ring_len"],
        parsed["pos"][parsed["ring_owner"]],
    )
    fl, powner = batch_polygon_cells(x1, y1, x2, y2, own, h, w)
    if all_touched:
        fo, fown = batch_outline_cells(x1, y1, x2, y2, own, h, w)
        fl = np.concatenate([fl, fo])
        powner = np.concatenate([powner, fown])
        key = np.unique(powner * np.int64(h * w) + fl)
        powner, fl = key // (h * w), key % (h * w)
    out = {}
    for o in np.unique(powner):
        out[int(o)] = set(fl[powner == o].tolist())
    return out


@pytest.mark.parametrize("all_touched", [False, True])
def test_batched_multiring_matches_fallback(all_touched):
    """Donuts and multipolygons through the batched scanline produce
    exactly the per-geometry geometry_cells result."""
    donut = W.polygon(
        [(2.2, 2.2), (17.8, 2.2), (17.8, 17.8), (2.2, 17.8), (2.2, 2.2)],
        holes=[[(6.1, 6.1), (13.9, 6.1), (13.9, 13.9), (6.1, 13.9),
                (6.1, 6.1)]],
    )
    mp = W.multipolygon([
        [[(0.5, 0.5), (4.5, 0.5), (4.5, 4.5), (0.5, 4.5), (0.5, 0.5)]],
        [[(14.5, 14.5), (19.2, 14.5), (19.2, 19.2), (14.5, 19.2),
          (14.5, 14.5)],
         [(16.0, 16.0), (18.0, 16.0), (18.0, 18.0), (16.0, 18.0),
          (16.0, 16.0)]],
    ])
    tri_hole = W.polygon(
        [(1.0, 9.0), (19.0, 9.5), (10.0, 19.5), (1.0, 9.0)],
        holes=[[(8.0, 11.0), (12.0, 11.5), (10.0, 14.0), (8.0, 11.0)]],
    )
    geoms = [donut, mp, tri_hole]
    h = w = 20
    batched = _batched_cells_via_wkb(geoms, h, w, all_touched)
    for i, g in enumerate(geoms):
        rows, cols = geometry_cells(g, h, w, all_touched)
        expected = set((rows * w + cols).tolist())
        assert batched.get(i, set()) == expected, f"geom {i} differs"


def test_batch_parse_polygons_structure_roundtrip():
    """encode_polygons(parse(wkb)) preserves ring structure + coords."""
    from geocube_spark.geometry.wkb import (
        batch_parse_polygons,
        encode_polygons,
    )

    donut = W.polygon(
        [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)],
        holes=[[(2, 2), (4, 2), (4, 4), (2, 4), (2, 2)]],
    )
    mp = W.multipolygon([
        [[(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]],
        [[(5, 5), (8, 5), (8, 8), (5, 8), (5, 5)],
         [(6, 6), (7, 6), (7, 7), (6, 7), (6, 6)]],
    ])
    blobs = [donut.to_wkb(), mp.to_wkb()]
    mask, parsed = batch_parse_polygons(blobs)
    assert mask.all()
    again = encode_polygons(parsed["structs"], parsed["coords"])
    for orig, enc in zip([donut, mp], again):
        a, b = W.loads(orig.to_wkb()), W.loads(enc)
        assert [r.tolist() for rings in a.polygons() for r in rings] == \
               [r.tolist() for rings in b.polygons() for r in rings]


# ---------------------------------------------------------------------------
# interpolation
# ---------------------------------------------------------------------------

def test_bucket_nearest_matches_bruteforce():
    """The grid-bucket exact-NN path (large point sets) returns the
    identical argmin — including lowest-index tie-breaks and queries
    outside the point bbox — as the brute-force path."""
    from geocube_spark.kernels.interpolate import _bucket_nearest_idx

    rng = np.random.RandomState(13)
    n, m = 6000, 4000
    px, py = rng.rand(n) * 100, rng.rand(n) * 100
    qx = rng.rand(m) * 120 - 10
    qy = rng.rand(m) * 120 - 10
    got = _bucket_nearest_idx(px, py, qx, qy)
    ref = np.empty(m, dtype=np.int64)
    step = 64
    for i in range(0, m, step):
        d2 = (qx[i:i + step, None] - px[None, :]) ** 2 + (
            qy[i:i + step, None] - py[None, :]
        ) ** 2
        ref[i:i + step] = np.argmin(d2, axis=1)
    assert np.array_equal(got, ref)
    # exact ties (duplicated points, equidistant queries)
    px = np.tile(np.array([0.0, 2.0, 0.0, 2.0]), 800)
    py = np.tile(np.array([0.0, 0.0, 2.0, 2.0]), 800)
    qx = np.full(20, 1.0)
    qy = np.full(20, 1.0)
    got = _bucket_nearest_idx(px, py, qx, qy)
    assert (got == 0).all()    # lowest index wins every tie


def _incircle(a, b, c, d):
    """In-circle determinant (> 0: d strictly inside the circle of the
    CCW triangle a, b, c; rows are points) and its permanent."""
    ax, ay = a[:, 0] - d[:, 0], a[:, 1] - d[:, 1]
    bx, by = b[:, 0] - d[:, 0], b[:, 1] - d[:, 1]
    cx, cy = c[:, 0] - d[:, 0], c[:, 1] - d[:, 1]
    al, bl, cl = ax * ax + ay * ay, bx * bx + by * by, cx * cx + cy * cy
    det = (al * (bx * cy - by * cx) + bl * (cx * ay - cy * ax)
           + cl * (ax * by - ay * bx))
    perm = (al * (abs(bx * cy) + abs(by * cx))
            + bl * (abs(cx * ay) + abs(cy * ax))
            + cl * (abs(ax * by) + abs(ay * bx)))
    return det, perm


def _assert_delaunay(pts, tris):
    """Delaunay-lemma certificate for ``tris`` over distinct ``pts``:
    a valid triangulation of the convex hull (every triangle CCW with
    positive area, areas summing to the hull's, every edge shared by at
    most two triangles in opposite directions, boundary edges as long
    as the hull's perimeter, every point a vertex) that is locally
    Delaunay at every interior edge (no opposite vertex strictly
    inside the neighbour's circumcircle) is THE Delaunay triangulation
    up to co-circular ties."""
    from geocube_spark.geometry.simplify import convex_hull

    a, b, c = pts[tris[:, 0]], pts[tris[:, 1]], pts[tris[:, 2]]
    area2 = ((b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
             - (b[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0]))
    assert (area2 > 0).all()
    hull = convex_hull(pts[:, 0], pts[:, 1])
    hx, hy = hull[:, 0], hull[:, 1]
    hull2 = (hx * np.roll(hy, -1) - np.roll(hx, -1) * hy).sum()
    assert abs(area2.sum() - hull2) <= 1e-9 * hull2
    assert np.array_equal(np.unique(tris), np.arange(len(pts)))
    e = np.concatenate([tris[:, [0, 1]], tris[:, [1, 2]], tris[:, [2, 0]]])
    opp = np.concatenate([tris[:, 2], tris[:, 0], tris[:, 1]])
    assert len(np.unique(e, axis=0)) == len(e)   # no edge twice one way
    _, inv, cnt = np.unique(np.sort(e, axis=1), axis=0,
                            return_inverse=True, return_counts=True)
    inv = inv.ravel()
    assert cnt.max() <= 2
    rim = e[cnt[inv] == 1]
    rim_len = np.hypot(*(pts[rim[:, 1]] - pts[rim[:, 0]]).T).sum()
    hull_len = np.hypot(np.roll(hx, -1) - hx, np.roll(hy, -1) - hy).sum()
    assert abs(rim_len - hull_len) <= 1e-9 * hull_len
    order = np.argsort(inv, kind="stable")
    pair = order[np.flatnonzero(np.diff(inv[order]) == 0)]
    first, second = pair, order[np.searchsorted(inv[order], inv[pair]) + 1]
    t = np.concatenate([first, second]) % len(tris)
    o = np.concatenate([opp[second], opp[first]])
    det, perm = _incircle(pts[tris[t, 0]], pts[tris[t, 1]],
                          pts[tris[t, 2]], pts[o])
    assert (det <= 1e-12 * perm).all()


def _clustered(rng, n):
    centers = rng.rand(max(1, n // 500), 2) * 100
    return (centers[rng.randint(0, len(centers), n)]
            + rng.randn(n, 2) * 0.5)


def test_delaunay_matches_brute_force():
    """At small n in general position the build returns exactly the
    triples whose circumcircle holds no other point — the same rule as
    the SQL oracle's, enumerated over every triple."""
    from itertools import combinations

    from geocube_spark.kernels.delaunay import delaunay

    rng = np.random.RandomState(21)
    for n in (3, 4, 9, 25, 60):
        for pts in (rng.rand(n, 2) * 100, _clustered(rng, n)):
            i, j, k = np.array(list(combinations(range(n), 3))).T
            a, b, c = pts[i], pts[j], pts[k]
            o = ((b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
                 - (b[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0]))
            keep = o != 0
            i, j, k, o = i[keep], j[keep], k[keep], o[keep]
            j, k = np.where(o > 0, j, k), np.where(o > 0, k, j)
            det, perm = _incircle(
                np.repeat(pts[i], n, 0), np.repeat(pts[j], n, 0),
                np.repeat(pts[k], n, 0), np.tile(pts, (len(i), 1)))
            empty = ~(det > 1e-12 * perm).reshape(len(i), n).any(axis=1)
            want = set(map(tuple, np.sort(
                np.column_stack([i, j, k])[empty], axis=1)))
            got = set(map(tuple, np.sort(delaunay(pts), axis=1)))
            assert got == want, n


def test_delaunay_certificate_uniform_and_clustered():
    """The Delaunay-lemma certificate holds at every size, on uniform
    and on clustered inputs, and the output is a deterministic function
    of the input."""
    from geocube_spark.kernels.delaunay import delaunay

    rng = np.random.RandomState(8)
    for n in (300, 1500, 30_000):
        for pts in (rng.rand(n, 2) * 1000, _clustered(rng, n)):
            tris = delaunay(pts)
            _assert_delaunay(pts, tris)
            assert np.array_equal(delaunay(pts.copy()), tris)


def test_delaunay_duplicates_collapse_to_first_occurrence():
    """Exact duplicates collapse to their first occurrence (-0.0 equals
    0.0); the unique points get the full certificate."""
    from geocube_spark.kernels.delaunay import delaunay

    rng = np.random.RandomState(21)
    base = rng.rand(40, 2) * 10
    base[0] = (0.0, 5.0)
    dup = np.repeat(base, 50, axis=0)
    dup[1] = (-0.0, 5.0)
    tris = delaunay(dup)
    assert np.array_equal(np.unique(tris), np.arange(40) * 50)
    _assert_delaunay(base, tris // 50)


def test_delaunay_integer_lattice_tiles_the_cells():
    """An exact 80 x 80 lattice (every cell co-circular) triangulates
    into half cells: every triangle has area 0.5, there are 2n - 2 - h
    of them (h = the 316 boundary points), and a linear interpolant on
    a smooth field stays inside the range of each query's 4 corners."""
    from geocube_spark.kernels.delaunay import delaunay, linear_interpolate

    g = np.stack(np.meshgrid(np.arange(80.0), np.arange(80.0)), -1)
    pts = g.reshape(-1, 2)[np.random.RandomState(3).permutation(6400)]
    tris = delaunay(pts)
    a, b, c = pts[tris[:, 0]], pts[tris[:, 1]], pts[tris[:, 2]]
    area = 0.5 * ((b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
                  - (b[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0]))
    assert (area == 0.5).all()
    assert len(tris) == 2 * 6400 - 2 - 316
    _assert_delaunay(pts, tris)

    def f(x, y):
        return np.sin(x / 7) * np.cos(y / 5)

    h = (np.arange(79)[:, None] + np.array([0.25, 0.75])).ravel()
    qx, qy = (v.ravel() for v in np.meshgrid(h, h))
    got = linear_interpolate(pts, f(pts[:, 0], pts[:, 1]), qx, qy)
    x0, y0 = np.floor(qx), np.floor(qy)
    corners = np.stack([f(x0, y0), f(x0 + 1, y0), f(x0, y0 + 1),
                        f(x0 + 1, y0 + 1)])
    assert len(got) == 158 * 158
    assert (got >= corners.min(axis=0) - 1e-12).all()
    assert (got <= corners.max(axis=0) + 1e-12).all()


def test_delaunay_collinear_is_empty():
    """Exactly collinear input has no triangles, at any size."""
    from geocube_spark.kernels.delaunay import delaunay

    for n in (500, 5000):
        x = np.linspace(0, 1, n)
        assert delaunay(np.column_stack([x, 2 * x])).shape == (0, 3)
        assert delaunay(np.column_stack([x, np.zeros(n)])).shape == (0, 3)


def test_interpolate_na_triangulates_gapped_raster():
    """interpolate_na(method='linear'|'cubic') triangulates a raster's
    data cells: on an 80 x 80 grid with 5 % random gaps that set gets
    the full certificate, data cells keep their values, and the linear
    fills (convex combinations of a field bounded by 1) stay in
    [-1, 1]."""
    from geocube_spark.kernels.delaunay import delaunay
    from geocube_spark.kernels.interpolate import interpolate_na

    rng = np.random.RandomState(5)
    gx, gy = np.meshgrid(np.arange(80.0), np.arange(80.0))
    arr = np.sin(gx / 7) * np.cos(gy / 5)
    gap = rng.rand(80, 80) < 0.05
    arr[gap] = np.nan
    pts = np.column_stack([gx[~gap], gy[~gap]])
    assert len(pts) > 4096
    _assert_delaunay(pts, delaunay(pts))
    for method in ("linear", "cubic"):
        out = interpolate_na(arr, np.arange(80.0), np.arange(80.0),
                             np.nan, method=method)
        assert np.array_equal(out[~gap], arr[~gap])
        inside = ~np.isnan(out[gap])
        assert inside.mean() > 0.9
        if method == "linear":
            vals = out[gap][inside]
            assert (np.abs(vals) <= 1 + 1e-12).all()


def test_batched_line_supercover_matches_fallback():
    """batch_parse_simple_lines + batch_outline_cells (+ per-geometry
    dedupe) yields exactly the same cell set as geometry_cells on the
    same LINESTRINGs (the fallback path)."""
    from geocube_spark.geometry import wkb as W
    from geocube_spark.kernels.rasterize import (
        batch_outline_cells,
        edges_from_rings,
        geometry_cells,
    )

    rng = np.random.RandomState(5)
    h = w = 48
    lines = []
    for i in range(12):
        k = 2 + (i % 4)
        pts = rng.uniform(-5, 53, size=(k, 2))   # some outside the tile
        lines.append(pts)
    blobs = [W.linestring(p).to_wkb() for p in lines]
    mask, groups = W.batch_parse_simple_lines(blobs)
    assert mask.all()
    got: dict = {}
    for idx, coords in groups:
        e = edges_from_rings(coords, idx)
        fo, fown = batch_outline_cells(*e, h, w)
        key = np.unique(fown * np.int64(h * w) + fo)
        for o in np.unique(key // (h * w)):
            got[int(o)] = set(
                (key[key // (h * w) == o] % (h * w)).tolist()
            )
    for i, p in enumerate(lines):
        rr, cc = geometry_cells(W.linestring(p), h, w)
        expect = set((rr * w + cc).tolist())
        assert got.get(i, set()) == expect, f"line {i} cell set differs"


def test_batch_parse_simple_lines_rejects_non_lines():
    from geocube_spark.geometry import wkb as W

    quad = W.polygon(
        np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
    ).to_wkb()
    pt = W.point(1.0, 2.0).to_wkb()
    ln = W.linestring(np.array([[0, 0], [3, 3]], float)).to_wkb()
    mask, groups = W.batch_parse_simple_lines([quad, pt, ln, None])
    assert mask.tolist() == [False, False, True, False]
    (idx, coords), = groups
    assert idx.tolist() == [2] and coords.shape == (1, 2, 2)


def test_griddata_nearest_exact_at_cells():
    px = np.array([0.5, 9.5])
    py = np.array([0.5, 9.5])
    v = np.array([1.0, 2.0])
    gx = np.arange(10) + 0.5
    gy = np.arange(10) + 0.5
    out = griddata_interp(px, py, v, gx, gy, method="nearest")
    assert out[0, 0] == 1.0 and out[9, 9] == 2.0


def test_griddata_linear_exact_on_linear_field():
    rng = np.random.RandomState(42)
    px, py = rng.rand(25) * 10, rng.rand(25) * 10
    v = 3 * px - py + 2
    gx = np.arange(10) + 0.5
    gy = np.arange(10) + 0.5
    out = griddata_interp(px, py, v, gx, gy, method="linear", fill=np.nan)
    GX, GY = np.meshgrid(gx, gy)
    m = ~np.isnan(out)
    assert m.sum() > 20
    np.testing.assert_allclose(out[m], (3 * GX - GY + 2)[m], atol=1e-9)


def test_cubic_reproduces_quadratic_with_exact_gradients():
    """Clough-Tocher machinery check: reduced HCT reproduces any
    quadratic exactly when the true vertex gradients are supplied."""
    from geocube_spark.kernels.delaunay import cubic_interpolate

    rng = np.random.RandomState(0)
    pts = rng.uniform(0, 1, (30, 2))
    x, y = pts[:, 0], pts[:, 1]
    v = 2 + 3 * x - y + 0.5 * x * x + x * y - 2 * y * y
    grads = np.column_stack([3 + x + y, -1 + x - 4 * y])
    q = rng.uniform(0.2, 0.8, (400, 2))
    got = cubic_interpolate(pts, v, q[:, 0], q[:, 1], gradients=grads)
    qx, qy = q[:, 0], q[:, 1]
    exact = 2 + 3 * qx - qy + 0.5 * qx * qx + qx * qy - 2 * qy * qy
    m = ~np.isnan(got)
    assert m.sum() > 300
    np.testing.assert_allclose(got[m], exact[m], atol=1e-9)


def test_cubic_beats_linear_and_within_reference_tolerance():
    """CT with estimated gradients: distinct from linear, materially
    more accurate on a smooth field, and within the reference's 0.1
    comparison envelope (test_core_integration.py:836-841)."""
    from geocube_spark.kernels.delaunay import (
        cubic_interpolate,
        linear_interpolate,
    )

    rng = np.random.RandomState(3)
    pts = rng.uniform(0, 1, (40, 2))
    v = np.sin(3 * pts[:, 0]) * np.cos(2 * pts[:, 1])
    q = rng.uniform(0.15, 0.85, (600, 2))
    exact = np.sin(3 * q[:, 0]) * np.cos(2 * q[:, 1])
    lin = linear_interpolate(pts, v, q[:, 0], q[:, 1])
    cub = cubic_interpolate(pts, v, q[:, 0], q[:, 1])
    m = ~np.isnan(cub)
    lin_err = np.abs(lin[m] - exact[m]).max()
    cub_err = np.abs(cub[m] - exact[m]).max()
    assert cub_err < 0.1                      # reference tolerance
    assert cub_err < 0.5 * lin_err            # materially better
    assert np.abs(cub[m] - lin[m]).max() > 0.01   # distinct kernels


def test_griddata_cubic_path():
    """method='cubic' routes to CT, stays exact on linear fields (a
    linear field is a quadratic with zero curvature; estimated
    gradients are exact for it)."""
    rng = np.random.RandomState(7)
    px, py = rng.rand(25) * 10, rng.rand(25) * 10
    v = 3 * px - py + 2
    gx = np.arange(10) + 0.5
    gy = np.arange(10) + 0.5
    out = griddata_interp(px, py, v, gx, gy, method="cubic", fill=np.nan)
    GX, GY = np.meshgrid(gx, gy)
    m = ~np.isnan(out)
    assert m.sum() > 20
    np.testing.assert_allclose(out[m], (3 * GX - GY + 2)[m], atol=1e-6)


def test_rbf_exact_at_nodes():
    rng = np.random.RandomState(1)
    px, py = rng.rand(15) * 10, rng.rand(15) * 10
    v = np.sin(px) + py
    out = rbf_interp(px, py, v, px, py, function="linear")
    np.testing.assert_allclose(np.diag(out), v, atol=1e-6)


def test_interpolate_na():
    gx = np.arange(6) + 0.5
    gy = np.arange(6) + 0.5
    GX, GY = np.meshgrid(gx, gy)
    arr = GX + GY
    arr[2:4, 2:4] = -9999.0
    out = interpolate_na(arr, gx, gy, -9999.0, method="linear")
    np.testing.assert_allclose(out, GX + GY, atol=1e-9)


# ---------------------------------------------------------------------------
# vectorize
# ---------------------------------------------------------------------------

def test_vectorize_counts_and_bounds():
    arr = np.full((6, 6), -99.0)
    arr[1:3, 1:4] = 5.0
    arr[4:6, 0:2] = 7.0
    out = list(V.shapes(arr, nodata=-99.0))
    assert len(out) == 2
    vals = sorted(v for _, v in out)
    assert vals == [5.0, 7.0]
    g5 = [g for g, v in out if v == 5.0][0]
    assert g5.bounds() == (1.0, 1.0, 4.0, 3.0)


def test_vectorize_hole():
    arr = np.full((6, 6), 1.0)
    arr[2:4, 2:4] = 2.0
    out = {v: g for g, v in V.shapes(arr)}
    assert len(out[1.0].parts) == 2  # exterior + hole
    assert len(out[2.0].parts) == 1


def test_vectorize_nan_nodata():
    arr = np.full((4, 4), np.nan)
    arr[0, 0] = 3.0
    out = list(V.shapes(arr, nodata=np.nan))
    assert len(out) == 1
    assert out[0][1] == 3.0


def test_vectorize_affine():
    arr = np.full((4, 4), np.nan)
    arr[0:2, 0:2] = 1.0
    aff = Affine(10, 0, 100.0, 0, -10, 200.0)
    out = list(V.shapes(arr, nodata=np.nan, affine=aff))
    assert out[0][0].bounds() == (100.0, 180.0, 120.0, 200.0)


def test_show_versions():
    import geocube_spark

    out = geocube_spark.show_versions()
    assert "pyspark" in out and "geocube_spark" in out


# ---------------------------------------------------------------------------
# two-stage (fit -> broadcast -> parallel tile eval) interp plan parity
# ---------------------------------------------------------------------------

def test_interp_parallel_plan_matches_single_task(spark):
    """Grids with >= _INTERP_PARALLEL_MIN_TILES tiles evaluate tiles in
    parallel from a broadcast fitted payload; the result must be
    IDENTICAL to the single-task plan for every method (the fit is the
    same object, only the evaluation is distributed)."""
    import numpy as np
    import pandas as pd

    import geocube_spark.cube as C
    from geocube_spark.geometry import wkb as W

    rng = np.random.default_rng(7)
    n = 60
    px = rng.uniform(-170, 170, n)
    py = rng.uniform(-80, 80, n)
    vals = np.sin(px / 30) + py / 40
    vec = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [f"p{i}" for i in range(n)],
             "seq": np.arange(n, dtype="int64"),
             "geometry_wkb": [W.point(x, y).to_wkb()
                              for x, y in zip(px, py)],
             "value": vals}
        )
    )
    geom = ('{"type":"Polygon","coordinates":[[[-180,-90],[180,-90],'
            '[180,90],[-180,90],[-180,-90]]]}')
    cases = [
        ("points_griddata", "nearest"),
        ("points_griddata", "linear"),
        ("points_griddata", "cubic"),
        ("points_radial", "gaussian"),
    ]
    for function, method in cases:
        kw = dict(measurements=["value"], geom=geom, resolution=(-5.0, 5.0),
                  fill=-9999.0, rasterize_function=function,
                  interp_method=method, tile_size=16)
        # 72x36 grid, 16px tiles -> 5x3=15 tiles >= threshold: parallel
        assert C._INTERP_PARALLEL_MIN_TILES <= 15
        a = C.make_geocube(vec, **kw).assemble()
        old = C._INTERP_PARALLEL_MIN_TILES
        C._INTERP_PARALLEL_MIN_TILES = 10**9   # force single-task plan
        try:
            b = C.make_geocube(vec, **kw).assemble()
        finally:
            C._INTERP_PARALLEL_MIN_TILES = old
        np.testing.assert_array_equal(
            np.asarray(a["value"]), np.asarray(b["value"]),
            err_msg=f"{function}/{method}",
        )


def test_interp_parallel_plan_grouped(spark):
    import numpy as np
    import pandas as pd

    import geocube_spark.cube as C
    from geocube_spark.geometry import wkb as W

    rng = np.random.default_rng(3)
    n = 40
    px = rng.uniform(-170, 170, n)
    py = rng.uniform(-80, 80, n)
    vec = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [f"p{i}" for i in range(n)],
             "seq": np.arange(n, dtype="int64"),
             "geometry_wkb": [W.point(x, y).to_wkb()
                              for x, y in zip(px, py)],
             "value": rng.uniform(0, 10, n),
             "grp": [None if i % 7 == 0 else f"g{i % 2}"
                     for i in range(n)]}
        )
    )
    geom = ('{"type":"Polygon","coordinates":[[[-180,-90],[180,-90],'
            '[180,90],[-180,90],[-180,-90]]]}')
    kw = dict(measurements=["value"], geom=geom, resolution=(-5.0, 5.0),
              fill=-9999.0, rasterize_function="points_griddata",
              interp_method="nearest", tile_size=16, group_by="grp")
    a = C.make_geocube(vec, **kw)
    arrs_a, keys_a = a.assemble(), list(a.group_keys)
    old = C._INTERP_PARALLEL_MIN_TILES
    C._INTERP_PARALLEL_MIN_TILES = 10**9
    try:
        b = C.make_geocube(vec, **kw)
        arrs_b, keys_b = b.assemble(), list(b.group_keys)
    finally:
        C._INTERP_PARALLEL_MIN_TILES = old
    assert keys_a == keys_b
    np.testing.assert_array_equal(
        np.asarray(arrs_a["value"]), np.asarray(arrs_b["value"])
    )


def test_rbf_dense_solve_cap():
    """The RBF fit is O(n^2) memory / O(n^3) time; over-cap inputs
    must fail fast with guidance instead of an opaque executor OOM
    (round-2 review: kernels/interpolate.py dense solve had no guard)."""
    import pytest

    from geocube_spark.kernels.interpolate import (
        RBF_MAX_POINTS, rbf_interp,
    )

    n = RBF_MAX_POINTS + 1
    px = np.linspace(0.0, 1.0, n)
    py = np.linspace(0.0, 1.0, n)
    with pytest.raises(ValueError, match="dense-solve cap"):
        rbf_interp(px, py, px, np.linspace(0, 1, 4), np.linspace(0, 1, 4))


def test_infer_measurements_layout_independent(spark):
    """Schema inference samples the global first-N spans by
    (doc_id, offset), so a repartitioned/shuffled copy of the same
    table must infer the identical measurement list."""
    from pyspark.sql import functions as F

    from geocube_spark import datagen as DG
    from geocube_spark.extract import infer_measurements

    docs = DG.to_spark(spark, DG.flat_polygon_docs(n=40))
    base = infer_measurements(docs)
    shuffled = docs.repartition(7).sortWithinPartitions("doc_id")
    assert infer_measurements(shuffled) == base
    reversed_layout = docs.orderBy(F.col("doc_id").desc()).coalesce(2)
    assert infer_measurements(reversed_layout) == base


def test_logger_helpers(tmp_path):
    """Reference geocube/logger.py parity: get_logger / set_log_level /
    log_to_console / log_to_file control the package logger."""
    import logging

    from geocube_spark.logger import (
        get_logger, log_to_console, log_to_file, set_log_level,
    )

    log = get_logger()
    assert log.name == "geocube_spark"
    set_log_level("DEBUG")
    assert log.level == logging.DEBUG

    log_to_console(True)
    assert any(type(h) is logging.StreamHandler for h in log.handlers)
    log_to_console(False)
    assert not any(type(h) is logging.StreamHandler for h in log.handlers)

    fname = str(tmp_path / "x.log")
    log_to_file(True, filename=fname)
    log.warning("hello file")
    log_to_file(False)
    assert not any(
        isinstance(h, logging.FileHandler) for h in log.handlers
    )
    with open(fname) as f:
        assert "hello file" in f.read()
    set_log_level("WARNING")


def test_delaunay_point_cap_raises_with_guidance():
    from geocube_spark.kernels import delaunay as D

    pts = np.zeros((D.DELAUNAY_MAX_POINTS + 1, 2))
    with pytest.raises(ValueError, match="Delaunay cap"):
        D.delaunay(pts)
