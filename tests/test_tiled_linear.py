"""Halo-tiled certified linear interpolation (verdict r04 item 1).

The last single-task stage retired: `rasterize_points_griddata
(method='linear')` can now fit per-tile Delaunay triangulations over
halo point sets with a per-cell certificate (see
kernels/tiled_linear.py) instead of one global fit task. These tests
pin the done-criteria: cell-exact global-vs-tiled parity through
make_geocube (random, clustered, and adversarial sliver point sets,
grouped and ungrouped), kernel-level certificate behavior, and
guaranteed termination via the full-gather final round.
"""

import logging
from contextlib import contextmanager, nullcontext

import numpy as np
import pandas as pd
import pytest

from geocube_spark import cube as cube_mod
from geocube_spark.cube import _forced_engine, make_geocube
from geocube_spark.geometry import wkb as W
from geocube_spark.kernels.delaunay import Triangulation
from geocube_spark.kernels.tiled_linear import (convex_hull,
                                                strictly_outside,
                                                tile_linear_certified)


def _vec(spark, lon, lat, vals, group=None):
    pdf = pd.DataFrame({
        "seq": np.arange(len(lon), dtype=np.int64),
        "geometry_wkb": W.points_to_wkb(np.asarray(lon, float),
                                        np.asarray(lat, float)),
        "value": np.asarray(vals, float),
    })
    if group is not None:
        pdf["grp"] = group
    return spark.createDataFrame(pdf)


def _chunks(cube):
    out = {}
    for r in cube.chunks.collect():
        key = (r["measurement"], r["group_key"], r["tile_id"])
        out[key] = (r["row0"], r["col0"], r["h"], r["w"],
                    np.asarray(r["values"], dtype=np.float64),
                    r["n_geoms"], r["min_seq"], r["max_seq"])
    return out


def _assert_parity(g, t):
    assert set(g) == set(t)
    for k in g:
        assert g[k][:4] == t[k][:4], k
        a, b = g[k][4], t[k][4]
        assert np.array_equal(np.isnan(a), np.isnan(b)), k
        fin = np.isfinite(a)
        if fin.any():
            np.testing.assert_allclose(a[fin], b[fin], rtol=1e-12,
                                       atol=1e-12, err_msg=str(k))
        # band metadata parity (n_geoms / seq lineage)
        assert g[k][5:] == t[k][5:], k


def _geocube(engine, docs, **kw):
    """make_geocube with the engine pinned ('tiled' or 'global'), or
    with the size-based routing ('auto')."""
    with nullcontext() if engine == "auto" else _forced_engine(engine):
        return make_geocube(docs, **kw)


def _build(docs, engine, **kw):
    return _chunks(_geocube(
        engine, docs, measurements=["value"], fill=float("nan"),
        rasterize_function="points_griddata", interp_method="linear",
        **kw))


def test_tiled_matches_global_random(spark):
    rng = np.random.default_rng(11)
    n = 700
    docs = _vec(spark, rng.uniform(-93.8, -92.2, n),
                rng.uniform(41.2, 42.6, n), rng.uniform(0, 100, n))
    g = _build(docs, "global", resolution=(-0.01, 0.01), tile_size=32)
    t = _build(docs, "tiled", resolution=(-0.01, 0.01), tile_size=32)
    _assert_parity(g, t)
    # real NaN corners must exist (outside hull) and match
    assert any(np.isnan(v[4]).any() for v in g.values())


def test_tiled_matches_global_small_tiles_many_rounds(spark):
    """8-px tiles on clustered points: many tiles see zero points in
    round 1 and must grow; interior gaps force multi-round halos."""
    rng = np.random.default_rng(23)
    cl = [(-93.5, 41.5), (-92.5, 42.3), (-93.0, 41.9)]
    lon = np.concatenate([cx + rng.normal(0, 0.05, 60) for cx, _ in cl])
    lat = np.concatenate([cy + rng.normal(0, 0.05, 60) for _, cy in cl])
    docs = _vec(spark, lon, lat, np.arange(len(lon), dtype=float))
    g = _build(docs, "global", resolution=(-0.02, 0.02), tile_size=8)
    t = _build(docs, "tiled", resolution=(-0.02, 0.02), tile_size=8)
    _assert_parity(g, t)


def test_tiled_matches_global_slivers(spark):
    """Adversarial slivers: near-collinear rows with tiny jitter make
    long thin triangles whose circumcircles span many tiles — the
    certificate must refuse them until the halo really covers the
    circle, and the result must still equal the global fit exactly."""
    rng = np.random.default_rng(5)
    xs = np.linspace(-93.9, -92.1, 40)
    lon, lat = [], []
    for row in range(4):
        lon.extend(xs + rng.normal(0, 1e-4, len(xs)))
        lat.extend(np.full(len(xs), 41.3 + row * 0.45)
                   + rng.normal(0, 1e-5, len(xs)))
    lon, lat = np.asarray(lon), np.asarray(lat)
    docs = _vec(spark, lon, lat, np.hypot(lon + 93, lat - 41.8) * 10)
    g = _build(docs, "global", resolution=(-0.02, 0.02), tile_size=16)
    t = _build(docs, "tiled", resolution=(-0.02, 0.02), tile_size=16)
    _assert_parity(g, t)


def test_tiled_matches_global_grouped(spark):
    rng = np.random.default_rng(31)
    n = 300
    docs = _vec(spark, rng.uniform(-93.8, -92.2, n),
                rng.uniform(41.2, 42.6, n), rng.uniform(0, 9, n),
                group=[("a" if i % 2 else "b") for i in range(n)])
    g = _chunks(_geocube(
        "global", docs, measurements=["value"], fill=float("nan"),
        rasterize_function="points_griddata", interp_method="linear",
        group_by="grp", resolution=(-0.02, 0.02), tile_size=32,
    ))
    t = _chunks(_geocube(
        "tiled", docs, measurements=["value"], fill=float("nan"),
        rasterize_function="points_griddata", interp_method="linear",
        group_by="grp", resolution=(-0.02, 0.02), tile_size=32,
    ))
    _assert_parity(g, t)


def test_tiled_degenerate_point_counts(spark):
    """0/1/2-point bands: no triangles anywhere — all-fill output
    identical to the global fit."""
    for n in (1, 2):
        docs = _vec(spark, [-93.0, -92.5][:n], [41.5, 42.0][:n],
                    [7.0, 9.0][:n])
        g = _build(docs, "global", resolution=(-0.1, 0.1), tile_size=8)
        t = _build(docs, "tiled", resolution=(-0.1, 0.1), tile_size=8)
        _assert_parity(g, t)


def test_kernel_certificate_refuses_short_halo():
    rng = np.random.default_rng(3)
    n = 400
    px = rng.uniform(0, 100, n)
    py = rng.uniform(0, 100, n)
    vals = np.sin(px / 10) + np.cos(py / 15)
    hull = convex_hull(px, py)
    gt = Triangulation(np.column_stack([px, py]), vals)
    gx = np.linspace(20, 40, 25)
    gy = np.linspace(30, 50, 25)

    # generous interior halo: certified and exact
    rect = (-10, 70, 0, 80)
    m = (px >= rect[0]) & (px <= rect[1]) & (py >= rect[2]) & (py <= rect[3])
    band, ok = tile_linear_certified(px[m], py[m], vals[m], gx, gy,
                                     rect, hull, n_global=n)
    assert ok
    gxm, gym = np.meshgrid(gx, gy)
    want = gt.linear(gxm.ravel(), gym.ravel()).reshape(band.shape)
    np.testing.assert_allclose(band, want, rtol=1e-12, atol=1e-12)

    # hull-edge tile with a short halo: must refuse
    gx2 = np.linspace(-5, 10, 12)
    gy2 = np.linspace(-5, 10, 12)
    rect2 = (-10, 15, -10, 15)
    m2 = (px >= rect2[0]) & (px <= rect2[1]) & (py >= rect2[2]) & (py <= rect2[3])
    _, ok2 = tile_linear_certified(px[m2], py[m2], vals[m2], gx2, gy2,
                                   rect2, hull, n_global=n)
    assert not ok2

    # full gather (the final round): certified and bit-identical
    band3, ok3 = tile_linear_certified(
        px, py, vals, gx2, gy2,
        (-np.inf, np.inf, -np.inf, np.inf), hull, n_global=n)
    want3 = gt.linear(*[a.ravel() for a in np.meshgrid(gx2, gy2)]
                      ).reshape(band3.shape)
    assert ok3
    assert np.array_equal(np.nan_to_num(band3, nan=-9),
                          np.nan_to_num(want3, nan=-9))


def test_hull_helpers():
    px = np.array([0.0, 10.0, 10.0, 0.0, 5.0])
    py = np.array([0.0, 0.0, 10.0, 10.0, 5.0])
    h = convex_hull(px, py)
    assert len(h) == 4  # interior point dropped
    out = strictly_outside(h, np.array([5.0, 15.0, 5.0]),
                           np.array([5.0, 5.0, -2.0]), pad=1e-9)
    assert list(out) == [False, True, True]
    # degenerate (collinear) hull: everything is outside
    h2 = convex_hull(np.array([0.0, 1.0, 2.0]),
                     np.array([0.0, 1.0, 2.0]))
    assert strictly_outside(h2, np.array([0.5]), np.array([0.5]),
                            pad=1e-9).all()


def test_auto_routes_small_to_global(spark):
    """auto keeps small inputs on the legacy path (value-identical
    either way, but the threshold keeps the window query's exact
    code path)."""
    from geocube_spark import cube as C
    rng = np.random.default_rng(2)
    n = 50
    docs = _vec(spark, rng.uniform(-93.8, -92.2, n),
                rng.uniform(41.2, 42.6, n), rng.uniform(0, 5, n))
    a = _build(docs, "auto", resolution=(-0.05, 0.05), tile_size=16)
    g = _build(docs, "global", resolution=(-0.05, 0.05), tile_size=16)
    _assert_parity(g, a)
    assert n < C._TILED_LINEAR_MIN_POINTS


def test_tiled_plan_has_no_cartesian(spark):
    """The round's candidate generation is a pure equi-join on
    (band, bucket) — no cartesian/nested-loop anywhere in the chunk
    plan (the bands crossJoin is a broadcast of an O(bands) frame,
    which Spark plans as BroadcastNestedLoop only when unkeyed — the
    bucket equi-join is the keyed path that dominates)."""
    rng = np.random.default_rng(1)
    n = 200
    docs = _vec(spark, rng.uniform(-93.8, -92.2, n),
                rng.uniform(41.2, 42.6, n), rng.uniform(0, 5, n))
    cube = _geocube(
        "tiled", docs, measurements=["value"], fill=float("nan"),
        rasterize_function="points_griddata", interp_method="linear",
        resolution=(-0.02, 0.02), tile_size=32,
    )
    plan = cube.chunks._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_delaunay_degenerate_lattice_guard():
    """The Euler-bound guard: the golden-ratio rank-1 lattice (second
    coordinate = 1 - first, distinct only through fp jitter) defeats
    the fp in-circle predicate and must fail fast instead of emitting
    an invalid triangulation; exact cocircular grids (legal ties)
    still build under the 2n-5 bound."""
    from geocube_spark.kernels.delaunay import Triangulation, delaunay

    PHI = 0.6180339887498949
    ids = np.arange(3000)
    lon = -100.0 + ((ids * PHI) % 1.0) * 10.0
    lat = 38.0 + ((ids * PHI * PHI) % 1.0) * 8.0  # = 1 - frac(i*PHI)
    with pytest.raises(ValueError, match="near-degenerate"):
        delaunay(np.column_stack([lon, lat]))

    g = np.stack(np.meshgrid(np.arange(40), np.arange(40)), -1) \
        .reshape(-1, 2).astype(float)
    t = delaunay(g)
    assert 0 < len(t) <= 2 * len(g) - 5

    # the tiled kernel stays uncertified on a degenerate LOCAL subset
    vals = np.ones(len(ids))
    hull = convex_hull(lon, lat)
    band, ok = tile_linear_certified(
        lon, lat, vals, np.linspace(-99, -98, 5),
        np.linspace(39, 40, 5), (-99.5, -97.5, 38.5, 40.5), hull,
        n_global=len(ids) + 7,  # pretend a wider band exists
    )
    assert not ok and np.isnan(band).all()


def _build_idw(docs, engine, method, **kw):
    return _chunks(_geocube(
        engine, docs, measurements=["value"], fill=float("nan"),
        rasterize_function="points_griddata", interp_method=method,
        **kw))


def test_tiled_idw_matches_global(spark):
    """Radius-bounded IDW: the one-round fixed-halo tiled execution
    equals the broadcast path — fill pattern exactly, values to float
    round-off (the weighted sums differ only by interleaved zeroed
    out-of-radius terms)."""
    rng = np.random.default_rng(17)
    n = 800
    docs = _vec(spark, rng.uniform(-93.8, -92.2, n),
                rng.uniform(41.2, 42.6, n), rng.uniform(0, 100, n))
    m = "invdist:power=2:smoothing=1:radius=0.08:min_points=1"
    g = _build_idw(docs, "global", m, resolution=(-0.01, 0.01),
                   tile_size=32)
    t = _build_idw(docs, "tiled", m, resolution=(-0.01, 0.01),
                   tile_size=32)
    assert set(g) == set(t)
    saw_fill = False
    for k in g:
        assert g[k][:4] == t[k][:4], k
        a, b = g[k][4], t[k][4]
        assert np.array_equal(np.isnan(a), np.isnan(b)), k
        saw_fill |= bool(np.isnan(a).any())
        fin = np.isfinite(a)
        if fin.any():
            np.testing.assert_allclose(a[fin], b[fin], rtol=1e-12,
                                       atol=1e-12, err_msg=str(k))
        assert g[k][5:] == t[k][5:], k
    assert saw_fill  # the radius really dropped some far cells


def test_tiled_idw_grouped_and_min_points(spark):
    rng = np.random.default_rng(19)
    n = 400
    docs = _vec(spark, rng.uniform(-93.8, -92.2, n),
                rng.uniform(41.2, 42.6, n), rng.uniform(0, 9, n),
                group=[("a" if i % 2 else "b") for i in range(n)])
    m = "invdist:power=2:radius=0.1:min_points=3"
    g = _chunks(_geocube(
        "global", docs, measurements=["value"], fill=float("nan"),
        rasterize_function="points_griddata", interp_method=m,
        group_by="grp", resolution=(-0.02, 0.02), tile_size=16,
    ))
    t = _chunks(_geocube(
        "tiled", docs, measurements=["value"], fill=float("nan"),
        rasterize_function="points_griddata", interp_method=m,
        group_by="grp", resolution=(-0.02, 0.02), tile_size=16,
    ))
    assert set(g) == set(t)
    for k in g:
        a, b = g[k][4], t[k][4]
        assert np.array_equal(np.isnan(a), np.isnan(b)), k
        fin = np.isfinite(a)
        if fin.any():
            np.testing.assert_allclose(a[fin], b[fin], rtol=1e-12,
                                       atol=1e-12, err_msg=str(k))


def test_tiled_nearest_matches_global(spark):
    """Halo-grown tiled nearest: bit-identical to the broadcast path
    (same donor per cell — argmin ties to lowest seq in both; the
    strict margin certificate forbids a just-outside equidistant donor
    from flipping a tie)."""
    rng = np.random.default_rng(29)
    n = 600
    docs = _vec(spark, rng.uniform(-93.8, -92.2, n),
                rng.uniform(41.2, 42.6, n), rng.uniform(0, 100, n))
    g = _chunks(_geocube(
        "global", docs, measurements=["value"], fill=float("nan"),
        rasterize_function="points_griddata", interp_method="nearest",
        resolution=(-0.01, 0.01), tile_size=32,
    ))
    t = _chunks(_geocube(
        "tiled", docs, measurements=["value"], fill=float("nan"),
        rasterize_function="points_griddata", interp_method="nearest",
        resolution=(-0.01, 0.01), tile_size=32,
    ))
    assert set(g) == set(t)
    for k in g:
        assert np.array_equal(g[k][4], t[k][4]), k  # bit-identical
        assert g[k][:4] == t[k][:4] and g[k][5:] == t[k][5:], k


def test_tiled_proximity_matches_global(spark):
    rng = np.random.default_rng(37)
    n = 300
    docs = _vec(spark, rng.uniform(-93.8, -92.2, n),
                rng.uniform(41.2, 42.6, n), np.arange(n, dtype=float))
    g = _chunks(_geocube(
        "global", docs, measurements=["value"], fill=float("nan"),
        rasterize_function="points_griddata",
        interp_method="proximity",
        resolution=(-0.02, 0.02), tile_size=16,
    ))
    t = _chunks(_geocube(
        "tiled", docs, measurements=["value"], fill=float("nan"),
        rasterize_function="points_griddata",
        interp_method="proximity",
        resolution=(-0.02, 0.02), tile_size=16,
    ))
    assert set(g) == set(t)
    for k in g:
        a, b = g[k][4], t[k][4]
        np.testing.assert_allclose(a, b, rtol=0, atol=1e-12, err_msg=str(k))


def test_tiled_nearest_clustered_growth(spark):
    """Clustered points + small tiles: most tiles have no local donors
    in round 1 and must grow until the certificate holds; the result
    must still be bit-identical."""
    rng = np.random.default_rng(41)
    lon = np.concatenate([
        -93.5 + rng.normal(0, 0.02, 50), -92.4 + rng.normal(0, 0.02, 50)])
    lat = np.concatenate([
        41.5 + rng.normal(0, 0.02, 50), 42.4 + rng.normal(0, 0.02, 50)])
    docs = _vec(spark, lon, lat, np.arange(len(lon), dtype=float))
    g = _chunks(_geocube(
        "global", docs, measurements=["value"], fill=float("nan"),
        rasterize_function="points_griddata", interp_method="nearest",
        resolution=(-0.02, 0.02), tile_size=8,
    ))
    t = _chunks(_geocube(
        "tiled", docs, measurements=["value"], fill=float("nan"),
        rasterize_function="points_griddata", interp_method="nearest",
        resolution=(-0.02, 0.02), tile_size=8,
    ))
    assert set(g) == set(t)
    for k in g:
        assert np.array_equal(g[k][4], t[k][4]), k


@contextmanager
def _halo_rounds():
    """The halo engine's per-round debug lines, as they are logged."""
    log = logging.getLogger("geocube_spark.plans.halo")
    seen = []
    handler = logging.Handler(logging.DEBUG)
    handler.emit = lambda record: seen.append(record.getMessage())
    level = log.level
    log.setLevel(logging.DEBUG)
    log.addHandler(handler)
    try:
        yield seen
    finally:
        log.removeHandler(handler)
        log.setLevel(level)


@pytest.mark.parametrize("method", ["linear", "nearest", "proximity"])
def test_tiled_density_ring_per_tile_on_clustered_band(spark, monkeypatch,
                                                       method):
    """Each tile's round-1 ring follows the point density in and around
    it: with the spacing factor patched down, the tile inside the dense
    patch starts at an 8-cell ring and the tiles beside or in the sparse
    rest at the 16-cell clamp; the rings too thin for the sparse tiles
    grow through further halo rounds, and the values still equal the
    global fit."""
    monkeypatch.setattr(cube_mod, "_RING_SPACINGS", 1)
    seen = []

    def _spy(*a):
        seen.append(tile_rings(*a))
        return seen[-1]

    tile_rings = cube_mod._tile_rings
    monkeypatch.setattr(cube_mod, "_tile_rings", _spy)
    rng = np.random.default_rng(53)
    # 64 x 192 cells in three 64-cell tiles: dense over columns 0-95,
    # then one point each at columns 110 and 170
    lon = np.concatenate([rng.uniform(-93.8, -92.84, 600),
                          [-92.695, -92.095]])
    lat = np.concatenate([rng.uniform(41.2, 41.84, 600), [41.3, 41.7]])
    docs = _vec(spark, lon, lat, np.hypot(lon + 93, lat - 41.5) * 10)
    kw = dict(measurements=["value"], fill=float("nan"),
              rasterize_function="points_griddata", interp_method=method,
              resolution=(-0.01, 0.01), tile_size=64)
    g = _chunks(_geocube("global", docs, **kw))
    with _halo_rounds() as rounds:
        t = _chunks(_geocube("tiled", docs, **kw))
    # the clamp is 16 cells: only the dense patch's tile is listed
    assert seen == [{("value", "\x00", 0): 8}], seen
    assert len(rounds) >= 2, rounds
    assert "(halo r=r1 buckets of 8 cells, per tile)" in rounds[0], rounds
    # later rounds: 2x, 4x, 8x the clamp, then the whole band
    assert "(halo r=4 buckets of 8 cells, 32 cells)" in rounds[1], rounds
    if method == "linear":
        _assert_parity(g, t)
        return
    assert set(g) == set(t)
    for k in g:
        assert np.array_equal(g[k][4], t[k][4]), k  # bit-identical
        assert g[k][:4] == t[k][:4] and g[k][5:] == t[k][5:], k


def test_tiled_interpolate_na_matches_global(spark):
    """interpolate_na('nearest') without the full-band single task:
    burn sparse points (some tiles get NO chunk row), fill via the
    halo-certified tiled path, compare bit-for-bit with the
    full-band assembly path."""
    rng = np.random.default_rng(43)
    n = 120
    docs = _vec(spark, rng.uniform(-93.8, -92.2, n),
                rng.uniform(41.2, 42.6, n),
                np.arange(1, n + 1, dtype=float))

    def build(engine):
        cube = _geocube(
            engine, docs, measurements=["value"], fill=-9999.0,
            resolution=(-0.02, 0.02), tile_size=16,
            merge_alg="add", interpolate_na_method="nearest",
        )
        return {r["tile_id"]: (r["row0"], r["col0"], r["h"], r["w"],
                               np.asarray(r["values"], dtype=np.float64),
                               r["n_geoms"], r["min_seq"], r["max_seq"])
                for r in cube.chunks.collect()}

    g = build("global")
    t = build("tiled")
    assert set(g) == set(t)
    for k in g:
        assert g[k][:4] == t[k][:4], k
        assert np.array_equal(g[k][4], t[k][4]), k  # bit-identical
        assert g[k][5:] == t[k][5:], k
    # the grid really had uncovered tiles pre-fill and no fill remains
    assert all((v[4] != -9999.0).all() for v in t.values())


def test_tiled_interpolate_na_grouped(spark):
    rng = np.random.default_rng(47)
    n = 80
    docs = _vec(spark, rng.uniform(-93.8, -92.2, n),
                rng.uniform(41.2, 42.6, n),
                np.arange(1, n + 1, dtype=float),
                group=[("a" if i % 2 else "b") for i in range(n)])

    def build(engine):
        cube = _geocube(
            engine, docs, measurements=["value"], fill=-9999.0,
            resolution=(-0.04, 0.04), tile_size=8, group_by="grp",
            merge_alg="add", interpolate_na_method="nearest",
        )
        return {(r["group_key"], r["tile_id"]):
                np.asarray(r["values"], dtype=np.float64)
                for r in cube.chunks.collect()}

    g = build("global")
    t = build("tiled")
    assert set(g) == set(t)
    for k in g:
        assert np.array_equal(g[k], t[k]), k
