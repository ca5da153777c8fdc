"""point_query: raster sampling at vector points.

Numpy parity on assembled cubes for both methods (nearest = floor
cell, bilinear = GDAL cell-center convention with clamped base),
out-of-grid NULL semantics, sparse-tile fill, grouped cubes, and the
pure-Catalyst plan shape (no Python, no cartesian product).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geocube_spark import datagen
from geocube_spark.bandops import point_query
from geocube_spark.cube import make_geocube

GEOM = (
    '{"type": "Polygon", "coordinates": [[[-91, 41], [-90, 41], '
    '[-90, 42], [-91, 42], [-91, 41]]]}'
)


@pytest.fixture(scope="module")
def cube(spark):
    docs = datagen.to_spark(spark, datagen.scale_docs(600, seed=13))
    return make_geocube(
        docs, measurements=["m0", "m1"], geom=GEOM,
        resolution=(-1.0 / 32, 1.0 / 32),
        fill=0.0, merge_alg="add", tile_size=16,
    )


def _probe_points(spark, gb, fracs):
    aff = gb.affine
    rows = [
        (
            i,
            aff.c + fc * aff.a,
            aff.f + fr * aff.e,
            fc,
            fr,
        )
        for i, (fc, fr) in enumerate(fracs)
    ]
    return spark.createDataFrame(
        [(i, x, y) for i, x, y, _, _ in rows], "pid long, x double, y double"
    ), rows


FRACS = [
    (0.0, 0.0),          # exact grid origin (cell 0,0)
    (0.999, 0.999),
    (1.0, 1.0),          # exactly on an interior cell boundary
    (7.25, 3.75),
    (16.0, 16.0),        # tile boundary
    (15.5, 16.5),        # corners straddle two tiles (bilinear)
    (31.999, 31.999),    # last cell
    (0.5, 31.5),         # exact cell centers at edges
    (31.25, 0.125),      # border-clamped bilinear
]


def test_nearest_matches_numpy(spark, cube):
    arrs = cube.assemble()
    pts, rows = _probe_points(spark, cube.geobox, FRACS)
    got = {
        (r["pid"], r["measurement"]): r["value"]
        for r in point_query(cube, pts).collect()
    }
    assert len(got) == len(FRACS) * 2
    for pid, _x, _y, fc, fr in rows:
        row, col = int(np.floor(fr)), int(np.floor(fc))
        for m in ("m0", "m1"):
            assert got[(pid, m)] == pytest.approx(
                float(arrs[m][row, col]), abs=0, rel=0
            ), (pid, m, fc, fr)


def _ref_bilinear(arr, fc, fr):
    H, W = arr.shape
    gx, gy = fc - 0.5, fr - 0.5
    bx = int(np.clip(np.floor(gx), 0, max(W - 2, 0)))
    by = int(np.clip(np.floor(gy), 0, max(H - 2, 0)))
    wx = float(np.clip(gx - bx, 0.0, 1.0)) if W > 1 else 0.0
    wy = float(np.clip(gy - by, 0.0, 1.0)) if H > 1 else 0.0
    bx1, by1 = min(bx + 1, W - 1), min(by + 1, H - 1)
    return (
        (1 - wy) * (1 - wx) * arr[by, bx]
        + (1 - wy) * wx * arr[by, bx1]
        + wy * (1 - wx) * arr[by1, bx]
        + wy * wx * arr[by1, bx1]
    )


def test_bilinear_matches_numpy(spark, cube):
    arrs = cube.assemble()
    pts, rows = _probe_points(spark, cube.geobox, FRACS)
    got = {
        (r["pid"], r["measurement"]): r["value"]
        for r in point_query(
            cube, pts, method="bilinear"
        ).collect()
    }
    for pid, _x, _y, fc, fr in rows:
        for m in ("m0", "m1"):
            want = _ref_bilinear(arrs[m].astype(np.float64), fc, fr)
            # corner products sum in engine order; allow float
            # reassociation noise only
            assert got[(pid, m)] == pytest.approx(
                want, rel=1e-12, abs=1e-12
            ), (
                pid, m, fc, fr,
            )


def test_out_of_grid_returns_null(spark, cube):
    pts = spark.createDataFrame(
        [
            (0, -91.5, 41.5),   # west of the grid
            (1, -90.5, 40.0),   # south
            (2, -90.0, 41.5),   # exactly on the east edge (fcol == W)
            (3, None, 41.5),    # null coordinate
            (4, -90.5, 41.5),   # control: inside
        ],
        "pid long, x double, y double",
    )
    for method in ("nearest", "bilinear"):
        rows = point_query(
            cube, pts, method=method, measurements=["m0"]
        ).collect()
        vals = {r["pid"]: r["value"] for r in rows}
        assert len(rows) == 5
        assert vals[0] is None and vals[1] is None
        assert vals[2] is None and vals[3] is None
        assert vals[4] is not None


def test_sparse_tile_reads_fill(spark):
    # three points in one corner: of the 2x2 tile grid, >=1 tile has
    # no chunk row; sampling there must read the band fill (7.0), not
    # NULL and not a join dropout
    docs = datagen.to_spark(
        spark, datagen.scale_docs(3, seed=5, points_fraction=1.0)
    )
    cube = make_geocube(
        docs, measurements=["m0"], geom=GEOM,
        resolution=(-1.0 / 32, 1.0 / 32),
        fill=7.0, merge_alg="replace", tile_size=16,
    )
    present = {
        r["tile_id"] for r in cube.chunks.select("tile_id").collect()
    }
    assert len(present) < 4, "fixture must leave an empty tile"
    missing = next(t for t in range(4) if t not in present)
    ty, tx = divmod(missing, 2)
    aff = cube.geobox.affine
    x = aff.c + (tx * 16 + 8) * aff.a
    y = aff.f + (ty * 16 + 8) * aff.e
    pts = spark.createDataFrame([(0, x, y)], "pid long, x double, y double")
    [row] = point_query(cube, pts).collect()
    assert row["value"] == 7.0


def test_grouped_cube_per_group_values(spark):
    docs = datagen.to_spark(spark, datagen.grouped_polygon_docs(3, 5))
    cube = make_geocube(
        docs, measurements=["claytotal_r"], group_by="hzdept_r",
        output_crs="epsg:32615", resolution=(-60, 60), fill=0.0,
        tile_size=32,
    )
    arrs = cube.assemble()["claytotal_r"]
    gb = cube.geobox
    aff = gb.affine
    fracs = [(0.5, 0.5), (gb.width - 0.5, gb.height - 0.5),
             (gb.width / 2.0, gb.height / 3.0)]
    pts = spark.createDataFrame(
        [
            (i, aff.c + fc * aff.a, aff.f + fr * aff.e)
            for i, (fc, fr) in enumerate(fracs)
        ],
        "pid long, x double, y double",
    )
    rows = point_query(cube, pts).collect()
    assert len(rows) == len(fracs) * len(cube.group_keys)
    gidx = {str(k): i for i, k in enumerate(cube.group_keys)}
    for r in rows:
        fc, fr = fracs[r["pid"]]
        want = float(
            arrs[gidx[r["group_key"]], int(np.floor(fr)), int(np.floor(fc))]
        )
        assert r["value"] == pytest.approx(want, abs=0, rel=0)


def test_plan_pure_catalyst_no_cartesian(spark, cube):
    from geocube_spark.cube import GeoCube

    # materialize the chunk table so the upstream burn's mapInPandas
    # stages don't appear in the plan under test — point_query itself
    # must add zero Python
    mat = GeoCube(
        chunks=cube.chunks.localCheckpoint(),
        geobox=cube.geobox, bands=cube.bands, group_by=cube.group_by,
        group_keys=cube.group_keys, tile_size=cube.tile_size,
        fill=cube.fill,
    )
    pts = spark.createDataFrame(
        [(0, -90.5, 41.5)], "pid long, x double, y double"
    )
    for method in ("nearest", "bilinear"):
        plan = point_query(
            mat, pts, method=method
        )._jdf.queryExecution().executedPlan().toString()
        for bad in ("BatchEvalPython", "ArrowEvalPython", "InPandas",
                    "CartesianProduct", "BroadcastNestedLoop"):
            assert bad not in plan, (method, bad)


def test_validation_errors(spark, cube):
    pts = spark.createDataFrame(
        [(0, -90.5, 41.5)], "pid long, x double, y double"
    )
    with pytest.raises(ValueError, match="unknown method"):
        point_query(cube, pts, method="lanczos")
    with pytest.raises(ValueError, match="unknown measurement"):
        point_query(cube, pts, measurements=["nope"])
    with pytest.raises(ValueError, match="missing column"):
        point_query(cube, pts, x_col="lon")
    with pytest.raises(ValueError, match="clash"):
        point_query(
            cube, pts.withColumnRenamed("pid", "value")
        )


def test_point_columns_named_like_chunk_lineage(spark, cube):
    # point columns named like chunk-table lineage must not collide
    # with the join's chunk side
    pts = spark.createDataFrame(
        [(7, 3, 99.0, -90.5, 41.5)],
        "tile_id long, w long, values double, x double, y double",
    )
    rows = point_query(cube, pts, measurements=["m0"]).collect()
    assert len(rows) == 1
    assert rows[0]["tile_id"] == 7 and rows[0]["w"] == 3
    assert rows[0]["value"] is not None


def test_id_cols_projection(spark, cube):
    pts = spark.createDataFrame(
        [(0, "a", -90.5, 41.5)], "pid long, tag string, x double, y double"
    )
    out = point_query(
        cube, pts, method="bilinear", measurements=["m0"],
        id_cols=["pid"],
    )
    assert set(out.columns) == {"pid", "measurement", "group_key", "value"}
    assert out.count() == 1


def _cw(off, t):
    d = abs(off - t)
    if d <= 1.0:
        return (1.5 * d - 2.5) * d * d + 1.0
    if d < 2.0:
        return ((-0.5 * d + 2.5) * d - 4.0) * d + 2.0
    return 0.0


def _ref_cubic(arr, fc, fr):
    """Catmull-Rom cubic convolution, edge-replicated taps."""
    H, W = arr.shape
    gx, gy = fc - 0.5, fr - 0.5
    bx, by = int(np.floor(gx)), int(np.floor(gy))
    tx, ty = gx - bx, gy - by
    out = 0.0
    for i in (-1, 0, 1, 2):
        for j in (-1, 0, 1, 2):
            r = min(max(by + i, 0), H - 1)
            c = min(max(bx + j, 0), W - 1)
            out += _cw(i, ty) * _cw(j, tx) * arr[r, c]
    return out


def test_cubic_matches_numpy(spark, cube):
    arrs = cube.assemble()
    pts, rows = _probe_points(spark, cube.geobox, FRACS)
    got = {
        (r["pid"], r["measurement"]): r["value"]
        for r in point_query(cube, pts, method="cubic").collect()
    }
    for pid, _x, _y, fc, fr in rows:
        for m in ("m0", "m1"):
            want = _ref_cubic(arrs[m].astype(np.float64), fc, fr)
            assert got[(pid, m)] == pytest.approx(
                want, rel=1e-9, abs=1e-9
            ), (pid, m, fc, fr)
    # partition of unity: a constant raster samples exactly constant
    # everywhere, including clamped borders
    from geocube_spark.cube import CHUNK_SCHEMA, GeoCube, BandMeta

    gb = cube.geobox
    rows2 = []
    for tid, r0, c0, h, w in gb.tile_grid(cube.tile_size):
        rows2.append(("k", None, 0, int(tid), int(r0), int(c0),
                      int(h), int(w), [3.25] * (h * w), 1, h * w, 0, 0))
    const = GeoCube(
        chunks=spark.createDataFrame(rows2, CHUNK_SCHEMA), geobox=gb,
        bands={"k": BandMeta("k", "float64", 0.0)},
        tile_size=cube.tile_size, fill=0.0,
    )
    got2 = [
        r["value"]
        for r in point_query(const, pts, method="cubic").collect()
    ]
    assert all(v == pytest.approx(3.25, rel=1e-12) for v in got2)
