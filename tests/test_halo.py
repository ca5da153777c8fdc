"""The halo engine shared by the tiled interpolators (plans/halo.py):
the gathered-rectangle edge rule, fail-fast on tiles that never
certify, the job cost of a round, and grouped maps that emit no
eval-type warnings."""

import os
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
import pytest

from geocube_spark.cube import (_forced_engine, _point_bucket,
                                _tile_rings, _tiles_frame, make_geocube)
from geocube_spark.exceptions import GeoCubeError
from geocube_spark.geometry import wkb as W
from geocube_spark.grid.geobox import GeoBox
from geocube_spark.plans.halo import (HALO_ROUNDS, gathered_rect,
                                      halo_resolve)


class _Aff:
    def __init__(self, a, c, e, f):
        self.a, self.c, self.e, self.f = a, c, e, f


@pytest.mark.parametrize("a,e", [(1.0, -1.0), (1.0, 1.0), (-1.0, -1.0),
                                 (-1.0, 1.0)])
def test_gathered_rect_edges_both_signs(a, e):
    """Interior spans are the bucket rectangle; a span touching the
    grid edge is unbounded on that side, whatever the axis sign."""
    A = _Aff(a, 100.0, e, 50.0)
    inf = np.inf
    # interior: rows 2..3, cols 1..2 of a 6x6 grid of 4-px buckets
    x0, x1, y0, y1 = gathered_rect(A, 4, 2, 3, 1, 2, 6, 6)
    assert sorted([x0, x1]) == sorted([100 + a * 4, 100 + a * 12])
    assert sorted([y0, y1]) == sorted([50 + e * 8, 50 + e * 16])
    # low column edge: unbounded towards decreasing column index
    x0, x1, _, _ = gathered_rect(A, 4, 2, 3, -1, 2, 6, 6)
    assert (x0, x1) == ((-inf, 100 + a * 12) if a > 0
                        else (100 + a * 12, inf))
    # high row edge: unbounded towards increasing row index
    _, _, y0, y1 = gathered_rect(A, 4, 2, 7, 1, 2, 6, 6)
    assert (y0, y1) == ((50 + e * 8, inf) if e > 0
                        else (-inf, 50 + e * 8))
    # both edges of both axes: the whole plane
    assert gathered_rect(A, 4, 0, 5, 0, 5, 6, 6) == (-inf, inf, -inf,
                                                      inf)


def test_point_ring_sized_by_local_density():
    """A tile's round-1 ring: 16 mean spacings of the sparsest 128^2
    block in or next to the tile, rounded up to a power of two,
    clamped to 8 .. tile_size // 4; only tiles below the clamp are
    listed, so tiles in or beside a sparse patch keep the fixed ring."""
    block = 128 * 128
    # 160k uniform points on 768^2 cells: 4,444 per block
    assert _point_bucket(256, 4_444, block) == 32
    assert _point_bucket(256, 444, block) == 64  # tile_size // 4
    assert _point_bucket(256, 0, block) == 64
    assert _point_bucket(256, 300_000, block) == 8  # the floor
    assert _point_bucket(16, 70, 16 * 16) == 8
    gb = GeoBox.from_bounds((0.0, 0.0, 768.0, 768.0), (-1.0, 1.0),
                            "EPSG:3857")
    uniform = np.full((6, 6), 4_444)
    assert _tile_rings({("v", "a"): uniform}, gb, 256) == {
        ("v", "a", t): 32 for t in range(9)}
    # one sparse block at the top-left corner: only tile 0 reaches it
    patchy = uniform.copy()
    patchy[0, 0] = 400
    dense = np.full((6, 6), 20_000)
    assert _tile_rings({("v", "a"): patchy, ("v", "b"): dense}, gb,
                       256) == {
        **{("v", "a", t): 32 for t in range(1, 9)},
        **{("v", "b", t): 16 for t in range(9)}}


def test_halo_raises_when_never_certified(spark):
    """A callback that never certifies must fail after the full-gather
    round, naming the band and the tile count — no tile may silently
    go missing from the cube."""
    gb = GeoBox.from_bounds((-94.0, 41.0, -92.0, 42.0), (-0.1, 0.1),
                            "EPSG:4326")
    bands = spark.createDataFrame([("value", "\x00")],
                                  "measurement string, __g string")
    tiles = _tiles_frame(spark, gb.to_dict(), 4, 4, bands)
    donors = spark.createDataFrame(
        [("value", "\x00", 0, 0, 0, 1.0)],
        "measurement string, __g string, bi int, bj int, seq long, "
        "v double")
    n_tiles = gb.n_tiles(4)[0]

    def never(t, rows, gx, gy, rect):
        return np.zeros(t.h * t.w), False

    with pytest.raises(GeoCubeError,
                       match=rf"{n_tiles} tile\(s\).*4 cells.*'value'"):
        halo_resolve(tiles, donors, gb.to_dict(), 4,
                     {("value", "\x00"): (0, 2, 0, 1)}, never,
                     label="never")


def test_halo_round_costs_one_materialization(spark):
    """Plan shape of the halo loop: a tile certifies in the first round
    whose gathered rectangle spans 2 * 2**(k-1) + 1 buckets on both
    axes (an unbounded side counts as wide), so interior tiles need k
    rounds. Every tile comes back once, with the values of the round
    that certified it, and each round costs a bounded number of jobs."""
    gb = GeoBox.from_bounds((0.0, 0.0, 40.0, 40.0), (-1.0, 1.0),
                            "EPSG:4326")
    cell = 4
    bands = spark.createDataFrame([("value", "\x00")],
                                  "measurement string, __g string")
    tiles = _tiles_frame(spark, gb.to_dict(), cell, cell, bands)
    # hinted, so the donor join is planned statically: a donor frame
    # without size stats lets adaptive execution pick the join at run
    # time, and the job count then varies with stage timing
    donors = F.broadcast(spark.createDataFrame(
        [("value", "\x00", 0, 0, 0, 1.0)],
        "measurement string, __g string, bi int, bj int, seq long, "
        "v double"))
    n_tiles, ntx, _ = gb.n_tiles(cell)
    n_b = -(-gb.width // cell)
    radii = [2 ** i for i in range(HALO_ROUNDS - 1)] + [n_b]

    def extents(rect):
        x0, x1, y0, y1 = rect
        return x1 - x0, y1 - y0

    def certifying(k):
        wide = (2 * 2 ** (k - 1) + 1) * cell

        def evaluate(t, rows, gx, gy, rect):
            values = np.zeros(t.h * t.w)
            values[:3] = (t.tile_id, *extents(rect))
            return values, min(extents(rect)) >= wide

        return evaluate, wide

    sc = spark.sparkContext
    jobs = {}
    for k in (1, 2, 3):
        evaluate, wide = certifying(k)
        group = f"test-halo-jobs-{k}-{os.getpid()}"
        sc.setJobGroup(group, f"halo resolve in {k} round(s)", False)
        try:
            out = halo_resolve(tiles, donors, gb.to_dict(), cell,
                               {("value", "\x00"): (0, 1, 0, 0)},
                               evaluate, label=f"rounds-{k}")
            assert out.count() == n_tiles
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[k] = len(sc.statusTracker().getJobIdsForGroup(group))
        rows = out.collect()
        assert sorted(r["tile_id"] for r in rows) == list(range(n_tiles))
        last_round = 0
        for row in rows:
            ti, tj = divmod(row["tile_id"], ntx)
            for round_i, r in enumerate(radii, 1):
                rect = gathered_rect(gb.affine, cell, ti - r, ti + r,
                                     tj - r, tj + r, n_b, n_b)
                if min(extents(rect)) >= wide:
                    break
            last_round = max(last_round, round_i)
            assert list(row["values"][:3]) == [row["tile_id"],
                                               *extents(rect)]
        assert last_round == k
    assert jobs[1] <= 8, jobs
    assert jobs[2] - jobs[1] <= 8 and jobs[3] - jobs[2] <= 8, jobs


def test_tiled_paths_emit_no_eval_type_warning(spark):
    rng = np.random.default_rng(3)
    n = 120
    docs = spark.createDataFrame(pd.DataFrame({
        "seq": np.arange(n, dtype=np.int64),
        "geometry_wkb": W.points_to_wkb(rng.uniform(-93.8, -92.2, n),
                                        rng.uniform(41.2, 42.6, n)),
        "value": rng.uniform(0, 9, n),
    }))
    with warnings.catch_warnings(record=True) as seen, \
            _forced_engine("tiled"):
        warnings.simplefilter("always")
        make_geocube(docs, measurements=["value"], fill=float("nan"),
                     rasterize_function="points_griddata",
                     interp_method="linear", resolution=(-0.04, 0.04),
                     tile_size=16)
        make_geocube(docs, measurements=["value"], fill=-9999.0,
                     resolution=(-0.04, 0.04), tile_size=16,
                     interpolate_na_method="nearest")
    eval_type = [w for w in seen if "eval type" in str(w.message)]
    assert not eval_type, [str(w.message) for w in eval_type]
