"""The halo engine shared by the tiled interpolators (plans/halo.py):
the gathered-rectangle edge rule, fail-fast on tiles that never
certify, and grouped maps that emit no eval-type warnings."""

import warnings

import numpy as np
import pandas as pd
import pytest

from geocube_spark.cube import _forced_engine, _tiles_frame, make_geocube
from geocube_spark.exceptions import GeoCubeError
from geocube_spark.geometry import wkb as W
from geocube_spark.grid.geobox import GeoBox
from geocube_spark.plans.halo import gathered_rect, halo_resolve


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
                       match=rf"{n_tiles} tile\(s\).*'value'"):
        halo_resolve(tiles, donors, gb.to_dict(), 4,
                     {("value", "\x00"): (0, 2, 0, 1)}, never,
                     label="never")


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
