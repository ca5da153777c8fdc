"""region_group / sieve vs a single-array reference.

The reference runs the SAME local labeling kernel on the fully
assembled raster (no tiling), so any disagreement isolates the
distributed machinery: cross-tile merging, canonical labeling,
component adjacency, and the revalue pass."""

import numpy as np
import pytest

from geocube_spark import datagen
from geocube_spark.cube import make_geocube
from geocube_spark.kernels import vectorize as V

GEOM = (
    '{"type": "Polygon", "coordinates": [[[-91, 41], [-90, 41], '
    '[-90, 42], [-91, 42], [-91, 41]]]}'
)


def _ref_components(arr, nodata=0.0):
    """Global labels + canonical ids on the assembled array."""
    if isinstance(nodata, float) and np.isnan(nodata):
        mask = ~np.isnan(arr)
    else:
        mask = arr != nodata
    labels, n = V.label_components(arr, mask)
    h, w = arr.shape
    gid = np.arange(h * w, dtype=np.int64).reshape(h, w)
    canon = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    lm = labels >= 0
    np.minimum.at(canon, labels[lm], gid[lm])
    return labels, canon, n, mask


@pytest.fixture(scope="module")
def class_cube(spark):
    """A small categorical raster with real multi-tile components:
    burn events, then recode into 3 classes."""
    docs = datagen.to_spark(spark, datagen.scale_docs(900, seed=7))
    cube = make_geocube(
        docs, measurements=["m0"], geom=GEOM,
        resolution=(-1.0 / 64, 1.0 / 64),
        fill=0.0, merge_alg="add", tile_size=8,
    )
    # quantile-ish breaks -> speckled classes with many small
    # components, several spanning the 8-cell tile borders
    return cube.reclassify(
        "m0", [5600.0, 7600.0, 9400.0], [1.0, 2.0, 3.0, 4.0]
    )


def test_region_group_matches_single_array(spark, class_cube):
    out = class_cube.region_group("m0_class")
    got = out.assemble()["region"]
    arr = class_cube.assemble()["m0_class"]
    labels, canon, n, mask = _ref_components(arr)
    exp = np.full(arr.shape, np.nan)
    exp[mask] = canon[labels[mask]].astype(np.float64)
    # components genuinely span tiles (tile_size=8 on a 32-wide grid)
    assert n > 0
    np.testing.assert_array_equal(np.isnan(got), np.isnan(exp))
    np.testing.assert_array_equal(got[mask], exp[mask])


@pytest.mark.parametrize("cap", [None, 0], ids=["driver", "distributed"])
def test_region_group_single_component_across_tiles(spark, monkeypatch,
                                                    cap):
    """A uniform raster is ONE component labeled by cell 0 even though
    it spans every tile, on both component engines (a cap of 0 forces
    the distributed propagation)."""
    from geocube_spark.cube import CHUNK_SCHEMA, GeoCube, BandMeta
    from geocube_spark.geometry.affine import Affine
    from geocube_spark.geometry.crs import CRS
    from geocube_spark.grid.geobox import GeoBox
    from geocube_spark.plans import components

    if cap is not None:
        monkeypatch.setattr(components, "DRIVER_CAP", cap)

    ts, H, W = 8, 16, 24
    gb = GeoBox(W, H, Affine(1.0, 0.0, 0.0, 0.0, -1.0, 0.0), CRS(4326))
    rows = [
        ("b", None, 0, int(tid), int(r0), int(c0), int(h), int(w),
         [7.0] * (h * w), 1, h * w, 0, 0)
        for tid, r0, c0, h, w in gb.tile_grid(ts)
    ]
    cube = GeoCube(
        chunks=spark.createDataFrame(rows, CHUNK_SCHEMA), geobox=gb,
        bands={"b": BandMeta("b", "float64", float("nan"))},
        tile_size=ts, fill=float("nan"),
    )
    got = cube.region_group("b").assemble()["region"]
    np.testing.assert_array_equal(got, np.zeros((H, W)))


def _ref_sieve_once(arr, min_size, nodata=0.0):
    """One GDAL-rule pass on the assembled array."""
    labels, canon, n, mask = _ref_components(arr, nodata)
    sizes = np.bincount(labels[mask], minlength=n)
    # component adjacency with border cell-pair counts
    border: dict = {}
    for a, b in ((labels[:, :-1], labels[:, 1:]),
                 (labels[:-1, :], labels[1:, :])):
        ok = (a >= 0) & (b >= 0) & (a != b)
        for la, lb in zip(a[ok].tolist(), b[ok].tolist()):
            border[(la, lb)] = border.get((la, lb), 0) + 1
            border[(lb, la)] = border.get((lb, la), 0) + 1
    values = np.zeros(n)
    for lab in range(n):
        values[lab] = arr[labels == lab].flat[0]
    out = arr.copy()
    for lab in range(n):
        if sizes[lab] >= min_size:
            continue
        nbrs = [(b, c) for (a, b), c in border.items() if a == lab]
        if not nbrs:
            continue
        nbrs.sort(key=lambda t: (-sizes[t[0]], -t[1], values[t[0]],
                                 canon[t[0]]))
        out[labels == lab] = values[nbrs[0][0]]
    return out


def test_sieve_one_pass_matches_reference(spark, class_cube):
    out = class_cube.sieve("m0_class", 4)
    got = out.assemble()["m0_class"]
    arr = class_cube.assemble()["m0_class"]
    exp = _ref_sieve_once(arr, 4)
    assert (arr != exp).any()  # the pass actually rewrote something
    np.testing.assert_array_equal(got, exp)


def test_sieve_fixpoint_and_noop(spark, class_cube):
    # enough passes: nothing under threshold remains (components with
    # no data neighbor may legitimately stay)
    out = class_cube.sieve("m0_class", 4, passes=6)
    arr = out.assemble()["m0_class"]
    labels, canon, n, mask = _ref_components(arr)
    sizes = np.bincount(labels[mask], minlength=n)
    exp1 = _ref_sieve_once(arr, 4)
    np.testing.assert_array_equal(exp1, arr)  # reference agrees: fixpoint
    # threshold 1 never rewrites: sieve returns the input cube object
    assert class_cube.sieve("m0_class", 1) is class_cube


def test_sieve_errors(class_cube):
    with pytest.raises(ValueError, match="unknown band"):
        class_cube.sieve("nope", 4)
    with pytest.raises(ValueError, match="min_size"):
        class_cube.sieve("m0_class", 0)
    from geocube_spark.regions import sieve

    with pytest.raises(ValueError, match="passes"):
        sieve(class_cube, "m0_class", 4, passes=0)
    with pytest.raises(ValueError, match="unknown band"):
        class_cube.region_group("nope")


def test_coarsen_mode_majority_and_ties(spark):
    """Constructed blocks pin the majority rule and the smallest-value
    tie-break exactly (categorical downsample, GDAL GRA_Mode)."""
    from geocube_spark.cube import CHUNK_SCHEMA, GeoCube, BandMeta
    from geocube_spark.geometry.affine import Affine
    from geocube_spark.geometry.crs import CRS
    from geocube_spark.grid.geobox import GeoBox

    gb = GeoBox(4, 4, Affine(1.0, 0.0, 0.0, 0.0, -1.0, 0.0), CRS(4326))
    # block (0,0): 3x value 5, 1x value 9 -> 5 (majority)
    # block (0,1): 2x 7, 2x 3 -> 3 (tie -> smallest)
    # block (1,0): all 4 -> 4; block (1,1): 2x NaN, 2x 8 -> 8 (skipna)
    vals = [5.0, 5.0, 7.0, 3.0,
            5.0, 9.0, 3.0, 7.0,
            4.0, 4.0, float("nan"), 8.0,
            4.0, 4.0, 8.0, float("nan")]
    rows = [("b", None, 0, 0, 0, 0, 4, 4, vals, 1, 16, 0, 0)]
    cube = GeoCube(
        chunks=spark.createDataFrame(rows, CHUNK_SCHEMA), geobox=gb,
        bands={"b": BandMeta("b", "float64", float("nan"))},
        tile_size=4, fill=float("nan"),
    )
    got = cube.coarsen(2, "mode").assemble()["b"]
    np.testing.assert_array_equal(got, [[5.0, 3.0], [4.0, 8.0]])
    med = cube.coarsen(2, "median").assemble()["b"]
    np.testing.assert_array_equal(med, [[5.0, 5.0], [4.0, 8.0]])
