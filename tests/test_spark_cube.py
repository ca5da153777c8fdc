"""Integration tests: the distributed pipeline vs a single-process
numpy reference burn of the same inputs (self-consistency oracle), plus
the reference suite's structural assertions (SURVEY.md §5).
"""

import json

import numpy as np
import pandas as pd
import pytest

from geocube_spark import datagen
from geocube_spark.cube import make_geocube
from geocube_spark.exceptions import VectorDataError
from geocube_spark.extract import extract_vector_table, span_sequence
from geocube_spark.geometry import wkb as W
from geocube_spark.geometry.crs import transformer
from geocube_spark.grid.geobox import GeoBoxMaker
from geocube_spark.kernels.rasterize import rasterize
from geocube_spark.vector import vectorize

GARS = json.dumps(datagen.GARS_POLY_GEOJSON)


def _local_burn(pdf_docs, geobox, attr, fill=-9999.0, merge_alg="replace"):
    """Single-process reference burn of the same documents, bypassing
    Spark entirely: the distributed result must match cell-for-cell."""
    tx = transformer(4326, geobox.crs.epsg)
    inv = geobox.affine.invert()
    geoms, vals = [], []
    for _, row in pdf_docs.iterrows():
        spans = sorted(row["spans"], key=lambda s: s["offset"])
        merged = {}
        wkb_hex = None
        for s in spans:
            if s["kind"] == "attr" and s["text"]:
                merged.update(json.loads(s["text"]))
            elif s["kind"] == "geom":
                wkb_hex = s["media_ref"]
        g = W.loads(wkb_hex).transform(tx).transform(
            lambda x, y: (inv.c + inv.a * x + inv.b * y,
                          inv.f + inv.d * x + inv.e * y)
        )
        geoms.append(g)
        vals.append(merged.get(attr, np.nan))
    return rasterize(geoms, vals, geobox.height, geobox.width, fill=fill,
                     merge_alg=merge_alg)


# ---------------------------------------------------------------------------
# M1 flagship: flat polygons, GARS clip, epsg:32615, res (-10, 10)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def flat_cube(spark):
    docs = datagen.to_spark(spark, datagen.flat_polygon_docs())
    return make_geocube(
        docs, output_crs="epsg:32615", geom=GARS, resolution=(-10, 10),
        fill=-9999.0, tile_size=64,
    ), datagen.flat_polygon_docs()


def test_flat_matches_local_burn(flat_cube):
    cube, pdf = flat_cube
    arrs = cube.assemble()
    for attr in ("om_r", "claytotal_r", "ph1to1h2o_r"):
        expected = _local_burn(pdf, cube.geobox, attr)
        np.testing.assert_allclose(
            arrs[attr], expected, equal_nan=True,
            err_msg=f"band {attr} distributed != local",
        )


def test_flat_grid_shape(flat_cube):
    cube, _ = flat_cube
    assert cube.geobox.shape == (188, 144)
    assert cube.geobox.bounds() == (700320.0, 4595200.0, 701760.0, 4597080.0)
    c = cube.coords()
    assert c["x"][0] == 700325.0 and c["y"][0] == 4597075.0


def test_flat_band_order_and_dtype(flat_cube):
    cube, _ = flat_cube
    assert list(cube.bands) == datagen.SOIL_ATTRS
    assert cube.bands["om_r"].dtype == "float64"


def test_measurement_subset_and_order(spark):
    docs = datagen.to_spark(spark, datagen.flat_polygon_docs())
    cube = make_geocube(
        docs, measurements=["awc_r", "om_r"], output_crs="epsg:32615",
        geom=GARS, resolution=(-10, 10), fill=-9999.0,
    )
    assert list(cube.bands) == ["awc_r", "om_r"]


# ---------------------------------------------------------------------------
# group_by cube (soil_data_group-like)
# ---------------------------------------------------------------------------

def test_grouped_cube(spark):
    pdf = datagen.grouped_polygon_docs(n_groups=4, per_group=5)
    docs = datagen.to_spark(spark, pdf)
    cube = make_geocube(
        docs, measurements=["claytotal_r"], group_by="hzdept_r",
        output_crs="epsg:32615", geom=GARS, resolution=(-10, 10),
        fill=-9999.0, tile_size=64,
    )
    assert cube.group_keys == [0.0, 5.0, 15.0, 30.0]  # ascending
    arrs = cube.assemble()
    assert arrs["claytotal_r"].shape == (4,) + cube.geobox.shape
    # per-group slice equals a local burn of only that group's rows
    def _merged(spans):
        out = {}
        for s in sorted(spans, key=lambda x: x["offset"]):
            if s["kind"] == "attr" and s["text"]:
                out.update(json.loads(s["text"]))
        return out

    rows0 = pdf[pdf["spans"].apply(
        lambda s: _merged(s).get("hzdept_r") == 15.0
    )]
    expected = _local_burn(rows0, cube.geobox, "claytotal_r")
    np.testing.assert_allclose(arrs["claytotal_r"][2], expected)


# ---------------------------------------------------------------------------
# categorical enums (reference vector_to_cube.py:120-138)
# ---------------------------------------------------------------------------

@pytest.mark.filterwarnings("error::FutureWarning")
def test_categorical(spark):
    pdf = datagen.flat_polygon_docs()
    soil_types = ["sand", "silt", "clay", "frank", "silt", "clay", "sand"]
    for i in range(len(pdf)):
        pdf.loc[i, "spans"][0]["text"] = json.dumps(
            {**json.loads(pdf.loc[i, "spans"][0]["text"]),
             "soil_type": soil_types[i]}
        )
    docs = datagen.to_spark(spark, pdf)
    cube = make_geocube(
        docs, measurements=["soil_type"], output_crs="epsg:32615",
        geom=GARS, resolution=(-10, 10), fill=-9999.0,
        categorical_enums={"soil_type": ["sand", "silt", "clay"]},
    )
    meta = cube.bands["soil_type"]
    assert meta.dtype == "int8"
    assert meta.categories == ["clay", "sand", "silt", "nodata"]
    assert meta.fill == -1.0          # forced, regardless of fill
    arr = cube.assemble()["soil_type"]
    vals = set(np.unique(arr).tolist())
    # codes: clay=0 sand=1 silt=2; 'frank' (unseen) = -1 = fill
    assert vals <= {-1, 0, 1, 2}
    assert arr.max() == 2


# ---------------------------------------------------------------------------
# datetime measurements (epoch-ns quirk, vector_to_cube.py:20-44,223-240)
# ---------------------------------------------------------------------------

def test_datetime_band(spark):
    docs = datagen.to_spark(spark, datagen.point_docs(tz_aware=True))
    cube = make_geocube(
        docs, measurements=["test_attr", "test_time_attr"],
        datetime_measurements=["test_time_attr"],
        resolution=(-0.0005, 0.0005), fill=-9999.0,
    )
    meta = cube.bands["test_time_attr"]
    assert meta.units == "seconds from 1970-01-01T00:00:00"
    assert meta.fill == 0.0
    arr = cube.assemble()["test_time_attr"]
    nz = arr[arr != 0.0]
    assert len(nz)
    # 2016-12-09T08:00:00-05:00 == 13:00 UTC -> epoch ns
    expected_ns = 1481288400 * 1_000_000_000
    assert set(np.unique(nz)) == {
        float(expected_ns), float(expected_ns + 86400 * 1_000_000_000)
    }


def test_string_band_skipped(spark):
    docs = datagen.to_spark(spark, datagen.point_docs())
    cube = make_geocube(
        docs, resolution=(-0.0005, 0.0005), fill=-9999.0,
    )
    assert "test_str_attr" not in cube.bands  # silently skipped + warning
    assert "test_attr" in cube.bands


# ---------------------------------------------------------------------------
# merge algorithms & all_touched
# ---------------------------------------------------------------------------

def test_merge_add(spark):
    pdf = datagen.flat_polygon_docs(n=5)
    docs = datagen.to_spark(spark, pdf)
    cube = make_geocube(
        docs, measurements=["om_r"], output_crs="epsg:32615", geom=GARS,
        resolution=(-10, 10), fill=0.0, merge_alg="add", tile_size=64,
    )
    expected = _local_burn(pdf, cube.geobox, "om_r", fill=0.0, merge_alg="add")
    np.testing.assert_allclose(cube.assemble()["om_r"], expected)


def test_replace_order_last_wins(spark):
    # two identical geometries, different values: higher seq must win
    g = W.polygon([(-90.59, 41.49), (-90.588, 41.49), (-90.588, 41.492),
                   (-90.59, 41.492), (-90.59, 41.49)])
    rows = []
    for i, v in enumerate([1.0, 2.0]):
        rows.append({
            "doc_id": f"dup-{i:06d}",
            "spans": [
                {"kind": "attr", "text": json.dumps({"v": v}),
                 "media_ref": "", "offset": 0},
                {"kind": "geom", "text": "Polygon",
                 "media_ref": g.to_wkb().hex(), "offset": 1},
            ],
        })
    docs = datagen.to_spark(spark, pd.DataFrame(rows)).repartition(4)
    cube = make_geocube(
        docs, output_crs="epsg:32615", geom=GARS, resolution=(-10, 10),
        fill=-9999.0,
    )
    arr = cube.assemble()["v"]
    burned = arr[arr != -9999.0]
    assert len(burned) and (burned == 2.0).all()


# ---------------------------------------------------------------------------
# point interpolation (griddata / radial)
# ---------------------------------------------------------------------------

def test_points_griddata_nearest(spark):
    docs = datagen.to_spark(spark, datagen.point_docs())
    cube = make_geocube(
        docs, measurements=["test_attr"], resolution=(-0.0005, 0.0005),
        rasterize_function="points_griddata", interp_method="nearest",
        tile_size=32,
    )
    arr = cube.assemble()["test_attr"]
    assert not np.isnan(arr).any()  # nearest covers the whole grid
    # every cell value is one of the input values
    pdf = datagen.point_docs()
    vals = {json.loads(r["spans"][0]["text"])["test_attr"] for _, r in pdf.iterrows()}
    assert set(np.unique(arr.round(6))) <= {round(v, 6) for v in vals}


def test_points_radial(spark):
    docs = datagen.to_spark(spark, datagen.point_docs(n=12))
    cube = make_geocube(
        docs, measurements=["test_attr"], resolution=(-0.002, 0.002),
        rasterize_function="points_radial", interp_method="linear",
        tile_size=64,
    )
    arr = cube.assemble()["test_attr"]
    assert np.isfinite(arr).all()


# ---------------------------------------------------------------------------
# interpolate_na post-pass
# ---------------------------------------------------------------------------

def test_interpolate_na(spark):
    docs = datagen.to_spark(spark, datagen.flat_polygon_docs())
    cube = make_geocube(
        docs, measurements=["om_r"], output_crs="epsg:32615", geom=GARS,
        resolution=(-10, 10), fill=-9999.0,
        interpolate_na_method="nearest", tile_size=64,
    )
    arr = cube.assemble()["om_r"]
    assert (arr != -9999.0).all()  # every nodata cell filled


# ---------------------------------------------------------------------------
# inverse path
# ---------------------------------------------------------------------------

def test_vectorize_roundtrip(spark):
    docs = datagen.to_spark(spark, datagen.flat_polygon_docs())
    cube = make_geocube(
        docs, measurements=["om_r"], output_crs="epsg:32615", geom=GARS,
        resolution=(-10, 10), fill=-9999.0, tile_size=64,
    )
    gdf = vectorize(cube).toPandas()
    assert (gdf["measurement"] == "om_r").all()
    assert len(gdf) >= 1
    arr = cube.assemble()["om_r"]
    burned_vals = set(np.unique(arr[arr != -9999.0]))
    assert set(gdf["value"]) == burned_vals
    # re-burning the polygons reproduces the original raster
    inv = cube.geobox.affine.invert()
    geoms = [
        W.loads(bytes(b)).transform(
            lambda x, y: (inv.c + inv.a * x + inv.b * y,
                          inv.f + inv.d * x + inv.e * y)
        )
        for b in gdf["geometry_wkb"]
    ]
    reburn = rasterize(geoms, gdf["value"].values,
                       cube.geobox.height, cube.geobox.width, fill=-9999.0)
    np.testing.assert_allclose(reburn, arr)


# ---------------------------------------------------------------------------
# error paths & span invariant
# ---------------------------------------------------------------------------

def test_empty_input_raises(spark):
    docs = datagen.to_spark(spark, datagen.flat_polygon_docs()).limit(0)
    with pytest.raises(VectorDataError):
        make_geocube(docs, resolution=(-1, 1))


def test_like_grid(spark):
    docs = datagen.to_spark(spark, datagen.flat_polygon_docs())
    base = make_geocube(
        docs, measurements=["om_r"], output_crs="epsg:32615", geom=GARS,
        resolution=(-10, 10), fill=-9999.0,
    )
    cube = make_geocube(docs, measurements=["awc_r"], like=base.geobox)
    assert cube.geobox == base.geobox


def test_span_sequence_preserved(spark):
    """input_hint invariant: extraction must not rewrite spans —
    (kind, text, media_ref, order) equal before and after."""
    docs = datagen.to_spark(spark, datagen.flat_polygon_docs())
    before = span_sequence(docs).orderBy("doc_id", "order").toPandas()
    vec = extract_vector_table(docs)   # runs the extraction
    assert vec.count() == 7
    after = span_sequence(docs).orderBy("doc_id", "order").toPandas()
    pd.testing.assert_frame_equal(before, after)


def test_extract_seq_deterministic(spark):
    docs = datagen.to_spark(spark, datagen.flat_polygon_docs()).repartition(4)
    vec = extract_vector_table(docs).select("doc_id", "seq").toPandas()
    vec = vec.sort_values("doc_id").reset_index(drop=True)
    assert vec["seq"].tolist() == list(range(7))


def test_sql_extract_matches_pandas_extract(spark):
    """The zero-Python Catalyst extraction must be value-identical to
    the pandas reference implementation on every fixture shape (split
    JSON fragments, nulls, strings, timestamps)."""
    from geocube_spark import datagen as DG
    from geocube_spark.extract import (
        extract_vector_table,
        extract_vector_table_sql,
    )

    for pdf in (
        DG.flat_polygon_docs(),
        DG.grouped_polygon_docs(),
        DG.point_docs(with_null=True),
    ):
        docs = DG.to_spark(spark, pdf)
        a = extract_vector_table(docs).orderBy("doc_id").toPandas()
        b = extract_vector_table_sql(docs).orderBy("doc_id").toPandas()
        assert list(a.columns) == list(b.columns)
        assert a.equals(b)


def test_all_touched_superset(spark):
    """all_touched=True burns every cell the boundary touches on top of
    the interior (reference rasterize.py:96-100,129)."""
    from geocube_spark import datagen as DG
    from geocube_spark.cube import make_geocube

    docs = DG.to_spark(spark, DG.flat_polygon_docs(n=5))
    kw = dict(
        measurements=["om_r"], output_crs="EPSG:32615",
        resolution=(-30.0, 30.0), fill=-9999.0, tile_size=32,
    )
    base = make_geocube(docs, **kw).assemble()["om_r"]
    touched = make_geocube(docs, all_touched=True, **kw).assemble()["om_r"]
    base_mask = base != -9999.0
    touched_mask = touched != -9999.0
    assert (touched_mask | base_mask).sum() == touched_mask.sum()  # superset
    assert touched_mask.sum() > base_mask.sum()  # boundary adds cells


def test_utm_bounds_end_to_end_reference_fixture(spark):
    """Full pipeline vs the reference's exact grid-bounds assertion
    (test_core_integration.py:789-798): wgs84_geom.geojson features ->
    spans docs -> extract -> distributed bounds agg (WKB decode +
    closed-form TM reprojection) -> snap -> epsg:32614 1m grid."""
    import json as _json
    import os

    import pandas as pd
    import pytest as _pytest

    fx = "/root/reference/test/test_data/input/wgs84_geom.geojson"
    if not os.path.exists(fx):
        _pytest.skip("reference fixture not available")
    gj = _json.load(open(fx))
    from geocube_spark import datagen as DG
    from geocube_spark.cube import make_geocube
    from geocube_spark.geometry.wkb import from_geojson

    geoms = [from_geojson(f["geometry"]) for f in gj["features"]]
    attrs = [{"id": int(f["properties"]["id"])} for f in gj["features"]]
    docs = DG.to_spark(spark, DG._doc_rows("wgs", geoms, attrs))
    cube = make_geocube(
        docs, measurements=["id"], output_crs="epsg:32614",
        resolution=(-1.0, 1.0), fill=-9999.0,
    )
    assert cube.geobox.bounds() == _pytest.approx(
        (1665478.0, 7018306.0, 1665945.0, 7018509.0)
    )
    assert (cube.geobox.width, cube.geobox.height) == (467, 203)


def test_multipolygon_burn_matches_parts(spark):
    """MultiPolygon features (the reference group fixture's geometry
    type) burn identically to their exploded Polygon parts — covers
    the per-geometry fallback path through the full Spark pipeline."""
    import numpy as np

    from geocube_spark import datagen as DG
    from geocube_spark.cube import make_geocube
    from geocube_spark.geometry import wkb as W

    rng = np.random.RandomState(9)
    quads = DG._jitter_polygons(rng, 6)
    multis = [
        W.multipolygon([quads[i].parts, quads[i + 1].parts])
        for i in range(0, 6, 2)
    ]
    kw = dict(
        measurements=["v"], output_crs="EPSG:32615",
        resolution=(-30.0, 30.0), fill=-9999.0, merge_alg="add",
        tile_size=32,
    )
    vals = [{"v": float(10 * (i + 1))} for i in range(3)]
    multi_docs = DG.to_spark(spark, DG._doc_rows("mp", multis, vals))
    multi = make_geocube(multi_docs, **kw).assemble()["v"]

    part_vals = [{"v": float(10 * (i // 2 + 1))} for i in range(6)]
    part_docs = DG.to_spark(spark, DG._doc_rows("pp", quads, part_vals))
    parts = make_geocube(part_docs, **kw).assemble()["v"]

    # identical because this seed's paired parts don't overlap (a
    # multi dedupes cells across its own parts, separate docs don't)
    np.testing.assert_array_equal(multi, parts)


def test_linestring_burn_matches_local(spark):
    """LINESTRING features through the full Spark pipeline (batched
    cover + batched supercover burn) match the single-process
    numpy reference burn (which uses the per-geometry _segment_cells
    fallback) cell-for-cell, for both merge algebras."""
    from geocube_spark import datagen as DG

    rng = np.random.RandomState(11)
    lines = []
    for i in range(8):
        k = 3 + (i % 3)        # 3-5 points: several length groups
        lon = rng.uniform(*DG.GARS_LON, size=k)
        lat = rng.uniform(*DG.GARS_LAT, size=k)
        lines.append(W.linestring(np.column_stack([lon, lat])))
    vals = [{"v": float(i + 1)} for i in range(8)]
    docs = DG.to_spark(spark, DG._doc_rows("ln", lines, vals))
    for merge_alg in ("replace", "add"):
        cube = make_geocube(
            docs, measurements=["v"], output_crs="EPSG:32615",
            geom=GARS, resolution=(-10.0, 10.0), fill=-9999.0,
            merge_alg=merge_alg, tile_size=64,
        )
        got = cube.assemble()["v"]
        expected = _local_burn(
            DG._doc_rows("ln", lines, vals), cube.geobox, "v",
            merge_alg=merge_alg,
        )
        np.testing.assert_allclose(got, expected, equal_nan=True)
        assert (got != -9999.0).sum() > 50      # lines actually burned


def test_sql_extract_geometry_less_docs(spark):
    """Text-only documents (no geom span) must yield geometry_wkb NULL,
    not an ANSI element_at crash (pandas-path parity)."""
    import pandas as pd

    from geocube_spark.extract import (
        extract_vector_table,
        extract_vector_table_sql,
    )

    rows = [
        {"doc_id": "t-1", "spans": [
            {"kind": "attr", "text": '{"v": 1}', "media_ref": "", "offset": 0},
            {"kind": "text", "text": "no geometry here", "media_ref": "", "offset": 1},
        ]},
        {"doc_id": "t-2", "spans": [
            {"kind": "geom", "text": "Point", "media_ref": "", "offset": 0},
            {"kind": "attr", "text": '{"v": 2}', "media_ref": "", "offset": 1},
        ]},
    ]
    from geocube_spark.datagen import SPANS_SCHEMA

    docs = spark.createDataFrame(pd.DataFrame(rows), schema=SPANS_SCHEMA)
    a = extract_vector_table(docs, [("v", "long")]).orderBy("doc_id").toPandas()
    b = extract_vector_table_sql(docs, [("v", "long")]).orderBy("doc_id").toPandas()
    assert a["geometry_wkb"].isna().all()
    assert b["geometry_wkb"].isna().all()
    assert a.equals(b)


def test_grouped_string_attrs_skipped(spark):
    """Grouped fixture now carries the reference's string attr columns
    (cokey/mukey/drclassdcd): default measurement selection must skip
    them with a warning, numeric bands unaffected."""
    docs = datagen.to_spark(spark, datagen.grouped_polygon_docs(n_groups=3))
    cube = make_geocube(
        docs, group_by="hzdept_r", output_crs="epsg:32615", geom=GARS,
        resolution=(-10, 10), fill=-9999.0,
    )
    assert "cokey" not in cube.bands
    assert "drclassdcd" not in cube.bands
    assert "claytotal_r" in cube.bands and "hzdepb_r" in cube.bands


def test_grouped_cube_null_group_rows_dropped(spark):
    """Reference parity: pandas groupby drops NaN-group rows — a null
    group value must neither become a band slice nor break assemble."""
    import pandas as pd
    from geocube_spark.geometry import wkb as W

    pdf = pd.DataFrame(
        {"doc_id": [f"p{i}" for i in range(6)],
         "seq": np.arange(6, dtype="int64"),
         "geometry_wkb": [W.point(i + 0.5, 0.5).to_wkb() for i in range(6)],
         "value": np.arange(6, dtype="float64") + 1,
         "grp": ["a", None, "b", None, "a", "b"]}
    )
    vec = spark.createDataFrame(pdf)
    geom = ('{"type":"Polygon","coordinates":[[[0,0],[6,0],[6,1],'
            '[0,1],[0,0]]]}')
    cube = make_geocube(
        vec, measurements=["value"], group_by="grp", geom=geom,
        resolution=(-1.0, 1.0), fill=0.0, tile_size=8,
    )
    assert cube.group_keys == ["a", "b"]
    arrs = cube.assemble()
    assert arrs["value"].shape == (2, 1, 6)
    # null-group points (cols 1 and 3) burned nowhere
    np.testing.assert_array_equal(arrs["value"][0, 0], [1, 0, 0, 0, 5, 0])
    np.testing.assert_array_equal(arrs["value"][1, 0], [0, 0, 3, 0, 0, 6])


def test_burn_plan_has_exactly_one_shuffle(spark):
    """The flagship burn's physical plan: ONE wide dependency (the
    pinned repartition onto (group, tile)) — extract and cover are
    narrow maps, the burn is a mapInPandas over the shuffled
    partitions. A second Exchange appearing here means a regression
    in the one-shuffle contract (BASELINE.md plan audit)."""
    from geocube_spark import datagen
    from geocube_spark.cube import make_geocube

    docs = datagen.to_spark(spark, datagen.scale_docs(50, seed=2))
    cube = make_geocube(
        docs, measurements=["m0"], resolution=(-0.05, 0.05),
        fill=0.0, merge_alg="add", tile_size=32,
    )
    plan = cube.chunks._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # salted skew escape: partial burn + per-tile merge = exactly two
    salted = make_geocube(
        docs, measurements=["m0"], resolution=(-0.05, 0.05),
        fill=0.0, merge_alg="add", tile_size=32, salt=4,
    )
    plan2 = salted.chunks._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Exchange") == 2, plan2
