"""Distributed vector -> raster cube pipeline (the engine core).

Spark-first re-expression of the reference's eager single-node flow
(/root/reference/geocube/vector_to_cube.py:54-294, SURVEY.md §3.1):

driver:    params -> (optional) bounds-agg job -> snap grid -> tile plan
executors: extract/decode/reproject (mapInPandas, Arrow batches)
           -> cover-join explode (geometry -> covering tile ids)
           -> ONE wide shuffle on (group_key, tile_id)
           -> grouped-map burn UDF (applyInPandas, numpy scanline)
sink:      chunk DataFrame keyed (zoom, cell_id) + lineage columns

Design notes for 100 TB scale:
* The only wide dependency is the groupBy on (group, tile). Dense-tile
  skew is handled by AQE (enabled in session helper) and by choosing
  ``tile_size`` so the median geometry covers O(1-10) tiles
  (SURVEY.md §4). A salted two-phase merge for 'add' is possible
  (commutative); 'replace' stays order-merged per tile via the
  deterministic ``seq`` sort inside the UDF — per-pixel max_by(seq)
  would also distribute but costs an exploded-cell shuffle.
* Geometry cover uses the *envelope* tile range — false positives cost
  one no-op scanline pass in the UDF, never wrong output.
* All heavy math is numpy inside Arrow-batched UDFs; the relational
  scaffolding (projection, filters, joins, partitioning) stays JVM-side
  for Catalyst/codegen.
"""

from __future__ import annotations

import logging
import math
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .exceptions import VectorDataError
from .geometry import wkb as W
from .geometry.crs import CRS, transform as crs_transform
from .grid.geobox import GeoBox, GeoBoxMaker
from .kernels.dtypes import is_numeric, minimize_dtype
from .kernels.interpolate import (GridInterpolator, interpolate_na,
                                  nearest_interp)
from .kernels.rasterize import (
    _multi_arange,
    batch_outline_cells,
    batch_polygon_cells,
    edges_from_rings,
    edges_from_varying_rings,
    geometry_cells,
)
from .plans.checkpoint import DEFAULT_N_BUCKETS, write_cube
from .plans.halo import (HALO_ROUNDS, NO_GROUP, halo_resolve,
                          margin_certified)

logger = logging.getLogger("geocube_spark")

DEFAULT_TILE_SIZE = 256

# interp grids with at least this many tiles use the two-stage
# fit-broadcast-evaluate plan (per-tile parallel evaluation); smaller
# grids stay single-task per (band, group) where the extra job +
# broadcast would dominate
_INTERP_PARALLEL_MIN_TILES = 8

_NUMERIC_SPARK = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType,
)


# ---------------------------------------------------------------------------
# band metadata (driver-side planning, reference vector_to_cube.py:199-240)
# ---------------------------------------------------------------------------

@dataclass
class BandMeta:
    name: str
    dtype: str              # minimized output dtype
    fill: float             # fill actually burned for this band
    categories: Optional[list] = None   # categorical enum (incl. 'nodata')
    units: Optional[str] = None         # datetime bands quirk

    def to_dict(self):
        return {
            "name": self.name, "dtype": self.dtype, "fill": self.fill,
            "categories": self.categories, "units": self.units,
        }


@dataclass
class GeoCube:
    """A raster cube = chunk DataFrame + grid + band metadata."""

    chunks: DataFrame
    geobox: GeoBox
    bands: dict                      # name -> BandMeta
    group_by: Optional[str] = None
    group_keys: Optional[list] = None   # sorted ascending (pandas groupby)
    tile_size: int = DEFAULT_TILE_SIZE
    fill: float = np.nan

    # -- driver-side assembly (tests / golden comparison) -----------------
    def assemble(self) -> dict:
        """Collect chunks into dense numpy arrays keyed by measurement.

        Shape (H, W) or (n_groups, H, W). Driver-side — only for test
        scale; production consumers read the chunk table.
        """
        h, w = self.geobox.shape
        ngroups = len(self.group_keys) if self.group_by else 0
        # chunk group_key is stringified; group_keys keep the input type
        gidx = {str(k): i for i, k in enumerate(self.group_keys or [])}
        out = {}
        for name, meta in self.bands.items():
            shape = (ngroups, h, w) if self.group_by else (h, w)
            out[name] = np.full(shape, meta.fill, dtype=meta.dtype)
        for row in self.chunks.toLocalIterator():
            meta = self.bands[row["measurement"]]
            arr = out[row["measurement"]]
            vals = np.asarray(row["values"], dtype=np.float64).reshape(
                row["h"], row["w"]
            )
            vals = vals.astype(meta.dtype)
            sl = (
                slice(row["row0"], row["row0"] + row["h"]),
                slice(row["col0"], row["col0"] + row["w"]),
            )
            if self.group_by:
                arr[(gidx[row["group_key"]],) + sl] = vals
            else:
                arr[sl] = vals
        return out

    def coords(self):
        c = self.geobox.coords()
        if self.group_by:
            c[self.group_by] = list(self.group_keys)
        return c

    def to_netcdf(self, path: str) -> None:
        """Write the cube as a netCDF file (reference ``Dataset.
        to_netcdf`` parity, api/core.py usage in every integration
        test). Classic CDF-2 format — no HDF5/netCDF library needed,
        readable by xarray/netCDF4/GDAL/ncdump — with the reference's
        variable structure: x/y (+ group) coordinates, ``spatial_ref``
        grid mapping carrying the CRS WKT, per-band ``_FillValue`` /
        ``grid_mapping`` / ``units`` attrs, and categorical enums as a
        ``categories`` attribute. Driver-side (assembles the cube) —
        the distributed sink is ``write()``; this is the
        interchange-format hatch."""
        from .sources.netcdf_classic import write_netcdf

        arrs = self.assemble()
        coords = self.geobox.coords()
        dims = {}
        variables = {}
        if self.group_by:
            dims[self.group_by] = len(self.group_keys)
            variables[self.group_by] = (
                (self.group_by,),
                np.asarray(self.group_keys, dtype="float64"),
                {"NAME": self.group_by},
            )
        dims["y"] = self.geobox.height
        dims["x"] = self.geobox.width
        variables["y"] = (
            ("y",), np.asarray(coords["y"], dtype="float64"),
            {"long_name": "y coordinate of projection",
             "standard_name": "projection_y_coordinate", "units": "m",
             "axis": "Y"},
        )
        variables["x"] = (
            ("x",), np.asarray(coords["x"], dtype="float64"),
            {"long_name": "x coordinate of projection",
             "standard_name": "projection_x_coordinate", "units": "m",
             "axis": "X"},
        )
        wkt = self.geobox.crs.to_wkt()
        variables["spatial_ref"] = (
            (), np.int32(0),
            {"spatial_ref": wkt, "crs_wkt": wkt},
        )
        band_dims = (
            (self.group_by, "y", "x") if self.group_by else ("y", "x")
        )
        for m, meta in self.bands.items():
            attrs = {
                "_FillValue": np.asarray(meta.fill, dtype=meta.dtype),
                "name": m, "long_name": m,
                "grid_mapping": "spatial_ref",
            }
            if meta.units:
                attrs["units"] = meta.units
            if meta.categories:
                attrs["categories"] = ",".join(meta.categories)
            variables[m] = (band_dims, arrs[m], attrs)
        write_netcdf(
            path, dims=dims, variables=variables,
            global_attrs={"Conventions": "CF-1.8"},
        )

    # -- distributed post-operations (bandops.py) -------------------------
    def with_band(self, name: str, inputs, fn, *, fill=float("nan")):
        """Derived band via element-wise algebra (JVM-side HOFs)."""
        from .bandops import with_band

        return with_band(self, name, inputs, fn, fill=fill)

    def coarsen(self, factor: int, agg: str = "mean"):
        """f x f block downsample — narrow map, zero shuffle."""
        from .bandops import coarsen

        return coarsen(self, factor, agg)

    def band_stats(self, measurements=None):
        """Per-(band, group) min/max/sum/mean/nodata statistics."""
        from .bandops import band_stats

        return band_stats(self, measurements)

    def focal(self, stat: str = "mean", size: int = 3,
              measurements=None):
        """Moving-window statistics via tile halo exchange (bandops)."""
        from .bandops import focal

        return focal(self, stat, size, measurements)

    def merge(self, other: "GeoCube", merge_alg: str = "replace"):
        """Fold another cube over the same grid into this one
        (bandops.merge_cubes)."""
        from .bandops import merge_cubes

        return merge_cubes(self, other, merge_alg)

    def terrain(self, band: str, mode: str = "slope", *,
                azimuth: float = 315.0, altitude: float = 45.0,
                z_factor: float = 1.0):
        """Horn slope/aspect/hillshade via tile halo exchange."""
        from .bandops import terrain

        return terrain(self, band, mode, azimuth=azimuth,
                       altitude=altitude, z_factor=z_factor)

    def contour(self, levels, measurements=None, *,
                segment_cap: int = 2_000_000):
        """Iso-line vector table (marching squares on the halo
        stencil); see ``bandops.contour``."""
        from .bandops import contour

        return contour(self, levels, measurements,
                       segment_cap=segment_cap)

    def zonal_stats_raster(self, zone_band: str, value_band: str):
        """Per-zone value statistics, zones from a raster band."""
        from .bandops import zonal_stats_raster

        return zonal_stats_raster(self, zone_band, value_band)

    def zonal_majority(self, zone_band: str, value_band: str):
        """Per-zone majority/minority/variety (ESRI ZonalStatistics
        categorical stats); exact-value counting."""
        from .bandops import zonal_majority

        return zonal_majority(self, zone_band, value_band)

    def clip(self, geom, *, invert: bool = False):
        """Mask to a cutline polygon (gdalwarp -cutline / rioxarray
        ``.rio.clip`` parity); cells outside become fill."""
        from .bandops import clip_cube

        return clip_cube(self, geom, invert=invert)

    def reclassify(self, band: str, breaks, classes, *,
                   name: str = None, right: bool = False):
        """Range -> class recode of a band (numpy ``digitize``
        semantics); the class band is appended."""
        from .bandops import reclassify

        return reclassify(self, band, breaks, classes, name=name,
                          right=right)

    def color_relief(self, band: str, ramp, *, prefix=None):
        """gdaldem color-relief: linear color-ramp bands (r/g/b)."""
        from .bandops import color_relief

        return color_relief(self, band, ramp, prefix=prefix)

    def zonal_crosstab(self, zone_band: str, class_band: str):
        """Cell-count cross-tabulation of two categorical bands."""
        from .bandops import zonal_crosstab

        return zonal_crosstab(self, zone_band, class_band)

    def point_query(self, points, x_col: str = "x", y_col: str = "y",
                    *, method: str = "nearest", measurements=None,
                    id_cols=None):
        """Sample band values at point locations (rasterio
        ``sample`` / xarray ``.sel(method='nearest')`` parity)."""
        from .bandops import point_query

        return point_query(self, points, x_col, y_col, method=method,
                           measurements=measurements, id_cols=id_cols)

    def diff(self, other: "GeoCube", mode: str = "delta"):
        """Change detection vs another cube on the same grid
        (bandops.diff_cubes): 'delta' = other - self where both hold
        data; 'mask' = changed/unchanged/nodata."""
        from .bandops import diff_cubes

        return diff_cubes(self, other, mode)

    def region_group(self, band: str, *, name: str = None):
        """Global 4-connected equal-value component labels (ESRI
        RegionGroup); canonical min-cell-id labels, NaN outside data."""
        from .regions import region_group

        return region_group(self, band, name=name)

    def sieve(self, band: str, min_size: int, *, passes: int = 1,
              name: str = None):
        """GDAL SieveFilter: sub-threshold components take their
        largest neighbor's value (see regions.sieve)."""
        from .regions import sieve

        return sieve(self, band, min_size, passes=passes, name=name)

    def warp(self, like, *, method: str = "nearest", tile_size=None):
        """Regrid onto another grid (GeoBox / dict / .tif / .nc path),
        reprojecting when CRSs differ — distributed reproject_match."""
        from .warp import warp

        return warp(self, like, method=method, tile_size=tile_size)

    def write(self, path: str, *, n_buckets: int = DEFAULT_N_BUCKETS,
              commit_batches: int = 4, fail_after: Optional[int] = None):
        """Persist the cube as committed snapshots partitioned by
        (zoom, cell bucket) — the Iceberg layout of the north rule —
        with per-tile lineage and kill-resume (plans.checkpoint)."""
        _, ntx, nty = self.geobox.n_tiles(self.tile_size)
        return write_cube(
            self.chunks, path, n_buckets=n_buckets,
            commit_batches=commit_batches, fail_after=fail_after,
            grid_spec={"ntx": ntx, "nty": nty,
                       "tile_size": self.tile_size},
        )


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def total_bounds(vector_df: DataFrame, src_crs: CRS, dst_crs: CRS):
    """Distributed total_bounds (reference geobox.py:196-202): envelope
    of every geometry (after reprojection) -> one min/max agg job."""
    src_spec, dst_spec = src_crs.spec, dst_crs.spec

    schema = T.StructType(
        [
            T.StructField("minx", T.DoubleType()),
            T.StructField("miny", T.DoubleType()),
            T.StructField("maxx", T.DoubleType()),
            T.StructField("maxy", T.DoubleType()),
        ]
    )

    def _env(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s, d = (CRS.from_user_input(src_spec),
                CRS.from_user_input(dst_spec))
        for pdf in batches:
            blobs = [b for b in pdf["geometry_wkb"].values if b is not None]
            if not blobs:
                continue
            pts = W.try_parse_points(blobs)
            if pts is not None:  # vectorized point fast path
                x, y = pts
                if src_spec != dst_spec:
                    x, y = crs_transform(s, d, x, y)
                arr = np.column_stack([x, y, x, y])
            else:
                rows = []
                for blob in blobs:
                    g = W.loads(bytes(blob))
                    if src_spec != dst_spec:
                        g = g.transform(lambda x, y: crs_transform(s, d, x, y))
                    rows.append(g.bounds())
                arr = np.asarray(rows)
            yield pd.DataFrame(
                {
                    "minx": [arr[:, 0].min()],
                    "miny": [arr[:, 1].min()],
                    "maxx": [arr[:, 2].max()],
                    "maxy": [arr[:, 3].max()],
                }
            )

    env = vector_df.select("geometry_wkb").mapInPandas(_env, schema=schema)
    row = env.agg(
        F.min("minx"), F.min("miny"), F.max("maxx"), F.max("maxy")
    ).collect()[0]
    if row[0] is None:
        raise VectorDataError("No geometries found.")
    return (row[0], row[1], row[2], row[3])


def _spark_is_numeric(dt) -> bool:
    return isinstance(dt, _NUMERIC_SPARK)


def _zoom_for(geobox: GeoBox, tile_size: int) -> int:
    _, ntx, nty = geobox.n_tiles(tile_size)
    return max(0, math.ceil(math.log2(max(ntx, nty, 1))))


# ---------------------------------------------------------------------------
# the flagship API
# ---------------------------------------------------------------------------

def make_geocube(
    vector_data: DataFrame,
    *,
    measurements: Optional[list] = None,
    datetime_measurements: Optional[list] = None,
    output_crs=None,
    resolution=None,
    align=None,
    geom=None,
    like=None,
    fill: float = np.nan,
    group_by: Optional[str] = None,
    interpolate_na_method: Optional[str] = None,
    categorical_enums: Optional[dict] = None,
    rasterize_function: str = "image",
    # spark-first extras
    input_crs="EPSG:4326",
    tile_size: int = DEFAULT_TILE_SIZE,
    merge_alg: str = "replace",
    all_touched: bool = False,
    filter_nan: bool = False,
    salt: int = 0,          # >1: two-phase salted burn for dense-tile skew
    _emit_partials: bool = False,   # internal: keep aux bands (streaming)
    interp_method: Optional[str] = None,   # griddata: nearest|linear|cubic; radial: rbf function
    rescale: bool = False,
) -> GeoCube:
    """Rasterize a vector/document DataFrame into a chunked cube.

    Parameter semantics follow the reference
    (/root/reference/geocube/api/core.py:19-101); ``vector_data`` is a
    Spark DataFrame — either the interleaved documents table (column
    ``spans``) or an extracted vector table with ``geometry_wkb``.

    ``rasterize_function``: 'image' (scanline burn, default —
    reference rasterize.py:67-133), 'points_griddata'
    (rasterize.py:136-191), 'points_radial' (rasterize.py:194-239).

    Interpolators route by input size, never with ``rescale=True``:
    above 150k points 'linear', 'nearest' and 'proximity' run
    halo-tiled (plans/halo.py), as does radius-bounded IDW above 20k
    points and ``interpolate_na_method='nearest'`` above 16M grid
    cells; smaller inputs take the single-task / broadcast engines.
    Linear values can differ by about 1e-12 across the 150k threshold.
    """
    from .extract import extract_vector_table_sql, validate_vector_df

    if "spans" in vector_data.columns:
        vector_df = extract_vector_table_sql(vector_data)
    else:
        vector_df = vector_data
    validate_vector_df(vector_df)

    in_crs = CRS.from_user_input(input_crs)

    # --- measurement selection (reference vector_to_cube.py:96-118) ----
    reserved = {"doc_id", "seq", "geometry_wkb"}
    schema = {f.name: f.dataType for f in vector_df.schema.fields}
    if measurements is None:
        meas = [c for c in vector_df.columns if c not in reserved and c != group_by]
    else:
        meas = list(measurements)
        missing = [m for m in meas if m not in schema]
        if missing:
            raise VectorDataError(f"measurements not found: {missing}")
    if group_by is not None and group_by not in schema:
        raise VectorDataError(f"group_by column not found: {group_by!r}")
    if group_by in meas:
        # the group key becomes a coordinate, never a band (reference
        # vector_to_cube.py measurement handling)
        meas.remove(group_by)

    categorical_enums = categorical_enums or {}
    datetime_measurements = list(datetime_measurements or [])

    # --- per-band planning (dtype/fill/categories/units) ----------------
    bands: dict[str, BandMeta] = {}
    enum_maps: dict[str, dict] = {}
    for m in list(meas):
        if m in categorical_enums:
            cats = sorted(set(categorical_enums[m])) + ["nodata"]
            enum_maps[m] = {c: i for i, c in enumerate(cats)}
            # categorical fill forced to -1 (vector_to_cube.py:326-330)
            bands[m] = BandMeta(m, "int8", -1.0, categories=cats)
        elif m in datetime_measurements:
            bands[m] = BandMeta(
                m, "float64", 0.0,
                units="seconds from 1970-01-01T00:00:00",
            )
        else:
            dt = schema[m]
            if not _spark_is_numeric(dt):
                logger.warning("Skipping attribute %s (non-numeric)", m)
                meas.remove(m)   # reference rasterize.py:111-113
                continue
            np_dt = np.dtype(
                {
                    "bigint": "int64",
                    "int": "int32",
                    "smallint": "int16",
                    "tinyint": "int8",
                    "double": "float64",
                    "float": "float32",
                    "boolean": "bool",
                }.get(dt.simpleString(), "float64")
            )
            bands[m] = BandMeta(m, str(minimize_dtype(np_dt, fill)), fill)

    if not meas:
        raise VectorDataError("No measurements to rasterize.")

    # --- column transforms (JVM-side where possible) ---------------------
    work = vector_df
    for m, mapping in enum_maps.items():
        mexpr = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
        work = work.withColumn(
            m, F.coalesce(mexpr[F.col(m)], F.lit(-1)).cast("double")
        )
    for m in datetime_measurements:
        # the group_by column converts too: group keys must sort
        # chronologically (reference sorts datetime64 group coords)
        if m in schema and (m in bands or m == group_by):
            # reference: datetime64[ns] -> numeric epoch ns as float64
            # (vector_to_cube.py:20-44); Spark timestamps are micros.
            # Accept ISO strings AND the US "M/d/yyyy h:mm:ss a XXX"
            # offset form of the reference fixtures; tz-aware values
            # normalize to UTC (session timezone).
            ts = F.coalesce(
                F.try_to_timestamp(F.col(m).cast("string")),
                F.try_to_timestamp(
                    F.col(m).cast("string"),
                    F.lit("M/d/yyyy h:mm:ss a XXX"),
                ),
                F.try_to_timestamp(
                    F.col(m).cast("string"),
                    F.lit("M/d/yyyy h:mm:ss a"),
                ),
            )
            work = work.withColumn(
                m, (F.unix_micros(ts) * F.lit(1000)).cast("double")
            )
    cast_meas = [
        F.col(m).cast("double").alias(m) for m in meas
    ]
    keep = [F.col("seq"), F.col("geometry_wkb")] + cast_meas
    if group_by:
        keep.append(F.col(group_by).alias("__group"))
    work = work.select(*keep)
    if group_by:
        # reference parity: pandas groupby(group_by) drops NaN-group
        # rows (vector_to_cube.py grouped path), so a null group value
        # never becomes a band slice
        work = work.filter(F.col("__group").isNotNull())

    if filter_nan and rasterize_function == "image" and len(meas) == 1:
        # reference rasterize.py:30-43 removes null rows pre-burn; with
        # multiple bands the reference filters per band inside the UDF
        work = work.filter(F.col(meas[0]).isNotNull())

    # --- grid planning (driver; one cheap agg job if bounds needed) ------
    maker = GeoBoxMaker(
        output_crs=output_crs, resolution=resolution, align=align,
        geom=geom, like=like,
    )
    need_bounds = like is None and maker.geom is None
    if need_bounds:
        out_crs = CRS.from_user_input(output_crs) if output_crs else in_crs
        bounds = total_bounds(work, in_crs, out_crs)
        # bounds already in target CRS -> hand them over as-is
        geobox = maker.from_bounds_crs(bounds, out_crs)
    else:
        geobox = maker.from_bounds_crs(None, in_crs)

    zoom = _zoom_for(geobox, tile_size)
    gb_dict = geobox.to_dict()

    group_keys = None
    if group_by:
        group_keys = [
            r[0]
            for r in work.select("__group").distinct().orderBy("__group").collect()
        ]

    # --- dispatch to the physical strategy --------------------------------
    if rasterize_function == "image":
        chunks = _burn_chunks(
            work, meas, gb_dict, in_crs.spec, tile_size, zoom, fill,
            merge_alg, all_touched, filter_nan, bands, bool(group_by),
            salt=salt, emit_aux=_emit_partials,
        )
    elif rasterize_function in ("points_griddata", "points_radial"):
        chunks = _interp_chunks(
            work, meas, gb_dict, in_crs.spec, tile_size, zoom, fill,
            rasterize_function, interp_method, rescale, filter_nan,
            bool(group_by),
        )
    elif callable(rasterize_function):
        # reference §2.9 extension point: any f(*, geometry_array,
        # data_values, geobox, grid_coords, fill, **ignored) -> ndarray
        chunks = _custom_chunks(
            work, meas, gb_dict, in_crs.spec, tile_size, zoom, fill,
            rasterize_function,
            dict(merge_alg=merge_alg, all_touched=all_touched,
                 filter_nan=filter_nan),
            bool(group_by),
        )
    else:
        raise ValueError(f"unknown rasterize_function {rasterize_function!r}")

    cube = GeoCube(
        chunks=chunks, geobox=geobox, bands=bands, group_by=group_by,
        group_keys=group_keys, tile_size=tile_size, fill=fill,
    )
    if interpolate_na_method:
        # nearest is certifiably tileable (strict-margin halo rule);
        # the single-task path assembles the FULL band per (band,
        # group), so big grids route to the tiled form
        if (interpolate_na_method == "nearest"
                and geobox.width * geobox.height > _TILED_NA_MIN_CELLS):
            cube = _interpolate_na_tiled(cube)
        else:
            cube = _interpolate_na_cube(cube, interpolate_na_method)
    return cube


# ---------------------------------------------------------------------------
# physical stage 1: reproject + tile cover (narrow map, no shuffle)
# ---------------------------------------------------------------------------

_COVER_FIELDS = [
    T.StructField("tile_id", T.LongType()),
    T.StructField("seq", T.LongType()),
    T.StructField("pix_wkb", T.BinaryType()),   # polygons/lines only
    # point fast path: pixel coords as plain doubles (NaN for
    # non-points). Points skip WKB entirely — no per-row bytes objects
    # through the shuffle, and the burn side gets a vectorized isnan
    # mask instead of a per-blob type scan.
    T.StructField("px", T.DoubleType()),
    T.StructField("py", T.DoubleType()),
]


def _cover_df(work: DataFrame, meas, gb_dict, src_spec, tile_size, grouped):
    schema = T.StructType(
        _COVER_FIELDS
        + ([T.StructField("group_key", T.StringType())] if grouped else [])
        + [T.StructField(m, T.DoubleType()) for m in meas]
    )

    def _cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gb = GeoBox.from_dict(gb_dict)
        inv = gb.affine.invert()
        src = CRS.from_user_input(src_spec)
        dst = gb.crs
        reproject = src != dst
        _, ntx, nty = gb.n_tiles(tile_size)

        def _to_pix(x, y):
            if reproject:
                x, y = crs_transform(src, dst, x, y)
            return (
                inv.c + inv.a * x + inv.b * y,
                inv.f + inv.d * x + inv.e * y,
            )

        for pdf in batches:
            blobs = pdf["geometry_wkb"].values
            cols = ["tile_id", "seq", "pix_wkb", "px", "py"]
            if grouped:
                cols.append("group_key")
            cols += list(meas)

            frames = []
            # vectorized path for the POINT SUBSET of the batch (mixed
            # corpora stay on the numpy path for their point rows).
            # Points travel as plain double columns — no WKB objects
            # through the shuffle
            is_pt, x, y = W.partition_points(blobs)
            if len(x):
                if reproject:
                    x, y = crs_transform(src, dst, x, y)
                px = inv.c + inv.a * x + inv.b * y
                py = inv.f + inv.d * x + inv.e * y
                tx = np.floor(px / tile_size).astype(np.int64)
                ty = np.floor(py / tile_size).astype(np.int64)
                m_in = (tx >= 0) & (tx < ntx) & (ty >= 0) & (ty < nty)
                sub = pdf[is_pt]
                out = pd.DataFrame(
                    {
                        "tile_id": ty[m_in] * ntx + tx[m_in],
                        "seq": sub["seq"].values[m_in].astype("int64"),
                        "pix_wkb": None,
                        "px": px[m_in],
                        "py": py[m_in],
                    }
                )
                if grouped:
                    gv = sub["__group"].values[m_in]
                    out["group_key"] = [
                        None if v is None else str(v) for v in gv
                    ]
                for m in meas:
                    out[m] = sub[m].values[m_in]
                frames.append(out[cols])

            rest = np.flatnonzero(~is_pt)
            if len(rest):
                # batched path for single-ring polygons: vectorized
                # parse -> reproject -> pixel transform -> envelope ->
                # tile-range explode, no per-geometry Python
                rest_blobs = [blobs[i] for i in rest]
                smask, groups = W.batch_parse_simple_polygons(rest_blobs)
                seqs_all = pdf["seq"].values
                gvs_all = pdf["__group"].values if grouped else None

                def _explode_tiles(pos, pws, minx, miny, maxx, maxy):
                    """Envelope -> covered tile ids; returns a frame of
                    (tile_id, seq, pix_wkb [, group, meas...]) rows."""
                    tx0 = np.maximum(
                        0, np.floor(minx / tile_size).astype(np.int64)
                    )
                    tx1 = np.minimum(
                        ntx - 1, np.floor(maxx / tile_size).astype(np.int64)
                    )
                    ty0 = np.maximum(
                        0, np.floor(miny / tile_size).astype(np.int64)
                    )
                    ty1 = np.minimum(
                        nty - 1, np.floor(maxy / tile_size).astype(np.int64)
                    )
                    ok = (tx1 >= tx0) & (ty1 >= ty0)
                    if not ok.any():
                        return None
                    pos = pos[ok]
                    pws = pws[ok]
                    tx0, tx1 = tx0[ok], tx1[ok]
                    ty0, ty1 = ty0[ok], ty1[ok]
                    nx = tx1 - tx0 + 1
                    counts = nx * (ty1 - ty0 + 1)
                    rep = np.repeat(np.arange(len(pos)), counts)
                    j = _multi_arange(
                        np.zeros(len(pos), dtype=np.int64), counts
                    )
                    tids = (ty0[rep] + j // nx[rep]) * ntx + (
                        tx0[rep] + j % nx[rep]
                    )
                    out = pd.DataFrame(
                        {
                            "tile_id": tids,
                            "seq": seqs_all[pos][rep].astype("int64"),
                            "pix_wkb": pws[rep],
                            "px": np.nan,
                            "py": np.nan,
                        }
                    )
                    if grouped:
                        gv = gvs_all[pos][rep]
                        out["group_key"] = [
                            None if v is None else str(v) for v in gv
                        ]
                    for m in meas:
                        out[m] = pdf[m].values[pos][rep]
                    return out[cols]

                for idx, coords in groups:
                    pos = rest[idx]
                    gx = coords[:, :, 0].ravel()
                    gy = coords[:, :, 1].ravel()
                    if reproject:
                        gx, gy = crs_transform(src, dst, gx, gy)
                    pxc = inv.c + inv.a * gx + inv.b * gy
                    pyc = inv.f + inv.d * gx + inv.e * gy
                    k = coords.shape[1]
                    pix = np.stack(
                        [pxc.reshape(-1, k), pyc.reshape(-1, k)], axis=2
                    )
                    pws = np.empty(len(pos), dtype=object)
                    pws[:] = W.encode_simple_polygons(pix)
                    out = _explode_tiles(
                        pos, pws,
                        pix[:, :, 0].min(axis=1),
                        pix[:, :, 1].min(axis=1),
                        pix[:, :, 0].max(axis=1),
                        pix[:, :, 1].max(axis=1),
                    )
                    if out is not None:
                        frames.append(out)

                # multi-ring path (holes / multi parts): ONE transform
                # over every coordinate of the batch, per-blob envelope
                # via reduceat, structure-preserving pixel-space WKB
                mmask, parsed = W.batch_parse_polygons(
                    [None if smask[j] else rest_blobs[j]
                     for j in range(len(rest_blobs))]
                )
                if parsed is not None:
                    gx = parsed["coords"][:, 0]
                    gy = parsed["coords"][:, 1]
                    if reproject:
                        gx, gy = crs_transform(src, dst, gx, gy)
                    pxc = inv.c + inv.a * gx + inv.b * gy
                    pyc = inv.f + inv.d * gx + inv.e * gy
                    starts = np.zeros(len(parsed["pos"]), dtype=np.int64)
                    np.cumsum(parsed["blob_pts"][:-1], out=starts[1:])
                    pws = np.empty(len(parsed["pos"]), dtype=object)
                    pws[:] = W.encode_polygons(
                        parsed["structs"], np.column_stack([pxc, pyc])
                    )
                    out = _explode_tiles(
                        rest[parsed["pos"]], pws,
                        np.minimum.reduceat(pxc, starts),
                        np.minimum.reduceat(pyc, starts),
                        np.maximum.reduceat(pxc, starts),
                        np.maximum.reduceat(pyc, starts),
                    )
                    if out is not None:
                        frames.append(out)

                # batched LINESTRING path: same vectorized transform /
                # envelope-explode as simple polygons, open polylines
                lmask, lgroups = W.batch_parse_simple_lines(
                    [None if smask[j] or mmask[j] else rest_blobs[j]
                     for j in range(len(rest_blobs))]
                )
                for idx, coords in lgroups:
                    pos = rest[idx]
                    gx = coords[:, :, 0].ravel()
                    gy = coords[:, :, 1].ravel()
                    if reproject:
                        gx, gy = crs_transform(src, dst, gx, gy)
                    pxc = inv.c + inv.a * gx + inv.b * gy
                    pyc = inv.f + inv.d * gx + inv.e * gy
                    k = coords.shape[1]
                    pix = np.stack(
                        [pxc.reshape(-1, k), pyc.reshape(-1, k)], axis=2
                    )
                    pws = np.empty(len(pos), dtype=object)
                    pws[:] = W.encode_simple_lines(pix)
                    out = _explode_tiles(
                        pos, pws,
                        pix[:, :, 0].min(axis=1),
                        pix[:, :, 1].min(axis=1),
                        pix[:, :, 0].max(axis=1),
                        pix[:, :, 1].max(axis=1),
                    )
                    if out is not None:
                        frames.append(out)
                rest = rest[~smask & ~mmask & ~lmask]
            if len(rest):
                out_rows = {c: [] for c in cols}
                seqs = pdf["seq"].values
                gvs = pdf["__group"].values if grouped else None
                mvals = {m: pdf[m].values for m in meas}
                for i in rest:
                    blob = blobs[i]
                    if blob is None:
                        continue
                    g = W.loads(bytes(blob)).transform(_to_pix)
                    minx, miny, maxx, maxy = g.bounds()
                    tx0 = max(0, int(minx // tile_size))
                    tx1 = min(ntx - 1, int(maxx // tile_size))
                    ty0 = max(0, int(miny // tile_size))
                    ty1 = min(nty - 1, int(maxy // tile_size))
                    if tx1 < tx0 or ty1 < ty0:
                        continue
                    pw = g.to_wkb()
                    for ty in range(ty0, ty1 + 1):
                        for tx in range(tx0, tx1 + 1):
                            out_rows["tile_id"].append(ty * ntx + tx)
                            out_rows["seq"].append(int(seqs[i]))
                            out_rows["pix_wkb"].append(pw)
                            out_rows["px"].append(np.nan)
                            out_rows["py"].append(np.nan)
                            if grouped:
                                gv = gvs[i]
                                out_rows["group_key"].append(
                                    None if gv is None else str(gv)
                                )
                            for m in meas:
                                out_rows[m].append(mvals[m][i])
                frames.append(pd.DataFrame(out_rows, columns=cols))

            if frames:
                yield pd.concat(frames, ignore_index=True)

    return work.mapInPandas(_cover, schema=schema)


# ---------------------------------------------------------------------------
# physical stage 2: grouped-map burn (the one wide shuffle)
# ---------------------------------------------------------------------------

_CHUNK_FIELDS = [
    T.StructField("measurement", T.StringType()),
    T.StructField("group_key", T.StringType()),
    T.StructField("zoom", T.IntegerType()),
    T.StructField("tile_id", T.LongType()),
    T.StructField("row0", T.IntegerType()),
    T.StructField("col0", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("values", T.ArrayType(T.DoubleType())),
    T.StructField("n_geoms", T.LongType()),
    T.StructField("n_cells_burned", T.LongType()),   # cell-touches (work)
    T.StructField("min_seq", T.LongType()),
    T.StructField("max_seq", T.LongType()),
]
CHUNK_SCHEMA = T.StructType(_CHUNK_FIELDS)


def _chunk_row(m, gkey, zoom, tile, band, n_geoms, min_seq, max_seq):
    """One ``CHUNK_SCHEMA`` row, as a dict, for ``tile`` = (tile_id,
    row0, col0, h, w) holding ``band``'s ``h * w`` values."""
    tile_id, row0, col0, h, w = tile
    return {
        "measurement": m, "group_key": gkey, "zoom": zoom,
        "tile_id": tile_id, "row0": row0, "col0": col0,
        "h": h, "w": w, "values": np.ravel(band),
        "n_geoms": n_geoms, "n_cells_burned": int(h * w),
        "min_seq": min_seq, "max_seq": max_seq,
    }


# sparse partial chunks (salted burn stage 1 / streaming micro-batches):
# only touched cells travel - cells (flat tile idx), vals, aux (touch
# counts for 'add', winning seq for 'replace')
_PARTIAL_FIELDS = [
    f for f in _CHUNK_FIELDS if f.name != "values"
] + [
    T.StructField("cells", T.ArrayType(T.LongType())),
    T.StructField("vals", T.ArrayType(T.DoubleType())),
    T.StructField("aux", T.ArrayType(T.DoubleType())),
]
PARTIAL_SCHEMA = T.StructType(_PARTIAL_FIELDS)


def _grouped_map(df, keys, n_parts, fn, out_schema):
    """``repartition(keys)`` + ``mapInPandas`` with an in-partition
    pandas groupby — same results as ``groupBy(keys).applyInPandas(fn)``
    (hash partitioning on the keys puts every group in exactly one
    partition), but ONE Arrow round-trip per PARTITION instead of per
    group. With thousands of tile-groups the grouped-map exec's
    per-group Arrow batch + grouping machinery dominated the burn
    stage; the pandas groupby replaces it at in-memory speed. ``fn``
    still receives ``(key_tuple, sub_frame)`` exactly like
    applyInPandas; outputs are yielded per group so OUTPUT peak memory
    stays one group's result. INPUT-side peak is the whole partition
    (the concat below) — callers bound it by scaling ``n_parts`` with
    the key count, not just cores, so a partition holds O(tens) of
    groups at any input size."""
    n_keys = len(keys)

    def _part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        for key, sub in pdf.groupby(
            keys if n_keys > 1 else keys[0], sort=False, dropna=False
        ):
            if n_keys == 1:
                key = (key,)
            key = tuple(
                None if (isinstance(k, float) and np.isnan(k)) else k
                for k in key
            )
            yield fn(key, sub)

    return df.repartition(n_parts, *keys).mapInPandas(
        _part, schema=out_schema
    )


def merge_partial_chunks(pdf: pd.DataFrame, fills: dict, merge_alg: str,
                         out_cols) -> pd.DataFrame:
    """Combine SPARSE partial chunk rows of ONE (tile, group) into
    final dense chunks.

    Partials carry only their touched cells: ``cells`` (flat tile
    indices), ``vals`` (partial cell values) and ``aux`` — touch
    counts for 'add' (merged cell = fill + sum over partials), or the
    winning input ``seq`` per cell for 'replace' (global max-seq per
    cell = distributed last-write-wins). Sparseness makes the merge
    shuffle O(touches), never O(tile_area x partials). Shared by the
    salted-skew burn and the streaming incremental cube.
    """
    out = []
    for m in pdf["measurement"].unique():
        sub = pdf[pdf["measurement"] == m]
        first = sub.iloc[0]
        f = fills[m]
        hw = int(first["h"]) * int(first["w"])
        cells = np.concatenate(
            [np.asarray(c, dtype=np.int64) for c in sub["cells"]]
        )
        vals = np.concatenate(
            [np.asarray(v, dtype=np.float64) for v in sub["vals"]]
        )
        aux = np.concatenate(
            [np.asarray(a, dtype=np.float64) for a in sub["aux"]]
        )
        band = np.full(hw, f, dtype=np.float64)
        if len(cells):
            if merge_alg == "add":
                sums = np.bincount(cells, weights=vals, minlength=hw)
                counts = np.bincount(cells, weights=aux, minlength=hw)
                band = np.where(counts > 0, f + sums, f)
            else:
                order = np.lexsort((aux, cells))
                c = cells[order]
                v = vals[order]
                u, first_rev = np.unique(c[::-1], return_index=True)
                band[u] = v[::-1][first_rev]
        seq_lo = sub["min_seq"].values
        seq_lo = seq_lo[seq_lo >= 0]
        out.append(
            {
                "measurement": m,
                "group_key": first["group_key"],
                "zoom": int(first["zoom"]),
                "tile_id": int(first["tile_id"]),
                "row0": int(first["row0"]),
                "col0": int(first["col0"]),
                "h": int(first["h"]),
                "w": int(first["w"]),
                "values": band,
                "n_geoms": int(sub["n_geoms"].sum()),
                "n_cells_burned": int(sub["n_cells_burned"].sum()),
                "min_seq": int(seq_lo.min()) if len(seq_lo) else -1,
                "max_seq": int(sub["max_seq"].max()),
            }
        )
    return pd.DataFrame(out, columns=out_cols)


def _burn_chunks(work, meas, gb_dict, src_spec, tile_size, zoom, fill,
                 merge_alg, all_touched, filter_nan, bands, grouped,
                 salt: int = 0, emit_aux: bool = False):
    """salt > 1 splits every tile's input across ``salt`` sub-keys of
    the deterministic ``seq`` and merges the partial burns in a second
    (cheap, per-tile) stage - the skew escape hatch when one dense tile
    would otherwise dominate a task (north rule: salted repartitioning
    for dense-geometry skew). Results match the unsalted burn:
    bit-identical for 'replace', 1-ulp for 'add' (partial sums
    reassociate FP addition). ``emit_aux`` keeps the aux
    band on the output (used by the streaming incremental sink, which
    merges partials across micro-batches later)."""
    cover = _cover_df(work, meas, gb_dict, src_spec, tile_size, grouped)

    fills = {m: bands[m].fill for m in meas}
    salted = salt and salt > 1
    # partial mode emits SPARSE rows (touched cells only) so the merge
    # shuffle is O(touches), never O(tile_area x partials)
    aux_mode = None
    if salted or emit_aux:
        aux_mode = "count" if merge_alg == "add" else "seq"

    def _burn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gb = GeoBox.from_dict(gb_dict)
        _, ntx, nty = gb.n_tiles(tile_size)
        tile_id = int(key[0])
        gkey = str(key[1]) if grouped and key[1] is not None else None
        ty, tx = divmod(tile_id, ntx)
        row0, col0 = ty * tile_size, tx * tile_size
        h = min(tile_size, gb.height - row0)
        w = min(tile_size, gb.width - col0)
        hw = h * w

        if merge_alg != "add":
            # last-wins needs seq order; 'add' is commutative — skip
            # the per-tile sort entirely
            pdf = pdf.sort_values("seq", kind="mergesort")
        blobs = pdf["pix_wkb"].values
        n_geoms = len(blobs)
        min_seq = int(pdf["seq"].min()) if n_geoms else -1
        max_seq = int(pdf["seq"].max()) if n_geoms else -1

        # ---- gather (cell, source-row) contributions, fully batched --
        # points: vectorized floor; simple polygons: ONE batched
        # scanline for the whole tile (length-grouped WKB parse, no
        # per-geometry Python); holes/multiparts/lines: per-geometry
        # fallback. Every contribution carries its pdf position so both
        # merge algebras reduce to single numpy ops per band.
        contrib_flat: list = []
        contrib_pos: list = []

        # points arrive as plain double columns (cover fast path) — a
        # vectorized NaN mask instead of a per-blob WKB type scan
        pxs = pdf["px"].values
        pys = pdf["py"].values
        is_pt = ~np.isnan(pxs)
        if is_pt.any():
            cc = np.floor(pxs[is_pt]).astype(np.int64) - col0
            rr = np.floor(pys[is_pt]).astype(np.int64) - row0
            ok = (rr >= 0) & (rr < h) & (cc >= 0) & (cc < w)
            if ok.any():
                contrib_flat.append((rr[ok] * w + cc[ok]).astype(np.int32))
                contrib_pos.append(np.flatnonzero(is_pt)[ok])

        rest = np.flatnonzero(~is_pt)
        fallback = rest
        if len(rest):
            rest_blobs = [blobs[i] for i in rest]
            smask, groups = W.batch_parse_simple_polygons(rest_blobs)
            edge_parts = []
            for idx, coords in groups:
                coords[:, :, 0] -= col0
                coords[:, :, 1] -= row0
                edge_parts.append(
                    edges_from_rings(coords, rest[idx])
                )
            # multi-ring path: holes and multi-part polygons feed the
            # SAME batched scanline — all rings of a geometry share one
            # owner, so even-odd pairing gives hole subtraction free
            mmask, parsed = W.batch_parse_polygons(
                [None if smask[j] else rest_blobs[j]
                 for j in range(len(rest_blobs))]
            )
            if parsed is not None:
                mc = parsed["coords"].copy()
                mc[:, 0] -= col0
                mc[:, 1] -= row0
                ring_owner_global = rest[
                    parsed["pos"][parsed["ring_owner"]]
                ]
                edge_parts.append(
                    edges_from_varying_rings(
                        mc, parsed["ring_len"], ring_owner_global
                    )
                )
            if edge_parts:
                x1 = np.concatenate([p[0] for p in edge_parts])
                y1 = np.concatenate([p[1] for p in edge_parts])
                x2 = np.concatenate([p[2] for p in edge_parts])
                y2 = np.concatenate([p[3] for p in edge_parts])
                own = np.concatenate([p[4] for p in edge_parts])
                fl, powner = batch_polygon_cells(x1, y1, x2, y2, own, h, w)
                if all_touched:
                    # boundary supercover, then dedupe per owner so the
                    # 'add' algebra burns each geometry once per cell
                    # (matches geometry_cells' per-geometry unique)
                    fo, fown = batch_outline_cells(
                        x1, y1, x2, y2, own, h, w
                    )
                    fl = np.concatenate([fl, fo])
                    powner = np.concatenate([powner, fown])
                    if len(fl):
                        key = np.unique(powner * np.int64(hw) + fl)
                        powner = key // hw
                        fl = key % hw
                if len(fl):
                    contrib_flat.append(fl)
                    contrib_pos.append(powner)

            # batched LINESTRING path: supercover of every segment in
            # the tile at the same sampling density as the per-geometry
            # fallback (_segment_cells), then per-geometry dedupe so
            # the 'add' algebra burns each line once per cell (matches
            # geometry_cells' unique)
            lmask, lgroups = W.batch_parse_simple_lines(
                [None if smask[j] or mmask[j] else rest_blobs[j]
                 for j in range(len(rest_blobs))]
            )
            line_parts = []
            for idx, coords in lgroups:
                coords[:, :, 0] -= col0
                coords[:, :, 1] -= row0
                line_parts.append(edges_from_rings(coords, rest[idx]))
            if line_parts:
                lx1 = np.concatenate([p[0] for p in line_parts])
                ly1 = np.concatenate([p[1] for p in line_parts])
                lx2 = np.concatenate([p[2] for p in line_parts])
                ly2 = np.concatenate([p[3] for p in line_parts])
                lown = np.concatenate([p[4] for p in line_parts])
                fo, fown = batch_outline_cells(
                    lx1, ly1, lx2, ly2, lown, h, w
                )
                if len(fo):
                    key = np.unique(fown * np.int64(hw) + fo)
                    contrib_flat.append((key % hw).astype(np.int32))
                    contrib_pos.append(key // hw)
            fallback = rest[~smask & ~mmask & ~lmask]

        for i in fallback:
            b = blobs[i]
            if b is None:
                continue
            g = W.loads(bytes(b)).transform(
                lambda x, y: (x - col0, y - row0)
            )
            rows, cols = geometry_cells(g, h, w, all_touched)
            if len(rows):
                contrib_flat.append((rows * w + cols).astype(np.int32))
                contrib_pos.append(np.full(len(rows), i, dtype=np.int64))

        if contrib_flat:
            flat_all = np.concatenate(contrib_flat)
            pos_all = np.concatenate(contrib_pos)
        else:
            flat_all = np.empty(0, dtype=np.int64)
            pos_all = np.empty(0, dtype=np.int64)
        n_burned = int(len(flat_all))
        if merge_alg != "add" and len(pos_all):
            # seq (= pdf position) order so fancy assignment's documented
            # last-write-wins reproduces MergeAlg.replace
            order = np.argsort(pos_all, kind="stable")
            flat_all = flat_all[order]
            pos_all = pos_all[order]

        seqs_arr = pdf["seq"].values.astype(np.int64)
        out = []
        for m in meas:
            vals = pdf[m].values.astype(np.float64)
            fl = flat_all
            vv = vals[pos_all]
            pp = pos_all
            if filter_nan and len(fl):
                k = ~np.isnan(vv)
                fl, vv, pp = fl[k], vv[k], pp[k]
            row = {
                "measurement": m,
                "group_key": gkey,
                "zoom": zoom,
                "tile_id": tile_id,
                "row0": row0,
                "col0": col0,
                "h": h,
                "w": w,
                "n_geoms": n_geoms,
                "n_cells_burned": n_burned,
                "min_seq": min_seq,
                "max_seq": max_seq,
            }
            if aux_mode:
                # sparse partial: only touched cells travel
                if len(fl) == 0:
                    cells = np.empty(0, dtype=np.int64)
                    pvals = np.empty(0, dtype=np.float64)
                    paux = np.empty(0, dtype=np.float64)
                elif merge_alg == "add":
                    sums = np.bincount(fl, weights=vv, minlength=hw)
                    counts = np.bincount(fl, minlength=hw)
                    cells = np.flatnonzero(counts)
                    pvals = sums[cells]
                    paux = counts[cells].astype(np.float64)
                else:
                    # fl is pos-ordered (sorted above for replace):
                    # reversed-unique keeps the per-cell winner
                    u, first_rev = np.unique(fl[::-1], return_index=True)
                    cells = u
                    pvals = vv[::-1][first_rev]
                    paux = seqs_arr[pp][::-1][first_rev].astype(np.float64)
                row["cells"] = cells
                row["vals"] = pvals
                row["aux"] = paux
            else:
                f = fills[m]
                band = np.full(hw, f, dtype=np.float64)
                if len(fl):
                    if merge_alg == "add":
                        # untouched cells add 0.0 -> stay fill; NaN
                        # weights poison exactly their cells (+= parity)
                        band += np.bincount(fl, weights=vv, minlength=hw)
                    else:
                        band[fl] = vv
                row["values"] = band
            out.append(row)
        return pd.DataFrame(out, columns=out_fields)

    keys = ["tile_id", "group_key"] if grouped else ["tile_id"]
    # Pin the burn-shuffle partition count. The cover rows are tiny in
    # BYTES but each tile is heavy in COMPUTE, so AQE's size-based
    # coalescing would collapse the stage to ~1 task and serialize the
    # burn. An explicit repartition count is exempt from coalescing and
    # satisfies the groupBy's clustering, so no second exchange is
    # added. Cap at the tile count so we never make empty-heavy plans.
    sc = cover.sparkSession.sparkContext
    gb = GeoBox.from_dict(gb_dict)
    n_tiles, _, _ = gb.n_tiles(tile_size)
    # partition count scales with BOTH cores and tile count: the
    # mapInPandas feed concatenates a whole partition, so cap a
    # partition at ~64 tiles regardless of cluster size (a 15M-tile
    # grid gets ~230k partitions, not 4 x cores)
    n_parts = max(
        1,
        min(int(n_tiles),
            max(4 * sc.defaultParallelism, int(n_tiles) // 64)),
    )

    out_schema = PARTIAL_SCHEMA if aux_mode else CHUNK_SCHEMA
    out_fields = [f.name for f in out_schema.fields]
    # _burn closes over out_fields/aux_mode/burn_fills defined above

    if salted:
        stage_keys = keys + ["__salt"]
        cover = cover.withColumn(
            "__salt", F.pmod(F.col("seq"), F.lit(int(salt)))
        )
        n_sub = int(n_tiles) * int(salt)
        n1 = max(
            1,
            min(n_sub, max(4 * sc.defaultParallelism, n_sub // 64)),
        )
        partial = _grouped_map(
            cover, stage_keys, n1,
            (lambda key, pdf: _burn((key[0], key[1]), pdf))
            if grouped
            else (lambda key, pdf: _burn((key[0], None), pdf)),
            out_schema,
        )
        if emit_aux:
            return partial  # streaming sink merges across micro-batches
        merge_cols = [f.name for f in _CHUNK_FIELDS]

        def _merge(key, pdf):
            return merge_partial_chunks(pdf, fills, merge_alg, merge_cols)

        return _grouped_map(partial, keys, n_parts, _merge, CHUNK_SCHEMA)

    return _grouped_map(
        cover, keys, n_parts,
        (lambda key, pdf: _burn(key, pdf))
        if grouped
        else (lambda key, pdf: _burn((key[0], None), pdf)),
        out_schema,
    )


# ---------------------------------------------------------------------------
# interpolation strategy (points_griddata / points_radial)
# ---------------------------------------------------------------------------

# above this many scatter points 'linear', 'nearest' and 'proximity'
# route to their halo-tiled engines (no single-task fit, no broadcast
# of the point set); below it one global fit task is cheaper than the
# halo rounds. Linear values can differ by ~1e-12 across the threshold
# (per-tile vs global barycentric arithmetic).
_TILED_LINEAR_MIN_POINTS = 150_000

# radius-bounded IDW: the broadcast-eval alternative pays
# O(cells x ALL points), so the tiled path pays off almost immediately
_TILED_IDW_MIN_POINTS = 20_000

# interpolate_na: the single-task path assembles the FULL band per
# (band, group); above this many grid cells, 'nearest' routes to the
# halo-certified tiled form (cells, not points — the grid is the cost)
_TILED_NA_MIN_CELLS = 16_000_000


@contextmanager
def _forced_engine(engine: str):
    """Route every size-routed interpolator to its ``'tiled'`` or
    ``'global'`` engine inside the block, by patching the three
    thresholds above. The seam for tests, oracle extras and benches
    that must pin an engine; ``make_geocube`` itself only routes by
    size."""
    global _TILED_LINEAR_MIN_POINTS, _TILED_IDW_MIN_POINTS, \
        _TILED_NA_MIN_CELLS
    saved = (_TILED_LINEAR_MIN_POINTS, _TILED_IDW_MIN_POINTS,
             _TILED_NA_MIN_CELLS)
    lim = {"tiled": -1, "global": math.inf}[engine]
    _TILED_LINEAR_MIN_POINTS = _TILED_IDW_MIN_POINTS = \
        _TILED_NA_MIN_CELLS = lim
    try:
        yield
    finally:
        (_TILED_LINEAR_MIN_POINTS, _TILED_IDW_MIN_POINTS,
         _TILED_NA_MIN_CELLS) = saved


# the tiled point interpolators start a tile's halo at this many mean
# point spacings (rounded up to a power of two): about what a cell's
# Delaunay triangle and its circumcircle need where the point density
# is near-uniform
_RING_SPACINGS = 16


def _point_bucket(tile_size, n, cells):
    """Ring (cells) for ``n`` points on ``cells`` cells:
    :data:`_RING_SPACINGS` mean spacings, rounded up to a power of two,
    clamped to ``8 .. max(8, tile_size // 4)``. The upper clamp is the
    fixed ring of sparse tiles; a denser tile starts thinner, so its
    round-1 point count stays ~points-in-tile + O(ring)."""
    cap = max(8, tile_size // 4)
    if n <= 0:
        return cap
    edge = 2 ** math.ceil(math.log2(_RING_SPACINGS * math.sqrt(cells / n)))
    return int(min(max(edge, 8), cap))


def _density_block(tile_size):
    """Edge (cells) of the blocks the band stats count points in: twice
    the largest ring, so a tile's window is a few blocks."""
    return 2 * max(8, tile_size // 4)


def _tile_rings(block_n, gb, tile_size):
    """``{(measurement, __g, tile_id): ring}``: each tile's round-1 ring
    is the :func:`_point_bucket` of the sparsest block within one block
    of the tile (``block_n[(measurement, __g)]`` holds each band's
    point count per :func:`_density_block` block), so a tile in or next
    to a sparse patch keeps the fixed ring. Only the tiles whose ring
    is below the clamp are listed."""
    cap = max(8, tile_size // 4)
    block = _density_block(tile_size)
    n_tiles, ntx, _ = gb.n_tiles(tile_size)
    rings = {}
    for (m, g), counts in block_n.items():
        for t in range(n_tiles):
            r0, c0 = divmod(t, ntx)
            r0, c0 = r0 * tile_size, c0 * tile_size
            r1 = min(r0 + tile_size, gb.height) - 1
            c1 = min(c0 + tile_size, gb.width) - 1
            window = counts[max(0, r0 // block - 1): r1 // block + 2,
                            max(0, c0 // block - 1): c1 // block + 2]
            edge = _point_bucket(tile_size, window.min(), block * block)
            if edge < cap:
                rings[(m, g, t)] = edge
    return rings


def _decode_points(long_df, gb_dict, src_spec, grouped):
    """Shared front half of the tiled interpolators: decode + project
    the scatter points ONCE (distributed), with each point's grid cell
    ``row``/``col``. Returns the flattened points frame."""
    from .plans.flatten import _flat

    gb0 = GeoBox.from_dict(gb_dict)
    A = gb0.affine

    gsel = (F.col("group_key").cast("string") if grouped
            else F.lit(None).cast("string"))
    src_rows = long_df.select(
        F.col("measurement"),
        F.coalesce(gsel, F.lit(NO_GROUP)).alias("__g"),
        "seq", "geometry_wkb",
        F.col("value").cast("double").alias("v"),
    )
    pt_schema = ("measurement string, __g string, seq long, x double, "
                 "y double, v double, row long, col long")

    def _decode(batches):
        gb = GeoBox.from_dict(gb_dict)
        src = CRS.from_user_input(src_spec)
        reproject = src != gb.crs
        for pdf in batches:
            if not len(pdf):
                continue
            blobs = list(pdf["geometry_wkb"].values)
            is_pt, vx, vy = W.partition_points(blobs)
            if not is_pt.all():
                raise VectorDataError(
                    "tiled interpolation requires point geometries "
                    "(same contract as the global fit)"
                )
            px, py = vx, vy
            if reproject and len(px):
                px, py = crs_transform(src, gb.crs, px, py)
            yield pd.DataFrame({
                "measurement": pdf["measurement"].values,
                "__g": pdf["__g"].values,
                "seq": pdf["seq"].values.astype(np.int64),
                "x": px, "y": py,
                "v": pdf["v"].values.astype(np.float64),
                "row": np.floor((py - A.f) / A.e).astype(np.int64),
                "col": np.floor((px - A.c) / A.a).astype(np.int64),
            })

    return src_rows.mapInPandas(_decode, schema=pt_schema).transform(_flat)


def _bucketed(pts, bc, height, width):
    """``pts`` with each point's ``bi``/``bj`` on the ``bc``-cell
    bucket grid (lazy columns, clipped to the grid) in place of its
    cell ``row``/``col``."""
    def _bucket(c, n_cells):
        n_b = -(-n_cells // bc)
        b = F.floor(F.col(c) / F.lit(bc))
        return F.least(F.greatest(b, F.lit(0)), F.lit(n_b - 1)).cast("int")

    return (pts.withColumn("bi", _bucket("row", height))
            .withColumn("bj", _bucket("col", width))
            .drop("row", "col"))


def _band_stats(pts, gb, block, hulls=False):
    """``{(measurement, __g): (n, min_seq, max_seq, hull)}`` of the
    decoded points, and each band's point counts per ``block``-cell
    block of ``gb`` (a 2-D array), in one job: per-partition partials
    merged on the driver. ``hull`` (the band's convex hull, as a hull
    of the partition hulls) is computed only with ``hulls=True``."""
    from .kernels.tiled_linear import convex_hull

    nbi, nbj = -(-gb.height // block), -(-gb.width // block)
    schema = ("measurement string, __g string, n long, mn long, "
              "mx long, hx array<double>, hy array<double>, "
              "bid array<long>, bn array<long>")

    def _part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for (m, g), sub in pdf.groupby(["measurement", "__g"],
                                           sort=False):
                h = (convex_hull(sub["x"].values, sub["y"].values)
                     if hulls else np.empty((0, 2)))
                bi = np.clip(sub["row"].values // block, 0, nbi - 1)
                bj = np.clip(sub["col"].values // block, 0, nbj - 1)
                bid, bn = np.unique(bi * nbj + bj, return_counts=True)
                out.append({
                    "measurement": m, "__g": g, "n": len(sub),
                    "mn": int(sub["seq"].min()),
                    "mx": int(sub["seq"].max()),
                    "hx": h[:, 0], "hy": h[:, 1], "bid": bid, "bn": bn,
                })
            yield pd.DataFrame(out)

    parts: dict = {}
    for r in pts.mapInPandas(_part, schema=schema).collect():
        parts.setdefault((r["measurement"], r["__g"]), []).append(r)
    stats, block_n = {}, {}
    for k, rs in parts.items():
        stats[k] = (
            sum(r["n"] for r in rs), min(r["mn"] for r in rs),
            max(r["mx"] for r in rs),
            convex_hull(np.concatenate([r["hx"] for r in rs]),
                        np.concatenate([r["hy"] for r in rs]))
            if hulls else None)
        counts = np.zeros(nbi * nbj, dtype=np.int64)
        for r in rs:
            np.add.at(counts, np.asarray(r["bid"], dtype=np.int64),
                      np.asarray(r["bn"], dtype=np.int64))
        block_n[k] = counts.reshape(nbi, nbj)
    return stats, block_n


def _tiles_frame(spark, gb_dict, tile_size, bc, bands_df):
    """Distributed (bands x tiles) work table with each tile's
    bucket-grid span — no driver-side tile list."""
    gb0 = GeoBox.from_dict(gb_dict)
    n_tiles, ntx, _nty = gb0.n_tiles(tile_size)
    H, Wd = gb0.height, gb0.width
    return (
        spark.range(n_tiles).select(F.col("id").alias("tile_id"))
        .withColumn("ti", (F.col("tile_id") / ntx).cast("int"))
        .withColumn("tj", F.pmod(F.col("tile_id"), F.lit(ntx)).cast("int"))
        .withColumn("row0", F.col("ti") * tile_size)
        .withColumn("col0", F.col("tj") * tile_size)
        .withColumn("h", F.least(F.lit(tile_size), F.lit(H) - F.col("row0")))
        .withColumn("w", F.least(F.lit(tile_size), F.lit(Wd) - F.col("col0")))
        .withColumn("b0i", (F.col("row0") / bc).cast("int"))
        .withColumn("b1i", ((F.col("row0") + F.col("h") - 1) / bc).cast("int"))
        .withColumn("b0j", (F.col("col0") / bc).cast("int"))
        .withColumn("b1j", ((F.col("col0") + F.col("w") - 1) / bc).cast("int"))
        .crossJoin(F.broadcast(bands_df))
    )


def _tiled_points(long_df, gb_dict, src_spec, tile_size, zoom, grouped,
                  label, make_eval, *, hulls=False, radius=None):
    """The plan of the three tiled point interpolators: decode the
    points, collect the band stats and block counts, size each tile's
    round-1 ring by the point density in and around it
    (:func:`_tile_rings`), then resolve every (band, tile) through the
    halo engine with the callback ``make_eval(stats)``.

    The bucket edge is the thinnest ring, so every ring is a whole
    number of buckets. After round 1 every tile takes the rings of the
    fixed ``max(8, tile_size // 4)`` edge: 2, 4 and 8 of its buckets,
    then the whole band. So no tile takes more rounds than with that
    edge, except one that edge certifies in round 1 and a thinner ring
    does not. With ``radius`` (world units) the one round is that
    radius, rounded up to whole buckets per axis."""
    spark = long_df.sparkSession
    gb0 = GeoBox.from_dict(gb_dict)
    pts = _decode_points(long_df, gb_dict, src_spec, grouped)
    stats, block_n = _band_stats(pts, gb0, _density_block(tile_size),
                                 hulls)
    if not stats:
        # no points at all: the global path emits nothing either
        return spark.createDataFrame([], CHUNK_SCHEMA)
    cap = max(8, tile_size // 4)
    rings = _tile_rings(block_n, gb0, tile_size)
    bc = min(rings.values(), default=cap)
    # each band row carries its listed tiles' round-1 rings, in buckets
    band_rings = {k: {} for k in stats}
    for (m, g, t), edge in rings.items():
        band_rings[(m, g)][t] = edge // bc
    bands_df = spark.createDataFrame(
        [k + (band_rings[k],) for k in sorted(stats)],
        "measurement string, __g string, rings map<bigint, int>")
    tiles = _tiles_frame(spark, gb_dict, tile_size, bc, bands_df)
    if radius is not None:
        A = gb0.affine
        schedule = [(max(1, math.ceil(radius / (bc * abs(A.e)))),
                     max(1, math.ceil(radius / (bc * abs(A.a)))))]
    else:
        tiles = tiles.withColumn("r1", F.coalesce(
            F.try_element_at("rings", "tile_id"), F.lit(cap // bc)))
        full = -(-max(gb0.height, gb0.width) // bc)
        schedule = (["r1"]
                    + [cap * 2 ** k // bc for k in range(1, HALO_ROUNDS - 1)]
                    + [full])
    meta = {k: (zoom, n, mn, mx) for k, (n, mn, mx, _) in stats.items()}
    return halo_resolve(tiles, _bucketed(pts, bc, gb0.height, gb0.width),
                        gb_dict, bc, meta, make_eval(stats),
                        schedule=schedule, label=label)


def _margin_pad(gb):
    # float slack of the strict-margin certificate: 1e-9 of the grid span
    A = gb.affine
    return 1e-9 * max(abs(A.a) * gb.width, abs(A.e) * gb.height, 1e-300)


def _interp_idw_tiled(long_df, gb_dict, src_spec, tile_size, zoom,
                      fill, grouped, method):
    """Distributed radius-bounded IDW — exact by construction, ONE
    round, no certificate: every cell's donors live within ``radius``
    of the cell, so a tile halo of ``radius`` (rounded up to whole
    buckets of the call's edge, per axis) gathers every donor of every
    cell in the tile. Each tile runs the same ``idw_interp`` kernel on
    its complete, seq-sorted donor set, so the weighted sums accumulate
    in the global order up to the zeroed out-of-radius terms: values
    match the broadcast path to float round-off, the fill pattern
    exactly.

    The broadcast path ships ALL points to every tile and pays
    O(cells x points); this path pays O(cells x local donors) — the
    scale form of gdal_grid invdist with a search radius."""
    from .kernels.interpolate import _parse_idw, idw_interp

    p = _parse_idw(method)

    def _make(stats):
        def _idw(t, donors, gx, gy, rect):
            sub = donors.sort_values("seq", kind="mergesort")
            gxm, gym = np.meshgrid(gx, gy)
            return idw_interp(
                sub["x"].values, sub["y"].values, sub["v"].values,
                gxm.ravel(), gym.ravel(), power=p["power"],
                smoothing=p["smoothing"], radius=p["radius"],
                min_points=p["min_points"], fill=fill,
            ), True

        return _idw

    return _tiled_points(long_df, gb_dict, src_spec, tile_size, zoom,
                         grouped, "tiled-idw", _make,
                         radius=p["radius"])


def _interp_nearest_tiled(long_df, gb_dict, src_spec, tile_size, zoom,
                          fill, grouped, mode: str = "nearest"):
    """Distributed nearest-neighbor interpolation (and its
    ``proximity`` distance-raster sibling) with NO broadcast of the
    point set: per-tile halo gathers with the textbook grow-until-
    stable certificate — a cell whose nearest LOCAL donor is strictly
    closer than the cell's distance to the gathered-region boundary
    cannot be beaten (or tied) by any ungathered point, so its value
    is the global answer bit-for-bit (ties resolve by lowest seq in
    both paths; the strict margin keeps a just-outside equidistant
    donor from flipping a tie).

    The broadcast-eval alternative ships ALL points to every tile;
    this path's per-tile cost is O(cells + local donors)."""
    pad = _margin_pad(GeoBox.from_dict(gb_dict))

    def _make(stats):
        def _nearest(t, donors, gx, gy, rect):
            gxm, gym = np.meshgrid(gx, gy)
            qx, qy = gxm.ravel(), gym.ravel()
            if not len(donors):
                return np.full(qx.shape, fill, dtype=np.float64), False
            sub = donors.sort_values("seq", kind="mergesort")
            px, py = sub["x"].values, sub["y"].values
            idx = nearest_interp(
                px, py, np.arange(len(px), dtype=np.float64), qx, qy
            ).astype(np.int64)
            d = np.hypot(qx - px[idx], qy - py[idx])
            ok = (len(px) == stats[(t.m, t.g)][0]
                  or margin_certified(qx, qy, d, rect, pad))
            return (d if mode == "proximity" else sub["v"].values[idx]), ok

        return _nearest

    return _tiled_points(long_df, gb_dict, src_spec, tile_size, zoom,
                         grouped, "tiled-nearest", _make)


def _interp_linear_tiled(long_df, gb_dict, src_spec, tile_size, zoom,
                         fill, grouped):
    """Distributed linear (Delaunay barycentric) interpolation with NO
    single-task stage: per-tile local triangulations over halo point
    sets, certified cell-by-cell against the global answer
    (kernels/tiled_linear.py docstring has the two certificates). The
    only driver-side materializations are the per-band hull/stat rows
    (O(hull) each) and the halo loop's per-round unresolved count."""
    from .kernels.tiled_linear import tile_linear_certified

    def _make(stats):
        def _linear(t, donors, gx, gy, rect):
            n_g, _, _, hull = stats[(t.m, t.g)]
            sub = donors.sort_values("seq", kind="mergesort")
            return tile_linear_certified(
                sub["x"].values, sub["y"].values, sub["v"].values,
                gx, gy, rect, hull, n_global=n_g, fill=fill,
            )

        return _linear

    return _tiled_points(long_df, gb_dict, src_spec, tile_size, zoom,
                         grouped, "tiled-linear", _make, hulls=True)


def _interp_chunks(work, meas, gb_dict, src_spec, tile_size, zoom, fill,
                   function, method, rescale, filter_nan, grouped):
    """Global interpolators: melt to (group, measurement) long form, one
    task per band computes the full grid tile-by-tile (bounded memory),
    parallel across groups x measurements (SURVEY.md §2.8)."""
    method = method or ("nearest" if function == "points_griddata" else "linear")

    melted = []
    for m in meas:
        cols = [
            F.lit(m).alias("measurement"),
            F.col("seq"),
            F.col("geometry_wkb"),
            F.col(m).alias("value"),
        ]
        if grouped:
            cols.append(F.col("__group").cast("string").alias("group_key"))
        melted.append(work.select(*cols))
    long_df = melted[0]
    for df in melted[1:]:
        long_df = long_df.unionByName(df)
    if filter_nan:
        long_df = long_df.filter(F.col("value").isNotNull())

    # size-based routing to the halo-tiled engines (plans/halo.py): no
    # single-task fit, no broadcast of the point set. Small inputs stay
    # on the global path, where one fit task is cheaper than the halo
    # rounds. rescale couples the fit to the global bbox transform and
    # always stays global.
    if function == "points_griddata" and not rescale:
        from .kernels.interpolate import _parse_idw

        # linear: per-tile Delaunay, certified cell by cell
        if (method == "linear"
                and long_df.count() > _TILED_LINEAR_MIN_POINTS):
            return _interp_linear_tiled(
                long_df, gb_dict, src_spec, tile_size, zoom, fill,
                grouped,
            )
        # nearest / proximity: the strict-margin certificate
        if (method in ("nearest", "proximity")
                and long_df.count() > _TILED_LINEAR_MIN_POINTS):
            return _interp_nearest_tiled(
                long_df, gb_dict, src_spec, tile_size, zoom, fill,
                grouped, mode=method,
            )
        # radius-bounded IDW is exactly tileable (donors live within
        # the radius): one round, no certificate; the broadcast path
        # pays O(cells x ALL points), so its threshold is low
        if (method.split(":", 1)[0] in ("idw", "invdist")
                and _parse_idw(method)["radius"] is not None
                and long_df.count() > _TILED_IDW_MIN_POINTS):
            return _interp_idw_tiled(
                long_df, gb_dict, src_spec, tile_size, zoom, fill,
                grouped, method,
            )

    def _fit_model(pdf: pd.DataFrame):
        """Decode + reproject the band's points and fit the globally-
        coupled structures ONCE (Delaunay + CT gradients / RBF dense
        solve). Deterministic point order regardless of shuffle
        arrival: on an exact-distance tie argmin picks the first
        (= lowest seq) point."""
        gb = GeoBox.from_dict(gb_dict)
        src = CRS.from_user_input(src_spec)
        reproject = src != gb.crs
        pdf = pdf.sort_values("seq", kind="mergesort")
        blobs = list(pdf["geometry_wkb"].values)
        is_pt, vx, vy = W.partition_points(blobs)
        if is_pt.all():
            # vectorized decode (the normal all-points case)
            px, py = vx, vy
        else:
            xs, ys = [], []
            for blob in blobs:
                g = W.loads(bytes(blob))
                for p in g.points():
                    xs.append(p[0])
                    ys.append(p[1])
            px = np.asarray(xs, dtype=np.float64)
            py = np.asarray(ys, dtype=np.float64)
        if reproject and len(px):
            px, py = crs_transform(src, gb.crs, px, py)
        vals = pdf["value"].values.astype(np.float64)
        return GridInterpolator(
            function, method, px, py, vals, fill=fill, rescale=rescale,
        )

    out_cols = [f.name for f in _CHUNK_FIELDS]

    def _interp(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gb = GeoBox.from_dict(gb_dict)
        m = str(key[0])
        gkey = str(key[1]) if grouped and len(key) > 1 and key[1] is not None else None
        model = _fit_model(pdf)
        coords = gb.coords()
        mn = int(pdf["seq"].min()) if len(pdf) else -1
        mx = int(pdf["seq"].max()) if len(pdf) else -1
        out = []
        for tile in gb.tile_grid(tile_size):
            _, row0, col0, h, w = tile
            gx = coords["x"][col0 : col0 + w]
            gy = coords["y"][row0 : row0 + h]
            out.append(
                _chunk_row(m, gkey, zoom, tile, model(gx, gy), len(pdf),
                           mn, mx)
            )
        return pd.DataFrame(out, columns=out_cols)

    keys = ["measurement", "group_key"] if grouped else ["measurement"]
    sc = long_df.sparkSession.sparkContext
    gb0 = GeoBox.from_dict(gb_dict)
    n_tiles, _, _ = gb0.n_tiles(tile_size)

    if n_tiles >= _INTERP_PARALLEL_MIN_TILES:
        # grid >> points: evaluation is embarrassingly parallel while
        # the FIT is globally coupled. Two-stage plan: (1) one fit task
        # per (band, group) emits the fitted payload (O(points) bytes:
        # simplices/gradients/RBF weights — never O(grid)); (2) the
        # driver broadcasts the payloads and every (band, group, tile)
        # evaluates as its own task. A 1e9-cell grid then uses the
        # whole cluster instead of one executor core per band.
        import pickle

        fit_schema = (
            "measurement string, group_key string, payload binary, "
            "n_geoms long, min_seq long, max_seq long"
        )

        def _fit(key, pdf: pd.DataFrame) -> pd.DataFrame:
            m = str(key[0])
            gkey = (
                str(key[1])
                if grouped and len(key) > 1 and key[1] is not None
                else None
            )
            model = _fit_model(pdf)
            return pd.DataFrame(
                [{
                    "measurement": m,
                    "group_key": gkey,
                    "payload": pickle.dumps(model.payload(), protocol=4),
                    "n_geoms": len(pdf),
                    "min_seq": int(pdf["seq"].min()) if len(pdf) else -1,
                    "max_seq": int(pdf["seq"].max()) if len(pdf) else -1,
                }]
            )

        fits = (
            long_df.repartition(sc.defaultParallelism, *keys)
            .groupBy(*keys)
            .applyInPandas(
                (lambda key, pdf: _fit(key, pdf))
                if grouped
                else (lambda key, pdf: _fit((key[0], None), pdf)),
                schema=fit_schema,
            )
            .collect()
        )
        models_b = sc.broadcast({
            (r["measurement"], r["group_key"]): r["payload"] for r in fits
        })
        meta = {
            (r["measurement"], r["group_key"]):
                (int(r["n_geoms"]), int(r["min_seq"]), int(r["max_seq"]))
            for r in fits
        }
        tiles = list(gb0.tile_grid(tile_size))
        work_rows = [
            (m, gkey, int(t[0]), int(t[1]), int(t[2]), int(t[3]),
             int(t[4]), n_g, mn, mx)
            for (m, gkey), (n_g, mn, mx) in sorted(meta.items(),
                                                   key=lambda kv: (
                                                       kv[0][0],
                                                       kv[0][1] or ""))
            for t in tiles
        ]
        spark = long_df.sparkSession
        work_df = spark.createDataFrame(
            work_rows,
            "measurement string, group_key string, tile_id long, "
            "row0 int, col0 int, h int, w int, "
            "n_geoms long, min_seq long, max_seq long",
        ).repartition(
            max(1, min(len(work_rows), 4 * sc.defaultParallelism))
        )

        def _eval(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            gb = GeoBox.from_dict(gb_dict)
            coords = gb.coords()
            cache: dict = {}
            for pdf in batches:
                out = []
                for r in pdf.itertuples(index=False):
                    mk = (r.measurement, r.group_key)
                    model = cache.get(mk)
                    if model is None:
                        model = GridInterpolator.from_payload(
                            pickle.loads(models_b.value[mk])
                        )
                        cache[mk] = model
                    gx = coords["x"][r.col0 : r.col0 + r.w]
                    gy = coords["y"][r.row0 : r.row0 + r.h]
                    out.append(_chunk_row(
                        r.measurement,
                        r.group_key, zoom, (r.tile_id, r.row0, r.col0, r.h, r.w),
                        model(gx, gy), r.n_geoms, r.min_seq, r.max_seq,
                    ))
                yield pd.DataFrame(out, columns=out_cols)

        return work_df.mapInPandas(_eval, schema=CHUNK_SCHEMA)

    # small grids: one task per (band, group) computes every tile (the
    # two-stage plan's extra job + broadcast would dominate). Pin the
    # partition count so AQE's size-based coalescing can't serialize
    # bands into one task.
    long_df = long_df.repartition(sc.defaultParallelism, *keys)
    return long_df.groupBy(*keys).applyInPandas(
        (lambda key, pdf: _interp(key, pdf))
        if grouped
        else (lambda key, pdf: _interp((key[0], None), pdf)),
        schema=CHUNK_SCHEMA,
    )


# ---------------------------------------------------------------------------
# custom rasterize_function strategy (reference §2.9 extension point)
# ---------------------------------------------------------------------------

def _custom_chunks(work, meas, gb_dict, src_spec, tile_size, zoom, fill,
                   func, func_kwargs, grouped):
    """Run a user rasterize function once per (measurement, group) with
    the reference signature — the distributed formulation of the
    reference's per-band loop (vector_to_cube.py:325-344): bands and
    groups execute in parallel, each band call is single-task like the
    reference is single-node. ``None`` return skips the band
    (vector_to_cube.py:338-342)."""
    melted = []
    for m in meas:
        cols = [
            F.lit(m).alias("measurement"),
            F.col("seq"),
            F.col("geometry_wkb"),
            F.col(m).alias("value"),
        ]
        if grouped:
            cols.append(F.col("__group").cast("string").alias("group_key"))
        melted.append(work.select(*cols))
    long_df = melted[0]
    for df in melted[1:]:
        long_df = long_df.unionByName(df)

    def _run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gb = GeoBox.from_dict(gb_dict)
        src = CRS.from_user_input(src_spec)
        reproject = src != gb.crs
        m = str(key[0])
        gkey = (
            str(key[1])
            if grouped and len(key) > 1 and key[1] is not None
            else None
        )
        pdf = pdf.sort_values("seq", kind="mergesort")
        geoms = []
        for blob in pdf["geometry_wkb"].values:
            g = W.loads(bytes(blob))
            if reproject:
                g = g.transform(
                    lambda x, y: crs_transform(src, gb.crs, x, y)
                )
            geoms.append(g)
        band = func(
            geometry_array=geoms,
            data_values=pdf["value"].values.astype(np.float64),
            geobox=gb,
            grid_coords=gb.coords(),
            fill=fill,
            **func_kwargs,
        )
        if band is None:   # band skipped (vector_to_cube.py:338-342)
            return pd.DataFrame(
                [], columns=[f.name for f in _CHUNK_FIELDS]
            )
        band = np.asarray(band, dtype=np.float64)
        mn = int(pdf["seq"].min()) if len(pdf) else -1
        mx = int(pdf["seq"].max()) if len(pdf) else -1
        out = []
        for tile in gb.tile_grid(tile_size):
            _, row0, col0, h, w = tile
            out.append(_chunk_row(m, gkey, zoom, tile,
                                  band[row0:row0 + h, col0:col0 + w],
                                  len(pdf), mn, mx))
        return pd.DataFrame(out, columns=CHUNK_SCHEMA.names)

    keys = ["measurement", "group_key"] if grouped else ["measurement"]
    sc = long_df.sparkSession.sparkContext
    long_df = long_df.repartition(sc.defaultParallelism, *keys)
    return long_df.groupBy(*keys).applyInPandas(
        (lambda key, pdf: _run(key, pdf))
        if grouped
        else (lambda key, pdf: _run((key[0], None), pdf)),
        schema=CHUNK_SCHEMA,
    )


# ---------------------------------------------------------------------------
# interpolate_na post-pass (reference vector_to_cube.py:291-292)
# ---------------------------------------------------------------------------

def _interpolate_na_tiled(cube: GeoCube) -> GeoCube:
    """Distributed ``interpolate_na`` for ``method='nearest'`` — no
    full-band assembly: every tile fills its nodata cells from the
    DATA cells of a halo ring of neighbor chunks (the tiles are the
    bucket grid), certified by the same strict-margin rule as the
    tiled nearest interpolator (a filled cell whose donor is strictly
    closer than the gathered region's boundary cannot be beaten or
    tied by any ungathered data cell — donors sort row-major, the
    global tie order). Tiles absent from the burn (no covering
    geometry) are emitted filled, exactly like the single-task path; a
    band with no data cells at all passes through unchanged (global
    parity). A round joins whole chunk rows (a (2r+1)^2 ring of <=
    tile^2-cell arrays per tile), never the full band."""
    from .plans.flatten import _flat

    gb_dict = cube.geobox.to_dict()
    gb0 = cube.geobox
    ts = cube.tile_size
    ntx = gb0.n_tiles(ts)[1]
    Wd = gb0.width
    coords = gb0.coords()
    pad = _margin_pad(gb0)
    fills = {m: b.fill for m, b in cube.bands.items()}
    spark = cube.chunks.sparkSession

    src = cube.chunks.select(
        "*",
        F.coalesce(F.col("group_key").cast("string"), F.lit(NO_GROUP))
        .alias("__g"),
    ).transform(_flat)

    # band-level meta + total data-cell count (for the full-gather /
    # empty-band shortcuts) — one small aggregate
    def _is_data(m):
        nod = float(fills[m])
        col = F.col("values")
        if np.isnan(nod):
            return F.size(F.filter(col, lambda x: ~F.isnan(x)))
        return F.size(F.filter(col, lambda x: x != F.lit(nod)))

    nd = F.lit(0)
    for m in fills:
        nd = F.when(F.col("measurement") == m, _is_data(m)).otherwise(nd)
    meta, counts = {}, {}
    for r_ in src.groupBy("measurement", "__g").agg(
        F.max("zoom").alias("zoom"),
        F.sum("n_geoms").alias("ng"),
        F.min("min_seq").alias("mn"),
        F.max("max_seq").alias("mx"),
        F.sum(nd).alias("nd"),
    ).collect():
        key = (r_["measurement"], r_["__g"])
        meta[key] = (int(r_["zoom"]), int(r_["ng"]), int(r_["mn"]),
                     int(r_["mx"]))
        counts[key] = int(r_["nd"] or 0)
    if not meta:
        return cube

    bands_df = spark.createDataFrame(sorted(meta),
                                     "measurement string, __g string")
    tiles = _tiles_frame(spark, gb_dict, ts, ts, bands_df)
    donors = src.select(
        "measurement", "__g",
        (F.col("tile_id") / ntx).cast("int").alias("bi"),
        F.pmod(F.col("tile_id"), F.lit(ntx)).cast("int").alias("bj"),
        F.col("row0").alias("c_row0"), F.col("col0").alias("c_col0"),
        F.col("h").alias("c_h"), F.col("w").alias("c_w"), "values",
    )

    def _fill(t, rows, gx, gy, rect):
        nod = float(fills[t.m])
        # the tile's own values (absent chunk row = all nodata)
        own = rows[(rows["c_row0"] == t.row0) & (rows["c_col0"] == t.col0)]
        if len(own):
            band = np.asarray(own.iloc[0]["values"],
                              dtype=np.float64).reshape(t.h, t.w)
        else:
            band = np.full((t.h, t.w), nod, dtype=np.float64)
        nmask = np.isnan(band) if np.isnan(nod) else band == nod
        if not nmask.any():
            return band, True  # nothing to fill

        # gather donors (data cells of the halo chunks), sorted
        # row-major — the global tie order
        dx, dy, dv, dkey = [], [], [], []
        for _, cr in rows.iterrows():
            cv = np.asarray(cr["values"], dtype=np.float64) \
                .reshape(int(cr["c_h"]), int(cr["c_w"]))
            dm = ~np.isnan(cv) if np.isnan(nod) else cv != nod
            if not dm.any():
                continue
            rr, cc = np.nonzero(dm)
            rr = rr + int(cr["c_row0"])
            cc = cc + int(cr["c_col0"])
            dx.append(coords["x"][cc])
            dy.append(coords["y"][rr])
            dv.append(cv[dm])
            dkey.append(rr.astype(np.int64) * Wd + cc)
        n_local = sum(len(a) for a in dv)
        full = n_local == counts.get((t.m, t.g), 0)
        if n_local == 0:
            # no data cells gathered: certified only when the band
            # truly has none (global: all-nodata passes through)
            return band, full
        order = np.argsort(np.concatenate(dkey), kind="stable")
        px = np.concatenate(dx)[order]
        py = np.concatenate(dy)[order]
        pv = np.concatenate(dv)[order]

        gxm, gym = np.meshgrid(gx, gy)
        qx, qy = gxm[nmask], gym[nmask]
        idx = nearest_interp(
            px, py, np.arange(len(px), dtype=np.float64), qx, qy
        ).astype(np.int64)
        d = np.hypot(qx - px[idx], qy - py[idx])
        fixed = band.copy()
        fixed[nmask] = pv[idx]
        return fixed, full or margin_certified(qx, qy, d, rect, pad)

    final = halo_resolve(tiles, donors, gb_dict, ts, meta, _fill,
                         label="tiled-interpolate_na")
    return GeoCube(
        chunks=final, geobox=cube.geobox, bands=cube.bands,
        group_by=cube.group_by, group_keys=cube.group_keys,
        tile_size=cube.tile_size, fill=cube.fill,
    )


def _interpolate_na_cube(cube: GeoCube, method: str) -> GeoCube:
    gb_dict = cube.geobox.to_dict()
    tile_size = cube.tile_size
    fills = {m: b.fill for m, b in cube.bands.items()}

    def _fix(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gb = GeoBox.from_dict(gb_dict)
        m = str(key[0])
        h, w = gb.shape
        nodata = fills[m]
        band = np.full((h, w), nodata, dtype=np.float64)
        for _, row in pdf.iterrows():
            band[
                row["row0"] : row["row0"] + row["h"],
                row["col0"] : row["col0"] + row["w"],
            ] = np.asarray(row["values"], dtype=np.float64).reshape(
                row["h"], row["w"]
            )
        coords = gb.coords()
        fixed = interpolate_na(band, coords["x"], coords["y"], nodata, method)
        gkey = pdf["group_key"].iloc[0] if len(pdf) else None
        zoom = int(pdf["zoom"].iloc[0]) if len(pdf) else 0
        n_geoms = int(pdf["n_geoms"].sum()) if len(pdf) else 0
        mn = int(pdf["min_seq"].min()) if len(pdf) else -1
        mx = int(pdf["max_seq"].max()) if len(pdf) else -1
        # emit the FULL tile grid: interpolation fills tiles that had no
        # chunk row at burn time (no covering geometry)
        out = []
        for tile in gb.tile_grid(tile_size):
            _, row0, col0, th, tw = tile
            out.append(_chunk_row(m, gkey, zoom, tile,
                                  fixed[row0:row0 + th, col0:col0 + tw],
                                  n_geoms, mn, mx))
        return pd.DataFrame(out, columns=CHUNK_SCHEMA.names)

    keys = ["measurement", "group_key"]
    sc = cube.chunks.sparkSession.sparkContext
    fixed = (
        cube.chunks.repartition(sc.defaultParallelism, *keys)
        .groupBy(*keys)
        .applyInPandas(lambda key, pdf: _fix(key, pdf), schema=CHUNK_SCHEMA)
    )
    return GeoCube(
        chunks=fixed, geobox=cube.geobox, bands=cube.bands,
        group_by=cube.group_by, group_keys=cube.group_keys,
        tile_size=cube.tile_size, fill=cube.fill,
    )
