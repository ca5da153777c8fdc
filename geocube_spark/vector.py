"""Inverse path: raster chunks -> polygons (distributed vectorize).

Reference: geocube.vector.vectorize (/root/reference/geocube/vector.py:15-70)
— rasterio.features.shapes over a full in-memory band.

Spark strategy: components cannot be closed per-tile (a region may span
tiles), so each (measurement, group) band is assembled inside ONE
grouped-map task from its chunk rows and polygonized there — the same
memory profile as the reference's single-node pass, but parallel across
bands and groups. A per-tile + cross-tile-dissolve variant is the
documented scale-up path (SURVEY.md §7 step 7).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cube import GeoCube
from .geometry import wkb as W
from .geometry.wkb import Geometry, POLYGON
from .grid.geobox import GeoBox
from .kernels import vectorize as V
from .plans.components import components
from .regions import _L, _merge_pairs, _same

VECTOR_SCHEMA = T.StructType(
    [
        T.StructField("measurement", T.StringType()),
        T.StructField("group_key", T.StringType()),
        T.StructField("geometry_wkb", T.BinaryType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def vectorize(cube: GeoCube, measurement: str = None) -> DataFrame:
    """Polygonize cube bands -> DataFrame(measurement, group_key,
    geometry_wkb, value). Nodata cells excluded (vector.py:42-48)."""
    gb_dict = cube.geobox.to_dict()
    fills = {m: b.fill for m, b in cube.bands.items()}

    chunks = cube.chunks
    if measurement is not None:
        chunks = chunks.filter(F.col("measurement") == measurement)

    def _shapes(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gb = GeoBox.from_dict(gb_dict)
        m = str(key[0])
        gkey = key[1] if len(key) > 1 else None
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
        out = []
        for geom, val in V.shapes(band, nodata=nodata, affine=gb.affine):
            out.append(
                {
                    "measurement": m,
                    "group_key": gkey,
                    "geometry_wkb": geom.to_wkb(),
                    "value": float(val),
                }
            )
        return pd.DataFrame(out, columns=[f.name for f in VECTOR_SCHEMA.fields])

    sc = chunks.sparkSession.sparkContext
    return (
        chunks.repartition(sc.defaultParallelism, "measurement", "group_key")
        .groupBy("measurement", "group_key")
        .applyInPandas(_shapes, schema=VECTOR_SCHEMA)
    )


# ---------------------------------------------------------------------------
# distributed vectorize: per-tile polygonize + cross-tile dissolve
# (SURVEY.md §7 step 7 - the scale path for bands too big for one task)
# ---------------------------------------------------------------------------

_TILED_STAGE1 = T.StructType(
    [
        T.StructField("measurement", T.StringType()),
        T.StructField("group_key", T.StringType()),
        T.StructField("tile_id", T.LongType()),
        T.StructField("kind", T.StringType()),        # 'poly' | 'edge'
        T.StructField("label", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("geometry_wkb", T.BinaryType()),  # poly rows
        T.StructField("n_cells", T.LongType()),         # poly rows
        T.StructField("axis", T.StringType()),          # edge rows: h|v
        T.StructField("bcoord", T.LongType()),          # boundary line
        T.StructField("pos", T.LongType()),             # cell along line
        T.StructField("side", T.IntegerType()),         # 0 low / 1 high
    ]
)

TILED_VECTOR_SCHEMA = T.StructType(
    [
        T.StructField("measurement", T.StringType()),
        T.StructField("group_key", T.StringType()),
        T.StructField("component", T.StringType()),
        T.StructField("geometry_wkb", T.BinaryType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_cells", T.LongType()),
        T.StructField("n_parts", T.IntegerType()),
    ]
)


def vectorize_tiled(cube: GeoCube, measurement: str = None) -> DataFrame:
    """Distributed raster -> vector: each TILE polygonizes locally
    (parallel across tiles x bands x groups), then components touching
    across tile borders are dissolved globally into single OGC
    polygons — identical component structure to the single-task
    ``vectorize``, with memory per task bounded by tile size instead of
    band size.

    Dissolve plan (no driver bottleneck):
    1. border-cell rows (O(perimeter), tiny vs O(area)) pair up across
       adjacent tiles by (boundary line, position, value), yielding
       (tile,label)~(tile,label) adjacency edges as a DataFrame;
    2. components are connected by ``plans.components`` over the EDGE
       set, never the cell set (a driver union-find for a small edge
       set, min-label propagation with pointer jumping above it);
    3. each component's tile parts meet in one reduce task where
       opposite-direction boundary unit segments cancel (the two sides
       of an internal tile border traverse it in opposite directions)
       and the surviving segments re-chain into the true merged
       exterior/hole rings — a single OGC POLYGON per component, not a
       MULTIPOLYGON of clipped parts.
    """
    gb_dict = cube.geobox.to_dict()
    fills = {m: b.fill for m, b in cube.bands.items()}
    tile_size = cube.tile_size

    chunks = cube.chunks
    if measurement is not None:
        chunks = chunks.filter(F.col("measurement") == measurement)
    sc = chunks.sparkSession.sparkContext

    def _stage1(key, pdf: pd.DataFrame) -> pd.DataFrame:
        m = str(key[0])
        gkey = key[1]
        nodata = fills[m]
        out = []
        for _, row in pdf.iterrows():
            h, w = int(row["h"]), int(row["w"])
            row0, col0 = int(row["row0"]), int(row["col0"])
            tid = int(row["tile_id"])
            band = np.asarray(row["values"], dtype=np.float64).reshape(h, w)
            if isinstance(nodata, float) and np.isnan(nodata):
                mask = ~np.isnan(band)
            else:
                mask = band != nodata
            labels, n = V.label_components(band, mask)
            for lab in range(n):
                rc = np.argwhere(labels == lab)
                rings = V._trace_rings(rc)
                if not rings:
                    continue
                areas = [abs(V._ring_area(r)) for r in rings]
                ext = int(np.argmax(areas))
                ordered = [rings[ext]] + [
                    r for i, r in enumerate(rings) if i != ext
                ]
                # GLOBAL PIXEL coords — the dissolve needs the integer
                # lattice to cancel boundary segments; the affine is
                # applied once at the end
                pix = [
                    np.column_stack([r[:, 0] + col0, r[:, 1] + row0])
                    for r in ordered
                ]
                out.append(
                    {
                        "measurement": m, "group_key": gkey,
                        "tile_id": tid, "kind": "poly", "label": lab,
                        "value": float(band[rc[0, 0], rc[0, 1]]),
                        "geometry_wkb": Geometry(POLYGON, pix).to_wkb(),
                        "n_cells": int(len(rc)),
                        "axis": None, "bcoord": None, "pos": None,
                        "side": None,
                    }
                )
            # border cells -> adjacency probes. boundary line 'h',R sits
            # between global rows R and R+1; 'v',C between cols C, C+1
            def _edge_rows(local_rc, axis, bcoord, positions, side):
                for (lr, lc), p in zip(local_rc, positions):
                    lab = labels[lr, lc]
                    if lab < 0:
                        continue
                    out.append(
                        {
                            "measurement": m, "group_key": gkey,
                            "tile_id": tid, "kind": "edge",
                            "label": int(lab),
                            "value": float(band[lr, lc]),
                            "geometry_wkb": None, "n_cells": None,
                            "axis": axis, "bcoord": int(bcoord),
                            "pos": int(p), "side": side,
                        }
                    )

            cols = np.arange(w)
            rows_ = np.arange(h)
            _edge_rows(
                [(0, c) for c in cols], "h", row0 - 1, col0 + cols, 1
            )
            _edge_rows(
                [(h - 1, c) for c in cols], "h", row0 + h - 1, col0 + cols, 0
            )
            _edge_rows(
                [(r, 0) for r in rows_], "v", col0 - 1, row0 + rows_, 1
            )
            _edge_rows(
                [(r, w - 1) for r in rows_], "v", col0 + w - 1, row0 + rows_, 0
            )
        return pd.DataFrame(
            out, columns=[f.name for f in _TILED_STAGE1.fields]
        )

    stage1 = (
        chunks.repartition(
            4 * sc.defaultParallelism, "measurement", "group_key", "tile_id"
        )
        .groupBy("measurement", "group_key", "tile_id")
        .applyInPandas(lambda k, p: _stage1(k, p), schema=_TILED_STAGE1)
        .persist()
    )

    # components touching across tile borders: same boundary line,
    # position and value, one side each (node id = tile_id * 2^22 +
    # label, as in regions)
    labels = components(_merge_pairs(stage1), ("measurement", "group_key"))

    polys = stage1.filter(F.col("kind") == "poly").withColumn(
        "node", F.col("tile_id") * int(_L) + F.col("label")
    )
    assigned = (
        polys.alias("q")
        .join(labels.alias("r"),
              _same("q", "r") & (F.col("q.node") == F.col("r.node")),
              "left")
        .select(
            F.col("q.measurement").alias("measurement"),
            F.col("q.group_key").alias("group_key"),
            F.coalesce(F.col("r.label"), F.col("q.node")).cast("string")
            .alias("component"),
            F.col("q.value").alias("value"),
            F.col("q.geometry_wkb").alias("geometry_wkb"),
            F.col("q.n_cells").alias("n_cells"),
        )
    )

    def _dissolve(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gb = GeoBox.from_dict(gb_dict)
        parts = [W.loads(bytes(b)) for b in pdf["geometry_wkb"]]
        if len(parts) == 1:
            rings = list(parts[0].parts)
        else:
            rings = _merge_part_rings(parts)
        world = [
            np.column_stack(gb.affine.xy(r[:, 0], r[:, 1])) for r in rings
        ]
        geom = Geometry(POLYGON, world)
        return pd.DataFrame(
            [
                {
                    "measurement": key[0],
                    "group_key": key[1],
                    "component": key[2],
                    "geometry_wkb": geom.to_wkb(),
                    "value": float(pdf["value"].iloc[0]),
                    "n_cells": int(pdf["n_cells"].sum()),
                    "n_parts": len(parts),
                }
            ],
            columns=[f.name for f in TILED_VECTOR_SCHEMA.fields],
        )

    return (
        assigned.repartition(
            sc.defaultParallelism, "measurement", "group_key", "component"
        )
        .groupBy("measurement", "group_key", "component")
        .applyInPandas(_dissolve, schema=TILED_VECTOR_SCHEMA)
    )


def _merge_part_rings(parts) -> list:
    """Dissolve tile-clipped parts of one component into its true
    rings (pixel space, integer corners).

    Every part ring was traced interior-left, so the two sides of an
    internal tile border traverse the same unit segments in OPPOSITE
    directions: expanding all rings to directed unit segments and
    cancelling reversed pairs leaves exactly the merged component's
    boundary, which re-chains into closed rings (largest |area| =
    exterior, rest holes — same convention as kernels.vectorize)."""
    segs: dict = {}
    for p in parts:
        for ring in p.parts:
            r = np.asarray(ring)
            for i in range(len(r) - 1):
                x0, y0 = r[i]
                x1, y1 = r[i + 1]
                n = int(round(max(abs(x1 - x0), abs(y1 - y0))))
                dx = (x1 - x0) / n
                dy = (y1 - y0) / n
                for j in range(n):
                    a = (round(x0 + j * dx), round(y0 + j * dy))
                    b = (round(x0 + (j + 1) * dx), round(y0 + (j + 1) * dy))
                    if segs.pop((b, a), None) is not None:
                        continue  # cancelled internal border segment
                    segs[(a, b)] = True
    # chain surviving directed segments into rings
    outs: dict = {}
    for (a, b) in segs:
        outs.setdefault(a, []).append(b)
    rings = []
    while outs:
        start = next(iter(outs))
        ring = [start]
        cur = start
        while True:
            nxts = outs.get(cur)
            if not nxts:
                break
            nxt = nxts.pop()
            if not nxts:
                del outs[cur]
            ring.append(nxt)
            cur = nxt
            if cur == start:
                break
        if len(ring) > 3 and ring[0] == ring[-1]:
            rings.append(
                V._simplify_collinear(np.asarray(ring, dtype=np.float64))
            )
    if not rings:
        return [np.asarray(p.parts[0]) for p in parts[:1]]
    areas = [abs(V._ring_area(r)) for r in rings]
    ext = int(np.argmax(areas))
    return [rings[ext]] + [r for i, r in enumerate(rings) if i != ext]
