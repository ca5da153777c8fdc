"""Halo-tiled execution: one grow-until-stable loop for every tiled
interpolator.

A tiled interpolator evaluates each output tile from the donors (the
scatter points, or the data cells of neighbour chunks) in a ring of
buckets around the tile. That is a join on non-unique keys: every
donor is copied to each tile whose halo covers its bucket. One round:

    unresolved tiles -> explode to the clamped bucket span +- r
      -> ONE left equi-join with the bucketed donors
      -> ONE grouped map per tile: the caller's kernel + certificate
      -> anti-join the certified tiles, count what is left

Uncertified tiles double the halo, and the last round of the default
schedule gathers the whole band, so a certificate that holds on the
whole band always terminates. A tile still uncertified after the last
round raises: it never silently goes missing from the cube.

The caller supplies ``evaluate(tile, donors, gx, gy, rect)``:

* ``tile`` — a :class:`Tile` (band, group and bucket span of the tile);
* ``donors`` — the gathered donor rows (pandas, join-miss rows
  dropped, so possibly empty);
* ``gx``, ``gy`` — the tile's cell-centre coordinates;
* ``rect`` — the gathered region, from :func:`gathered_rect`;

and returns ``(values, ok)``: the tile's ``h * w`` cell values and
whether they are certified equal to the global answer.
"""

from __future__ import annotations

import functools
import logging
from collections import namedtuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exceptions import GeoCubeError

logger = logging.getLogger(__name__)

# rounds of the default schedule: halo radius 1, 2, 4, 8 buckets, then
# the whole band
HALO_ROUNDS = 5

# the ``__g`` value of an ungrouped band (a null group key cannot be
# an equi-join key)
NO_GROUP = "\x00"

TILE_KEYS = ["measurement", "__g", "tile_id", "row0", "col0", "h", "w",
             "b0i", "b1i", "b0j", "b1j"]
Tile = namedtuple("Tile", "m g tile_id row0 col0 h w b0i b1i b0j b1j")
_JOIN_KEYS = ["measurement", "__g", "bi", "bj"]


def gathered_rect(affine, cell, lo_i, hi_i, lo_j, hi_j, n_i, n_j):
    """World-space ``(x0, x1, y0, y1)`` of bucket rows ``lo_i..hi_i``
    and columns ``lo_j..hi_j`` on a grid of ``n_i x n_j`` buckets of
    ``cell`` pixels. The spans may run past the grid; the clamped edge
    buckets are unbounded on their outer side (every donor beyond the
    grid edge is bucketed into them), for either sign of either axis."""
    A = affine
    xe = (A.c + A.a * lo_j * cell, A.c + A.a * (hi_j + 1) * cell)
    ye = (A.f + A.e * lo_i * cell, A.f + A.e * (hi_i + 1) * cell)
    x0, x1 = min(xe), max(xe)
    y0, y1 = min(ye), max(ye)
    # bucket indices grow along +x when A.a > 0, along +y when A.e > 0
    if lo_j <= 0:
        x0, x1 = (-np.inf, x1) if A.a > 0 else (x0, np.inf)
    if hi_j >= n_j - 1:
        x0, x1 = (x0, np.inf) if A.a > 0 else (-np.inf, x1)
    if lo_i <= 0:
        y0, y1 = (-np.inf, y1) if A.e > 0 else (y0, np.inf)
    if hi_i >= n_i - 1:
        y0, y1 = (y0, np.inf) if A.e > 0 else (-np.inf, y1)
    return x0, x1, y0, y1


def margin_certified(qx, qy, d, rect, pad):
    """The strict-margin nearest-donor certificate: every query's
    donor distance ``d`` is closer than the query's distance to the
    boundary of the gathered ``rect`` (less ``pad``), so no ungathered
    donor can beat or tie it."""
    x0, x1, y0, y1 = rect
    margin = np.minimum.reduce([qx - x0, x1 - qx, qy - y0, y1 - qy])
    return bool((d < margin - pad).all())


def _bucket_span(lo, hi, r, n):
    return F.explode(F.sequence(
        F.greatest(F.lit(0), F.col(lo) - F.lit(int(r))),
        F.least(F.lit(int(n) - 1), F.col(hi) + F.lit(int(r))),
    ).cast("array<int>"))


def halo_resolve(tiles, donors, gb_dict, cell, meta, evaluate, *,
                 schedule=None, label="halo"):
    """Resolve every tile of ``tiles`` through halo rounds and return
    the certified chunk rows (``CHUNK_SCHEMA``).

    ``tiles`` carries :data:`TILE_KEYS` (the bucket span ``b0i..b1i``,
    ``b0j..b1j`` of each tile on the ``cell``-pixel bucket grid);
    ``donors`` carries ``measurement, __g, bi, bj`` plus the donor
    columns. ``meta[(measurement, __g)]`` is the band's ``(zoom,
    n_geoms, min_seq, max_seq)`` for the chunk rows. ``schedule``
    lists one halo radius per round, in buckets, as ``r`` or ``(r_i,
    r_j)``; the default doubles from 1 and gathers the whole band in
    round :data:`HALO_ROUNDS`."""
    from ..cube import CHUNK_SCHEMA, _chunk_row
    from ..grid.geobox import GeoBox
    from .flatten import _flat

    gb = GeoBox.from_dict(gb_dict)
    A = gb.affine
    coords = gb.coords()
    n_i = -(-gb.height // cell)
    n_j = -(-gb.width // cell)
    if schedule is None:
        schedule = [2 ** k for k in range(HALO_ROUNDS - 1)]
        schedule.append(max(n_i, n_j))
    donor_cols = [c for c in donors.columns if c not in _JOIN_KEYS]
    eval_schema = T.StructType(
        list(CHUNK_SCHEMA.fields)
        + [T.StructField("__g", T.StringType()),
           T.StructField("ok", T.BooleanType())]
    )

    def _round(r_i, r_j):
        def _eval(key, pdf):
            t = Tile(*key)
            rect = gathered_rect(A, cell, t.b0i - r_i, t.b1i + r_i,
                                 t.b0j - r_j, t.b1j + r_j, n_i, n_j)
            values, ok = evaluate(
                t, pdf.dropna(how="all", subset=donor_cols),
                coords["x"][t.col0: t.col0 + t.w],
                coords["y"][t.row0: t.row0 + t.h], rect,
            )
            zoom, n_geoms, mn, mx = meta[(t.m, t.g)]
            row = _chunk_row(t.m, None if t.g == NO_GROUP else t.g, zoom,
                             t[2:7], values, n_geoms, mn, mx)
            row.update(__g=t.g, ok=bool(ok))
            return pd.DataFrame([row], columns=eval_schema.names)

        return _eval

    unresolved = tiles.select(*TILE_KEYS).transform(_flat)
    resolved = []
    for round_i, r in enumerate(schedule):
        r_i, r_j = r if isinstance(r, tuple) else (r, r)
        out = (
            unresolved
            .withColumn("bi", _bucket_span("b0i", "b1i", r_i, n_i))
            .withColumn("bj", _bucket_span("b0j", "b1j", r_j, n_j))
            .join(donors, _JOIN_KEYS, "left")
            .groupBy(*TILE_KEYS)
            .applyInPandas(_round(r_i, r_j), schema=eval_schema)
            .transform(_flat)
        )
        done = out.filter(F.col("ok"))
        resolved.append(done.select(*CHUNK_SCHEMA.names))
        unresolved = unresolved.join(
            done.select("measurement", "__g", "tile_id"),
            ["measurement", "__g", "tile_id"], "left_anti",
        ).transform(_flat)
        n_left = unresolved.count()
        logger.debug("%s round %d (halo r=%s buckets): %d tiles "
                     "unresolved", label, round_i + 1, r, n_left)
        if n_left == 0:
            return functools.reduce(DataFrame.unionByName, resolved)
    bands = sorted(
        ((b["measurement"], None if b["__g"] == NO_GROUP else b["__g"])
         for b in unresolved.select("measurement", "__g").distinct()
         .collect()), key=str,
    )
    raise GeoCubeError(
        f"{label}: {n_left} tile(s) still uncertified after the last "
        f"halo round (radius {r} buckets) in band(s) (measurement, "
        f"group) {bands}"
    )
