"""Raster region analysis: global connected-component labeling and
small-region removal (sieve).

The reference (corteva/geocube) stops at the raster; its users run
region cleanup with GDAL (``gdal_sieve.py`` / ``SieveFilter``) or ESRI
RegionGroup on the assembled array, single-node. These are the
distributed counterparts over the chunked cube:

- :func:`region_group` — ESRI RegionGroup / ``scipy.ndimage.label``
  semantics: every 4-connected run of equal-valued data cells gets one
  GLOBAL label across tile borders. Labels are canonical (the
  component's minimum global cell id ``row*width+col``), so output is
  deterministic and oracle-checkable.
- :func:`sieve` — GDAL ``SieveFilter`` semantics: components smaller
  than ``min_size`` cells are re-valued to their largest neighboring
  component's value (4-connected). One pass mirrors GDAL's documented
  rule ("merged into their largest neighbour polygon"); ``passes > 1``
  re-runs to a fixpoint for the cascade GDAL applies internally.

Physical plan (shared, per pass):

1. a NARROW ``mapInPandas`` over chunk rows labels each tile locally
   (the same run-based union-find kernel vectorize uses) and emits
   O(labels + perimeter) summary rows per tile — per-label stats
   (size, min cell id, value), border-cell probes, and within-tile
   label-pair border counts. Cell arrays never leave the task.
2. border probes pair up across adjacent tiles by (boundary line,
   position); same-value pairs are component-merge edges, resolved by
   ``plans/components.py``, the engine ``vectorize_tiled`` uses too
   (driver union-find under its cap, distributed min-label
   propagation + pointer jumping above it) — O(components touching
   borders), never O(cells).
3. global stats aggregate per component; for sieve, label-pair border
   counts map through the component labels into a component adjacency
   graph (edge set ~ O(components), shuffled as counts, never cells).
4. ONE more narrow pass over the original chunks re-labels each tile
   (the local labeling is deterministic, so re-deriving it is cheaper
   than shipping label arrays through a shuffle) and applies the
   broadcast (label -> output) mapping.

So each pass costs two narrow O(cells) map stages plus edge-set-sized
shuffles — the same shape that lets focal/terrain run at 100x scale.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .cube import CHUNK_SCHEMA, BandMeta, GeoCube
from .kernels import vectorize as V
from .plans.components import components
from .plans.flatten import _flat

# node id packing shared with vectorize_tiled: per-tile labels are
# bounded by tile_area/2 << 2^22, tile ids fit the remaining bits
_L = np.int64(1) << 22

_STAGE_SCHEMA = T.StructType(
    [
        T.StructField("measurement", T.StringType()),
        T.StructField("group_key", T.StringType()),
        T.StructField("tile_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("label", T.LongType()),
        T.StructField("label2", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n", T.LongType()),
        T.StructField("min_gid", T.LongType()),
        T.StructField("axis", T.StringType()),
        T.StructField("bcoord", T.IntegerType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("side", T.IntegerType()),
    ]
)


def _tile_label_arrays(row, nodata):
    """Local labeling of one chunk row -> (band, mask, labels, n)."""
    h, w = int(row["h"]), int(row["w"])
    band = np.asarray(row["values"], dtype=np.float64).reshape(h, w)
    if isinstance(nodata, float) and np.isnan(nodata):
        mask = ~np.isnan(band)
    else:
        mask = band != nodata
    labels, n = V.label_components(band, mask)
    return band, mask, labels, n


def _stage_rows(cube: GeoCube, band: str) -> DataFrame:
    """Pass 1: per-tile labeling summaries (see module docstring)."""
    width = cube.geobox.width
    nodata = float(cube.bands[band].fill)
    cols = [f.name for f in _STAGE_SCHEMA.fields]

    def _one(row) -> list:
        bandv, mask, labels, n = _tile_label_arrays(row, nodata)
        if n == 0:
            return []
        h, w = labels.shape
        row0, col0 = int(row["row0"]), int(row["col0"])
        tid = int(row["tile_id"])
        m, g = row["measurement"], row["group_key"]
        out = []
        lm = labels >= 0
        labs = labels[lm]
        gid = (
            (np.arange(row0, row0 + h, dtype=np.int64)[:, None] * width)
            + np.arange(col0, col0 + w, dtype=np.int64)[None, :]
        )[lm]
        sizes = np.bincount(labs, minlength=n)
        min_gid = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(min_gid, labs, gid)
        # first-seen value per label (constant within a label)
        vals = np.empty(n, dtype=np.float64)
        vals[labs[::-1]] = bandv[lm][::-1]
        for lab in range(n):
            out.append((m, g, tid, "lab", int(lab), None,
                        float(vals[lab]), int(sizes[lab]),
                        int(min_gid[lab]), None, None, None, None))
        # within-tile label-pair border counts (4-adjacency, both
        # cells in-mask, different labels)
        pairs = []
        for a, b in ((labels[:, :-1], labels[:, 1:]),
                     (labels[:-1, :], labels[1:, :])):
            ok = (a >= 0) & (b >= 0) & (a != b)
            if ok.any():
                pa, pb = a[ok], b[ok]
                lo, hi = np.minimum(pa, pb), np.maximum(pa, pb)
                pairs.append(np.column_stack([lo, hi]))
        if pairs:
            uniq, cnt = np.unique(
                np.concatenate(pairs), axis=0, return_counts=True
            )
            for (la, lb), c in zip(uniq, cnt):
                out.append((m, g, tid, "adj", int(la), int(lb),
                            None, int(c), None, None, None, None, None))
        # border probes: boundary line 'h',R sits between global rows
        # R and R+1; 'v',C between global cols C and C+1 (same
        # convention as vectorize_tiled)
        def _edges(lrs, lcs, axis, bcoord, positions, side):
            for lr, lc, p in zip(lrs, lcs, positions):
                lab = labels[lr, lc]
                if lab < 0:
                    continue
                out.append((m, g, tid, "edge", int(lab), None,
                            float(bandv[lr, lc]), None, None,
                            axis, int(bcoord), int(p), side))

        cs, rs = np.arange(w), np.arange(h)
        _edges([0] * w, cs, "h", row0 - 1, col0 + cs, 1)
        _edges([h - 1] * w, cs, "h", row0 + h - 1, col0 + cs, 0)
        _edges(rs, [0] * h, "v", col0 - 1, row0 + rs, 1)
        _edges(rs, [w - 1] * h, "v", col0 + w - 1, row0 + rs, 0)
        return out

    def _batches(it):
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                rows.extend(_one(r))
            yield pd.DataFrame(rows, columns=cols)

    c = cube.chunks.filter(F.col("measurement") == band)
    return c.mapInPandas(_batches, schema=_STAGE_SCHEMA)


def _same(a, b):
    return (
        F.col(f"{a}.measurement") == F.col(f"{b}.measurement")
    ) & F.col(f"{a}.group_key").eqNullSafe(F.col(f"{b}.group_key"))


def _merge_pairs(stage: DataFrame) -> DataFrame:
    """Cross-tile SAME-VALUE border pairs -> component-merge edges."""
    edges = stage.filter(F.col("kind") == "edge")
    node = lambda e: F.col(f"{e}.tile_id") * int(_L) + F.col(f"{e}.label")
    return (
        edges.groupBy("measurement", "group_key", "axis", "bcoord",
                      "pos", "value")
        .agg(F.collect_set(F.struct("side", "tile_id", "label"))
             .alias("ends"))
        .filter(F.size("ends") == 2)
        .select("measurement", "group_key",
                F.element_at("ends", 1).alias("e1"),
                F.element_at("ends", 2).alias("e2"))
        .filter(F.col("e1.side") != F.col("e2.side"))
        .select("measurement", "group_key",
                node("e1").alias("a"), node("e2").alias("b"))
        .distinct()
    )


def _components(stage: DataFrame):
    """Global components over the tile-label node graph.

    Returns (node_map, comp): node_map has one row per (tile, label)
    with its component's canonical id; comp has one row per component
    with canonical id, total size and value.
    """
    roots = components(_merge_pairs(stage), ("measurement", "group_key"))

    labs = stage.filter(F.col("kind") == "lab").withColumn(
        "node", F.col("tile_id") * int(_L) + F.col("label")
    )
    rooted = (
        labs.alias("q")
        .join(roots.alias("r"),
              _same("q", "r") & (F.col("q.node") == F.col("r.node")),
              "left")
        .select(
            F.col("q.measurement").alias("measurement"),
            F.col("q.group_key").alias("group_key"),
            F.col("q.tile_id").alias("tile_id"),
            F.col("q.label").alias("label"),
            F.coalesce(F.col("r.label"), F.col("q.node")).alias("root"),
            F.col("q.n").alias("n"),
            F.col("q.min_gid").alias("min_gid"),
            F.col("q.value").alias("value"),
        )
    )
    comp = (
        rooted.groupBy("measurement", "group_key", "root")
        .agg(F.min("min_gid").alias("canon"),
             F.sum("n").alias("size"),
             F.first("value").alias("value"))
    )
    node_map = (
        rooted.alias("n")
        .join(comp.alias("c"),
              _same("n", "c") & (F.col("n.root") == F.col("c.root")))
        .select(
            F.col("n.measurement").alias("measurement"),
            F.col("n.group_key").alias("group_key"),
            F.col("n.tile_id").alias("tile_id"),
            F.col("n.label").alias("label"),
            F.col("c.canon").alias("canon"),
        )
    )
    comp = comp.select("measurement", "group_key", "canon", "size",
                       "value")
    # node_map/comp are O(components) small but their lazy plans embed
    # the whole stage subtree, and downstream sieve joins reference
    # them several times — the plan tree multiplies to a 10s-of-MiB
    # task binary (measured 68.7 MiB at sf0.01). localCheckpoint
    # materializes the few thousand rows and truncates the lineage.
    node_map = node_map.transform(_flat)
    comp = comp.transform(_flat)
    return node_map, comp


def _apply_label_map(cube: GeoCube, band: str, tile_maps: DataFrame,
                     out_band: str, out_fill: float,
                     keep_unmapped: bool) -> GeoCube:
    """Pass 2: re-derive each tile's local labels (deterministic) and
    rewrite cells through the (label -> new value) map.

    ``keep_unmapped``: True keeps the original cell value where the
    label has no map entry (sieve); False writes ``out_fill``
    (region_group, where every label maps).
    """
    nodata = float(cube.bands[band].fill)
    c = cube.chunks.filter(F.col("measurement") == band)
    joined = (
        c.alias("c")
        .join(
            F.broadcast(tile_maps).alias("t"),
            _same("c", "t") & (F.col("c.tile_id") == F.col("t.tile_id")),
            "left",
        )
        .select("c.*", F.col("t.pairs").alias("__pairs"))
    )
    out_cols = [f.name for f in CHUNK_SCHEMA.fields]

    def _batches(it):
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                _, mask, labels, n = _tile_label_arrays(r, nodata)
                h, w = labels.shape
                vals = np.asarray(
                    r["values"], dtype=np.float64
                ).reshape(h, w)
                lut = np.full(
                    max(n, 1),
                    np.nan if not keep_unmapped else np.inf,
                    dtype=np.float64,
                )
                prs = r["__pairs"]
                if prs is not None and len(prs):
                    for p in prs:
                        lut[int(p["label"])] = float(p["newval"])
                if keep_unmapped:
                    new = vals.copy()
                    lm = labels >= 0
                    mapped = lm & np.isfinite(lut[np.maximum(labels, 0)])
                    new[mapped] = lut[labels[mapped]]
                    new[~mask] = out_fill
                else:
                    new = np.full((h, w), out_fill)
                    lm = labels >= 0
                    new[lm] = lut[labels[lm]]
                rows.append((
                    out_band, r["group_key"], int(r["zoom"]),
                    int(r["tile_id"]), int(r["row0"]), int(r["col0"]),
                    int(h), int(w), [float(v) for v in new.ravel()],
                    int(r["n_geoms"] or 0),
                    int(r["n_cells_burned"] or 0),
                    int(r["min_seq"] or 0), int(r["max_seq"] or 0),
                ))
            yield pd.DataFrame(rows, columns=out_cols)

    chunks = joined.mapInPandas(_batches, schema=CHUNK_SCHEMA)
    return GeoCube(
        chunks=chunks, geobox=cube.geobox,
        bands={out_band: BandMeta(out_band, "float64", out_fill)},
        group_by=cube.group_by, group_keys=cube.group_keys,
        tile_size=cube.tile_size, fill=out_fill,
    )


def _tile_maps(mapping: DataFrame) -> DataFrame:
    """(m, g, tile, label, newval) rows -> one map-struct row per
    tile, for the broadcast join in pass 2."""
    return mapping.groupBy("measurement", "group_key", "tile_id").agg(
        F.collect_list(F.struct("label", "newval")).alias("pairs")
    )


def region_group(cube: GeoCube, band: str, *,
                 name: Optional[str] = None) -> GeoCube:
    """Label every 4-connected run of equal-valued data cells with a
    global component id (ESRI RegionGroup / ``scipy.ndimage.label``
    over each value class). The id is canonical — the component's
    minimum ``row * width + col`` — so two runs produce identical
    rasters. Nodata cells get NaN."""
    if band not in cube.bands:
        raise ValueError(f"unknown band {band!r}")
    # stage is O(labels + perimeter) rows — materialize and truncate
    # lineage; its lazy subtree otherwise re-serializes into every
    # downstream join's task binary (measured 41.5 MiB at sf0.01)
    stage = _stage_rows(cube, band).transform(_flat)
    node_map, _comp = _components(stage)
    mapping = node_map.select(
        "measurement", "group_key", "tile_id", "label",
        F.col("canon").cast("double").alias("newval"),
    )
    # the tile map is O(labels) — materialize it eagerly so the heavy
    # per-cell stage can be released before the (lazy) output runs
    tm = _tile_maps(mapping).transform(_flat)
    return _apply_label_map(
        cube, band, tm, name or "region", float("nan"),
        keep_unmapped=False,
    )


def _component_adjacency(stage: DataFrame, node_map: DataFrame
                         ) -> DataFrame:
    """Component-level 4-adjacency with shared-border cell counts:
    within-tile label pairs + cross-tile border probes, both mapped
    through the node map, symmetrized to (ca, cb, border)."""
    nm = node_map
    adj = stage.filter(F.col("kind") == "adj")
    within = (
        adj.alias("a")
        .join(nm.alias("x"),
              _same("a", "x") & (F.col("a.tile_id") == F.col("x.tile_id"))
              & (F.col("a.label") == F.col("x.label")))
        .join(nm.alias("y"),
              _same("a", "y") & (F.col("a.tile_id") == F.col("y.tile_id"))
              & (F.col("a.label2") == F.col("y.label")))
        .select(
            F.col("a.measurement").alias("measurement"),
            F.col("a.group_key").alias("group_key"),
            F.col("x.canon").alias("ca"), F.col("y.canon").alias("cb"),
            F.col("a.n").alias("border"),
        )
    )
    edges = stage.filter(F.col("kind") == "edge")
    probes = (
        edges.alias("e")
        .join(nm.alias("x"),
              _same("e", "x") & (F.col("e.tile_id") == F.col("x.tile_id"))
              & (F.col("e.label") == F.col("x.label")))
        .select("e.measurement", "e.group_key", "e.axis", "e.bcoord",
                "e.pos", "e.side", F.col("x.canon").alias("canon"))
    )
    cross = (
        probes.alias("p")
        .join(probes.alias("q"),
              _same("p", "q")
              & (F.col("p.axis") == F.col("q.axis"))
              & (F.col("p.bcoord") == F.col("q.bcoord"))
              & (F.col("p.pos") == F.col("q.pos"))
              & (F.col("p.side") == F.lit(0))
              & (F.col("q.side") == F.lit(1)))
        .select(
            F.col("p.measurement").alias("measurement"),
            F.col("p.group_key").alias("group_key"),
            F.col("p.canon").alias("ca"), F.col("q.canon").alias("cb"),
            F.lit(1).cast("long").alias("border"),
        )
    )
    both = within.unionByName(cross).filter(F.col("ca") != F.col("cb"))
    sym = both.unionByName(
        both.select("measurement", "group_key",
                    F.col("cb").alias("ca"), F.col("ca").alias("cb"),
                    "border")
    )
    return sym.groupBy("measurement", "group_key", "ca", "cb").agg(
        F.sum("border").alias("border")
    )


def sieve(cube: GeoCube, band: str, min_size: int, *,
          passes: int = 1, name: Optional[str] = None) -> GeoCube:
    """GDAL ``SieveFilter``: components smaller than ``min_size``
    cells take the value of their largest 4-connected neighboring
    component. Ties break by (larger shared border, smaller value,
    smaller canonical id) so the result is deterministic. Components
    with no data neighbor keep their value. One pass is GDAL's
    documented merge rule; ``passes > 1`` repeats to approach the
    fixpoint (early-exits when nothing is below threshold)."""
    if band not in cube.bands:
        raise ValueError(f"unknown band {band!r}")
    if min_size < 1:
        raise ValueError("min_size must be >= 1")
    if passes < 1:
        raise ValueError("passes must be >= 1")
    from pyspark.sql import Window

    out_band = name or band
    cur = cube
    cur_band = band
    fill = float(cube.bands[band].fill)
    for _ in range(passes):
        stage = _stage_rows(cur, cur_band).transform(_flat)
        node_map, comp = _components(stage)
        small = comp.filter(F.col("size") < min_size)
        if small.limit(1).count() == 0:
            break
        nbr = _component_adjacency(stage, node_map)
        ranked = (
            nbr.alias("n")
            .join(comp.alias("s"),
                  _same("n", "s") & (F.col("n.cb") == F.col("s.canon")))
            .select("n.measurement", "n.group_key", "n.ca", "n.cb",
                    "n.border", F.col("s.size").alias("nsize"),
                    F.col("s.value").alias("nvalue"))
        )
        w = Window.partitionBy("measurement", "group_key", "ca").orderBy(
            F.col("nsize").desc(), F.col("border").desc(),
            F.col("nvalue").asc(), F.col("cb").asc()
        )
        target = (
            ranked.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("measurement", "group_key",
                    F.col("ca").alias("canon"),
                    F.col("nvalue").alias("newval"))
        )
        remap = (
            small.alias("s")
            .join(target.alias("t"),
                  _same("s", "t") & (F.col("s.canon") == F.col("t.canon")))
            .select("s.measurement", "s.group_key",
                    F.col("s.canon").alias("canon"), "t.newval")
        )
        mapping = (
            node_map.alias("n")
            .join(remap.alias("r"),
                  _same("n", "r") & (F.col("n.canon") == F.col("r.canon")))
            .select("n.measurement", "n.group_key", "n.tile_id",
                    "n.label", "r.newval")
        )
        tm = _tile_maps(mapping).transform(_flat)
        nxt = _apply_label_map(
            cur, cur_band, tm, out_band, fill, keep_unmapped=True,
        )
        # the next pass re-reads the rewritten chunks several times;
        # cut lineage so pass plans don't nest
        if passes > 1:
            nxt = GeoCube(
                chunks=nxt.chunks.transform(_flat), geobox=nxt.geobox,
                bands=nxt.bands, group_by=nxt.group_by,
                group_keys=nxt.group_keys, tile_size=nxt.tile_size,
                fill=nxt.fill,
            )
        cur = nxt
        cur_band = out_band
    if cur is cube:
        # zero passes ran (nothing small): honor the rename cheaply
        if out_band == band:
            return cube
        return GeoCube(
            chunks=cube.chunks.filter(F.col("measurement") == band)
            .withColumn("measurement", F.lit(out_band)),
            geobox=cube.geobox,
            bands={out_band: BandMeta(out_band, "float64", fill)},
            group_by=cube.group_by, group_keys=cube.group_keys,
            tile_size=cube.tile_size, fill=cube.fill,
        )
    return cur
