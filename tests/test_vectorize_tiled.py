"""Distributed (per-tile + cross-tile dissolve) vectorize parity.

The tiled path must reproduce the single-task vectorize's component
structure exactly: per value, the multiset of component cell-counts is
identical (a component spanning K tiles comes back as one row with K
parts whose cells sum to the single-task component's cells), and
total geometry area matches.

A small tile_size relative to the geometry footprints forces many
cross-tile components, exercising the dissolve.
"""

import numpy as np
import pytest

from geocube_spark import datagen as DG
from geocube_spark.cube import make_geocube
from geocube_spark.geometry import wkb as W
from geocube_spark.vector import vectorize, vectorize_tiled


def _ring_area(r):
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def _geom_area(g):
    return abs(sum(_ring_area(np.asarray(r)) for rings in g.polygons()
                   for r in [rings[0]])) - abs(
        sum(
            _ring_area(np.asarray(hole))
            for rings in g.polygons()
            for hole in rings[1:]
        )
    )


@pytest.fixture(scope="module")
def cube(spark):
    docs = DG.to_spark(spark, DG.flat_polygon_docs(n=9, seed=5))
    return make_geocube(
        docs, measurements=["om_r"], output_crs="EPSG:32615",
        resolution=(-10.0, 10.0), fill=-9999.0, tile_size=16,
    )


def test_vectorize_tiled_matches_single(spark, cube):
    single = vectorize(cube, "om_r").collect()
    tiled = vectorize_tiled(cube, "om_r").collect()

    def sig(rows, cells_key):
        out = {}
        for r in rows:
            out.setdefault(round(r["value"], 9), []).append(cells_key(r))
        return {v: sorted(c) for v, c in out.items()}

    # cell-count multiset per value must be identical
    def count_cells_single(r):
        g = W.loads(bytes(r["geometry_wkb"]))
        return round(_geom_area(g) / 100.0)  # 10m cells -> 100 m^2

    s_sig = sig(single, count_cells_single)
    t_sig = sig(tiled, lambda r: int(r["n_cells"]))
    assert s_sig == t_sig

    # area parity per component
    t_area = sig(
        tiled,
        lambda r: round(_geom_area(W.loads(bytes(r["geometry_wkb"]))) / 100.0),
    )
    assert t_area == s_sig

    # the dissolve actually happened: some component spans >1 tile
    assert any(r["n_parts"] > 1 for r in tiled)
    # and nothing was merged that shouldn't be: same component count
    assert len(tiled) == len(single)

    # FULL geometry equality: every dissolved component is the same
    # single OGC polygon the whole-band trace produces (rings compared
    # in canonical rotation, direction preserved)
    assert sorted(map(_canon_geom, single), key=repr) == \
           sorted(map(_canon_geom, tiled), key=repr)


def _canon_ring(r):
    """Closed ring -> tuple rotated so the smallest vertex is first
    (drop the duplicate closing vertex; keep travel direction)."""
    pts = [tuple(v) for v in np.asarray(r)[:-1].tolist()]
    k = min(range(len(pts)), key=lambda i: pts[i])
    return tuple(pts[k:] + pts[:k])


def _canon_geom(row):
    g = W.loads(bytes(row["geometry_wkb"]))
    rings = sorted(
        _canon_ring(r) for rings in g.polygons() for r in rings
    )
    return (round(row["value"], 9), tuple(rings))


def test_vectorize_tiled_distributed_labels(spark, cube, monkeypatch):
    """A component-engine cap of 0 forces the distributed
    min-label-propagation path; output must be identical to the
    driver union-find path."""
    from geocube_spark.plans import components

    fast = vectorize_tiled(cube, "om_r").collect()
    monkeypatch.setattr(components, "DRIVER_CAP", 0)
    dist = vectorize_tiled(cube, "om_r").collect()
    assert sorted(map(_canon_geom, fast), key=repr) == \
           sorted(map(_canon_geom, dist), key=repr)


def test_vectorize_tiled_donut_across_tiles(spark):
    """A polygon with a hole spanning several tiles: the tiled dissolve
    must reproduce the single-task component structure (the ring and
    the hole's island stay separate components; cells match)."""
    import json

    import pandas as pd

    from geocube_spark import datagen as DG

    outer = np.array(
        [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    )
    hole = np.array(
        [[0.3, 0.3], [0.7, 0.3], [0.7, 0.7], [0.3, 0.7], [0.3, 0.3]]
    )
    ring_geom = W.polygon(outer, holes=[hole])
    island = W.polygon(hole * 0.5 + 0.25)  # smaller box inside the hole
    pdf = DG._doc_rows(
        "donut", [ring_geom, island], [{"v": 1.0}, {"v": 1.0}]
    )
    docs = DG.to_spark(spark, pdf)
    cube = make_geocube(
        docs, measurements=["v"], output_crs="EPSG:4326",
        resolution=(-0.02, 0.02), fill=-9999.0, tile_size=8,
    )
    single = vectorize(cube, "v").collect()
    tiled = vectorize_tiled(cube, "v").collect()
    # both see 2 components of value 1.0 (ring + island, not merged)
    assert len(single) == 2 and len(tiled) == 2
    s_cells = sorted(
        round(_geom_area(W.loads(bytes(r["geometry_wkb"]))) / 0.0004)
        for r in single
    )
    t_cells = sorted(int(r["n_cells"]) for r in tiled)
    assert s_cells == t_cells
    assert any(r["n_parts"] > 1 for r in tiled)  # donut spans tiles
