"""Reliable (fault-tolerant) plan flattening for iterative loops.

Every fixpoint loop flattens its per-round result through
``plans.flatten.flatten``; by default that is ``localCheckpoint``
(executor-memory blocks — fast, but an executor loss on a real
cluster discards them and kills the job mid-loop). With a checkpoint
directory configured, each flatten becomes a parquet write + read on
the cluster store, which survives executor loss and makes the loop
resumable.

These tests prove the switch changes durability ONLY: one hydrology
fixpoint (fill_sinks, Planchon-Darboux Gauss-Seidel over halo rounds)
and one graph fixpoint (pagerank power iteration) produce
bit-identical results under both modes, the reliable mode really does
write parquet rounds to the directory, and clear_checkpoints removes
them.
"""

import numpy as np
import pytest

from geocube_spark.plans.flatten import (clear_checkpoints, flatten,
                                         get_checkpoint_dir,
                                         reliable_checkpoints)


def _cube(spark, arr, ts=8):
    from tests.test_cost_distance import _cube as mk
    return mk(spark, arr, ts=ts)


def test_fill_sinks_reliable_equals_local(spark, tmp_path):
    from geocube_spark.bandops import fill_sinks

    rng = np.random.default_rng(7)
    H = W = 16
    dem = rng.uniform(50, 60, (H, W))
    dem[6:11, 6:11] = 12.0          # pit that takes rounds to fill
    dem[3, 3] = np.nan
    cube = _cube(spark, dem, ts=8)

    local = fill_sinks(cube, "cost").assemble()["cost_filled"]
    ckpt_dir = str(tmp_path / "ckpt")
    with reliable_checkpoints(ckpt_dir):
        assert get_checkpoint_dir() == ckpt_dir
        reliable = fill_sinks(cube, "cost").assemble()["cost_filled"]
    assert get_checkpoint_dir() is None

    np.testing.assert_array_equal(
        np.nan_to_num(local, nan=-1), np.nan_to_num(reliable, nan=-1)
    )
    # the loop really went through the store: one parquet dir per
    # flatten, cleaned up by clear_checkpoints
    import os
    written = os.listdir(ckpt_dir)
    assert written and all(d.startswith("flat-") for d in written)
    assert clear_checkpoints() == len(written)
    assert not os.listdir(ckpt_dir)


def test_pagerank_reliable_equals_local(spark, tmp_path):
    from geocube_spark.functions.graph import pagerank

    rng = np.random.default_rng(11)
    edges = [(int(rng.integers(0, 40)), int(rng.integers(0, 40)))
             for _ in range(160)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src long, dst long")

    local = {r["node"]: r["rank"] for r in pagerank(df, iters=4).collect()}
    with reliable_checkpoints(str(tmp_path / "gc")):
        reliable = {r["node"]: r["rank"]
                    for r in pagerank(df, iters=4).collect()}
    clear_checkpoints()
    assert local == reliable  # bit-identical, not approx


def test_flatten_env_var_fallback(spark, tmp_path, monkeypatch):
    """GEOCUBE_CHECKPOINT_DIR switches mode without code changes —
    the spark-submit path."""
    import os

    d = str(tmp_path / "envck")
    monkeypatch.setenv("GEOCUBE_CHECKPOINT_DIR", d)
    assert get_checkpoint_dir() == d
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = flatten(df)
    assert sorted((r["id"], r["s"]) for r in out.collect()) == \
        [(1, "a"), (2, "b")]
    assert os.listdir(d)
    clear_checkpoints()
    monkeypatch.delenv("GEOCUBE_CHECKPOINT_DIR")
    assert get_checkpoint_dir() is None


def test_flatten_local_mode_no_files(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id long")
    out = flatten(df)
    assert out.collect()[0]["id"] == 1
    assert clear_checkpoints() == 0


def test_tiled_linear_reliable_equals_local(spark, tmp_path):
    """The round-5 tiled-linear loop flattens per round too; the
    reliable path must reach the identical cube."""
    import pandas as pd

    from geocube_spark.cube import _forced_engine, make_geocube
    from geocube_spark.geometry import wkb as W

    rng = np.random.default_rng(13)
    n = 400
    pdf = pd.DataFrame({
        "seq": np.arange(n, dtype=np.int64),
        "geometry_wkb": W.points_to_wkb(
            rng.uniform(-93.8, -92.2, n), rng.uniform(41.2, 42.6, n)),
        "value": rng.uniform(0, 50, n),
    })
    docs = spark.createDataFrame(pdf)

    def build():
        # 400 points: below the routing threshold, so pin the engine
        with _forced_engine("tiled"):
            cube = make_geocube(
                docs, measurements=["value"], fill=float("nan"),
                rasterize_function="points_griddata",
                interp_method="linear",
                resolution=(-0.02, 0.02), tile_size=16,
            )
        return {r["tile_id"]: list(r["values"])
                for r in cube.chunks.collect()}

    local = build()
    with reliable_checkpoints(str(tmp_path / "il")):
        reliable = build()
    clear_checkpoints()
    assert set(local) == set(reliable)
    for k in local:
        a = np.asarray(local[k], dtype=np.float64)
        b = np.asarray(reliable[k], dtype=np.float64)
        assert np.array_equal(np.nan_to_num(a, nan=-9),
                              np.nan_to_num(b, nan=-9)), k
