"""Checkpointed writes: snapshot commits, lineage, kill-resume.

North-rule requirements (BASELINE.json): per-partition lineage
(tile_id, input span range, row/cell counts) committed atomically
with the data, and a killed job resuming from the last committed
snapshot without rewriting committed work.
"""

import os

import pytest
from pyspark.sql import functions as F

from geocube_spark.cube import make_geocube
from geocube_spark.plans import checkpoint as CP


@pytest.fixture(scope="module")
def cube(spark, sf_dir):
    from geocube_spark.operators.geocube_queries import _spans_docs

    return make_geocube(
        _spans_docs(spark, sf_dir),
        measurements=["n_chars"],
        output_crs="EPSG:4326", resolution=(-1.0, 1.0),
        fill=-9999.0, tile_size=64,
    )


def _data_files(path):
    out = []
    for root, _dirs, files in os.walk(os.path.join(path, "data")):
        out += [
            (os.path.join(root, f), os.path.getmtime(os.path.join(root, f)))
            for f in files
            if f.endswith(".parquet")
        ]
    return dict(out)


def test_write_read_roundtrip(spark, cube, tmp_path):
    path = str(tmp_path / "cube")
    report = cube.write(path, commit_batches=3)
    assert len(report.committed_snapshots) == 3
    back = CP.read_cube(spark, path)
    want = cube.chunks.count()
    assert back.count() == want
    # value-level equality on a deterministic key
    a = cube.chunks.select("measurement", "tile_id", "values")
    b = back.select("measurement", "tile_id", "values")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_lineage_span_ranges_and_counts(spark, cube, tmp_path):
    path = str(tmp_path / "cube")
    cube.write(path, commit_batches=2)
    lin = CP.read_lineage(spark, path)
    assert set(CP.LINEAGE_COLS) <= set(lin.columns)
    agg = lin.agg(
        F.sum("n_rows").alias("rows"), F.sum("n_cells").alias("cells")
    ).collect()[0]
    chunks = cube.chunks.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("h").cast("long") * F.col("w")).alias("cells"),
    ).collect()[0]
    assert agg["rows"] == chunks["rows"]
    assert agg["cells"] == chunks["cells"]
    # span range: every committed tile knows which input seq range fed it
    bad = lin.filter(
        (F.col("min_seq") > F.col("max_seq")) & (F.col("n_rows") > 0)
    ).count()
    assert bad == 0


def test_kill_resume_skips_committed_batches(spark, cube, tmp_path):
    path = str(tmp_path / "cube")
    # run 1: killed after 2 of 4 commits
    with pytest.raises(RuntimeError, match="injected failure"):
        cube.write(path, commit_batches=4, fail_after=2)
    committed = CP.snapshots(path)
    assert len(committed) == 2
    before = _data_files(path)
    # reader sees ONLY committed data
    partial = CP.read_cube(spark, path).count()
    full = cube.chunks.count()
    assert 0 < partial < full
    # run 2: resume - finishes the remaining batches untouched files stay
    report = cube.write(path, commit_batches=4)
    assert sorted(report.skipped_snapshots) == [0, 1]
    assert len(report.committed_snapshots) == 2
    after = _data_files(path)
    for f, mtime in before.items():
        assert after[f] == mtime  # committed files never rewritten
    assert CP.read_cube(spark, path).count() == full


def test_resume_checks_input_fingerprint(spark, cube, tmp_path):
    """Every resume is verified: resuming against CHANGED upstream data
    raises instead of committing a cube whose batches came from
    different inputs; unchanged data resumes normally."""
    path = str(tmp_path / "cube")
    with pytest.raises(RuntimeError, match="injected failure"):
        CP.write_cube(cube.chunks, path, commit_batches=4, fail_after=2)
    # same input: resume passes verification
    report = CP.write_cube(cube.chunks, path, commit_batches=4)
    assert sorted(report.skipped_snapshots) == [0, 1]

    # changed input (drop some rows): verification must catch it
    path2 = str(tmp_path / "cube2")
    with pytest.raises(RuntimeError, match="injected failure"):
        CP.write_cube(cube.chunks, path2, commit_batches=4, fail_after=2)
    changed = cube.chunks.filter("tile_id % 7 != 3")
    assert changed.count() < cube.chunks.count()
    with pytest.raises(ValueError, match="resume input mismatch"):
        CP.write_cube(changed, path2, commit_batches=4)


@pytest.mark.parametrize("expire", [False, True])
def test_rewrite_after_compaction_skips_every_batch(spark, cube, tmp_path,
                                                   expire):
    """The compaction manifest (batch -1, metrics summed over the
    folded batches) is not a batch of the input, but it records the
    batches it folds: rewriting unchanged chunks after a compaction,
    and after expiring the folded snapshots, passes verification,
    skips all and leaves the table's rows unchanged."""
    path = str(tmp_path / "cube")
    CP.write_cube(cube.chunks, path, commit_batches=2)
    CP.compact_snapshots(spark, path)
    if expire:
        assert len(CP.expire_snapshots(path)) == 2
    report = CP.write_cube(cube.chunks, path, commit_batches=2)
    assert report.committed_snapshots == []
    assert sorted(report.skipped_snapshots) == [0, 1]
    assert CP.read_cube(spark, path).count() == cube.chunks.count()


def test_sink_costs_one_job_per_batch(spark, cube, tmp_path):
    """Plan shape of the sink: one aggregate per call serves the
    manifest metrics and resume checks, so each extra commit batch
    adds exactly one Spark job (its data write)."""
    sc = spark.sparkContext
    jobs = {}
    for n in (1, 4):
        group = f"test-sink-jobs-{n}-{os.getpid()}"
        sc.setJobGroup(group, f"write with commit_batches={n}", False)
        try:
            cube.write(str(tmp_path / f"cube{n}"), commit_batches=n)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[4] - jobs[1] == 3, jobs


def test_resume_rejects_changed_parameters(spark, cube, tmp_path):
    """Resuming a partial write with different n_buckets/commit_batches
    would silently skip batches whose row subsets no longer match the
    pmod split — it must raise instead."""
    path = str(tmp_path / "cube")
    with pytest.raises(RuntimeError, match="injected failure"):
        cube.write(path, commit_batches=4, fail_after=2)
    with pytest.raises(ValueError, match="resume parameter mismatch"):
        cube.write(path, commit_batches=8)
    with pytest.raises(ValueError, match="resume parameter mismatch"):
        cube.write(path, n_buckets=16, commit_batches=4)
    # original parameters still resume fine
    report = cube.write(path, commit_batches=4)
    assert sorted(report.skipped_snapshots) == [0, 1]


def test_uncommitted_garbage_collected_on_resume(spark, cube, tmp_path):
    path = str(tmp_path / "cube")
    with pytest.raises(RuntimeError):
        cube.write(path, commit_batches=4, fail_after=1)
    # fake a killed batch: orphan data dir with no manifest
    orphan = os.path.join(path, "data", "snap=deadbeef-9")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-00000.parquet"), "w").close()
    cube.write(path, commit_batches=4)
    assert not os.path.exists(orphan)
    snaps = CP.snapshots(path)
    assert [m["batch"] for m in snaps] == sorted(m["batch"] for m in snaps)
    assert len(snaps) == 4


def test_single_tile_cube_empty_batches(spark, sf_dir, tmp_path):
    """A cube whose tiles miss some pmod residue classes (e.g. a
    single-tile grid) must still write/commit/read: empty commit
    batches produce 0-row snapshots that readers skip."""
    from geocube_spark.operators.geocube_queries import _spans_docs

    small = make_geocube(
        _spans_docs(spark, sf_dir).limit(50),
        measurements=["n_chars"],
        output_crs="EPSG:4326", resolution=(-90.0, 90.0),  # 4x2 grid
        fill=-9999.0, tile_size=64,                        # -> 1 tile
    )
    path = str(tmp_path / "tiny")
    report = small.write(path, commit_batches=4)
    assert len(report.committed_snapshots) == 4
    back = CP.read_cube(spark, path)
    assert back.count() == small.chunks.count() > 0


def test_time_travel_as_of(spark, cube, tmp_path):
    """as_of pins the read to a snapshot prefix (Iceberg time travel):
    each earlier snapshot sees a strict subset, the last sees all, and
    an unknown id raises."""
    import pytest

    path = str(tmp_path / "cube_tt")
    report = cube.write(path, commit_batches=3)
    ids = report.committed_snapshots
    assert len(ids) == 3
    total = cube.chunks.count()
    seen = []
    for sid in ids:
        n = CP.read_cube(spark, path, as_of=sid).count()
        ln = CP.read_lineage(spark, path, as_of=sid)
        assert ln.count() > 0 or n == 0
        seen.append(n)
    assert seen == sorted(seen)
    assert seen[-1] == total
    assert seen[0] < total
    # prefix rows must be a subset of the full table
    first = CP.read_cube(spark, path, as_of=ids[0]).select(
        "measurement", "tile_id"
    )
    full = CP.read_cube(spark, path).select("measurement", "tile_id")
    assert first.exceptAll(full).count() == 0
    with pytest.raises(ValueError, match="unknown snapshot"):
        CP.read_cube(spark, path, as_of="nope")


def test_read_cube_window_prunes_and_matches(spark, cube, tmp_path):
    """Spatial window read: same rows as brute-force filtering the
    full table, while reading FEWER parquet files (bucket partition
    pruning) and pushing the tile_id envelope to the scan."""
    path = str(tmp_path / "cube_win")
    cube.write(path, commit_batches=2)
    gb, ts = cube.geobox, cube.tile_size
    # a window around the grid center, a few tiles wide
    a = gb.affine
    cx = a.c + a.a * (gb.width / 2)
    cy = a.f + a.e * (gb.height / 2)
    span_x = abs(a.a) * ts * 1.5
    span_y = abs(a.e) * ts * 1.5
    bbox = (cx - span_x, cy - span_y, cx + span_x, cy + span_y)
    win = CP.read_cube_window(spark, path, gb, ts, bbox)
    full = CP.read_cube(spark, path)

    # exact expected tile set from the full table
    _, ntx, _ = gb.n_tiles(ts)
    inv = a.invert()
    xs = [bbox[0], bbox[2]]
    ys = [bbox[1], bbox[3]]
    px = [inv.c + inv.a * x + inv.b * y for x in xs for y in ys]
    py = [inv.f + inv.d * x + inv.e * y for x in xs for y in ys]
    tx0, tx1 = int(min(px) // ts), int(max(px) // ts)
    ty0, ty1 = int(min(py) // ts), int(max(py) // ts)
    want = full.filter(
        (F.floor(F.col("tile_id") / ntx).between(ty0, ty1))
        & (F.pmod(F.col("tile_id"), F.lit(ntx)).between(tx0, tx1))
    )
    got_ids = sorted(r["tile_id"] for r in win.select("tile_id").collect())
    want_ids = sorted(
        r["tile_id"] for r in want.select("tile_id").collect()
    )
    assert got_ids == want_ids and len(got_ids) > 0
    # pruning is visible in the physical plan: a PartitionFilters
    # entry on cell_bucket (directory pruning) and the tile_id
    # envelope in PushedFilters (row-group min/max pruning)
    plan = win._jdf.queryExecution().executedPlan().toString()
    assert "cell_bucket" in plan.split("PartitionFilters", 1)[1][:400]
    pushed = plan.split("PushedFilters", 1)[1][:400]
    assert "tile_id" in pushed and "GreaterThanOrEqual" in pushed
    # degenerate window off the grid reads nothing
    off = CP.read_cube_window(
        spark, path, gb, ts, (1e9, 1e9, 2e9, 2e9)
    )
    assert off.count() == 0


def test_compact_snapshots_rewrites_read_base(spark, cube, tmp_path):
    """Compaction folds the committed history into one snapshot:
    row-identical reads from FEWER data files, manifests record the
    compaction, appends and time travel still work."""
    path = str(tmp_path / "cube")
    cube.write(path, commit_batches=4)
    before_rows = CP.read_cube(spark, path).count()
    before_files = len(_data_files(path))
    pre_ids = [m["snapshot_id"] for m in CP.snapshots(path)]

    report = CP.compact_snapshots(spark, path)
    assert len(report.committed_snapshots) == 1
    comp_id = report.committed_snapshots[0]

    after = CP.read_cube(spark, path)
    assert after.count() == before_rows
    a = cube.chunks.select("measurement", "tile_id", "values")
    b = after.select("measurement", "tile_id", "values")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # read base = compaction snapshot only
    ms = CP.snapshots(path)
    assert ms[-1]["kind"] == "compaction"
    # old snapshot files still on disk (time travel keeps working)
    assert CP.read_cube(spark, path, as_of=pre_ids[1]).count() > 0
    # reading as_of the compaction id = full state
    assert CP.read_cube(spark, path, as_of=comp_id).count() == before_rows
    # lineage readable after compaction and covers every tile
    lin = CP.read_lineage(spark, path)
    tiles_before = {
        r["tile_id"] for r in
        cube.chunks.select("tile_id").distinct().collect()
    }
    tiles_after = {
        r["tile_id"] for r in lin.select("tile_id").distinct().collect()
    }
    assert tiles_after == tiles_before
    # a second compact is a no-op
    again = CP.compact_snapshots(spark, path)
    assert again.committed_snapshots == []
    # resume bookkeeping unchanged: rewriting the same cube skips all
    rep2 = cube.write(path, commit_batches=4)
    assert rep2.committed_snapshots == []
    assert len(rep2.skipped_snapshots) == 4

    # expire: superseded files reclaimed, expired ids now raise
    expired = CP.expire_snapshots(path)
    assert set(expired) == set(pre_ids)
    # all superseded snapshot dirs gone: ONE data dir remains (at toy
    # scale per-file counts tie — one file per bucket either way; the
    # dir count is the small-files invariant that matters)
    assert os.listdir(os.path.join(path, "data")) == [
        f"snap={comp_id}"
    ]
    assert len(_data_files(path)) <= before_files
    assert CP.read_cube(spark, path).count() == before_rows
    with pytest.raises(ValueError, match="unknown snapshot"):
        CP.read_cube(spark, path, as_of=pre_ids[0])


def test_compact_then_window_read(spark, cube, tmp_path):
    path = str(tmp_path / "cube")
    cube.write(path, commit_batches=3)
    gb = cube.geobox
    bbox = (
        gb.affine.c, gb.affine.f + gb.affine.e * gb.height,
        gb.affine.c + gb.affine.a * (gb.width / 2), gb.affine.f,
    )
    want = sorted(
        r["tile_id"] for r in CP.read_cube_window(
            spark, path, gb, 64, bbox
        ).select("tile_id").distinct().collect()
    )
    CP.compact_snapshots(spark, path)
    got = sorted(
        r["tile_id"] for r in CP.read_cube_window(
            spark, path, gb, 64, bbox
        ).select("tile_id").distinct().collect()
    )
    assert got == want and len(got) > 0


def test_window_read_rejects_mismatched_grid_plain_table(spark, tmp_path):
    """cube.write records the tile grid in _grid.json; a windowed read
    with a different geobox/tile_size raises for PLAIN tables too, not
    just hilbert-clustered ones (review regression)."""
    import json as _json
    import os as _os

    from geocube_spark import datagen as DG
    from geocube_spark.cube import make_geocube
    from geocube_spark.plans import checkpoint as CP

    docs = DG.to_spark(spark, DG.flat_polygon_docs(n=9))
    cube = make_geocube(
        docs, measurements=["om_r"], output_crs="epsg:32615",
        resolution=(-10.0, 10.0), fill=-9999.0, tile_size=64,
    )
    path = str(tmp_path / "plain_grid")
    cube.write(path, n_buckets=8, commit_batches=1)
    spec = _json.load(open(_os.path.join(path, "_grid.json")))
    assert spec["tile_size"] == 64 and spec["ntx"] >= 1

    gb = cube.geobox
    minx, miny, _maxx, _maxy = gb.bounds()
    bbox = (minx, miny, minx + 200, miny + 200)
    ok = CP.read_cube_window(spark, path, gb, 64, bbox)
    assert ok.count() >= 0  # matching grid reads fine
    with pytest.raises(ValueError, match="_grid.json"):
        CP.read_cube_window(spark, path, gb, 128, bbox)
