"""Checkpointed cube writes: snapshot commits, lineage, kill-resume.

The north rule requires the cube sink to behave like an Iceberg table:
data files become visible only through an atomically-committed
snapshot, every partition carries lineage (tile ids, input span range,
row/cell counts), and a killed job resumes from the last committed
snapshot instead of starting over. The sandbox has no Iceberg runtime,
so this module reproduces the *transactional layout* on plain parquet:

    <table>/
      data/snap=<id>/zoom=<z>/cell_bucket=<b>/*.parquet   (invisible
                                       until the snapshot is committed)
      _manifests/snapshot-<id>.json   commit record (atomic rename)
      _manifests/CURRENT              pointer to the latest snapshot

Commit protocol (exactly Iceberg's shape):

1. the tile space is split into ``commit_batches`` deterministic bucket
   groups (range partitioning of ``pmod(tile_id, n_buckets)``);
2. each group is written by one fully-distributed Spark job into its
   own ``data/snap=<id>/`` directory, partitioned by
   ``(zoom, cell_bucket)`` for partition pruning;
3. lineage is a view over the committed data: every chunk row carries
   its tile_id, group, shape and min/max input ``seq`` (the span
   range), so ``read_lineage`` aggregates the per-tile row and cell
   counts and span range from the data files themselves;
4. the snapshot manifest is written to a temp file and ``os.rename``d
   into ``_manifests/`` — the atomic commit point.

A reader (``read_cube``) lists committed manifests and reads ONLY
their data dirs, so files from a killed, uncommitted batch are never
visible. ``write`` first garbage-collects any uncommitted snapshot
dirs, then skips every committed batch — that is the resume path.

Reference parity note: the reference has no sink beyond
``xarray.Dataset.to_netcdf`` (/root/reference/geocube/cli/commands/
make_geocube.py:128); this module is the scale-path replacement the
graft contract demands, not a port of reference code.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_N_BUCKETS = 64

LINEAGE_COLS = [
    "zoom", "cell_bucket", "tile_id", "group_key", "n_rows", "n_cells",
    "min_seq", "max_seq",
]


@dataclass
class WriteReport:
    """What a (possibly resumed) write actually did."""

    path: str
    committed_snapshots: list = field(default_factory=list)
    skipped_snapshots: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _snapshot_sort_key(name: str):
    """Commit order of 'snapshot-<millis>-<batch>.json': NUMERIC
    (millis, batch), not lexicographic — unpadded batch 10 would sort
    before batch 9 when both commit in the same millisecond. (A clock
    stepping backwards between write_cube calls can still reorder
    across calls; within a call batch numbers are monotonic.)"""
    stem = name[len("snapshot-"):-len(".json")]
    try:
        millis, batch = stem.rsplit("-", 1)
        return (0, int(millis), int(batch), name)
    except ValueError:
        return (1, 0, 0, name)  # foreign name shape: stable fallback


def _list_manifests(path: str) -> list[dict]:
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        return []
    out = []
    names = [
        n for n in os.listdir(mdir)
        if n.startswith("snapshot-") and n.endswith(".json")
    ]
    for name in sorted(names, key=_snapshot_sort_key):
        with open(os.path.join(mdir, name)) as f:
            out.append(json.load(f))
    return out


def _commit_manifest(path: str, manifest: dict) -> None:
    """Atomic commit: write temp, fsync, rename into _manifests/."""
    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    final = os.path.join(mdir, f"snapshot-{manifest['snapshot_id']}.json")
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, final)  # POSIX atomic - the commit point
    cur = os.path.join(mdir, "CURRENT")
    tmp = cur + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(str(manifest["snapshot_id"]))
    os.rename(tmp, cur)


def _gc_uncommitted(path: str, committed_ids: set) -> None:
    """Remove data dirs of snapshots that never committed (leftovers
    of a killed job). Readers never see them anyway; this reclaims
    space and keeps resume idempotent."""
    base = os.path.join(path, "data")
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        if name.startswith("snap=") and (
            name.split("=", 1)[1] not in committed_ids
        ):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def cluster_order(ntx: int, nty: int) -> int:
    """Hilbert order covering an ``ntx x nty`` tile grid."""
    return max(1, int(max(ntx, nty) - 1).bit_length())


_STATS_COLS = ("tile_id", "cluster_key")


def _collect_file_stats(data_dir: str, table_root: str) -> list[dict]:
    """Per-data-file column stats for the snapshot manifest (Iceberg's
    manifest-entry shape): relative path, row count, and [min, max] of
    ``tile_id`` / ``cluster_key`` folded across the file's row groups.

    Driver-side and O(files in THIS snapshot) — footers are read once
    at commit time so that readers never have to. At 100 TB the
    windowed reader prunes on these recorded stats BEFORE handing
    paths to Spark, skipping both the file listing and the footer
    reads for everything outside the window."""
    import pyarrow.parquet as pq

    entries = []
    for root, _dirs, files in os.walk(data_dir):
        for fname in sorted(files):
            if not fname.endswith(".parquet"):
                continue
            fp = os.path.join(root, fname)
            md = pq.ParquetFile(fp).metadata
            names = {
                md.schema.column(i).name: i
                for i in range(md.num_columns)
            }
            ent: dict = {
                "path": os.path.relpath(fp, table_root),
                "rows": md.num_rows,
            }
            for col in _STATS_COLS:
                if col not in names:
                    continue
                mn = mx = None
                ok = True
                for rg in range(md.num_row_groups):
                    s = md.row_group(rg).column(names[col]).statistics
                    if s is None or not s.has_min_max:
                        ok = False
                        break
                    mn = s.min if mn is None else min(mn, s.min)
                    mx = s.max if mx is None else max(mx, s.max)
                if ok and mn is not None:
                    ent[col] = [int(mn), int(mx)]
            entries.append(ent)
    return entries


def _sum_cells():
    """Cells covered by the aggregated chunk rows."""
    return F.sum(F.col("h").cast("long") * F.col("w"))


def write_cube(
    chunks: DataFrame,
    path: str,
    *,
    n_buckets: int = DEFAULT_N_BUCKETS,
    commit_batches: int = 4,
    fail_after: int | None = None,
    cluster: dict | None = None,
    grid_spec: dict | None = None,
) -> WriteReport:
    """Write a chunk DataFrame as a sequence of committed snapshots.

    ``commit_batches`` bucket groups are written and committed one at a
    time; a job killed after k commits resumes with batches k+1.. on
    the next call (already-committed batches are detected from the
    manifests and skipped). ``fail_after`` aborts after that many new
    commits — the kill-injection hook used by the resume test.

    The batch key is ``pmod(tile_id, n_buckets) % commit_batches`` —
    deterministic from the data, so resume selects exactly the rows
    that were never committed, regardless of input order.

    The input is persisted once, and ONE aggregate over it yields every
    batch's (rows, cells); each uncommitted batch then costs one Spark
    job, its data write, and takes its manifest metrics from that
    aggregate. The same counts verify every resume: each committed
    batch (compaction snapshots aside) must cover exactly the rows and
    cells the current input yields for it, else the call raises
    "resume input mismatch" instead of mixing two inputs in one table.

    ``cluster={"scheme": "hilbert", "ntx": int, "nty": int,
    "n_files": int}`` sorts every batch's rows by the Hilbert key of
    the tile coordinate (``grid/hilbert.py``) and range-partitions
    them into ``n_files`` (default 8) files per batch, so each data
    file's ``cluster_key`` min/max covers a narrow, spatially-compact
    key run.  ``read_cube_window`` then prunes row groups with an
    OR-of-BETWEENs over the window's Hilbert ranges — file-level
    skipping a row-major ``tile_id`` envelope cannot provide (a 2-D
    window intersects one short id run per tile ROW, so its single
    BETWEEN spans nearly the whole table).  The clustering spec is
    recorded in every manifest; resume validates it like the other
    split parameters.
    """
    os.makedirs(path, exist_ok=True)
    if cluster is not None:
        scheme = cluster.get("scheme", "hilbert")
        if scheme != "hilbert":
            raise ValueError(f"unknown cluster scheme {scheme!r}")
        cluster = {
            "scheme": "hilbert",
            "ntx": int(cluster["ntx"]),
            "nty": int(cluster["nty"]),
            "n_files": int(cluster.get("n_files", 8)),
        }
        cluster["order"] = cluster_order(cluster["ntx"], cluster["nty"])
    if grid_spec is not None:
        # write-once sidecar recording the tile grid every windowed
        # read's tile_id / rectangle predicate depends on; a resume
        # with a different grid is the same silent-row-drop hazard as
        # a cluster mismatch, so it is rejected the same way
        grid_spec = {
            "ntx": int(grid_spec["ntx"]),
            "nty": int(grid_spec["nty"]),
            "tile_size": int(grid_spec["tile_size"]),
        }
        gpath = os.path.join(path, "_grid.json")
        if os.path.exists(gpath):
            with open(gpath) as fh:
                prev = json.load(fh)
            if prev != grid_spec:
                raise ValueError(
                    f"resume parameter mismatch at {path}: table grid "
                    f"{prev} vs this call's {grid_spec}; use the "
                    "original geobox/tile_size or a fresh path"
                )
        else:
            tmp = gpath + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(grid_spec, fh)
            os.replace(tmp, gpath)
    prior = _list_manifests(path)
    # resume safety: skipping a committed batch is only valid when the
    # deterministic row->batch split is THE SAME split the prior
    # manifests were written with — otherwise rows silently go missing
    # or double. Both parameters are recorded in every manifest.
    for m in prior:
        if m.get("cluster") != cluster:
            raise ValueError(
                f"resume parameter mismatch at {path}: prior snapshot "
                f"{m.get('snapshot_id')} was written with "
                f"cluster={m.get('cluster')}; this call uses "
                f"cluster={cluster}. Use the original parameters or "
                "write to a fresh path"
            )
        if (m.get("n_buckets"), m.get("commit_batches")) != (
            n_buckets, commit_batches,
        ):
            raise ValueError(
                f"resume parameter mismatch at {path}: prior snapshot "
                f"{m.get('snapshot_id')} was written with "
                f"n_buckets={m.get('n_buckets')}, "
                f"commit_batches={m.get('commit_batches')}; this call "
                f"uses n_buckets={n_buckets}, "
                f"commit_batches={commit_batches}. Use the original "
                "parameters or write to a fresh path"
            )
    done_batches = {m["batch"] for m in prior}
    _gc_uncommitted(path, {str(m["snapshot_id"]) for m in prior})

    withb = chunks.withColumn(
        "cell_bucket", F.pmod(F.col("tile_id"), F.lit(n_buckets))
    )
    if cluster is not None:
        from ..grid.hilbert import with_hilbert_key

        ntx = cluster["ntx"]
        withb = with_hilbert_key(
            withb.withColumn(
                "__ctx", F.pmod(F.col("tile_id"), F.lit(ntx))
            ).withColumn(
                "__cty", F.floor(F.col("tile_id") / ntx).cast("long")
            ),
            "__ctx", "__cty", cluster["order"], "cluster_key",
        ).drop("__ctx", "__cty")
    batch_of = F.pmod(F.col("cell_bucket"), F.lit(commit_batches))
    # one materialization of the (expensive) upstream pipeline: the
    # batch aggregate fills the cache, every batch write reads it
    withb = withb.persist()
    try:
        stats = {
            int(r["batch"]): (int(r["rows"]), int(r["cells"] or 0))
            for r in withb.groupBy(batch_of.alias("batch")).agg(
                F.count(F.lit(1)).alias("rows"), _sum_cells().alias("cells")
            ).collect()
        }
        # resume fingerprint: a committed batch must cover exactly the
        # rows/cells the current input yields for it, else the upstream
        # data changed and skipping it would mix two inputs
        for m in prior:
            if m.get("kind") == "compaction":
                continue  # batch -1: its metrics span the folded batches
            want = m.get("metrics", {})
            got = stats.get(m["batch"], (0, 0))
            if got != (want.get("rows"), want.get("cells")):
                raise ValueError(
                    f"resume input mismatch at {path}: committed batch "
                    f"{m['batch']} covered rows/cells {want.get('rows')}"
                    f"/{want.get('cells')} but the current input yields "
                    f"{got[0]}/{got[1]} — the upstream data changed; "
                    "write to a fresh path"
                )

        report = WriteReport(path=path)
        parent = prior[-1]["snapshot_id"] if prior else None
        for batch in range(commit_batches):
            if batch in done_batches:
                report.skipped_snapshots.append(batch)
                continue
            new_commits = len(report.committed_snapshots)
            if fail_after is not None and new_commits >= fail_after:
                raise RuntimeError(
                    f"injected failure after {new_commits} commits"
                )
            snapshot_id = f"{int(time.time() * 1000)}-{batch}"
            _commit_one(
                withb.filter(batch_of == batch), path, snapshot_id, parent,
                batch, n_buckets, commit_batches, *stats.get(batch, (0, 0)),
                report, cluster=cluster,
            )
            parent = snapshot_id
        return report
    finally:
        withb.unpersist()


def _commit_one(part, path, snapshot_id, parent, batch, n_buckets,
                commit_batches, rows, cells, report, kind=None,
                cluster=None):
    """Write ``part`` as snapshot ``snapshot_id`` (one Spark job, or
    the range-partitioning jobs of a clustered layout) and commit its
    manifest; ``rows``/``cells`` are the caller's counts of ``part``."""
    t0 = time.time()
    data_dir = os.path.join(path, "data", f"snap={snapshot_id}")
    towrite = part
    if cluster is not None:
        # range-partition so each of the batch's files covers a
        # narrow, contiguous hilbert-key run -> tight parquet min/max
        # stats on cluster_key; sortWithinPartitions keeps every ROW
        # GROUP inside a file narrow too
        towrite = part.repartitionByRange(
            cluster["n_files"], F.col("cluster_key")
        ).sortWithinPartitions("cluster_key")
    (
        towrite.write.mode("overwrite")
        .partitionBy("zoom", "cell_bucket")
        .parquet(data_dir)
    )
    manifest = {
        "snapshot_id": snapshot_id,
        "parent_id": parent,
        "batch": batch,
        **({"kind": kind} if kind else {}),
        **({"cluster": cluster} if cluster else {}),
        "n_buckets": n_buckets,
        "commit_batches": commit_batches,
        "data_dir": f"data/snap={snapshot_id}",
        "files": _collect_file_stats(data_dir, path),
        "metrics": {
            "rows": rows,
            "cells": cells,
            "wall_sec": round(time.time() - t0, 3),
        },
    }
    _commit_manifest(path, manifest)
    report.committed_snapshots.append(snapshot_id)
    report.metrics[snapshot_id] = manifest["metrics"]


def _active_manifests(manifests: list[dict]) -> list[dict]:
    """Reads start at the LAST compaction snapshot in the (possibly
    time-traveled) prefix: a compaction rewrote the full row state of
    everything before it, so earlier data dirs are superseded (kept on
    disk for time travel until ``expire_snapshots``)."""
    for i in range(len(manifests) - 1, -1, -1):
        if manifests[i].get("kind") == "compaction":
            return manifests[i:]
    return manifests


def _as_of_prefix(manifests: list[dict], as_of) -> list[dict]:
    """Time travel: the manifest prefix up to and including snapshot
    ``as_of`` (commit order == manifest order — ids are millis-stamped
    and written sequentially). Raises on an unknown id, like Iceberg's
    VERSION AS OF."""
    if as_of is None:
        return manifests
    as_of = str(as_of)
    for i, m in enumerate(manifests):
        if str(m["snapshot_id"]) == as_of:
            return manifests[: i + 1]
    raise ValueError(
        f"unknown snapshot {as_of!r}; committed ids: "
        f"{[m['snapshot_id'] for m in manifests]}"
    )


def read_cube(spark: SparkSession, path: str, *,
              as_of=None) -> DataFrame:
    """Read ONLY committed snapshots (manifest-listed data dirs).
    Empty snapshots (0-row batches) are skipped - their dirs hold just
    _SUCCESS, which parquet cannot infer a schema from.

    ``as_of=<snapshot_id>`` reads the table as of that commit (Iceberg
    time travel): exactly the data dirs of that snapshot and its
    ancestors, so a reader can pin a training run to the corpus state
    it started from while writers keep appending. A valid snapshot
    whose prefix holds no rows yet reads as an EMPTY table (schema
    borrowed from the first later non-empty snapshot), not an error."""
    all_manifests = _list_manifests(path)
    manifests = _active_manifests(_as_of_prefix(all_manifests, as_of))
    if not manifests:
        raise FileNotFoundError(f"no committed snapshots under {path}")

    def _dirs(ms):
        return [
            os.path.join(path, m["data_dir"])
            for m in ms
            if m.get("metrics", {}).get("rows", 1) > 0
        ]

    dirs = _dirs(manifests)
    if not dirs:
        later = _dirs(all_manifests)
        if as_of is not None and later:
            # the table WAS empty at as_of: empty frame, real schema
            return (
                spark.read.option("basePath", path)
                .parquet(later[0]).limit(0)
            )
        raise FileNotFoundError(f"all committed snapshots empty: {path}")
    return spark.read.option("basePath", path).parquet(*dirs)


def read_lineage(spark: SparkSession, path: str, *,
                 as_of=None) -> DataFrame:
    """Per-tile lineage (``LINEAGE_COLS``) of the committed table, or
    of the table ``as_of`` a snapshot: a view over the data itself,
    since every chunk row carries its tile, group, shape and input
    ``seq`` range (column pruning leaves ``values`` unread). A tile
    lives in exactly one active snapshot, so this is the same per-
    snapshot aggregate a separate lineage table would hold."""
    return read_cube(spark, path, as_of=as_of).groupBy(
        "zoom", "cell_bucket", "tile_id", "group_key"
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        _sum_cells().alias("n_cells"),
        F.min("min_seq").alias("min_seq"),
        F.max("max_seq").alias("max_seq"),
    )


def read_cube_window(spark: SparkSession, path: str, geobox,
                     tile_size: int, bbox, *, as_of=None) -> DataFrame:
    """Spatially-pruned cube read: only the chunks whose tiles
    intersect ``bbox`` (minx, miny, maxx, maxy in the cube's CRS).

    Pruning happens at four levels, all metadata-driven — the query
    never scans the 100 TB table to find a city-sized window:

    1. **manifest file pruning** — every snapshot manifest records
       per-file ``tile_id`` / ``cluster_key`` [min, max] (collected
       once at commit time); files whose recorded stats cannot
       intersect the window are dropped DRIVER-SIDE, before Spark
       ever lists a directory or reads a footer;
    2. **partition pruning** — the candidate tiles' ``cell_bucket``
       values become an ``IN`` filter on the partition column, so
       non-matching ``cell_bucket=`` directories are never listed
       (and the same residue test prunes the manifest file list);
    3. **row-group pruning** — a ``tile_id BETWEEN`` envelope
       predicate (plus, on hilbert-clustered tables, an
       OR-of-BETWEENs over the window's curve ranges) is pushed to
       the parquet reader's min/max statistics;
    4. an exact tile-rectangle predicate (div/mod arithmetic) drops
       the envelope's false positives after the scan.
    """
    minx, miny, maxx, maxy = (float(v) for v in bbox)
    if minx > maxx or miny > maxy:
        raise ValueError(f"degenerate bbox {bbox!r}")
    inv = geobox.affine.invert()

    def _pix(x, y):
        return (inv.c + inv.a * x + inv.b * y,
                inv.f + inv.d * x + inv.e * y)

    corners = [_pix(minx, miny), _pix(minx, maxy),
               _pix(maxx, miny), _pix(maxx, maxy)]
    px = [c[0] for c in corners]
    py = [c[1] for c in corners]
    _, ntx, nty = geobox.n_tiles(tile_size)
    tx0 = max(0, int(min(px) // tile_size))
    tx1 = min(ntx - 1, int(max(px) // tile_size))
    ty0 = max(0, int(min(py) // tile_size))
    ty1 = min(nty - 1, int(max(py) // tile_size))
    # every pruning level below depends on the caller's geobox /
    # tile_size deriving the SAME tile grid the table was written
    # with; when the write recorded its grid (cube.write does), a
    # mismatch is an error rather than silently dropped rows — for
    # plain tables too, not just clustered ones
    gpath = os.path.join(path, "_grid.json")
    if os.path.exists(gpath):
        with open(gpath) as fh:
            rec = json.load(fh)
        if (rec["ntx"], rec["nty"], rec["tile_size"]) != (
            ntx, nty, int(tile_size),
        ):
            raise ValueError(
                f"geobox/tile_size derive a {ntx}x{nty} tile grid "
                f"(tile_size {tile_size}) but the table was written "
                f"with {rec['ntx']}x{rec['nty']} (tile_size "
                f"{rec['tile_size']}, see _grid.json); pass the "
                "geobox and tile_size the cube was written with"
            )

    df = read_cube(spark, path, as_of=as_of)
    if tx1 < tx0 or ty1 < ty0:
        return df.limit(0)

    all_manifests = _list_manifests(path)
    active = _active_manifests(_as_of_prefix(all_manifests, as_of))
    n_buckets = active[-1].get("n_buckets") if active else None
    cond = (
        F.col("tile_id").between(ty0 * ntx + tx0, ty1 * ntx + tx1)
        & F.floor(F.col("tile_id") / ntx).between(ty0, ty1)
        & F.pmod(F.col("tile_id"), F.lit(ntx)).between(tx0, tx1)
    )
    ranges = None
    cluster = active[-1].get("cluster") if active else None
    if cluster and cluster.get("scheme") == "hilbert":
        # hilbert-clustered layout: the window becomes a handful of
        # contiguous cluster_key ranges; each BETWEEN disjunct prunes
        # at parquet row-group min/max level (row-major tile_id's one
        # envelope cannot — it spans nearly the full id space for any
        # 2-D window)
        from ..grid.hilbert import hilbert_ranges, ranges_predicate

        # the stored cluster_key was computed from the WRITE-time tile
        # grid; range-pruning with a different grid would silently
        # drop in-window rows, so a mismatched geobox/tile_size is an
        # error, not a wrong answer
        if (int(cluster["ntx"]), int(cluster["nty"])) != (ntx, nty):
            raise ValueError(
                f"geobox/tile_size derive a {ntx}x{nty} tile grid but "
                f"the table was clustered on {cluster['ntx']}x"
                f"{cluster['nty']} (see _manifests); pass the geobox "
                "and tile_size the cube was written with"
            )
        order = int(cluster["order"])
        side = 1 << order
        ranges = hilbert_ranges(
            min(tx0, side - 1), min(tx1, side - 1),
            min(ty0, side - 1), min(ty1, side - 1),
            order, max_ranges=32,
        )
        cond = ranges_predicate(F.col("cluster_key"), ranges) & cond
    buckets = None
    if n_buckets:
        buckets = set()
        for ty in range(ty0, ty1 + 1):
            if len(buckets) >= n_buckets:
                break
            lo = ty * ntx + tx0
            if tx1 - tx0 + 1 >= n_buckets:
                buckets = set(range(n_buckets))
                break
            buckets.update(
                (lo + i) % n_buckets for i in range(tx1 - tx0 + 1)
            )
        if len(buckets) < n_buckets:
            cond = F.col("cell_bucket").isin(sorted(buckets)) & cond
        else:
            buckets = None

    # level-1 pruning: select data FILES from the recorded manifest
    # stats (older tables without "files" fall back to dir reads)
    nonempty = [
        m for m in active
        if m.get("metrics", {}).get("rows", 1) > 0
    ]
    if nonempty and all("files" in m for m in nonempty):
        env_lo, env_hi = ty0 * ntx + tx0, ty1 * ntx + tx1
        kept = []
        for m in nonempty:
            for ent in m["files"]:
                if ent.get("rows", 1) == 0:
                    continue
                t = ent.get("tile_id")
                if t is not None and (t[1] < env_lo or t[0] > env_hi):
                    continue
                ck = ent.get("cluster_key")
                if ranges is not None and ck is not None and not any(
                    not (hi < ck[0] or lo > ck[1]) for lo, hi in ranges
                ):
                    continue
                if buckets is not None:
                    b = _bucket_from_path(ent["path"])
                    if b is not None and b not in buckets:
                        continue
                kept.append(os.path.join(path, ent["path"]))
        if not kept:
            return df.limit(0)
        df = spark.read.option("basePath", path).parquet(*kept)
    return df.filter(cond)


def _bucket_from_path(rel_path: str):
    """``cell_bucket`` partition value encoded in a data-file path,
    or None when absent."""
    for part in rel_path.split(os.sep):
        if part.startswith("cell_bucket="):
            try:
                return int(part.split("=", 1)[1])
            except ValueError:
                return None
    return None


def snapshots(path: str) -> list[dict]:
    """Committed snapshot manifests, oldest first."""
    return _list_manifests(path)


def compact_snapshots(spark: SparkSession, path: str) -> WriteReport:
    """Iceberg-style table maintenance (``rewrite_data_files``): fold
    every committed snapshot's rows into ONE compaction snapshot that
    becomes the new read base.

    A long-lived cube (streaming refreshes, incremental merges)
    accumulates one data dir per commit — at 100 TB that is the
    classic small-files problem: every read lists and opens thousands
    of files per bucket. Compaction rewrites the CURRENT row state
    (one big file set, repartitioned by ``cell_bucket``) and commits
    it with ``kind="compaction"``; readers then start at the
    compaction manifest instead of unioning history. Row-multiset
    identical by construction — the rewrite IS ``read_cube(path)``.

    Time travel to ids before the compaction keeps working (old dirs
    stay on disk) until ``expire_snapshots`` reclaims them. Appending
    with ``write_cube`` afterwards also keeps working: batch
    bookkeeping and resume parameters are preserved verbatim."""
    manifests = _list_manifests(path)
    if not manifests:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    last = manifests[-1]
    if last.get("kind") == "compaction":
        report = WriteReport(path=path)
        report.skipped_snapshots.append(last["snapshot_id"])
        return report  # already compact: nothing newer to fold in
    df = read_cube(spark, path)
    cluster = last.get("cluster")
    # a clustered layout is not repartitioned here: _commit_one
    # re-applies the hilbert range sort (cluster_key is already a data
    # column), so the rewrite stays skippable after compaction
    if not cluster:
        df = df.repartition(max(1, int(last["n_buckets"])), "cell_bucket")
    # the rewrite IS the active snapshots' rows, so their counts sum
    active = _active_manifests(manifests)
    report = WriteReport(path=path)
    # numeric batch suffix 999999 keeps the manifest name inside the
    # (millis, batch) sort contract and after same-millis batches
    snapshot_id = f"{int(time.time() * 1000)}-999999"
    _commit_one(
        df, path, snapshot_id, last["snapshot_id"],
        -1, last["n_buckets"], last["commit_batches"],
        sum(m["metrics"]["rows"] for m in active),
        sum(m["metrics"]["cells"] for m in active),
        report, kind="compaction", cluster=cluster,
    )
    return report


def expire_snapshots(path: str) -> list[str]:
    """Drop manifests + data dirs superseded by the LAST
    compaction (Iceberg ``expire_snapshots``): reclaims the space of
    the folded history at the cost of time travel to ids before the
    compaction (which then raise unknown-snapshot, as after Iceberg
    expiry). Returns the expired snapshot ids."""
    manifests = _list_manifests(path)
    idx = None
    for i in range(len(manifests) - 1, -1, -1):
        if manifests[i].get("kind") == "compaction":
            idx = i
            break
    if not idx:  # no compaction, or compaction is the very first
        return []
    dead = manifests[:idx]
    mdir = _manifest_dir(path)
    expired = []
    for m in dead:
        sid = str(m["snapshot_id"])
        shutil.rmtree(os.path.join(path, m["data_dir"]), ignore_errors=True)
        try:
            os.remove(os.path.join(mdir, f"snapshot-{sid}.json"))
        except FileNotFoundError:
            pass
        expired.append(sid)
    return expired
