"""End-to-end benchmark of the make_geocube path.

    python3 perfbench/run.py --workload burn_hot_grouped --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One run starts a Spark ``local[4]``
session, builds the workload's input from ``--seed``, warms up, then
repeats one job for ``--seconds`` seconds: the public calls
``extract_vector_table_sql`` (documents only) -> ``make_geocube`` ->
``GeoCube.write``, timed through the committed snapshot. Every
snapshot is checked against an exact reference built from the
generator (``workloads.py``). A closed loop of ``read_cube_window``
reads over the last snapshot follows, each read checked too.

The last line of standard output is one JSON object: end-to-end
metrics with ``--trace 0``; with ``--trace 1`` the Spark status API is
on, every public call runs in its own span and job group, and the
metrics are the per-layer numbers (see README.md). Spans and the
per-layer JSON of a traced run go to ``.perfbench_results/``.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procstat  # noqa: E402
import workloads as wl  # noqa: E402
from spans import (StatusApi, Tracer, job_start, node_metric, skew,  # noqa: E402
                   stage_end, task_times)

CPUS = 4            # local[k]; fixed for every workload
WARMUP_JOBS = 1
READS = 110         # p90 of 110 samples has 10 beyond it
READ_CLIENTS = 4    # closed loop: each client waits for its read
# local mode: the driver JVM is the executor too. Its heap is
# committed and touched up front, so the tree's resident set measures
# what the jobs add, not when the collector chose to grow the heap.
DRIVER_MEM = "2g"

WORKLOADS = {
    # same generator as the flagship burn (points + 16-47 px quads);
    # every 4th geometry lands in one tile of group 0; 4 groups, replace
    "burn_hot_grouped": wl.BurnSpec(
        n_docs=20_000, n_groups=4, hot_every=4, hot_tile=(2, 1),
        grid=1024, res_exp=13, lon0=-91.0, lat_top=41.125),
    # scrambled scatter above the 150k auto-routing threshold, so the
    # default call takes the halo-tiled linear engine
    "interp_linear": wl.InterpSpec(
        n_points=160_000, grid=768, res_exp=10, lon0=-100.0, lat_top=39.0),
}


def _die(msg: str, code: int = 1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _percentile(values, q: int) -> float:
    """q-th percentile (1..99), ``statistics.quantiles`` exclusive."""
    return statistics.quantiles(values, n=100)[q - 1]


# ---------------------------------------------------------------------------
# snapshot inspection (plain files + DuckDB, independent of the engine)
# ---------------------------------------------------------------------------

def snapshot_files(path: str) -> tuple:
    """(data files with rows, committed cells) of every committed
    snapshot under ``path``."""
    files, cells = [], 0
    for mpath in glob.glob(os.path.join(path, "_manifests", "snapshot-*.json")):
        with open(mpath) as fh:
            m = json.load(fh)
        cells += int(m["metrics"]["cells"])
        files += [os.path.join(path, f["path"]) for f in m["files"]
                  if f.get("rows", 1) > 0]
    return files, cells


def snapshot_summary(con, files: list) -> dict:
    """(group_key, tile_id) -> row of counts and sums, via DuckDB."""
    rows = con.execute(
        """
        SELECT group_key, tile_id, count(*) AS n, any_value(h * w) AS hw,
               any_value(n_geoms), any_value(n_cells_burned),
               sum(len(list_filter(values, x -> NOT isnan(x)))),
               sum(list_sum(list_filter(values, x -> NOT isnan(x))))
        FROM read_parquet(?, hive_partitioning = false)
        GROUP BY group_key, tile_id
        """, [files]).fetchall()
    return {(r[0], int(r[1])): r[2:] for r in rows}


# ---------------------------------------------------------------------------
# workload drivers
# ---------------------------------------------------------------------------

class Burn:
    def __init__(self, spark, spec: wl.BurnSpec, seed: int, work: str):
        self.spec = spec
        inp = wl.burn_input(spec, seed)
        self.ref = wl.burn_reference(spec, inp)
        self.n_inputs = spec.n_docs
        self.burned_cells = self.ref.cells_burned
        self.expected_cells = len(self.ref.tiles) * spec.tile ** 2
        self.windows = wl.windows(spec, seed, READS, spec.hot_tile)
        path = os.path.join(work, "input")
        wl.write_parquet(inp.docs, path, CPUS)
        self.docs = spark.read.parquet(path)

    def job(self, tracer: Tracer, out: str):
        from geocube_spark.cube import make_geocube
        from geocube_spark.extract import extract_vector_table_sql

        s = self.spec
        with tracer.span("extract_vector_table_sql"):
            vec = extract_vector_table_sql(self.docs)
        with tracer.span("make_geocube"):
            cube = make_geocube(vec, geom=s.geom_json(),
                                resolution=(-s.res, s.res), group_by="grp")
        with tracer.span("write"):
            cube.write(out)
        return cube.geobox

    def probe_prefix(self):
        from geocube_spark.extract import extract_vector_table_sql

        extract_vector_table_sql(self.docs).write.format("noop") \
            .mode("overwrite").save()

    def check(self, summary: dict, files: list, con) -> list:
        """Mismatches of a snapshot against the reference."""
        area = self.spec.tile ** 2
        want = {k: (1, area) + v for k, v in self.ref.tiles.items()}
        return [(k, summary.get(k), want.get(k))
                for k in want.keys() | summary.keys()
                if summary.get(k) is None or tuple(summary[k]) != want.get(k)]


class Interp:
    def __init__(self, spark, spec: wl.InterpSpec, seed: int, work: str):
        self.spec = spec
        inp = wl.interp_input(spec, seed)
        self.ref = wl.interp_reference(spec, inp)
        self.n_inputs = spec.n_points
        self.burned_cells = 0
        self.expected_cells = spec.grid ** 2
        self.windows = wl.windows(spec, seed, READS)
        path = os.path.join(work, "input")
        wl.write_parquet(inp.table, path, CPUS)
        self.pts = spark.read.parquet(path)

    def job(self, tracer: Tracer, out: str):
        from geocube_spark.cube import make_geocube

        s = self.spec
        with tracer.span("make_geocube"):
            cube = make_geocube(
                self.pts, geom=s.geom_json(), resolution=(-s.res, s.res),
                rasterize_function="points_griddata", interp_method="linear")
        with tracer.span("write"):
            cube.write(out)
        return cube.geobox

    def probe_prefix(self):
        self.pts.write.format("noop").mode("overwrite").save()

    def check(self, summary: dict, files: list, con) -> list:
        """Mismatches of a snapshot against the reference."""
        import numpy as np

        s, ref = self.spec, self.ref
        bad = []
        if sorted(summary) != [(None, k) for k in range(s.ntx ** 2)]:
            bad.append(("tiles", sorted(summary)))
        grid = np.full((s.grid, s.grid), np.nan)
        for r0, c0, h, w, vals in con.execute(
                "SELECT row0, col0, h, w, values FROM "
                "read_parquet(?, hive_partitioning = false)",
                [files]).fetchall():
            grid[r0:r0 + h, c0:c0 + w] = np.asarray(vals, float).reshape(h, w)
        inside = grid[ref.inside]
        err = np.abs(inside - ref.expected[ref.inside])
        if not (err <= ref.tol).all():   # NaN fails too
            bad.append(("inside", int((~(err <= ref.tol)).sum())))
        if not np.isnan(grid[ref.outside]).all():
            bad.append(("outside", int((~np.isnan(grid[ref.outside])).sum())))
        return bad


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def _read_ok(pdf, win, summary: dict, ntx: int, exact: bool) -> bool:
    """The window's rows are exactly the snapshot's (group, tile) rows
    it covers, each with the snapshot's data-cell count and sum."""
    import numpy as np

    tx0, ty0, tx1, ty1 = win
    want = {k: v for k, v in summary.items()
            if tx0 <= k[1] % ntx <= tx1 and ty0 <= k[1] // ntx <= ty1}
    if len(pdf) != len(want):
        return False
    for g, tid, vals in zip(pdf["group_key"], pdf["tile_id"], pdf["values"]):
        exp = want.pop((g, int(tid)), None)
        if exp is None:
            return False
        v = np.asarray(vals, dtype=float)
        ok = ~np.isnan(v)
        tot = float(v[ok].sum())
        if int(ok.sum()) != exp[4]:
            return False
        if exact and tot != exp[5]:
            return False
        if not exact and abs(tot - exp[5]) > 1e-9 * max(1.0, abs(exp[5])):
            return False
    return not want


def run(args) -> dict:
    try:
        import duckdb
        from geocube_spark.plans.checkpoint import read_cube_window
        from geocube_spark.session import get_spark
    except ImportError as exc:
        _die(f"cannot import the engine from {ROOT}: {exc}")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench_results")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the session spills or zips stays inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    import tempfile
    tempfile.tempdir = None

    spec = WORKLOADS[args.workload]
    trace = bool(args.trace)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    out: dict = {"attempted": 0, "failed": 0}
    spark = None
    with procstat.RssSampler() as rss:
        try:
            t = time.time()
            spark = get_spark(app=f"perfbench-{args.workload}",
                              master=f"local[{CPUS}]", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            start_s = time.time() - t
            sc = spark.sparkContext if trace else None
            tracer = Tracer(f"{args.workload}-s{args.seed}", sc)
            con = duckdb.connect()
            con.execute("SET threads TO 2")

            cls = Burn if isinstance(spec, wl.BurnSpec) else Interp
            t = time.time()
            w = cls(spark, spec, args.seed, work)
            input_s = time.time() - t

            def one_job(k: int, timed: bool) -> dict:
                path = os.path.join(work, f"cube-{k}")
                gc.collect()
                spark._jvm.System.gc()
                c0 = procstat.cpu_seconds()
                if timed:
                    rss.active.set()
                t0 = time.time()
                res = {"path": path, "ok": False, "probe": None}
                try:
                    with tracer.span(f"job-{k}") as res["span"]:
                        res["geobox"] = w.job(tracer, path)
                except Exception as exc:  # a failed job counts, the run goes on
                    print(f"perfbench: job {k}: {exc!r}", file=sys.stderr)
                    return res
                finally:
                    res["s"] = time.time() - t0
                    rss.active.clear()
                    res["cpu"] = procstat.cpu_seconds() - c0
                res["files"], res["cells"] = snapshot_files(path)
                res["summary"] = snapshot_summary(con, res["files"])
                bad = w.check(res["summary"], res["files"], con)
                if res["cells"] != w.expected_cells:
                    bad.append(("cells", res["cells"]))
                if bad:
                    print(f"perfbench: job {k} mismatch: {bad[:3]}",
                          file=sys.stderr)
                res["ok"] = not bad
                if trace and timed:
                    with tracer.span(f"probe-{k}") as res["probe"]:
                        w.probe_prefix()
                return res

            t = time.time()
            for k in range(WARMUP_JOBS):
                shutil.rmtree(one_job(-1 - k, timed=False)["path"],
                              ignore_errors=True)
            warmup_s = time.time() - t
            setup_s = time.time() - T0

            tried, jobs = 0, []
            t_loop = time.time()
            while not tried or time.time() - t_loop < args.seconds:
                j = one_job(tried, timed=True)
                tried += 1
                if not j["ok"]:
                    continue
                if jobs:
                    shutil.rmtree(jobs[-1]["path"])
                jobs.append(j)
            if not jobs:
                raise RuntimeError("no timed job succeeded")
            last = jobs[-1]

            # closed-loop window reads over the last snapshot
            gc.collect()
            spark._jvm.System.gc()
            exact = cls is Burn

            def read(k: int):
                win = w.windows[k]
                with tracer.span(f"read-{k}", parent=0):
                    t0 = time.time()
                    try:
                        pdf = read_cube_window(
                            spark, last["path"], last["geobox"], spec.tile,
                            spec.bbox(win)).toPandas()
                        dt = time.time() - t0
                        ok = _read_ok(pdf, win, last["summary"], spec.ntx, exact)
                    except Exception as exc:  # a failed read counts
                        print(f"perfbench: read {k}: {exc}", file=sys.stderr)
                        dt, ok = time.time() - t0, False
                return dt, ok

            t = time.time()
            with ThreadPoolExecutor(READ_CLIENTS) as ex:
                reads = list(ex.map(read, range(READS)))
            reads_s = time.time() - t

            out["attempted"] = tried + len(reads)
            out["failed"] = (tried - len(jobs)
                             + sum(not ok for _, ok in reads))
            cube_s = statistics.median(j["s"] for j in jobs)
            lat = [dt * 1000.0 for dt, _ in reads]
            nbytes = sum(os.path.getsize(f) for f in last["files"])
            e2e = {
                "setup_s": (setup_s, "s"),
                "cube_s": (cube_s, "s"),
                "cells_per_s": (last["cells"] / cube_s, "1/s"),
                "cpu_s": (statistics.median(j["cpu"] for j in jobs), "s"),
                "peak_rss_mb": (rss.peak / 2**20, "MB"),
                "bytes_per_cell": (nbytes / last["cells"], "B"),
                "read_p50_ms": (statistics.median(lat), "ms"),
                "read_p90_ms": (_percentile(lat, 90), "ms"),
            }
            info = {"jobs_s": [j["s"] for j in jobs],
                    "phases_s": {"session": start_s, "input": input_s,
                                 "warmup": warmup_s, "reads": reads_s},
                    "host": host_context()}
            if trace:
                layers, stage_table = attribute(
                    spark, tracer, w, jobs, start_s, warmup_s, cube_s, nbytes)
                os.makedirs(results, exist_ok=True)
                stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
                tracer.dump(stem + ".spans.json")
                with open(stem + ".layers.json", "w") as fh:
                    json.dump({"e2e_traced": {k: v[0] for k, v in e2e.items()},
                               "layers": layers, **info,
                               "last_job_stages": stage_table}, fh, indent=1)
                metrics = layers
            else:
                metrics = e2e
            out["metrics"] = {k: {"value": v, "unit": u}
                              for k, (v, u) in metrics.items()}
            out["info"] = info
            con.close()
        finally:
            _stop(spark)
            shutil.rmtree(work, ignore_errors=True)
    out["correct"] = out["failed"] == 0 and out["attempted"] > 0
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop the session, then end and wait for every process it
    started: the JVM, the PySpark daemon and its workers."""
    if spark is None:
        return
    from pyspark import SparkContext

    started = [p for p in procstat.tree() if p != os.getpid()]
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    for pid in started:
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
    deadline = time.time() + 10
    while any(_alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)


def _steal_s() -> float:
    """CPU time the hypervisor gave to others, all CPUs, so far."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / procstat.TICK


STEAL0, LOAD0 = _steal_s(), os.getloadavg()[0]


def host_context() -> dict:
    """Recorded with every run, never used to drop or retry one."""
    import numpy as np

    t = time.time()
    a = np.ones(8 * 1024 * 1024)  # fault in 64 MB
    dt = time.time() - t
    del a
    return {"loadavg_1m_start": LOAD0, "loadavg_1m_end": os.getloadavg()[0],
            "steal_s": _steal_s() - STEAL0,
            "first_touch_64mb_s": round(dt, 4), "nproc": os.cpu_count()}


# ---------------------------------------------------------------------------
# traced run: stage metrics -> layers
# ---------------------------------------------------------------------------

# stands in for a stage a changed plan no longer has: its layer reads 0
_NO_STAGE = {"executorRunTime": 0, "numTasks": 0, "shuffleReadRecords": 0,
             "shuffleWriteRecords": 0, "completionTime": None}


def attribute(spark, tracer, w, jobs, start_s, warmup_s, cube_s, nbytes):
    """Per-layer numbers from the Spark status API, median over the
    timed jobs (see README.md for each definition), and the stage
    table of the last job."""
    api = StatusApi(spark.sparkContext.uiWebUrl)
    per_job, stage_table = [], []
    for j in jobs:
        kids = {s["name"]: s for s in tracer.spans
                if s["parent"] == j["span"]["id"]}
        mk, wr = kids["make_geocube"], kids["write"]
        stage_table = [
            {"span": name, **{k: st[k] for k in (
                "stageId", "name", "numTasks", "executorRunTime",
                "inputRecords", "shuffleReadRecords",
                "shuffleWriteRecords", "outputRecords")}}
            for name, sp in kids.items()
            for st in api.stages_in({sp["group"]})]
        # the noop-materialized input prefix: its last stage
        noop = api.stages_in({j["probe"]["group"]})[-1]
        extract_s = noop["executorRunTime"] / 1e3
        job_groups = {s["group"] for s in kids.values()}
        job_stages = api.stages_in(job_groups)
        write_stages = api.stages_in({wr["group"]})
        # cover: the heaviest stage that reads the whole input (burn:
        # the map side of the (group, tile) exchange; interpolation:
        # the point decode and bucketing)
        cover = max((s for s in job_stages
                     if s["inputRecords"] == w.n_inputs),
                    key=lambda s: s["executorRunTime"], default=_NO_STAGE)
        # heaviest shuffle-reading stage of the write: the burn when
        # it reads the cover's exchange, else the sink's own agg
        reduce_ = max((s for s in write_stages if s["shuffleReadRecords"] > 0),
                      key=lambda s: s["executorRunTime"], default=_NO_STAGE)
        rtimes = [] if reduce_ is _NO_STAGE else task_times(api, reduce_)
        fed = cover["shuffleWriteRecords"] > 0 and \
            reduce_["shuffleReadRecords"] == cover["shuffleWriteRecords"]
        upstream_end = stage_end(reduce_) if fed else wr["start"]
        sink_jobs = [x for x in api.jobs_in({wr["group"]})
                     if job_start(x) >= upstream_end]
        mk_jobs = api.jobs_in({mk["group"]})
        mk_stages = api.stages_in({mk["group"]})
        gathered = sum(
            node_metric(n, "number of output rows")
            for e in api.sql_in({mk["group"]}) for n in e.get("nodes", [])
            if "Join" in n.get("nodeName", ""))
        per_job.append({
            "extract.s": extract_s,
            "extract.rows_out": noop["inputRecords"],
            "cover.task_s": cover["executorRunTime"] / 1e3 - extract_s,
            "cover.rows_out": cover["shuffleWriteRecords"],
            "cover.fanout": cover["shuffleWriteRecords"] / w.n_inputs,
            "shuffle.bytes": sum(s["shuffleWriteBytes"] for s in job_stages),
            "shuffle.partitions": reduce_["numTasks"],
            "shuffle.task_skew": skew(rtimes),
            "burn.task_s": sum(rtimes),
            "burn.max_task_s": max(rtimes, default=0.0),
            "halo.s": mk["end"] - mk["start"],
            "halo.jobs": len(mk_jobs),
            "halo.stages": len(mk_stages),
            "halo.single_task_stages": sum(s["numTasks"] == 1
                                           for s in mk_stages),
            "halo.rows_gathered": gathered,
            "halo.join_amplification": gathered / w.n_inputs,
            "halo.task_s": sum(s["executorRunTime"] for s in mk_stages) / 1e3,
            "sink.write_s": wr["end"] - max(upstream_end, wr["start"]),
            "sink.jobs": len(sink_jobs),
        })
    layers = {k: statistics.median(p[k] for p in per_job) for k in per_job[0]}

    # reads: scan-node metrics of each read's executions
    files_total = len(jobs[-1]["files"])
    scanned_frac, rows_scanned, rows_out = [], 0.0, 0.0
    for sp in tracer.spans:
        if not sp["name"].startswith("read-"):
            continue
        for e in api.sql_in({sp["group"]}):
            for n in e.get("nodes", []):
                if n.get("nodeName", "").startswith("Scan"):
                    scanned_frac.append(
                        node_metric(n, "number of files read") / files_total)
                    rows_scanned += node_metric(n, "number of output rows")
                if n.get("nodeName") == "Filter":
                    rows_out += node_metric(n, "number of output rows")
    layers.update({
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "burn.cells": w.burned_cells,
        "burn.tiles": len(jobs[-1]["summary"]),
        "sink.bytes": nbytes,
        "sink.files": files_total,
        "read.files_scanned_frac": statistics.mean(scanned_frac)
        if scanned_frac else 0.0,
        "read.rows_scanned_per_row_returned": rows_scanned / rows_out
        if rows_out else 0.0,
        "trace.cube_s": cube_s,
    })
    units = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    return {k: (float(layers[k]), u) for k, u in units.items()}, stage_table


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        _die(f"unknown workload {args.workload!r}; "
             f"choose from {sorted(WORKLOADS)}", 2)
    if not os.path.isdir(os.path.join(ROOT, "geocube_spark")):
        _die(f"no engine sources (geocube_spark/) under {ROOT}")
    out = run(args)
    print("perfbench-info", json.dumps(out.pop("info")), file=sys.stderr)
    print(json.dumps({k: out[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
