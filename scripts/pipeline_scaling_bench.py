"""Scale-linearity evidence for the PIPELINE families (verdict r04
item 4).

The north-rule scaling protocol (scripts/scaling_bench.py) covers the
burn; this bench proves the bucketed designs of the dedup/ANN/temporal
headliners — dedup_minhash_lsh, ann_lsh_topk, asof_join_price,
dedup_paragraphs — degrade at most mildly per unit of work when the
input grows 4x. An all-pairs design would degrade ~4x per unit (N^2);
the bucketed candidate generators should stay near 1x.

Protocol: one deterministic synthetic corpus generator (golden-ratio
low-discrepancy token/vector/tick streams seeded by id — any worker
regenerates identical rows; no external data, no RNG state) produces
inputs at scale 1 and scale 4 with the SAME statistical profile
(exact-dup rate, near-dup rate, shared-paragraph pool density,
planted ANN neighbors, ticks per symbol). Each headliner runs twice
per scale on the same local[N] session (best-of-2, catalog cache
cleared between runs); we record wall, output rows, and per-query
shuffle write/read bytes (Spark REST status API, per-stage deltas).

Reported: per-unit-work degradation = (wall_4x / 4) / wall_1x per
query, plus shuffle-bytes growth. The committed artifact
(BENCH_PIPELINE.json) asserts degradation <= DEGRADE_LIMIT (1.35 —
the verdict's ~1.3x with headroom for the shared host's timing noise;
shuffle-bytes growth is the noise-free structural check: candidate
generation is an equi-join on bucket keys, so bytes must grow
~linearly, not quadratically).

Usage: python scripts/pipeline_scaling_bench.py  [--cpus N]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CACHE = os.path.join(REPO, ".bench_cache")
BASE_DOCS = int(os.environ.get("PIPE_BENCH_DOCS", "20000"))
BASE_VECS = int(os.environ.get("PIPE_BENCH_VECS", "8000"))
BASE_TICKS = int(os.environ.get("PIPE_BENCH_TICKS", "200000"))
BASE_PTS = int(os.environ.get("PIPE_BENCH_PTS", "150000"))
DIM = 64
N_SYMBOLS = 500
UI_PORT = 4061
DEGRADE_LIMIT = 1.35
PHI = 0.6180339887498949


# ---------------------------------------------------------------------------
# deterministic distributed generators (id -> row, no RNG state)
# ---------------------------------------------------------------------------

def _docs_path(n):
    return os.path.join(CACHE, f"pipe_docs_{n}")


def _vecs_path(n):
    return os.path.join(CACHE, f"pipe_vecs_{n}")


def _ticks_path(n):
    return os.path.join(CACHE, f"pipe_ticks_{n}")


def _ensure_docs(spark, n):
    """Documents with the dedup profile: 5% exact dups, 5% one-token
    near-dups, and paragraphs drawn from a shared pool sized n//4 so
    paragraph-level dedup always has cross-document hits. A doc is 5
    pool paragraphs of 10 tokens -> 50 tokens."""
    path = _docs_path(n)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    pool = max(1, n // 4)

    def _gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            # dup profile by residue class, seed = source doc id
            seeds = ids.copy()
            near = ids % 20 == 13
            exact = ids % 20 == 7
            seeds[exact] -= 7
            seeds[near] -= 13
            texts = []
            for did, seed, is_near in zip(ids, seeds, near):
                paras = []
                for j in range(5):
                    pidx = int(((seed * 5 + j) * PHI) % 1.0 * pool)
                    toks = [
                        f"w{int(((pidx * 10 + t) * PHI * 7919) % 1.0 * 5000)}"
                        for t in range(10)
                    ]
                    paras.append(" ".join(toks))
                text = " ".join(paras)
                if is_near:  # perturb exactly one token
                    parts = text.split(" ")
                    parts[int(seed) % len(parts)] = f"z{int(seed) % 97}"
                    text = " ".join(parts)
                texts.append(text)
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    df = spark.range(0, n, 1, 32).withColumnRenamed("id", "id")
    out = df.mapInPandas(_gen, schema="doc_id long, text string")
    out.write.mode("overwrite").parquet(path)
    return path


def _ensure_vecs(spark, n):
    """Unit vectors with planted near-duplicates (10%)."""
    path = _vecs_path(n)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path

    def _gen(batches):
        import numpy as np
        import pandas as pd

        k = np.arange(1, DIM + 1, dtype=np.float64)
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            seeds = ids.copy()
            dup = ids % 10 == 3
            seeds[dup] -= 3
            base = np.sin(seeds[:, None] * k[None, :] * PHI * 997.0)
            base[dup] += 0.01 * np.sin(ids[dup, None] * k[None, :])
            nrm = np.linalg.norm(base, axis=1, keepdims=True)
            base /= np.where(nrm == 0, 1.0, nrm)
            yield pd.DataFrame({
                "vec_id": ids,
                "embedding": [r.astype(np.float64) for r in base],
            })

    df = spark.range(0, n, 1, 32)
    out = df.mapInPandas(_gen, schema="vec_id long, embedding array<double>")
    out.write.mode("overwrite").parquet(path)
    return path


def _ensure_ticks(spark, n):
    """Trade/quote ticks over N_SYMBOLS for the as-of join: half
    'quotes' (the right side), half 'trades' (the left side), golden-
    ratio timestamps so every symbol's streams interleave densely."""
    path = _ticks_path(n)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path

    def _gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            # symbol from id>>1 so the trade (even id) and quote (odd
            # id) streams share the same symbol space — (ids*odd)%500
            # would segregate parities into disjoint symbols
            sym = ((ids >> 1) * 7919) % N_SYMBOLS
            ts = ((ids * PHI) % 1.0 * 86_400_000_000).astype(np.int64)
            side = ids % 2
            price = np.round(100.0 + np.sin(ids * PHI) * 10.0, 4)
            yield pd.DataFrame({
                "tick_id": ids, "symbol": sym, "ts_us": ts,
                "side": side, "price": price,
            })

    df = spark.range(0, n, 1, 32)
    out = df.mapInPandas(
        _gen,
        schema="tick_id long, symbol long, ts_us long, side int, "
               "price double",
    )
    out.write.mode("overwrite").parquet(path)
    return path


# ---------------------------------------------------------------------------
# shuffle metrics via the status REST API (UI enabled on UI_PORT)
# ---------------------------------------------------------------------------

def _ensure_points(spark, n):
    """Scatter points with values for the tiled linear interp (vector
    table shape: seq, geometry_wkb, value)."""
    path = os.path.join(CACHE, f"pipe_pts_{n}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path

    def _gen(batches):
        import numpy as np
        import pandas as pd

        from geocube_spark.geometry import wkb as W

        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            # hash-scrambled uniform coordinates: rank-1 lattices
            # (golden/sqrt2 multipliers) put points on locally
            # near-collinear rows that stress the fp in-circle
            # predicate and blow up halo certification; a splitmix-
            # style integer scramble gives deterministic points with
            # generic-position geometry, like real-world scatter
            def _mix(x, salt):
                x = (x + salt) * 0x9E3779B97F4A7C15 % (1 << 64)
                x ^= x >> 30
                x = x * 0xBF58476D1CE4E5B9 % (1 << 64)
                x ^= x >> 27
                return (x % (1 << 53)) / float(1 << 53)
            u = np.asarray([_mix(int(i), 1) for i in ids])
            w = np.asarray([_mix(int(i), 2) for i in ids])
            lon = -100.0 + u * 10.0
            lat = 38.0 + w * 8.0
            yield pd.DataFrame({
                "seq": ids,
                "geometry_wkb": W.points_to_wkb(lon, lat),
                "value": np.round(np.sin(ids * PHI) * 50.0 + 50.0, 6),
            })

    df = spark.range(0, n, 1, 32)
    out = df.mapInPandas(
        _gen, schema="seq long, geometry_wkb binary, value double")
    out.write.mode("overwrite").parquet(path)
    return path


def _stage_totals(app_id):
    try:
        url = (f"http://localhost:{UI_PORT}/api/v1/applications/"
               f"{app_id}/stages?status=complete")
        with urllib.request.urlopen(url, timeout=10) as r:
            stages = json.loads(r.read())
        return (
            sum(s.get("shuffleWriteBytes", 0) for s in stages),
            sum(s.get("shuffleReadBytes", 0) for s in stages),
        )
    except Exception:
        return None, None


# ---------------------------------------------------------------------------
# headliners
# ---------------------------------------------------------------------------

def _headliners(spark, scale):
    import numpy as np
    from pyspark.sql import functions as F

    from geocube_spark.functions.dedup import (dedup_paragraphs,
                                               minhash_lsh_pairs)
    from geocube_spark.functions.similarity import ann_lsh_topk
    from geocube_spark.functions.temporal import asof_join

    docs = spark.read.parquet(_ensure_docs(spark, BASE_DOCS * scale))
    vecs = spark.read.parquet(_ensure_vecs(spark, BASE_VECS * scale))
    ticks = spark.read.parquet(_ensure_ticks(spark, BASE_TICKS * scale))

    def q_minhash():
        return minhash_lsh_pairs(docs, threshold=0.5).count()

    def q_ann():
        # constant-occupancy LSH sizing — the standard scale practice:
        # bucket count grows with the corpus (seg = log2(n/occupancy))
        # so expected bucket size, and with it the per-candidate
        # re-rank work, stays O(1) per row. A FIXED bit width would
        # make the within-bucket pairwise matmul O(n^2/buckets) — the
        # operator exposes bits/bands as exactly this knob.
        n = BASE_VECS * scale
        seg = max(4, int(round(np.log2(max(n, 16) / 8.0))))
        bands = 4
        return ann_lsh_topk(vecs, k=3, dim=DIM, bits=seg * bands,
                            bands=bands).count()

    def q_asof():
        left = ticks.where(F.col("side") == 0).select(
            "tick_id", "symbol", F.col("ts_us").alias("ts"))
        right = ticks.where(F.col("side") == 1).select(
            "symbol", F.col("ts_us").alias("ts"), "price")
        return asof_join(left, right, on="ts", by="symbol",
                         direction="backward", how="inner").count()

    def q_paras():
        return dedup_paragraphs(docs).count()

    pts = spark.read.parquet(_ensure_points(spark, BASE_PTS * scale))

    def q_interp():
        # points AND grid both scale 4x (resolution halves per side),
        # so wall/scale is a clean per-unit-work metric for the
        # round-5 halo-tiled certified fit — the work per tile stays
        # ~points-in-tile + O(ring) by design. Scale 1 is exactly the
        # 150k routing threshold (not above it), so pin the engine.
        from geocube_spark.cube import _forced_engine, make_geocube

        res = 0.01 / (scale ** 0.5)
        with _forced_engine("tiled"):
            cube = make_geocube(
                pts, measurements=["value"], fill=float("nan"),
                rasterize_function="points_griddata",
                interp_method="linear",
                resolution=(-res, res), tile_size=256,
            )
        return cube.chunks.count()

    return {
        "dedup_minhash_lsh": q_minhash,
        "ann_lsh_topk": q_ann,
        "asof_join_price": q_asof,
        "dedup_paragraphs": q_paras,
        "interp_linear_tiled": q_interp,
    }


def main():
    from geocube_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if "--cpus" in sys.argv:
        cpus = sys.argv[sys.argv.index("--cpus") + 1]
    spark = get_spark(
        app="pipeline-scaling", master=f"local[{cpus}]",
        extra_conf={"spark.ui.enabled": "true",
                    "spark.ui.port": str(UI_PORT),
                    # broadcast off: at the 100 TB target neither
                    # join side fits a broadcast, and AQE otherwise
                    # broadcasts only the small scale, making the
                    # shuffle-bytes comparison meaningless
                    "spark.sql.autoBroadcastJoinThreshold": "-1"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    results = {}
    for scale in (1, 4):
        qs = _headliners(spark, scale)
        # warm the generators/caches so generation isn't timed
        for fn in qs.values():
            fn()
            spark.catalog.clearCache()
        for name, fn in qs.items():
            best, rows = float("inf"), None
            sw = sr = None
            for _ in range(2):
                w0, r0 = _stage_totals(app_id)
                t0 = time.time()
                rows = fn()
                wall = time.time() - t0
                w1, r1 = _stage_totals(app_id)
                spark.catalog.clearCache()
                if wall < best:
                    best = wall
                    if w0 is not None and w1 is not None:
                        sw, sr = w1 - w0, r1 - r0
            results.setdefault(name, {})[f"x{scale}"] = {
                "wall_sec": round(best, 3),
                "rows": rows,
                "shuffle_write_bytes": sw,
                "shuffle_read_bytes": sr,
            }
        log = {n: results[n][f"x{scale}"]["wall_sec"] for n in results}
        print(f"scale x{scale}: {log}", file=sys.stderr)

    inputs = {
        "docs": [BASE_DOCS, BASE_DOCS * 4],
        "vectors": [BASE_VECS, BASE_VECS * 4],
        "ticks": [BASE_TICKS, BASE_TICKS * 4],
        "interp_points": [BASE_PTS, BASE_PTS * 4],
    }
    summary = {}
    all_pass = True
    for name, r in results.items():
        d = (r["x4"]["wall_sec"] / 4.0) / max(r["x1"]["wall_sec"], 1e-9)
        sgrow = None
        if r["x1"]["shuffle_write_bytes"] and r["x4"]["shuffle_write_bytes"]:
            sgrow = round(
                r["x4"]["shuffle_write_bytes"]
                / max(r["x1"]["shuffle_write_bytes"], 1), 3
            )
        ok = d <= DEGRADE_LIMIT
        all_pass &= ok
        summary[name] = {
            "per_unit_degradation": round(d, 3),
            "shuffle_write_growth_x": sgrow,
            "rows_growth_x": round(
                r["x4"]["rows"] / max(r["x1"]["rows"], 1), 3),
            "pass": ok,
        }
    out = {
        "inputs": inputs,
        "cpus": int(cpus),
        "host_loadavg": round(os.getloadavg()[0], 1),
        "queries": results,
        "summary": summary,
        "criterion": f"per-unit-work degradation <= {DEGRADE_LIMIT} "
                     "at 4x input (bucketed designs ~linear)",
        "pass": all_pass,
    }
    print(json.dumps(out))
    path = os.path.join(REPO, "BENCH_PIPELINE.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
