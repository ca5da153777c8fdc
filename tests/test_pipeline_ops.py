"""Training-data pipeline operators: dedup, similarity, text, media.

Ground-truth properties on the deterministic sf0.001 tables; the
DuckDB value-parity gate lives in scripts/check_oracle.py and the
driver's CORRECTNESS run.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geocube_spark.functions import dedup as D
from geocube_spark.functions import multimodal as M
from geocube_spark.functions import similarity as S
from geocube_spark.operators import pipeline_queries as P
from geocube_spark.plans import components


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# -- dedup -------------------------------------------------------------------

def test_exact_dedup_finds_all_copies(spark, sf_dir, docs):
    n = docs.count()
    out = D.exact_duplicates(P.corpus_exact(spark, sf_dir)).toPandas()
    assert len(out) == n                      # one group per distinct text
    assert (out["n_copies"] == 2).all()       # each doc + its copy
    assert (out["keep_id"] < P.DUP_OFFSET).all()  # min id kept


def test_ngram_jaccard_pairs_truncated_variants(spark, sf_dir):
    pairs = P.q_dedup_ngram_jaccard(spark, sf_dir).toPandas()
    # every (doc, 80%-truncated doc) pair must be found
    mates = pairs[pairs["id_b"] == pairs["id_a"] + P.DUP_OFFSET]
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(mates) >= 0.95 * n
    assert (pairs["jaccard"] >= 0.5).all()
    assert (pairs["jaccard"] <= 1.0).all()


def test_minhash_lsh_precision_and_recall(spark, sf_dir):
    exact = {
        (r["id_a"], r["id_b"])
        for r in P.q_dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in P.q_dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert lsh <= exact                       # verification => precision 1
    assert len(lsh) >= 0.95 * len(exact)      # LSH recall


def test_simhash_near_dups_are_close(spark, sf_dir):
    sig = P.q_dedup_simhash(spark, sf_dir).toPandas().set_index("id")["simhash"]
    base = [i for i in sig.index if i < P.DUP_OFFSET][:50]
    ham_dup, ham_rand = [], []
    for i in base:
        ham_dup.append(bin(int(sig[i]) ^ int(sig[i + P.DUP_OFFSET])).count("1"))
        j = base[(base.index(i) + 7) % len(base)]
        if j != i:
            ham_rand.append(bin(int(sig[i]) ^ int(sig[j])).count("1"))
    assert np.mean(ham_dup) < np.mean(ham_rand)


def test_simhash_banding_full_recall(spark, sf_dir):
    # max_hamming = bands - 1 pigeonhole: banded join == brute force
    out = P.q_simhash_near_pairs(spark, sf_dir).toPandas()
    sig = P.q_dedup_simhash(spark, sf_dir).toPandas()
    vals = sig["simhash"].astype("int64").values
    ids = sig["id"].values
    brute = set()
    for i in range(len(ids)):
        x = np.bitwise_xor(vals[i + 1:], vals[i])
        ham = np.array([bin(int(v)).count("1") for v in x])
        for k in np.nonzero(ham <= 5)[0]:
            brute.add((min(ids[i], ids[i + 1 + k]), max(ids[i], ids[i + 1 + k])))
    got = {(r.id_a, r.id_b) for r in out.itertuples()}
    assert got == brute


def test_near_dup_clusters_chain_graph(spark, monkeypatch):
    # path graph 1-2-3-...-9 plus singleton 100: one cluster labeled 1
    # (min id), keep = longest text (id 5), singleton keeps itself.
    # A 9-node chain forces several propagation rounds, exercising the
    # pointer-jumping loop, not just one hop.
    docs = spark.createDataFrame(
        [(i, "x" * (10 + (5 if i == 5 else 0))) for i in range(1, 10)]
        + [(100, "solo")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "id_a long, id_b long"
    )
    # both execution paths: driver union-find (default cap) and the
    # distributed propagation loop (cap forced to 0) must agree
    for cap in (200_000, 0):
        monkeypatch.setattr(components, "DRIVER_CAP", cap)
        out = (
            D.near_dup_clusters(docs, pairs=pairs)
            .orderBy("id")
            .toPandas()
            .set_index("id")
        )
        assert (out.loc[1:9, "cluster_id"] == 1).all()
        assert (out.loc[1:9, "cluster_size"] == 9).all()
        assert out.loc[5, "keep"] and not out.loc[[i for i in range(1, 10) if i != 5], "keep"].any()
        assert out.loc[100, "cluster_id"] == 100
        assert out.loc[100, "cluster_size"] == 1
        assert out.loc[100, "keep"]


def test_near_dup_clusters_shuffled_chain_converges(spark, monkeypatch):
    """A 41-document near-dup chain whose ids are shuffled needs about
    24 propagation rounds: the distributed path returns one cluster of
    41, and a round budget too small for it raises instead of
    returning split clusters."""
    import random

    ids = list(range(1, 42))
    random.Random(0).shuffle(ids)
    docs = spark.createDataFrame([(i, "x" * i) for i in ids],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame(list(zip(ids, ids[1:])),
                                  "id_a long, id_b long")
    monkeypatch.setattr(components, "DRIVER_CAP", 0)
    out = D.near_dup_clusters(docs, pairs=pairs).toPandas()
    assert set(out["cluster_id"]) == {1}
    assert (out["cluster_size"] == 41).all()
    assert out.loc[out["keep"], "id"].tolist() == [41]
    monkeypatch.setattr(components, "MAX_ROUNDS", 3)
    with pytest.raises(RuntimeError, match="converge"):
        D.near_dup_clusters(docs, pairs=pairs).collect()


def test_near_dup_clusters_corpus_invariants(spark, sf_dir):
    corpus = P.corpus_neardup(spark, sf_dir)
    out = P.q_dedup_clusters(spark, sf_dir).toPandas()
    assert len(out) == corpus.count()          # every doc assigned
    # exactly one keeper per cluster; cluster_id is a member of the cluster
    per = out.groupby("cluster_id")
    assert (per["keep"].sum() == 1).all()
    assert (per.size().values == out.drop_duplicates("cluster_id")
            .set_index("cluster_id").loc[per.size().index, "cluster_size"].values).all()
    assert out.groupby("cluster_id")["id"].min().eq(
        out["cluster_id"].drop_duplicates().sort_values().values
    ).all()
    # in a pure (doc, 80%-truncated variant) pair the longer base doc
    # is the keeper (other 2-clusters may pair two distinct base docs)
    two = out[out["cluster_size"] == 2]
    members = two.groupby("cluster_id")["id"].agg(set)
    pure = members[
        members.index.map(
            lambda c: members[c] == {c, c + P.DUP_OFFSET}
        )
    ].index
    base = two[two["id"].isin(pure)]
    assert len(base) > 50
    assert base["keep"].all()


# -- similarity ---------------------------------------------------------------

def test_brute_force_topk_matches_numpy(spark, sf_dir, emb):
    pdf = emb.toPandas()
    vecs = np.stack(pdf["embedding"].values).astype(np.float64)
    ids = pdf["vec_id"].values
    sims = (vecs @ vecs.T) / (
        np.linalg.norm(vecs, axis=1)[:, None] * np.linalg.norm(vecs, axis=1)[None, :]
    )
    np.fill_diagonal(sims, -np.inf)
    got = S.brute_force_topk(emb, k=1).toPandas().set_index("qid")
    agree = 0
    for qi, q in enumerate(ids):
        best = ids[np.argmax(np.round(sims[qi], 6))]
        agree += int(got.loc[q, "nid"] == best)
    assert agree >= 0.99 * len(ids)  # ties on rounded cos may differ


def test_ann_lsh_recall(spark, sf_dir, emb):
    bf = P.q_ann_topk_bruteforce(spark, sf_dir).filter(F.col("rank") == 1)
    truth = {r["qid"]: r["nid"] for r in bf.collect()}
    approx = {r["qid"]: r["nid"] for r in P.q_ann_lsh_topk(spark, sf_dir).collect()}
    hits = sum(1 for q, n in truth.items() if approx.get(q) == n)
    assert len(approx) == len(truth)          # every query answered
    assert hits >= 0.6 * len(truth)           # 32-bit/8-band recall floor


def test_embedding_dedup_finds_perturbed_copies(spark, sf_dir, emb):
    out = P.q_embedding_dedup_cosine(spark, sf_dir).toPandas()
    n = emb.count()
    mates = out[out["id_b"] == out["id_a"] + P.DUP_OFFSET]
    assert len(mates) >= 0.95 * n
    assert (out["cos"] >= 0.9).all()


# -- text analysis -------------------------------------------------------------

def test_quality_metrics_ranges(spark, sf_dir):
    out = P.q_text_quality(spark, sf_dir).toPandas()
    assert (out["n_tokens"] > 0).all()
    assert out["mean_token_len"].between(1, 20).all()
    assert out["punct_ratio"].between(0, 1).all()
    assert out["stopword_ratio"].between(0, 1).all()
    assert set(out["keep"].unique()) <= {0, 1}


def test_lang_id_deterministic_argmax(spark, sf_dir):
    out = P.q_lang_id(spark, sf_dir).toPandas()
    assert set(out["pred_lang"]) <= {"de", "en", "es", "fr", "und"}
    score_cols = ["sc_de", "sc_en", "sc_es", "sc_fr"]
    for _, r in out.head(50).iterrows():
        scores = {c[3:]: r[c] for c in score_cols}
        best = max(scores.values())
        if best == 0:
            assert r["pred_lang"] == "und"
        else:
            expect = sorted(l for l, s in scores.items() if s == best)[0]
            assert r["pred_lang"] == expect


def test_fingerprint_stability(spark, sf_dir, docs):
    fp1 = P.q_doc_fingerprint(spark, sf_dir).toPandas()
    # identical text -> identical fingerprint (recompute and compare)
    fp2 = P.q_doc_fingerprint(spark, sf_dir).toPandas()
    assert fp1.equals(fp2)
    assert fp1["fp"].str.len().eq(32).all()


# -- multimodal ----------------------------------------------------------------

def test_media_decode_stub_schema_and_batches(spark, sf_dir, docs):
    meta = M.decode_media(M.with_media_bytes(docs)).toPandas()
    assert len(meta) == docs.count()
    assert (meta["n_bytes"] > 0).all()
    assert meta["width"].between(16, 639).all()
    assert meta["height"].between(16, 479).all()
    assert (meta["header_hex"].str.len() == 8).all()


def test_media_decode_real_nulls_non_png(spark, sf_dir, docs):
    """codec='real' (round 4: backed by the pure-stdlib PNG codec)
    yields NULL dimensions for non-PNG payloads instead of failing —
    the documents table's utf-8 payloads are all non-PNG. Real PNG
    decoding is covered in tests/test_png.py."""
    meta = M.decode_media(M.with_media_bytes(docs), codec="real").toPandas()
    assert len(meta) > 0
    assert meta["width"].isna().all() and meta["n_frames"].isna().all()
    assert (meta["n_bytes"] > 0).all()


def test_frame_sample_stride(spark, sf_dir, docs):
    fs = M.frame_sample(M.with_media_bytes(docs), stride=64).toPandas()
    nch = docs.select("doc_id", "n_chars").toPandas().set_index("doc_id")
    counts = fs.groupby("doc_id").size()
    for did, c in counts.head(20).items():
        expect = int(np.ceil(nch.loc[did, "n_chars"] / 64))
        assert c == expect
    assert fs["frame_byte"].between(0, 255).all()


def test_prefix_filtered_jaccard_exact_parity(spark, sf_dir):
    """The AllPairs/PPJoin prefix-filter scale path must return exactly
    the same pairs+values as the unfiltered inverted-index join."""
    corpus = P.corpus_neardup(spark, sf_dir)
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            corpus, threshold=0.5, prefix_filter=False
        ).collect()
    }
    filt = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    assert full == filt
    assert len(full) > 0


def test_prefix_filter_kills_hot_shingle_candidates(spark):
    """A boilerplate shingle shared by every document must not enter
    the candidate join: with prefix filtering the candidate-pair count
    stays O(true pairs), not O(n^2) in the hot bucket."""
    import pandas as pd
    from pyspark.sql import Window

    n = 400
    rows = []
    for i in range(n):
        # every doc shares the 'common boilerplate header' text; bodies
        # are distinct except 5 exact-duplicate pairs
        body = f"unique body text number {i:05d} with filler"
        if i < 5:
            body = f"duplicated body text pair {i % 5}"
        elif 5 <= i < 10:
            body = f"duplicated body text pair {i - 5}"
        rows.append({"doc_id": i, "text": "COMMONHEADER " + body})
    corpus = spark.createDataFrame(pd.DataFrame(rows))

    t = 0.8
    sets = D.shingle_hash_sets(corpus, "text", "doc_id", 3).persist()
    # replicate the candidate stage of _jaccard_prefix_filtered and
    # count the join rows the hot shingles survive into
    idx = sets.select(
        "id", "set_size", F.explode("sh_hashes").alias("sh_hash")
    )
    dfreq = idx.groupBy("sh_hash").agg(F.count(F.lit(1)).alias("df"))
    ranked = idx.join(dfreq, "sh_hash").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("id").orderBy("df", "sh_hash")),
    )
    plen = (
        F.col("set_size") - F.ceil(F.lit(t) * F.col("set_size")) + 1
    )
    prefix = ranked.filter(F.col("rn") <= plen)
    l, r = prefix.alias("l"), prefix.alias("r")
    n_cand = (
        l.join(r, (F.col("l.sh_hash") == F.col("r.sh_hash"))
               & (F.col("l.id") < F.col("r.id")))
        .select("l.id", "r.id").distinct().count()
    )
    # without the filter the COMMONHEADER shingles alone give n*(n-1)/2
    # = 79800 candidates; the prefix keeps only rare-shingle collisions
    assert n_cand < 1000, f"hot shingle leaked into candidates: {n_cand}"

    pairs = D.ngram_jaccard_pairs(corpus, threshold=t, sets=sets).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(i, i + 5) for i in range(5)}
    sets.unpersist()


def test_resize_media_shape_and_determinism(spark, docs):
    out = M.resize_media(M.with_media_bytes(docs), out_w=8, out_h=6).toPandas()
    assert (out["out_w"] == 8).all() and (out["out_h"] == 6).all()
    assert out["pixels"].map(len).eq(48).all()
    again = M.resize_media(M.with_media_bytes(docs), out_w=8, out_h=6).toPandas()
    assert out.sort_values("doc_id").reset_index(drop=True).equals(
        again.sort_values("doc_id").reset_index(drop=True)
    )
    # codec='real' now PNG-decodes (round 4); the documents table's
    # utf-8 payloads are all non-PNG, so every row drops out — the
    # select-what-you-can-decode shape. Real resizing: tests/test_png.py
    assert (
        M.resize_media(M.with_media_bytes(docs), codec="real").count() == 0
    )


def test_extract_features_feeds_similarity(spark, docs):
    feats = M.extract_features(M.with_media_bytes(docs), dim=16)
    pdf = feats.toPandas()
    assert pdf["features"].map(len).eq(16).all()
    norms = pdf["features"].map(lambda v: float(np.linalg.norm(v)))
    assert ((norms - 1.0).abs() < 1e-5).all()
    # the output shape plugs directly into the ANN operators
    emb = feats.select(
        F.col("doc_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    top = S.brute_force_topk(emb, k=1).toPandas()
    assert len(top) == len(pdf)
    with pytest.raises(NotImplementedError):
        M.extract_features(M.with_media_bytes(docs), codec="real")


def test_ann_ivf_recall(spark, sf_dir, emb):
    """IVF (nprobe) ANN: every query answered; recall vs brute force
    above the floor for 16 lists / 4 probes on sf vectors."""
    bf = P.q_ann_topk_bruteforce(spark, sf_dir).filter(F.col("rank") == 1)
    truth = {r["qid"]: r["nid"] for r in bf.collect()}
    approx = {
        r["qid"]: r["nid"]
        for r in S.ann_ivf_topk(emb, k=1, n_lists=16, nprobe=4).collect()
    }
    assert len(approx) == len(truth)
    hits = sum(1 for q, n in truth.items() if approx.get(q) == n)
    assert hits >= 0.6 * len(truth)


def test_ann_ivf_deterministic(spark, sf_dir, emb):
    a = sorted(map(tuple, S.ann_ivf_topk(emb, k=1).collect()))
    b = sorted(map(tuple, S.ann_ivf_topk(emb, k=1).collect()))
    assert a == b


def test_brute_force_oversize_routes_to_ivf(spark, sf_dir, emb):
    """Corpus above the broadcast budget: brute force must refuse the
    driver collect and fall back to the bucketed IVF path."""
    routed = sorted(
        map(tuple, S.brute_force_topk(emb, k=1, broadcast_budget=1)
            .collect())
    )
    direct = sorted(map(tuple, S.ann_ivf_topk(emb, k=1).collect()))
    assert routed == direct  # same deterministic IVF result

    with pytest.raises(ValueError, match="broadcast budget"):
        S.brute_force_topk(
            emb, k=1, broadcast_budget=1, on_oversize="error"
        ).collect()
    with pytest.raises(ValueError, match="broadcast budget"):
        # explicit queries side cannot silently change semantics
        S.brute_force_topk(
            emb, k=1, broadcast_budget=1, queries=emb
        ).collect()


def test_ivf_centroids_distributed_matches_driver(spark):
    """Tree-aggregated k-means == driver-sample k-means on a corpus
    that fits the sample (well-separated clusters, deterministic
    init), so swapping quantizers is behavior-preserving where both
    apply."""
    import pandas as pd

    rng = np.random.RandomState(0)
    centers = np.array(
        [[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]]
    )
    rows = []
    for i in range(300):
        c = centers[i % 3]
        rows.append(
            {"vec_id": i,
             "embedding": (c + rng.normal(0, 0.1, 4)).tolist()}
        )
    corpus = spark.createDataFrame(pd.DataFrame(rows))
    drv = S.ivf_centroids(corpus, k=3, sample=300)
    dist = S.ivf_centroids_distributed(corpus, k=3)
    np.testing.assert_allclose(dist, drv, atol=1e-6)


def test_cosine_dup_pairs_lsh_recall(spark, sf_dir):
    """Bucketed near-dup pairs: perfect precision (exact cosine verify)
    and high recall vs the broadcast-exact path at dup-grade
    thresholds (cos>=0.9: per-band collision ~0.54, >=1 of 8 bands
    ~0.998)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in P.q_embedding_dedup_cosine(spark, sf_dir).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in P.q_embedding_dedup_lsh(spark, sf_dir).collect()
    }
    assert approx <= exact                    # perfect precision
    assert len(approx) >= 0.95 * len(exact)   # recall floor
    assert len(exact) > 0


def test_minhash_engines_identical(spark, sf_dir):
    """The numpy reduceat minhash engine must be value-identical to the
    Catalyst HOF engine over the real near-dup corpus."""
    corpus = P.corpus_neardup(spark, sf_dir)
    a = sorted(map(tuple,
                   D.minhash_signatures(corpus, engine="numpy").collect()))
    b = sorted(map(tuple,
                   D.minhash_signatures(corpus, engine="jvm").collect()))
    assert len(a) > 0 and a == b


def test_shingle_engines_identical(spark, sf_dir):
    """The numpy shingle/hash engine must be value-identical to the
    Catalyst HOF engine: same tokenization (Java \\s semantics, trim
    = 0x20 only), same first-occurrence distinct order, same h60
    hashes - including hostile whitespace and null text."""
    import pandas as pd

    corpus = P.corpus_neardup(spark, sf_dir)
    hostile = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [9000001, 9000002, 9000003, 9000004, 9000005],
                "text": [
                    "hello world\n",              # trailing newline
                    "\ttabbed  start and end\t",  # tabs + double space
                    "nbsp\u00a0joined tokens",     # unicode nbsp
                    "one",                         # fewer than k tokens
                    None,                          # null text
                ],
            }
        )
    )
    corpus = corpus.unionByName(hostile)
    jvm = (
        D.shingle_hash_sets(corpus, engine="jvm")
        .orderBy("id").toPandas()
    )
    npy = (
        D.shingle_hash_sets(corpus, engine="numpy")
        .orderBy("id").toPandas()
    )
    assert list(jvm["id"]) == list(npy["id"])
    assert list(jvm["set_size"]) == list(npy["set_size"])
    for a, b in zip(jvm["sh_hashes"], npy["sh_hashes"]):
        assert list(a) == list(b)


def test_simhash_engines_identical(spark, sf_dir):
    import pandas as pd

    corpus = P.corpus_neardup(spark, sf_dir).unionByName(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [9000001, 9000002, 9000003],
                    "text": ["trailing ws\n", "a\u00a0b c", None],
                }
            )
        )
    )
    jvm = D.simhash(corpus, engine="jvm").orderBy("id").toPandas()
    npy = D.simhash(corpus, engine="numpy").orderBy("id").toPandas()
    assert jvm.equals(npy)
