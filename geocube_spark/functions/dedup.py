"""Deduplication operators for web-scale corpora.

Five strategies, all DataFrame-first:

* exact          — hash-groupBy on md5(text); one shuffle, map-side
                   partial agg.
* ngram Jaccard  — exact set-similarity via an inverted shingle index
                   (explode -> equi-join -> count), NOT an O(n^2)
                   cross join: only documents sharing >=1 shingle ever
                   meet. At 100 TB add prefix filtering / stop-shingle
                   pruning on the exploded index; the join key
                   (shingle hash) shuffles evenly because shingles are
                   near-uniform after hashing.
* MinHash + LSH  — 64 portable minhashes (h60-based affine hashes mod
                   a 31-bit prime), 16 bands x 4 rows, band-bucket
                   equi-join for candidates, exact-Jaccard
                   verification. Sub-quadratic: cost ~ #colliding
                   pairs. All JVM-side Column math.
* SimHash        — 60-bit sign-sum fingerprint over token hashes;
                   near-dups have small Hamming distance. JVM-side
                   (60 conditional sums), no Python.
* embedding cosine — see functions.similarity.

Every kernel uses the engine-portable ``h60`` hash so DuckDB oracles
can replay the exact same arithmetic.

Caching note: the Jaccard/LSH builders ``persist()`` the shared
shingle-hash sets so self-joins don't re-shingle; the cache lives
until the session drops it. Long-lived sessions issuing many dedup
queries should call ``spark.catalog.clearCache()`` (or unpersist)
after materializing each result.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..textops.analysis import h60, shingles, tokens

MERSENNE31 = (1 << 31) - 1  # 2147483647

# Worker-process memo for the Python replica of h60 (md5-based, same
# value as textops.analysis.h60). Tokens and shingles repeat heavily
# across documents (natural-language vocabulary; near-dup corpora
# repeat ~all of them), so md5-per-string is the hot cost of the
# numpy simhash/shingle engines — a bounded per-worker dict turns the
# common case into a dict hit. Capped, never evicted: at the cap the
# memo simply stops growing (deterministic output either way). The cap
# bounds worst-case resident memory per Python worker: 2^18 multi-word
# shingle strings is ~40-75 MB; token vocabularies (the high-hit-rate
# case) are orders of magnitude smaller and always fit.
import hashlib as _hashlib
from ..plans.components import components
from ..plans.flatten import _flat

_H60_CACHE: dict = {}
_H60_CACHE_CAP = 1 << 18


def _h60_py(s: str) -> int:
    """Python twin of the h60 Column (md5 -> first 15 hex -> int)."""
    h = _H60_CACHE.get(s)
    if h is None:
        h = int(_hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
        if len(_H60_CACHE) < _H60_CACHE_CAP:
            _H60_CACHE[s] = h
    return h

# fixed affine-hash parameters: a_k odd, derived from Knuth's constant
def _minhash_params(k: int):
    a = (2654435761 * (k + 1)) % MERSENNE31
    b = (40503 * (k + 7)) % MERSENNE31
    return (a | 1), b


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    kept (minimum) id and the copy count. Map-side combine makes the
    shuffle O(#distinct), not O(#rows)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_hash_sets(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      engine: str = "numpy") -> DataFrame:
    """(id, set_size, sh_hashes: array<long>) — one row per document
    with its distinct-shingle h60 hashes. Computed ONCE and shared by
    Jaccard (exploded inverted index), MinHash (array-HOF min, no
    shuffle) and candidate verification (array_intersect), so the
    expensive shingling map never runs twice.

    ``engine='numpy'`` (default) runs the tokenize/shingle/md5 pipe in
    an Arrow-batched pandas UDF — the Catalyst HOF chain costs
    ~150us/shingle of interpreter overhead, ~10x the Python loop.
    ``engine='jvm'`` keeps the pure-Column form; a differential test
    pins the two engines value-identical (same split regex semantics,
    same first-occurrence-distinct order, same h60)."""
    if engine == "jvm":
        sh = df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            shingles(F.col(text_col), k).alias("sh"),
        )
        return sh.select(
            "id",
            F.size("sh").alias("set_size"),
            F.transform("sh", lambda s: h60(s)).alias("sh_hashes"),
        )
    if engine != "numpy":
        raise ValueError(f"unknown engine {engine!r}")


    import re
    from typing import Iterator

    import numpy as np

    # exact Java parity: Spark trim() strips 0x20 only; Java regex \s
    # is the ASCII class [ \t\n\x0B\f\r] (not Unicode-aware like
    # Python's \s); Spark split keeps empty edge tokens (limit=-1),
    # as does re.split
    ws = re.compile(r"[ \t\n\x0B\f\r]+")
    id_type = dict(df.dtypes).get(id_col, "string")
    schema = f"id {id_type}, set_size int, sh_hashes array<long>"

    def _sh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sizes, hash_arrays = [], [], []
            for did, text in zip(pdf[id_col].values, pdf[text_col].values):
                if text is None:
                    continue
                toks = ws.split(text.strip(" "))
                n = len(toks)
                m = max(1, n - (k - 1))
                seen = dict.fromkeys(
                    " ".join(toks[i:i + k]) for i in range(m)
                )
                hs = np.fromiter(
                    (_h60_py(s) for s in seen),
                    dtype=np.int64,
                    count=len(seen),
                )
                ids.append(did)
                sizes.append(len(seen))
                hash_arrays.append(hs)
            yield pd.DataFrame(
                {"id": ids, "set_size": pd.Series(sizes, dtype="int32"),
                 "sh_hashes": hash_arrays}
            )

    return df.select(id_col, text_col).mapInPandas(_sh, schema=schema)


def shingle_sets(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 3,
                 sets: DataFrame | None = None) -> DataFrame:
    """(id, shingle h60, set size) inverted index — the shared
    substrate for Jaccard and MinHash. Pass a cached
    ``shingle_hash_sets`` frame to avoid re-shingling."""
    if sets is None:
        sets = shingle_hash_sets(df, text_col, id_col, k)
    return sets.select(
        "id", "set_size", F.explode("sh_hashes").alias("sh_hash")
    )


def ngram_jaccard_pairs(df: DataFrame, *, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3,
                        sets: DataFrame | None = None,
                        prefix_filter="auto",
                        hot_df_cap: int = 256) -> DataFrame:
    """Exact n-gram Jaccard >= threshold, hot-shingle-safe by default.

    Output: (id_a, id_b, jaccard) with id_a < id_b. Two provably-
    identical physical plans:

    * plain inverted-index self-join — fewest stages, but quadratic in
      any hot-shingle bucket (a boilerplate shingle shared by 10^6 docs
      emits 10^12/2 join rows);
    * AllPairs/PPJoin prefix filter — each doc indexes only its
      |s| - ceil(t*|s|) + 1 globally-RAREST shingles (global document-
      frequency order); any pair with J >= t provably shares a prefix
      shingle, so recall is exact while hot shingles never generate
      candidates; candidates verify against the full sets.

    ``prefix_filter='auto'`` (default) measures the max document
    frequency with one small agg over the index and picks the prefix
    plan only when some shingle exceeds ``hot_df_cap`` — benign corpora
    keep the cheap plan, adversarial ones stay sub-quadratic, output is
    identical either way. True/False force a plan. Both paths share
    one shingling pass via the persisted ``sets`` frame."""
    if sets is None:
        sets = shingle_hash_sets(df, text_col, id_col, k).persist()
    if prefix_filter == "auto":
        idx = sets.select(F.explode("sh_hashes").alias("sh_hash"))
        hot = (
            idx.groupBy("sh_hash")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > hot_df_cap)
            .limit(1)
            .count()
        )
        prefix_filter = hot > 0
    if prefix_filter:
        return _jaccard_prefix_filtered(sets, threshold)
    idx = shingle_sets(df, text_col, id_col, k, sets=sets)
    a = idx.alias("a")
    b = idx.alias("b")
    inter = (
        a.join(b, (F.col("a.sh_hash") == F.col("b.sh_hash"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.set_size").alias("na"),
            F.col("b.set_size").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.select(
            "id_a", "id_b", F.round(jac, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _jaccard_prefix_filtered(sets: DataFrame, threshold: float) -> DataFrame:
    """AllPairs/PPJoin-style exact Jaccard with prefix filtering.

    Proof sketch: J(a,b) >= t implies overlap o >= t*|a| (and t*|b|).
    If a's prefix — its |a| - ceil(t*|a|) + 1 first shingles in a
    GLOBAL total order — contained no intersection element, all o
    intersecting shingles would sit in the last ceil(t*|a|) - 1
    positions, so o <= ceil(t*|a|) - 1 < t*|a| <= o: contradiction.
    Ordering globally by (document frequency, hash) makes the prefix
    the rarest shingles, so high-DF shingles never generate candidate
    pairs. Verification via full-set array_intersect keeps the output
    exact (identical to the unfiltered join)."""
    from pyspark.sql import Window

    idx = sets.select(
        "id", "set_size", F.explode("sh_hashes").alias("sh_hash")
    )
    dfreq = idx.groupBy("sh_hash").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        idx.join(dfreq, "sh_hash")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy("df", "sh_hash")
            ),
        )
    )
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.lit(float(threshold)) * F.col("set_size"))
        + 1
    )
    prefix = ranked.filter(F.col("rn") <= prefix_len).select(
        "id", "set_size", "sh_hash"
    )
    l, r = prefix.alias("l"), prefix.alias("r")
    # size filter: J >= t forces t*|a| <= |b| <= |a|/t
    cand = (
        l.join(
            r,
            (F.col("l.sh_hash") == F.col("r.sh_hash"))
            & (F.col("l.id") < F.col("r.id"))
            & (
                F.col("r.set_size")
                >= F.lit(float(threshold)) * F.col("l.set_size")
            )
            & (
                F.col("l.set_size")
                >= F.lit(float(threshold)) * F.col("r.set_size")
            ),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    sa = sets.select(
        F.col("id").alias("id_a"),
        F.col("set_size").alias("na"),
        F.col("sh_hashes").alias("ha"),
    )
    sb = sets.select(
        F.col("id").alias("id_b"),
        F.col("set_size").alias("nb"),
        F.col("sh_hashes").alias("hb"),
    )
    inter = F.size(F.array_intersect("ha", "hb"))
    jac = F.round(inter / (F.col("na") + F.col("nb") - inter), 6)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(df: DataFrame, *, num_hashes: int = 64,
                       text_col: str = "text", id_col: str = "doc_id",
                       k: int = 3,
                       sets: DataFrame | None = None,
                       engine: str = "numpy") -> DataFrame:
    """64 minhashes per doc with ZERO shuffle — a narrow map over the
    per-doc shingle-hash arrays (the old explode + groupBy form
    shuffled |docs|*|shingles| rows).

    ``engine='numpy'`` (default): one Arrow batch -> concatenate the
    arrays, one vectorized affine pass + ``np.minimum.reduceat`` per
    hash function. ``engine='jvm'``: the pure-Column HOF form
    (`transform` + `array_min`); interpreted lambdas cost ~100x per
    element, kept for the differential parity test. Values identical.

    Docs with no shingles are omitted (parity with the explode form,
    and no NULL signatures banding together as spurious candidates)."""
    if sets is None:
        sets = shingle_hash_sets(df, text_col, id_col, k)
    sets = sets.filter(F.size("sh_hashes") > 0)
    ab = np.array([_minhash_params(j) for j in range(num_hashes)],
                  dtype=np.int64)

    if engine == "jvm":
        def _affine(a: int, b: int):
            return lambda x: F.pmod(
                x * F.lit(a) + F.lit(b), F.lit(MERSENNE31)
            )

        # reduce each shingle hash mod P once, then run the affine maps
        # over the reduced array (same values, 1/3 the HOF arithmetic)
        pre = sets.select(
            "id",
            F.transform(
                "sh_hashes", lambda x: F.pmod(x, F.lit(MERSENNE31))
            ).alias("hmod"),
        )
        cols = [
            F.array_min(
                F.transform("hmod", _affine(int(a), int(b)))
            ).alias(f"mh_{j}")
            for j, (a, b) in enumerate(ab)
        ]
        return pre.select("id", *cols)
    if engine != "numpy":
        raise ValueError(f"unknown engine {engine!r}")

    schema = T.StructType(
        [T.StructField("id", T.LongType())]
        + [T.StructField(f"mh_{j}", T.LongType())
           for j in range(num_hashes)]
    )

    def _sigs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            arrs = pdf["sh_hashes"].values
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64,
                               count=len(arrs))
            flat = np.concatenate([np.asarray(a, dtype=np.int64)
                                   for a in arrs])
            starts = np.zeros(len(arrs), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            hmod = flat % MERSENNE31  # < 2^31: a*h+b stays in int64
            out = {"id": pdf["id"].to_numpy(dtype=np.int64)}
            # one reused work buffer: the affine pass runs in place so
            # the 64 hash functions allocate nothing per iteration
            tmp = np.empty_like(hmod)
            for j, (a, b) in enumerate(ab):
                np.multiply(hmod, a, out=tmp)
                tmp += b
                np.mod(tmp, MERSENNE31, out=tmp)
                out[f"mh_{j}"] = np.minimum.reduceat(tmp, starts)
            yield pd.DataFrame(out)

    return sets.select("id", "sh_hashes").mapInPandas(_sigs, schema=schema)


def minhash_band_buckets(df: DataFrame = None, *, num_hashes: int = 64,
                         bands: int = 16, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 3,
                         sets: DataFrame | None = None) -> DataFrame:
    """LSH band buckets ``(id, band, bh)`` for every document: the
    md5 of each band's row-slice of the MinHash signature. Shared by
    the batch pair join (:func:`minhash_lsh_pairs`) and the streaming
    first-occurrence dedup (``streaming.neardup``) so both sides hash
    with IDENTICAL arithmetic — a streaming survivor set is directly
    comparable to a batch run over the same corpus."""
    rows = num_hashes // bands
    sig = minhash_signatures(
        df, num_hashes=num_hashes, text_col=text_col, id_col=id_col,
        k=k, sets=sets,
    )
    band_cols = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[F.col(f"mh_{bi * rows + r}") for r in range(rows)],
                    )
                ).alias("bh"),
            )
            for bi in range(bands)
        ]
    )
    return sig.select("id", F.explode(band_cols).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def minhash_lsh_pairs(df: DataFrame = None, *, threshold: float = 0.5,
                      num_hashes: int = 64, bands: int = 16,
                      text_col: str = "text", id_col: str = "doc_id",
                      k: int = 3,
                      sets: DataFrame | None = None) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Bands of rows = num_hashes/bands; docs colliding in >=1 band become
    candidates (equi-join on (band, band_hash) — sub-quadratic, skew
    handled by AQE since band hashes are uniform); candidates are then
    verified with the exact inverted-index Jaccard, so the output has
    perfect precision and LSH-recall.

    ``sets``: a precomputed ``shingle_hash_sets`` frame — pass a
    materialized one when several operators share the shingling pass."""
    if sets is None:
        sets = shingle_hash_sets(df, text_col, id_col, k).persist()
    buckets = minhash_band_buckets(
        df, num_hashes=num_hashes, bands=bands, text_col=text_col,
        id_col=id_col, k=k, sets=sets,
    )
    l, r = buckets.alias("l"), buckets.alias("r")
    cand = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.bh") == F.col("r.bh"))
               & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    # verify candidates directly against the cached per-doc hash sets
    # (array_intersect) — O(#candidates), instead of recomputing the
    # full exact-Jaccard index join over the whole corpus
    sa = sets.select(
        F.col("id").alias("id_a"),
        F.col("set_size").alias("na"),
        F.col("sh_hashes").alias("ha"),
    )
    sb = sets.select(
        F.col("id").alias("id_b"),
        F.col("set_size").alias("nb"),
        F.col("sh_hashes").alias("hb"),
    )
    inter = F.size(F.array_intersect("ha", "hb"))
    jac = F.round(inter / (F.col("na") + F.col("nb") - inter), 6)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def cross_dedup_minhash(corpus: DataFrame, reference: DataFrame, *,
                        threshold: float = 0.5, num_hashes: int = 64,
                        bands: int = 16, k: int = 3,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Cross-corpus near-duplicate filtering — dedup a NEW corpus
    against an EXISTING one (new crawl vs the training set already
    ingested; the fuzzy counterpart of :func:`decontaminate`'s exact
    window overlap). MinHash-LSH candidates are generated only ACROSS
    the two corpora (corpus bucket x reference bucket — within-corpus
    pairs are :func:`minhash_lsh_pairs`' job), then verified with the
    exact shingle Jaccard, so matches have perfect precision at LSH
    recall.

    Returns one row per corpus document: (id, keep, dup_of, jaccard)
    — ``keep`` false when some reference doc reaches ``threshold``,
    ``dup_of`` the smallest (jaccard DESC tie-broken) matching
    reference id, NULL/-1-free: unmatched rows carry NULL dup_of and
    NULL jaccard.

    Scale shape: both sides shingle+sign once (Arrow batches); ONE
    (band, bh) equi-join generates candidates (sub-quadratic, uniform
    band hashes); verification joins the two cached hash-set tables
    by candidate only. The reference corpus streams through the same
    plan — nothing is collected or broadcast, so the reference can be
    the full training set."""
    sets_c = shingle_hash_sets(corpus, text_col, id_col, k).persist()
    sets_r = shingle_hash_sets(reference, text_col, id_col, k).persist()
    try:
        bc = minhash_band_buckets(
            num_hashes=num_hashes, bands=bands, k=k, sets=sets_c)
        br = minhash_band_buckets(
            num_hashes=num_hashes, bands=bands, k=k, sets=sets_r)
        cand = (
            bc.alias("l").join(
                br.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bh") == F.col("r.bh")),
            )
            .select(F.col("l.id").alias("id"),
                    F.col("r.id").alias("ref_id"))
            .distinct()
        )
        sa = sets_c.select(F.col("id"), F.col("set_size").alias("na"),
                           F.col("sh_hashes").alias("ha"))
        sb = sets_r.select(F.col("id").alias("ref_id"),
                           F.col("set_size").alias("nb"),
                           F.col("sh_hashes").alias("hb"))
        inter = F.size(F.array_intersect("ha", "hb"))
        jac = F.round(inter / (F.col("na") + F.col("nb") - inter), 6)
        hits = (
            cand.join(sa, "id").join(sb, "ref_id")
            .select("id", "ref_id", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
        # min_by over (-jaccard, ref_id): highest jaccard first, ties
        # to the SMALLEST ref_id. Only the numeric jaccard is negated,
        # so the tie-break holds for ids of any orderable type (a
        # string ref_id under the old -ref_id form cast to double ->
        # NULL non-ANSI, degrading the tie-break to arbitrary).
        best = hits.groupBy("id").agg(
            F.min_by(
                "ref_id",
                F.struct((-F.col("jaccard")).alias("nj"),
                         F.col("ref_id")),
            ).alias("dup_of"),
            F.max("jaccard").alias("jaccard"),
        )
        out = (
            sets_c.select("id").join(best, "id", "left")
            .select(
                "id", F.col("dup_of").isNull().alias("keep"),
                "dup_of", "jaccard",
            )
        )
        return out.transform(_flat)
    finally:
        sets_c.unpersist()
        sets_r.unpersist()


def simhash(df: DataFrame, *, bits: int = 60, text_col: str = "text",
            id_col: str = "doc_id", engine: str = "numpy") -> DataFrame:
    """60-bit SimHash over whitespace tokens (token multiset, h60 bit
    pattern, sign-sum per bit).

    ``engine='jvm'``: one explode + one groupBy with 60 conditional
    sums (pure Column). ``engine='numpy'`` (default): the same
    arithmetic per Arrow batch - token md5s, bit unpack, column sums,
    sign - no shuffle at all; a differential test pins the engines
    identical and the DuckDB oracle replays the values either way."""
    if engine == "jvm":
        tok = df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text_col))).alias("t"),
        ).select("id", h60(F.col("t")).alias("h"))
        sums = [
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"s{b}")
            for b in range(bits)
        ]
        agg = tok.groupBy("id").agg(*sums)
        sim = None
        for b in range(bits):
            bit = F.when(
                F.col(f"s{b}") > 0, F.lit(1).cast("long")
            ).otherwise(F.lit(0).cast("long")) * F.lit(1 << b).cast("long")
            sim = bit if sim is None else sim + bit
        return agg.select("id", sim.alias("simhash"))
    if engine != "numpy":
        raise ValueError(f"unknown engine {engine!r}")


    import re
    from typing import Iterator

    import numpy as np

    ws = re.compile(r"[ \t\n\x0B\f\r]+")  # Java \s parity
    id_type = dict(df.dtypes).get(id_col, "string")
    schema = f"id {id_type}, simhash long"
    powers = (1 << np.arange(bits)).astype(np.int64)

    def _sim(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sims = [], []
            for did, text in zip(pdf[id_col].values, pdf[text_col].values):
                if text is None:
                    continue
                toks = ws.split(text.strip(" "))
                hs = np.fromiter(
                    (_h60_py(t) for t in toks),
                    dtype=np.int64,
                    count=len(toks),
                )
                bitsm = (hs[:, None] >> np.arange(bits)) & 1  # (n, bits)
                score = (2 * bitsm - 1).sum(axis=0)
                ids.append(did)
                sims.append(int(((score > 0) * powers).sum()))
            yield pd.DataFrame({"id": ids, "simhash": sims})

    return df.select(id_col, text_col).mapInPandas(_sim, schema=schema)


def simhash_near_pairs(df: DataFrame = None, *, max_hamming: int = 8,
                       bands: int = 4, bits: int = 60,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       sig: DataFrame = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Scale path: band the 60 bits into ``bands`` segments — any pair
    with Hamming <= bands-1 collides on >=1 exact segment (pigeonhole),
    so candidates come from an equi-join, then the true distance is
    checked with bit_count(xor). For max_hamming > bands-1 recall
    needs more bands; we verify exactly so precision is always 1.

    ``sig``: a precomputed ``simhash`` frame (id, simhash) — pass a
    materialized one when several operators share the signatures."""
    if sig is None:
        # persist: both sides of the banded self-join read the
        # signatures, and exchange reuse across the aliases is not
        # guaranteed
        sig = simhash(df, bits=bits, text_col=text_col,
                      id_col=id_col).persist()
    seg = bits // bands
    segs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seg"),
                F.shiftright(F.col("simhash"), i * seg)
                .bitwiseAND(F.lit((1 << seg) - 1))
                .alias("sv"),
            )
            for i in range(bands)
        ]
    )
    b = sig.select("id", "simhash", F.explode(segs).alias("s")).select(
        "id", "simhash", F.col("s.seg").alias("seg"), F.col("s.sv").alias("sv")
    )
    l, r = b.alias("l"), b.alias("r")
    ham = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    )
    return (
        l.join(r, (F.col("l.seg") == F.col("r.seg"))
               & (F.col("l.sv") == F.col("r.sv"))
               & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def near_dup_clusters(df: DataFrame, *, pairs: DataFrame = None,
                      max_hamming: int = 5, bands: int = 6,
                      text_col: str = "text", id_col: str = "doc_id"
                      ) -> DataFrame:
    """Fuzzy-dedup compaction: cluster near-duplicate documents and
    mark one representative to keep per cluster.

    ``pairs`` is any (id_a, id_b) near-dup pair frame (from
    ``simhash_near_pairs``, ``minhash_lsh_pairs`` or
    ``ngram_jaccard_pairs``); by default SimHash pairs are computed
    from ``df``. Connected components run on the pair (EDGE) set
    through ``plans.components``: a driver union-find for a small
    pair set (one collect of the pairs — edge count, never corpus
    count), min-label propagation with pointer jumping above it (no
    driver adjacency, nothing quadratic; rounds grow with the longest
    near-dup chain, and a chain past the round budget raises
    ``GeoCubeError`` rather than returning split clusters).

    Output, one row per input document:

    * ``cluster_id`` — the smallest doc id in the component
      (singletons are their own cluster),
    * ``cluster_size``,
    * ``keep`` — true for the cluster's representative: longest text,
      ties broken by smallest id (the usual training-data rule of
      keeping the fullest variant of a duplicated page).
    """
    if pairs is None:
        pairs = simhash_near_pairs(
            df, max_hamming=max_hamming, bands=bands,
            text_col=text_col, id_col=id_col,
        )
    labels = components(pairs.select(F.col("id_a").alias("a"),
                                     F.col("id_b").alias("b")))
    return _cluster_output(df, labels, text_col, id_col)


def _cluster_output(df: DataFrame, labels: DataFrame, text_col: str,
                    id_col: str) -> DataFrame:
    """Shared tail of ``near_dup_clusters``: attach cluster labels to
    every document and pick the representative."""
    docs = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.length(F.col(text_col)), F.lit(-1)).alias("__len"),
    )
    clustered = (
        docs.alias("d")
        .join(labels.alias("r"), F.col("d.id") == F.col("r.node"), "left")
        .select(
            "id", "__len",
            F.coalesce(F.col("r.label"), F.col("d.id")).alias("cluster_id"),
        )
    )
    # per-cluster size + representative in ONE shuffle (two window specs
    # over the same partitioning). Cluster sizes are bounded by the
    # near-dup chain length, so the per-cluster task is never hot.
    wc = Window.partitionBy("cluster_id")
    wo = Window.partitionBy("cluster_id").orderBy(
        F.desc("__len"), F.asc("id")
    )
    return clustered.select(
        "id",
        "cluster_id",
        F.count("*").over(wc).alias("cluster_size"),
        (F.row_number().over(wo) == 1).alias("keep"),
    )


def duplicate_spans(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", *, width: int = 8,
                    min_docs: int = 2) -> DataFrame:
    """Cross-document duplicated token-window detection — the
    distributed approximation of suffix-array substring dedup
    ("Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022): instead of a global suffix array, every
    ``width``-token window is hashed (portable h60 over the
    space-joined slice, same tokenizer as every other text op) and a
    window whose hash occurs in >= ``min_docs`` DISTINCT documents is
    flagged as duplicated content. Exact for windows (no collisions at
    corpus scales where 60-bit birthday holds); a repeated substring of
    L >= width tokens flags all L - width + 1 of its windows, so flagged
    runs reconstruct the shared span.

    Returns one row per flagged occurrence: (id, pos, win_hash,
    n_docs) with ``pos`` the 1-based token offset.

    Scale shape: narrow window/hash map -> explode -> ONE hash
    aggregate on the 8-byte window key (map-side combined) -> the
    small flagged-hash table joins back on the same key (broadcast
    when it fits). The shuffle carries (hash, id) pairs, never text;
    no all-pairs comparison anywhere."""
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    toks = tokens(F.col(text_col))
    wins = F.when(
        F.size(toks) >= width,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (width - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                h60(F.concat_ws(" ", F.slice(toks, i, width)))
                .alias("win_hash"),
            ),
        ),
    ).otherwise(F.array().cast(
        "array<struct<pos:int,win_hash:long>>"
    ))
    occ = df.select(
        F.col(id_col).alias("id"), F.explode(wins).alias("w")
    ).select("id", F.col("w.pos").alias("pos"),
             F.col("w.win_hash").alias("win_hash"))
    flagged = (
        occ.groupBy("win_hash")
        .agg(F.countDistinct("id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )
    return occ.join(flagged, "win_hash").select(
        "id", "pos", "win_hash", "n_docs"
    )


def duplicate_span_stats(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", *, width: int = 8,
                         min_docs: int = 2) -> DataFrame:
    """Per-document duplicated-content ratio over
    :func:`duplicate_spans`: (id, n_windows, n_dup, dup_ratio) — the
    filter signal corpus pipelines threshold on ("drop documents
    whose duplicated-window fraction exceeds x"). Documents shorter
    than ``width`` tokens have zero windows and report ratio 0."""
    toks = tokens(F.col(text_col))
    totals = df.select(
        F.col(id_col).alias("id"),
        F.greatest(
            F.lit(0), F.size(toks) - (width - 1)
        ).alias("n_windows"),
    )
    dup = (
        duplicate_spans(df, id_col, text_col, width=width,
                        min_docs=min_docs)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return totals.join(dup, "id", "left").select(
        "id", "n_windows",
        F.coalesce(F.col("n_dup"), F.lit(0)).alias("n_dup"),
        F.when(F.col("n_windows") > 0,
               F.round(F.coalesce(F.col("n_dup"), F.lit(0))
                       / F.col("n_windows"), 6))
        .otherwise(F.lit(0.0)).alias("dup_ratio"),
    )


def dedup_paragraphs(df: DataFrame, *, tokens_per_para: int = 10,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Corpus-wide paragraph-level dedup with reassembly — the Dolma /
    FineWeb "remove duplicate paragraphs" pass (Soldaini et al. 2024
    dedupe by paragraph): documents split into paragraphs, every
    repeated paragraph keeps only its globally FIRST occurrence
    (lowest (id, paragraph index)), and each document's text is
    rebuilt from its surviving paragraphs in order.

    The sf corpora carry no newlines, so "paragraph" here is the
    structural stand-in every other text op composes with: the
    non-overlapping ``tokens_per_para``-token windows of
    :func:`~geocube_spark.textops.analysis.chunk_documents` (overlap
    0, trailing partial kept, empty doc = one empty paragraph). On
    real corpora, pre-split on newlines and feed one row per
    paragraph instead.

    Returns (id, n_paras, n_kept, text): the scrubbed text joined by
    single spaces (whitespace-normalized like the token stream); a
    fully-duplicated document reassembles to ''.

    Scale shape: narrow chunk explode -> ONE window over the 8-byte
    paragraph hash (row_number picks the first instance; the shuffle
    carries each paragraph's text once — it is needed for reassembly
    downstream anyway) -> one groupBy(id) rebuild. No all-pairs
    comparison; both shuffles are O(corpus tokens)."""
    from ..textops.analysis import chunk_documents

    if tokens_per_para < 1:
        raise ValueError("tokens_per_para must be >= 1")
    paras = chunk_documents(
        df, tokens_per_para, 0, text_col=text_col, id_col=id_col
    ).select("id", "chunk_id", "chunk", h60(F.col("chunk")).alias("h"))
    w = Window.partitionBy("h").orderBy("id", "chunk_id")
    flagged = paras.select(
        "id", "chunk_id", "chunk",
        (F.row_number().over(w) == 1).alias("keep"),
    )
    packed = F.sort_array(F.collect_list(F.struct(
        F.col("chunk_id"), F.col("keep"), F.col("chunk")
    )))
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.filter(packed, lambda x: x["keep"]),
                    lambda x: x["chunk"],
                ),
                " ",
            ).alias("text"),
        )
    )


def edit_distance_pairs(df: DataFrame, *, max_dist: int = 2, q: int = 3,
                        id_col: str = "doc_id", text_col: str = "text",
                        prefix_filter: bool = True) -> DataFrame:
    """Fuzzy (edit-distance) duplicate pairs: every unordered pair of
    documents whose Levenshtein distance is <= ``max_dist`` — the
    typo/near-variant dedup signal (record linkage, title dedup,
    boilerplate-variant detection). Exact: the result equals the
    brute-force all-pairs answer; blocking only prunes candidates.

    Candidate generation is ED-Join-style q-gram blocking
    (Xiao, Wang & Lin, VLDB 2008 — public method):

    * Length filter: ``ed(s, t) <= k`` forces ``|len(s)-len(t)| <= k``
      (always applied).
    * q-gram count bound: one edit destroys at most ``q`` q-gram
      occurrences, so a true pair shares at least
      ``max(len)-q+1 - k*q`` occurrences. Whenever
      ``max(len) >= (k+1)*q`` that bound is >= 1, so every true pair
      shares at least one q-gram VALUE and an inverted q-gram
      equi-join (explode distinct grams -> self-join on gram) is a
      guaranteed superset — never an all-pairs cross join.
    * Prefix filter (``prefix_filter=True``, the scale path): each
      edit also destroys at most ``q`` distinct gram values, so under
      ANY global total order of grams, two strings within distance k
      must share a gram among their first ``k*q + 1`` distinct grams
      (if the prefixes were disjoint, every common gram would lie
      past one prefix, capping distinct overlap at
      ``|grams| - (k*q+1) < |grams| - k*q``). Indexing only that
      prefix (ordered by the portable h60 hash — a near-uniform
      proxy for rare-first frequency ordering) bounds index fan-out
      per document at ``k*q + 1`` rows regardless of length.
    * Short strings (``len < (k+1)*q``, where the count bound is
      vacuous): length-banded buckets of width ``k+1``; each left row
      is replicated to its own and both neighbor buckets, so every
      pair within length ``k`` meets. Bucket count is a small
      constant (< q), so this degrades to grouped all-pairs — fine
      when short strings are rare (documents), quadratic if the whole
      corpus is shorter than ``(k+1)*q`` chars (use MinHash instead).

    Verification is Spark's built-in ``levenshtein`` (JVM,
    whole-stage codegen) on the texts joined back AFTER the candidate
    ids are distinct — the gram shuffle carries (id, len, gram) only,
    never document text (same shuffle-hygiene rule as the spatial
    joins). NOTE: Spark's levenshtein counts Unicode characters while
    DuckDB's counts bytes; parity oracles should normalize to ASCII.

    Returns (id_a, id_b, dist) with ``id_a < id_b``, dist <= max_dist.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    k = int(max_dist)
    long_cut = (k + 1) * q  # max(len) >= long_cut => >=1 shared gram

    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(text_col).alias("t"),
        F.length(text_col).alias("len"),
    )

    # --- long path: inverted (prefix of) distinct q-grams ----------
    grams_all = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.col("len") - (q - 1)),
            lambda i: F.substring(F.col("t"), i, F.lit(q)),
        )
    )
    if prefix_filter:
        # h60-ordered distinct grams, first k*q + 1 of them.
        ordered = F.array_sort(
            F.transform(grams_all,
                        lambda g: F.struct(h60(g).alias("h"),
                                           g.alias("g")))
        )
        grams_ix = F.transform(
            F.slice(ordered, 1, k * q + 1), lambda s: s["g"]
        )
    else:
        grams_ix = grams_all
    g = (
        base.filter(F.col("len") >= q)
        .select("id", "len", F.explode(grams_ix).alias("gram"))
    )
    ga = g.select(F.col("id").alias("id_a"), F.col("len").alias("la"),
                  "gram")
    gb = g.select(F.col("id").alias("id_b"), F.col("len").alias("lb"),
                  "gram")
    long_cand = (
        ga.join(gb, "gram")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= k)
            & (F.greatest("la", "lb") >= long_cut)
        )
        .select("id_a", "id_b")
    )

    # --- short path: length-banded buckets -------------------------
    short = base.filter(F.col("len") < long_cut).withColumn(
        "b", F.floor(F.col("len") / (k + 1))
    )
    # id_a < id_b is independent of length order, so the left side
    # replicates to both neighbor buckets (distinct() dedups pairs
    # that meet twice).
    sa = short.select(
        F.col("id").alias("id_a"), F.col("len").alias("la"),
        F.explode(F.array(F.col("b") - 1, F.col("b"),
                          F.col("b") + 1)).alias("b"),
    )
    sb = short.select(F.col("id").alias("id_b"),
                      F.col("len").alias("lb"), "b")
    short_cand = (
        sa.join(sb, "b")
        .where((F.col("id_a") < F.col("id_b"))
               & (F.abs(F.col("la") - F.col("lb")) <= k))
        .select("id_a", "id_b")
    )

    cand = long_cand.unionByName(short_cand).distinct()

    ta = base.select(F.col("id").alias("id_a"), F.col("t").alias("ta"))
    tb = base.select(F.col("id").alias("id_b"), F.col("t").alias("tb"))
    return (
        cand.join(ta, "id_a").join(tb, "id_b")
        .withColumn("dist", F.levenshtein("ta", "tb"))
        .where(F.col("dist") <= k)
        .select("id_a", "id_b", "dist")
    )


def decontaminate(df: DataFrame, benchmark: DataFrame, *,
                  width: int = 8, id_col: str = "doc_id",
                  text_col: str = "text",
                  bench_text_col: str = None) -> DataFrame:
    """Benchmark decontamination — the training-data hygiene step
    (Dolma / FineWeb / GPT-3 appendix C): flag every corpus document
    sharing at least one ``width``-token window with a held-out
    evaluation set, so eval data can be excluded from training.
    Same tokenizer + portable window hash as
    :func:`duplicate_spans`, so a shared window is an exact token
    sequence match (60-bit hash, collision-free at corpus scale).

    Returns one row per corpus document: (id, n_windows,
    n_contaminated, contaminated) — ``n_contaminated`` counts the
    doc's windows that appear anywhere in the benchmark,
    ``contaminated`` is the 0/1 drop signal.

    Scale shape: benchmark window hashes are DISTINCT 8-byte keys —
    eval suites are MBs against a 100 TB corpus, so the hash set
    BROADCASTS and the corpus scan never shuffles for the probe (one
    broadcast semi-ish left join + one map-side-combined per-doc
    count). The corpus side explodes (id, win_hash) pairs only."""
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    bench_text_col = bench_text_col or text_col

    def _wins(col, w):
        toks = tokens(F.col(col))
        return F.when(
            F.size(toks) >= w,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (w - 1)),
                lambda i: h60(F.concat_ws(" ", F.slice(toks, i, w))),
            ),
        ).otherwise(F.array().cast("array<long>"))

    bench = benchmark.select(
        F.explode(_wins(bench_text_col, width)).alias("win_hash")
    ).distinct()

    occ = df.select(
        F.col(id_col).alias("id"),
        F.explode(_wins(text_col, width)).alias("win_hash"),
    )
    hits = (
        occ.join(F.broadcast(bench.withColumn("__hit", F.lit(1))),
                 "win_hash", "left")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_windows"),
             F.sum(F.coalesce("__hit", F.lit(0)))
             .alias("n_contaminated"))
    )
    base = df.select(F.col(id_col).alias("id"))
    return base.join(hits, "id", "left").select(
        "id",
        F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
        F.coalesce("n_contaminated", F.lit(0)).cast("long")
        .alias("n_contaminated"),
        (F.coalesce("n_contaminated", F.lit(0)) > 0).cast("int")
        .alias("contaminated"),
    )
