"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Everything here is native Spark SQL expressions — higher-order array
functions (transform/aggregate/zip_with) keep the math JVM-side with
zero Python in the path, and md5/xxhash64 are chosen because DuckDB has
the same functions with the same bytes, so every operator gets a real
SQL oracle pair in __spark_entry__.

Scale design:
  * exact dedup — one hash agg on the fingerprint; winner = min(id)
    (deterministic, AQE-coalesced).
  * MinHash — signatures are per-row expressions (no shuffle); LSH
    banding shuffles once on (band_id, band_key); candidate pairs only
    within buckets (the 10^10-safe path — never the n² cross join);
    verification re-computes true Jaccard on the candidate sliver only.
  * SimHash — 64-bit signature per row; banding on 16-bit sub-keys;
    hamming distance via bit_count(xor).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from biothings_crawler_spark.operators.text import fingerprint_col, once_col



# --- exact -------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative per normalized-text fingerprint."""
    return (
        df.withColumn("fingerprint", fingerprint_col(F.col(text_col)))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups"))
    )


# --- shingles + MinHash --------------------------------------------------------

def shingles_col(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of the normalized text.

    The normalized word split is let-bound (text.bind_col) so it
    evaluates once per row — inlined into the slice lambda it would
    re-run the regex chain per shingle index (the O(words^2)
    expression blowup documented on bind_col)."""
    from biothings_crawler_spark.operators.text import bind_col

    split = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", " ")), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    return bind_col(
        split,
        lambda words: F.array_distinct(
            F.when(
                F.size(words) >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size(words) - k),
                    lambda i: F.array_join(F.slice(words, i + 1, k), " "),
                ),
            ).otherwise(F.array(F.array_join(words, " ")))
        ),
    )


_NONALNUM_RE = re.compile(r"[^a-z0-9\s]")
_WS_RE = re.compile(r"\s+")


@F.pandas_udf(T.ArrayType(T.StringType()))
def shingles3_pandas_udf(text: pd.Series) -> pd.Series:
    """Arrow-vectorized twin of shingles_col(k=3) — byte-identical
    output (first-occurrence-distinct k-word shingles). The expression
    version runs as interpreted higher-order functions (~2.5 ms/doc);
    this path is ~10x faster and is the default for the LSH operators.
    k is fixed at 3 (pandas_udf closures can't take parameters).
    NULL text -> NULL shingles, matching the expression twin."""
    out = []
    for t in text:
        if t is None:
            out.append(None)
            continue
        words = [w for w in _WS_RE.split(_NONALNUM_RE.sub(" ", t.lower()).strip()) if w]
        if len(words) >= 3:
            sh = [" ".join(words[i:i + 3]) for i in range(len(words) - 2)]
        else:
            sh = [" ".join(words)]
        seen: set = set()
        uniq = []
        for x in sh:
            if x not in seen:
                seen.add(x)
                uniq.append(x)
        out.append(uniq)
    return pd.Series(out)


def make_shingles_udf(k: int):
    """Factory variant of :func:`shingles3_pandas_udf` for any k —
    a pandas_udf body cannot take parameters, but a closure over k
    can (the minhash_sigs_udf pattern).  Byte-identical to
    shingles_col(k): first-occurrence-distinct k-word shingles,
    short texts collapse to one joined shingle, NULL -> NULL."""
    kk = int(k)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def sh(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if t is None:
                out.append(None)
                continue
            words = [w for w in
                     _WS_RE.split(_NONALNUM_RE.sub(" ", t.lower()).strip())
                     if w]
            if len(words) >= kk:
                grams = [" ".join(words[i:i + kk])
                         for i in range(len(words) - kk + 1)]
            else:
                grams = [" ".join(words)]
            seen: set = set()
            uniq = []
            for x in grams:
                if x not in seen:
                    seen.add(x)
                    uniq.append(x)
            out.append(uniq)
        return pd.Series(out)

    return sh


def _shingles(text: Column, k: int, impl: str) -> Column:
    if impl == "pandas" and k == 3:
        return shingles3_pandas_udf(text)
    return shingles_col(text, k)


# MinHash permutation family: ONE md5 per shingle (32-bit integer
# h = first 8 hex chars), then perm_j(h) = (A_j*(h mod P) + B_j) mod P
# over the Mersenne prime P = 2^31-1 — the classic affine
# universal-hash family. The modulus MUST be comparable to the input
# range: with a large P (say 2^61) and 32-bit inputs, A*h+B rarely
# wraps, the map is order-preserving, and the corpus-global smallest
# hash wins EVERY permutation — a degenerate single-permutation
# sketch (caught by the brute-force recall oracle during this
# rewrite). With P=2^31-1 every product wraps many times and each j
# induces an independent ordering. A_j*(h mod P)+B_j < 2^62, so every
# step is exact BIGINT arithmetic and the DuckDB twin reproduces it
# bit for bit. This replaces the salted-md5 family (md5(j||shingle)),
# which cost n_perm md5 evaluations per shingle — 16x the hash kernel
# work for no statistical benefit.
MINHASH_P = (1 << 31) - 1
_MH_A = tuple(
    int(hashlib.md5(f"mh-a-{j}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
    for j in range(64)
)
_MH_B = tuple(
    int(hashlib.md5(f"mh-b-{j}".encode()).hexdigest()[:8], 16) % MINHASH_P
    for j in range(64)
)


def shingle_hash_col(shingles: Column) -> Column:
    """array<long> of md5-derived shingle hashes in [0, P) — the one
    md5 pass; every permutation is an integer fold over this."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_P),
    )


def minhash_perm_col(hashes: Column, j: int) -> Column:
    """min over the j-th affine permutation of the shingle hashes."""
    return F.aggregate(
        hashes,
        F.lit(MINHASH_P).cast("long"),
        lambda acc, x: F.least(
            acc, (F.lit(_MH_A[j]) * x + F.lit(_MH_B[j])) % F.lit(MINHASH_P)
        ),
    )


def minhash_sigs_udf(n_perm: int):
    """Arrow-vectorized twin of the md5-hash + n_perm affine-min chain:
    shingles -> array<long> signature, one numpy broadcast per row
    instead of n_perm interpreted aggregate folds (which walk the
    shingle array n_perm times in the expression evaluator — the
    dominant cost of the LSH banding pass, ~2x the whole band join at
    sf0.1).  Bit-identical: h = int(md5[:8], 16) % P exactly as
    shingle_hash_col, perm_j = (A_j*h + B_j) % P in int64 (A_j*h <
    2^62, no overflow), empty shingle arrays yield the fold's
    initial value P, NULL stays NULL."""
    a = np.asarray(_MH_A[:n_perm], dtype=np.int64)[:, None]
    b = np.asarray(_MH_B[:n_perm], dtype=np.int64)[:, None]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sigs(sh: pd.Series) -> pd.Series:
        out = []
        for row in sh:
            if row is None:
                out.append(None)
                continue
            if not len(row):
                out.append([MINHASH_P] * n_perm)
                continue
            h = np.fromiter(
                (int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                 for s in row),
                dtype=np.int64, count=len(row),
            ) % MINHASH_P
            out.append(((a * h + b) % MINHASH_P).min(axis=1).tolist())
        return pd.Series(out)

    return sigs


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_perm: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.5,
    shingle_impl: str = "pandas",
) -> DataFrame:
    """Near-dup pairs via LSH banding + exact Jaccard verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    rows = n_perm // bands
    # materialized (eager localCheckpoint): the (id, sh, sigs) index is
    # read by the band projection AND the per-pair verify join; without
    # materialization Catalyst's projection collapse re-inlines the
    # shingle/signature work once per downstream reference (the band
    # self-join references it TWICE).  Signatures ride the numpy UDF
    # (minhash_sigs_udf) — one Arrow pass — instead of n_perm
    # interpreted affine-min folds.
    # localCheckpoint rather than persist() so the blocks are reclaimed
    # by the ContextCleaner when this DataFrame is GC'd — a bare
    # persist() here leaked cache for the session lifetime. At 10^10
    # rows this index is a written table (LSH index build stage).
    shingled = df.select(
        F.col(id_col).alias("id"),
        _shingles(F.col(text_col), k, shingle_impl).alias("sh"),
    )
    if shingle_impl == "pandas" and k == 3:
        # the default path: shingles and signatures fuse into one
        # ArrowEvalPython pass
        base = shingled.withColumn(
            "sigs", minhash_sigs_udf(n_perm)(F.col("sh"))
        ).localCheckpoint(eager=True)
    else:
        # expression-shingle fallback: a pandas UDF over a JVM
        # higher-order-function argument trips UDF extraction in some
        # plan contexts — keep the interpreted fold chain here
        base = shingled.withColumn(
            "hs", shingle_hash_col(F.col("sh"))
        ).select(
            "id", "sh",
            F.array(*[minhash_perm_col(F.col("hs"), j)
                      for j in range(n_perm)]).alias("sigs"),
        ).localCheckpoint(eager=True)
    # band join carries ONLY (id, band) — shuffling the shingle arrays
    # (KBs/row) through the self-join would dominate at 10^10 rows; the
    # arrays are re-joined per deduped candidate pair instead (two hash
    # joins against the tiny candidate sliver).
    banded = base.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws("|", *[
                    F.element_at("sigs", b * rows + r + 1).cast("string")
                    for r in range(rows)
                ]).alias("band_key"),
            )
            for b in range(bands)
        ])).alias("band"),
    ).select("id", "band.band_id", "band.band_key")
    left = banded.select(F.col("id").alias("id_a"), "band_id", "band_key")
    right = banded.select(F.col("id").alias("id_b"), "band_id", "band_key")
    pairs = (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_map = base.select("id", "sh")
    joined = (
        pairs.join(sh_map.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh_map.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    # once_col: the threshold filter otherwise pushes below the
    # projection and re-runs the array_intersect/array_union pass a
    # second time per candidate pair (FilterExec has no CSE)
    return (
        joined.withColumn("jaccard", once_col(inter / union))
        .filter(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, threshold: float = 0.5,
    shingle_impl: str = "pandas",
) -> DataFrame:
    """Exact all-pairs shingle Jaccard >= threshold (the brute-force
    oracle for LSH recall; only for verification scale — at 10^10 use
    minhash_lsh_pairs)."""
    s = df.select(F.col(id_col).alias("id"),
                  _shingles(F.col(text_col), k, shingle_impl).alias("sh"))
    a = s.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = s.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", once_col(inter / union))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- SimHash -------------------------------------------------------------------

SIMHASH_BITS = 60  # 4 bands x 15 bits; stays clear of long-overflow (ANSI mode)


def word_hash60_col(w: Column, hash_family: str = "xxhash64") -> Column:
    """60-bit word hash. 'xxhash64' is the scale path (cheapest, JVM);
    'md5' takes the top 15 hex chars of md5 — byte-identical in DuckDB
    (``('0x' || substr(md5(w), 1, 15))::BIGINT``), enabling an exact SQL
    oracle pair for every signature built on top."""
    if hash_family == "md5":
        return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
    return F.xxhash64(w)


def simhash_col(text: Column, hash_family: str = "xxhash64") -> Column:
    """60-bit SimHash over distinct whitespace words (weight 1 each).

    bit i set iff sum over words of sign(bit i of hash60(word)) > 0.
    Built with two nested folds: the per-bit ±1 array is unrolled in
    Python (shiftright needs a literal count), and the final signature
    accumulates acc*2+bit over the reversed count array — equivalent to
    a left shift without any dynamic-shift expression."""
    words = F.array_distinct(F.filter(
        F.split(F.lower(text), r"\s+"), lambda w: F.length(w) > 0
    ))

    def _bits_pm1(w: Column) -> Column:
        h = word_hash60_col(w, hash_family)
        return F.array(*[
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
            for i in range(SIMHASH_BITS)
        ])

    counts = F.aggregate(
        words,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, w: F.zip_with(acc, _bits_pm1(w), lambda a, b: a + b),
    )
    two = F.lit(2).cast("long")
    return F.aggregate(
        F.reverse(counts),
        F.lit(0).cast("long"),
        lambda acc, c: acc * two
        + F.when(c > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )


_WORDSPLIT_RE = re.compile(r"\s+")

# per-worker word->hash60 cache; crawl text is Zipfian, so the hit rate
# is high. Capped to bound executor memory.
_H60_CACHE_MAX = 1 << 20
_h60_cache_md5: dict = {}
_h60_cache_xxh: dict = {}


def _simhash_batch(text: pd.Series, hash_one, cache: dict) -> pd.Series:
    """numpy SimHash kernel shared by both hash-family UDFs: per doc,
    distinct lowercased whitespace words -> 60-bit word hashes (cached)
    -> bit-unpack to a (n_words, 60) 0/1 matrix -> signed column sums ->
    sign bits. Bit-identical to simhash_col by construction (same word
    set, same per-word hash, same >0 test)."""
    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.int64)
    out: list = [0] * len(text)
    for row, t in enumerate(text):
        if t is None:
            out[row] = None  # NULL in -> NULL out, like the expression twin
            continue
        words = {w for w in _WORDSPLIT_RE.split(t.lower()) if w}
        if not words:
            continue
        hs = np.empty(len(words), dtype=np.uint64)
        for i, w in enumerate(words):
            h = cache.get(w)
            if h is None:
                h = np.uint64(hash_one(w) & 0xFFFFFFFFFFFFFFFF)
                if len(cache) < _H60_CACHE_MAX:
                    cache[w] = h
            hs[i] = h
        bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
        counts = 2 * bits.sum(axis=0) - len(words)  # sum of +/-1 per bit
        out[row] = int(((counts > 0).astype(np.int64) * weights).sum())
    return pd.Series(out, dtype=object)


@F.pandas_udf(T.LongType())
def simhash60_md5_pandas_udf(text: pd.Series) -> pd.Series:
    """Arrow-vectorized twin of simhash_col(hash_family='md5'):
    word hash = int(md5(w)[:15 hex], 16) — hashlib runs at C speed, and
    the 60-bit unpack/sum is numpy, replacing the interpreted 60-branch
    shiftright expression tree (the round-1 bench's second-worst entry)."""
    import hashlib

    def h(w: str) -> int:
        return int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)

    return _simhash_batch(text, h, _h60_cache_md5)


@F.pandas_udf(T.LongType())
def simhash60_xxh_pandas_udf(text: pd.Series) -> pd.Series:
    """Arrow-vectorized twin of simhash_col(hash_family='xxhash64'):
    word hash = Spark-compatible XXH64(utf8, seed=42) from hashing.py
    (pure Python but cached per distinct word — Zipf makes this cheap)."""
    from biothings_crawler_spark.hashing import xxhash64_str

    return _simhash_batch(text, xxhash64_str, _h60_cache_xxh)


def _simhash(text: Column, hash_family: str, impl: str) -> Column:
    if impl == "pandas":
        if hash_family == "md5":
            return simhash60_md5_pandas_udf(text)
        return simhash60_xxh_pandas_udf(text)
    return simhash_col(text, hash_family)


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    hash_family: str = "xxhash64", sig_impl: str = "pandas",
) -> DataFrame:
    """Near-dup pairs by SimHash banding (4×15-bit keys — two signatures
    within hamming<=3 collide on >=1 band) + bit_count verify."""
    # materialized (eager localCheckpoint, GC-reclaimable — see minhash
    # note) for the same projection-collapse reason as minhash: the
    # 60-bit signature expression would otherwise be re-inlined per
    # band-key reference
    sig = df.select(F.col(id_col).alias("id"),
                    _simhash(F.col(text_col), hash_family, sig_impl).alias("sig")
                    ).localCheckpoint(eager=True)
    banded = sig.select(
        "id", "sig",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright("sig", b * 15).bitwiseAND(F.lit(0x7FFF)).alias("band_key"),
            )
            for b in range(4)
        ])).alias("band"),
    ).select("id", "sig", "band.band_id", "band.band_key")
    l = banded.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"),
                      "band_id", "band_key")
    r = banded.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"),
                      "band_id", "band_key")
    # hamming is a pure function of (sig_a, sig_b), which are constant
    # per (id_a, id_b) — so the verify filter commutes with the pair
    # dedup and runs FIRST, shrinking the dropDuplicates shuffle to the
    # surviving pairs instead of every band collision.
    return (
        l.join(r, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


# --- near-dup clustering ---------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs by smallest-id label
    propagation: (id, component) where component = min id reachable.

    The dedup completion step: survivors are the rows with
    id == component. Iterations = graph diameter (near-dup clusters are
    small, so a handful); each iteration is one join + hash agg.
    Convergence is checked every ``check_every``=3 iterations (and at
    the iteration cap), not every round: labels only DECREASE under
    min-propagation, so "changed" is a row-local ``new < old`` flag
    carried through the select and counted with a plain scan of the
    checkpointed labels — no old-vs-new join, and 3× fewer blocking
    driver round-trips / checkpoint materializations than the
    per-iteration check (the r2 `q_dedup_weights` hotspot). Lineage
    grows at most 3 join+agg layers between checkpoints, still flat."""
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("component"))
    labels = labels.localCheckpoint()
    check_every = 3
    changed = -1
    for i in range(max_iters):
        neigh = (
            und.join(labels, und.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("n_comp"))
        )
        new_comp = F.least(
            F.col("component"), F.coalesce("n_comp", F.col("component"))
        )
        new_labels = labels.join(neigh, labels.id == neigh.src, "left").select(
            "id",
            new_comp.alias("component"),
            (new_comp < F.col("component")).alias("chg"),
        )
        if (i + 1) % check_every == 0 or i == max_iters - 1:
            # lazy checkpoint: the convergence count below is the first
            # action, so one job materializes the labels AND counts the
            # changed rows (was: a blocking eager checkpoint + a second
            # scan job per probe round)
            new_labels = new_labels.localCheckpoint(eager=False)
            changed = new_labels.filter("chg").count()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
        changed = -1
    und.unpersist()
    if changed != 0:
        # unconverged labels are silently WRONG (split components ->
        # duplicates survive downstream dedup); fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "iterations; raise max_iters (component diameter exceeds it)"
        )
    return labels


def containment_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    max_docs_per_shingle: int = 16,
    min_shared: int = 2,
    min_containment_ppm: int = 800_000,
) -> DataFrame:
    """ASYMMETRIC near-dup — quote/scrape detection: ``(id_a, id_b,
    n_shared, containment_ppm, is_contained)`` where containment is
    shared shingles over the SMALLER document's shingle count
    (Broder's containment coefficient, the companion measure to the
    resemblance his MinHash estimates).  A long article that swallows
    a short post whole has low Jaccard (the union is huge) but
    containment ~1e6 — the symmetric MinHash/SimHash family in this
    module is structurally blind to exactly this case, which is why
    scraped-content detection needs its own operator.

    Scale shape mirrors :func:`biothings_crawler_spark.operators.traps.
    mirror_report` one level down: distinct (shingle, id) -> frequency
    bound (shingles in more than ``max_docs_per_shingle`` docs are
    stop-phrases and are dropped BEFORE the self-join, capping pairs
    per shingle at C(cap, 2)) -> pair hash agg -> size rejoin.  The
    shuffles carry (md5, id) pairs only — never text.
    """
    # One deliberate plan cut (at 10^10 rows this is a written table,
    # the LSH-index-build pattern): the distinct shingle index feeds
    # FOUR consumers (sizes, the frequency bound, both self-join
    # sides) — without a cut the pipeline re-inlines into each (the
    # minhash-signature lesson).  Shingling itself runs as the
    # Arrow-vectorized pandas UDF (make_shingles_udf) — the
    # interpreted transform() path needed a second materialization of
    # the words array just to stop O(words^2) lambda re-evaluation;
    # the UDF needs neither.
    sh = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(make_shingles_udf(k)(F.col(text_col))).alias("s"),
        )
        .select("id", F.md5("s").alias("sh"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    bounded = sh.join(
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") <= int(max_docs_per_shingle))
        .select("sh"),
        "sh",
        "left_semi",
    )
    a = bounded.select("sh", F.col("id").alias("id_a"))
    b = bounded.select("sh", F.col("id").alias("id_b"))
    shared = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )
    cont = F.expr("n_shared * 1000000 div least(n_a, n_b)")
    return (
        shared.join(sizes.select(F.col("id").alias("id_a"),
                                 F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"),
                           F.col("n_sh").alias("n_b")), "id_b")
        .select(
            "id_a", "id_b", "n_shared",
            cont.alias("containment_ppm"),
            (cont >= F.lit(int(min_containment_ppm))).alias("is_contained"),
        )
    )


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_perm: int = 16,
    bands: int = 4,
    shingle_impl: str = "pandas",
) -> DataFrame:
    """Persistable LSH index rows ``(id, band_id, band_key,
    sigs array<long>)`` — the on-disk artifact that makes near-dup
    INCREMENTAL (see :func:`incremental_neardup`).  Carrying the full
    n_perm signature per row (a handful of longs) lets later
    increments verify candidates WITHOUT re-reading old text: the
    signature-agreement fraction is the classic unbiased MinHash
    estimate of Jaccard."""
    rows = n_perm // bands
    shingled = df.select(
        F.col(id_col).alias("id"),
        _shingles(F.col(text_col), k, shingle_impl).alias("sh"),
    )
    if shingle_impl == "pandas" and k == 3:
        with_sigs = shingled.select(
            "id", minhash_sigs_udf(n_perm)(F.col("sh")).alias("sigs")
        ).localCheckpoint(eager=True)
    else:
        # see minhash_lsh_pairs: keep the fold chain off the UDF path
        with_sigs = shingled.withColumn(
            "hs", shingle_hash_col(F.col("sh"))
        ).select(
            "id",
            F.array(*[minhash_perm_col(F.col("hs"), j)
                      for j in range(n_perm)]).alias("sigs"),
        ).localCheckpoint(eager=True)
    return with_sigs.select(
        "id", "sigs",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws("|", *[
                    F.element_at("sigs", b * rows + r + 1).cast("string")
                    for r in range(rows)
                ]).alias("band_key"),
            )
            for b in range(bands)
        ])).alias("band"),
    ).select("id", "band.band_id", "band.band_key", "sigs")


def incremental_neardup(
    increment: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_perm: int = 16,
    bands: int = 4,
    min_est_ppm: int = 500_000,
    shingle_impl: str = "pandas",
) -> tuple:
    """Add a crawl increment to an ALREADY-DEDUPED corpus without
    rescanning it: ``(pairs, updated_index)``.

    * ``pairs`` — (new_id, dup_of, est_jaccard_ppm): each increment
      document whose banded signature collides with the index (or with
      another increment doc) and whose signature-agreement estimate
      clears ``min_est_ppm``; ``dup_of`` prefers the smallest matching
      id (corpus docs sort below increment docs only by id value —
      callers using disjoint id ranges get corpus-doc winners for
      free, matching keep-first semantics).
    * ``updated_index`` — the old index plus the band rows of
      increment documents that are NOT duplicates (survivors extend
      the corpus; dups never pollute the index).

    Shape: band equi-join of the increment's index rows against the
    stored band table (shuffles (id, band_key) only), signature verify
    as a row-local ``zip_with`` over two 16-long arrays, one min-agg
    per new id.  Cost scales with the INCREMENT, not the corpus —
    which is the whole point.
    """
    new_idx = minhash_index(increment, id_col, text_col, k, n_perm, bands,
                            shingle_impl).localCheckpoint(eager=True)
    old = index.select(
        F.col("id").alias("old_id"), "band_id", "band_key",
        F.col("sigs").alias("old_sigs"),
    )
    both = new_idx.unionByName(index)
    # candidates vs the corpus AND vs other increment docs (smaller id
    # wins, so an increment doc can be dup_of an earlier increment doc)
    cands = (
        new_idx.join(
            both.select(F.col("id").alias("old_id"), "band_id", "band_key",
                        F.col("sigs").alias("old_sigs")),
            ["band_id", "band_key"],
        )
        .filter(F.col("old_id") < F.col("id"))
        .dropDuplicates(["id", "old_id"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sigs", "old_sigs", lambda a, b: a == b),
                lambda x: x,
            )
        ).cast("long") * F.lit(1_000_000) / F.lit(int(n_perm))
    ).cast("long")
    scored = cands.select("id", "old_id", est.alias("est_jaccard_ppm")).filter(
        F.col("est_jaccard_ppm") >= int(min_est_ppm)
    )
    pairs = (
        scored.groupBy("id")
        .agg(F.min(F.struct("old_id", "est_jaccard_ppm")).alias("w"))
        .select(
            F.col("id").alias("new_id"), F.col("w.old_id").alias("dup_of"),
            F.col("w.est_jaccard_ppm").alias("est_jaccard_ppm"),
        )
    )
    survivors = new_idx.join(
        pairs.select(F.col("new_id").alias("id")), "id", "left_anti"
    )
    return pairs, index.unionByName(survivors)


def jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    t_ppm: int = 750_000,
) -> DataFrame:
    """EXACT set-similarity self-join: every pair with token-set
    Jaccard >= t — prefix filtering (Chaudhuri et al. ICDE 2006; Xiao
    et al. WWW 2008 "PPJoin") instead of LSH, so unlike the
    minhash/simhash family there are NO false negatives by
    construction.  Tokens get a global (frequency ASC, token) total
    order; a set of size s indexes only its first ``s - ceil(t*s) + 1``
    rarest tokens, and the prefix-filtering principle guarantees two
    qualifying sets share an indexed token.  Candidates are verified
    with an exact integer test ``inter * 1e6 >= t_ppm * union`` over
    ``array_intersect`` of the full (distinct) token arrays.

    Scale shape: the candidate join fans out per PREFIX-token posting
    list — rare-first ordering makes those the shortest lists in the
    corpus (the frequency skew that kills a naive shared-token join is
    exactly what the ordering routes around); the verify step touches
    only candidate pairs.  One agg for frequencies (broadcast-joined
    back when the vocabulary is small, AQE decides), one agg to order
    per-doc tokens, the prefix self-join, one verify join."""
    t = int(t_ppm)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.split(F.lower(F.col(text_col)), r"\s+")
        ).alias("ws0"),
    ).select(
        "id", F.array_compact(F.filter("ws0", lambda w: w != "")).alias("ws")
    ).filter(F.size("ws") > 0)

    tok = toks.select("id", F.explode("ws").alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    ordered = (
        tok.join(freq, "w")
        .groupBy("id")
        .agg(F.array_sort(
            F.collect_list(F.struct("f", "w"))).alias("fw"))
    )
    p = (F.size("fw")
         - F.floor((F.lit(t) * F.size("fw") + 999_999) / 1_000_000) + 1)
    prefix = ordered.select(
        "id", F.explode(F.slice("fw", 1, p)).alias("pw")
    ).select("id", F.col("pw.w").alias("w"))

    a = prefix.withColumnRenamed("id", "x")
    b = prefix.withColumnRenamed("id", "y")
    cand = (
        a.join(b, "w")
        .filter(F.col("x") < F.col("y"))
        .select("x", "y")
        .distinct()
    )

    sx = toks.select(F.col("id").alias("x"), F.col("ws").alias("wsx"),
                     F.size("ws").alias("nx"))
    sy = toks.select(F.col("id").alias("y"), F.col("ws").alias("wsy"),
                     F.size("ws").alias("ny"))
    verified = (
        cand.join(sx, "x").join(sy, "y")
        .withColumn("inter",
                    F.size(F.array_intersect("wsx", "wsy")).cast("long"))
        .withColumn("uni", (F.col("nx") + F.col("ny")
                            - F.col("inter")).cast("long"))
        .filter(F.col("inter") * 1_000_000 >= F.lit(t) * F.col("uni"))
    )
    return verified.select(
        "x", "y", "inter", F.col("uni").alias("union_sz"),
        F.expr("inter * 1000000 div uni").alias("jacc_ppm"),
    )
