"""Inverted index + integer-arithmetic BM25 ranking — the batch
search surface over the crawled corpus (the reference serves ES
dis_max queries, crawler/web/handlers.py; plans/analysis.search_view
proxies that — this module adds the classic ranked-retrieval scoring
the same index would serve).

Why integer BM25: log-based idf differs between libm implementations
in the last ulp, which can flip a rank across engines. With k1=6/5 and
b=3/4 the whole BM25 term score is a RATIONAL number; clearing
denominators gives

    score(d, t) = idf_ppm(t) * 44 * tf * W  //  (20*tf*W + 6*W + 18*dl*N)
    idf_ppm(t)  = (2N - 2*df + 1) * 10^6  //  (2*df + 1)

with N = corpus size, W = total corpus words, dl = doc length — all
BIGINTs, every division a floor, so per-term scores are exact and
their sum commutes: deterministic under any partitioning and
bit-identical in DuckDB. (The idf_ppm ratio is the standard
(N - df + 0.5)/(df + 0.5) scaled by 2·10^6.)

Scale shape: the index is (term, id, tf) rows (inverted_postings) or
bounded (term, chunk_no, postings) chunks (postings_chunks) — no
unbounded per-key collect anywhere on the scale path; the full
per-term postings STRING (inverted_index) exists only as a
fixture-scale oracle projection. In bm25_topk the query-term filter
lands BEFORE the tf aggregation (only matching postings aggregate —
for a k-term query that is k postings lists, not the corpus); df/N/W
are one tiny agg broadcast as a single row; the final top-k is a
TakeOrderedAndProject, never a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from biothings_crawler_spark.functions.fxp import ilog2_fxp_spark
from biothings_crawler_spark.operators.text import words_col


def inverted_postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """THE index representation at scale: one (term, id, tf) row per
    posting. One explode + one hash agg with map-side partial combine;
    no per-term state anywhere, so a stop-word term is just many rows
    sharded across reducers — nothing accumulates in a single task."""
    return (
        df.select(F.col(id_col).alias("id"), F.explode(words_col(F.col(text_col))).alias("term"))
        .groupBy("term", "id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def postings_chunks(
    postings: DataFrame, chunk_range: int = 1 << 20
) -> DataFrame:
    """Bounded posting chunks: (term, chunk_no, df_chunk, postings)
    with chunk_no = id div chunk_range. The chunk key is ROW-LOCAL (no
    window, no per-term ordering pass), so a hot stop-word term shards
    across (term, chunk_no) reducers and per-group memory is bounded by
    chunk_range documents regardless of term frequency — this is the
    serialized/query-serving form of the index at scale. chunk_no
    preserves global id order for non-negative ids, so concatenating
    chunk strings in chunk_no order reproduces the canonical full
    postings list."""
    return (
        postings.groupBy("term", F.expr(f"id div {int(chunk_range)}").alias("chunk_no"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("df_chunk"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("id", "tf"))),
                    lambda s: F.concat_ws(":", s["id"].cast("string"), s["tf"].cast("string")),
                ),
                " ",
            ).alias("postings"),
        )
    )


def postings_compression_report(
    postings: DataFrame, chunk_range: int = 1 << 20
) -> DataFrame:
    """Index-storage accounting BEFORE you pick a codec: per (term,
    chunk) the exact byte cost of the classic delta-gap + varint
    posting encoding versus fixed-width rows — ``(term, chunk_no,
    df_chunk, raw_bytes, packed_bytes, savings_ppm)``.

    Doc ids inside a chunk are sorted and gap-encoded against the
    chunk base (``chunk_no * chunk_range``), then each gap and each tf
    costs ``(bit_length + 6) div 7`` varint bytes (LEB128); raw cost
    is 12 bytes per posting (8-byte id + 4-byte tf).  Dense terms
    (stop words) pack to ~1 byte/posting, sparse terms stay near raw —
    the report is the evidence for per-term codec choice and for
    capacity planning the serialized index at 10^10 documents.

    Shape: the same bounded (term, chunk_no) hash agg as
    :func:`postings_chunks` — per-group memory capped by
    ``chunk_range`` regardless of term frequency — then pure row-local
    array folds (``bin``-length arithmetic, no libm, no Python).
    Exact integers end-to-end, DuckDB list twin."""
    chunks = postings.groupBy(
        "term", F.expr(f"id div {int(chunk_range)}").alias("chunk_no")
    ).agg(F.array_sort(F.collect_list(F.struct("id", "tf"))).alias("ps"))
    # staged withColumns (not nested exprs): ids/gaps are referenced
    # twice below, and CollapseProject keeps non-cheap array columns
    # as separate projects instead of duplicating the subtree
    staged = (
        chunks.withColumn("ids", F.expr("transform(ps, s -> s.id)"))
        .withColumn(
            "gaps",
            F.expr(
                f"transform(ids, (x, i) -> x - IF(i = 0, "
                f"chunk_no * {int(chunk_range)}L, element_at(ids, i)))"
            ),
        )
        .withColumn(
            "packed_bytes",
            F.expr(
                "aggregate(gaps, 0L, (a, g) -> a + (length(bin(g)) + 6) div 7)"
                " + aggregate(ps, 0L, (a, s) -> a + (length(bin(s.tf)) + 6) div 7)"
            ),
        )
    )
    return staged.select(
        "term", "chunk_no",
        F.size("ps").cast("long").alias("df_chunk"),
        (F.size("ps") * 12).cast("long").alias("raw_bytes"),
        F.col("packed_bytes").cast("long").alias("packed_bytes"),
        F.expr("(size(ps) * 12 - packed_bytes) * 1000000 div (size(ps) * 12)")
        .cast("long").alias("savings_ppm"),
    )


def postings_ef_report(
    postings: DataFrame, chunk_range: int = 1 << 20
) -> DataFrame:
    """Elias-Fano storage accounting for the doc-id stream, per (term,
    chunk): ``(term, chunk_no, df_chunk, low_bits, ef_bits, raw_bits,
    savings_ppm)``.

    EF over n sorted ids in a universe of u = chunk_range positions
    stores l = floor(log2(u / n)) low bits per id plus a unary upper
    stream of n ones and (u >> l) zeros:

        ef_bits = n*l + n + (u >> l)        (≈ n * (2 + log2(u/n)))

    — within half a bit per id of the information-theoretic bound, and
    supporting O(1) skip access, which is why modern index codecs
    (Lucene, PISA) use it for dense postings.  raw_bits = 32n (fixed
    4-byte ids).  Everything is BIGINT arithmetic — floor-log2 is
    ``length(bin(x)) - 1``, no libm — so the report is bit-exact across
    engines.

    Shape: one bounded (term, chunk_no) hash agg (count only — ids
    never collect into an array here), then a row-local projection.
    """
    u = int(chunk_range)
    grouped = postings.groupBy(
        "term", F.expr(f"id div {u}").alias("chunk_no")
    ).agg(F.count(F.lit(1)).cast("long").alias("df_chunk"))
    return (
        grouped.withColumn(
            "low_bits", F.expr(f"length(bin({u} div df_chunk)) - 1").cast("long")
        )
        .withColumn(
            "ef_bits",
            F.expr(
                f"df_chunk * low_bits + df_chunk + shiftright({u}L, "
                "cast(low_bits as int))"
            ).cast("long"),
        )
        .withColumn("raw_bits", (F.col("df_chunk") * 32).cast("long"))
        .select(
            "term", "chunk_no", "df_chunk", "low_bits", "ef_bits", "raw_bits",
            F.expr(
                "(raw_bits - ef_bits) * 1000000 div raw_bits"
            ).cast("long").alias("savings_ppm"),
        )
    )


def compact_index(
    postings: DataFrame,
    chunks: DataFrame,
    deleted_ids: DataFrame,
    id_col: str = "id",
    chunk_range: int = 1 << 20,
) -> DataFrame:
    """Delete-aware index compaction: apply a deletion list (takedowns,
    purged hosts, right-to-be-forgotten) to the chunked serving index
    WITHOUT rebuilding it — only the (term, chunk) groups that actually
    contained a deleted document are re-aggregated; every other chunk
    row passes through untouched.

    At 10^10 documents a deletion batch is tiny relative to the index:
    the full rebuild re-shuffles every posting, while this touches
    ``O(postings of deleted docs)`` — the affected-keys semi-join and
    the rebuild both key on (term, chunk_no), and the untouched side
    is a plain anti-join that never opens a postings string.

    Inputs: ``postings`` = the (term, id, tf) scale representation,
    ``chunks`` = its serialized chunk table (same ``chunk_range``),
    ``deleted_ids`` = one ``id_col`` column.  Returns the new chunk
    table; chunks whose every posting was deleted disappear.  Exact:
    equals ``postings_chunks(postings anti-join deletes)`` (the oracle
    recomputes that from scratch)."""
    dels = deleted_ids.select(F.col(id_col).alias("id")).distinct()
    # fresh af_* aliases: affected shares lineage with both `postings`
    # and `chunks`, and pass-through column refs would carry the same
    # attribute ids into the self-joins below (analysis ambiguity)
    affected = (
        postings.join(F.broadcast(dels), "id", "left_semi")
        .select(
            F.col("term").alias("af_term"),
            F.expr(f"id div {int(chunk_range)}").alias("af_chunk"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    surviving = postings.join(F.broadcast(dels), "id", "left_anti")
    to_rebuild = surviving.join(
        affected,
        (F.col("term") == F.col("af_term"))
        & (F.expr(f"id div {int(chunk_range)}") == F.col("af_chunk")),
        "left_semi",
    )
    rebuilt = postings_chunks(to_rebuild, chunk_range)
    untouched = chunks.join(
        affected,
        (F.col("term") == F.col("af_term"))
        & (F.col("chunk_no") == F.col("af_chunk")),
        "left_anti",
    )
    return untouched.unionByName(rebuilt)


def write_postings_index(
    chunks: DataFrame, path: str, n_shards: int = 16, salt: str = "ix"
) -> None:
    """Persist the chunked postings as the SERVING index layout:
    parquet PARTITIONED BY the term's rendezvous shard
    (operators/sharding.rendezvous_shard_col).  A query touching Q
    terms then reads at most Q shard directories out of ``n_shards``
    — directory-level pruning the same way the IVF index prunes to
    probed cells — and growing the shard count later moves only the
    minimal HRW fraction of terms (see shard_rebalance_report).
    """
    from biothings_crawler_spark.operators.sharding import (
        rendezvous_shard_col,
    )

    chunks.withColumn(
        "shard", rendezvous_shard_col(F.col("term"), n_shards, salt)
    ).write.mode("overwrite").partitionBy("shard").parquet(path)


def probe_postings(
    spark, path: str, terms: list, n_shards: int = 16, salt: str = "ix"
) -> DataFrame:
    """Read a query's postings from the sharded on-disk index touching
    only the owning shards: the shard set is computed DRIVER-side with
    the pure-Python rendezvous twin (a few md5s, no job), so the
    partition filter is a literal IN — static pruning visible as
    PartitionFilters in the scan (pytest-asserted), no DPP machinery
    needed."""
    from biothings_crawler_spark.operators.sharding import (
        rendezvous_shard_py,
    )

    owners = sorted({rendezvous_shard_py(t, n_shards, salt) for t in terms})
    return (
        spark.read.parquet(path)
        .filter(F.col("shard").isin(owners) & F.col("term").isin(list(terms)))
        .drop("shard")
    )


def inverted_index(
    df: DataFrame, id_col: str, text_col: str, chunk_range: int = 1 << 20
) -> DataFrame:
    """Canonical (term, df, postings) with postings = 'id:tf id:tf ...'
    in id order — an ORACLE-ONLY projection for fixture-scale
    cross-engine comparison (array columns don't hash portably). The
    final per-term string re-assembly from chunks is the one unbounded
    per-key step and is deliberately NOT the scale path: at scale the
    index IS inverted_postings / postings_chunks; nothing downstream
    (bm25_topk included) consumes this string."""
    chunks = postings_chunks(inverted_postings(df, id_col, text_col), chunk_range)
    return chunks.groupBy("term").agg(
        F.sum("df_chunk").cast("long").alias("df"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_no", "postings"))),
                lambda s: s["postings"],
            ),
            " ",
        ).alias("postings"),
    )


def bm25_term_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    docs: DataFrame | None = None,
) -> DataFrame:
    """(id, term, term_score) for every (matching doc, query term) pair
    under integer BM25 (k1=1.2, b=0.75 — the rational constants cleared
    above); exact integers, so every consumer ranks deterministically.
    This is precisely what a serving-index probe returns for a query's
    postings, so both the exhaustive scorer and the MaxScore-pruned
    scorer build on it.  ``docs`` optionally supplies a pre-tokenized
    ``(id, words)`` frame so a multi-pass caller (PRF) tokenizes the
    corpus once instead of once per pass."""
    if docs is None:
        docs = df.select(
            F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("words"))
    lens = docs.select("id", F.size("words").cast("long").alias("dl"))
    totals = lens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("w_total"),
    )

    terms = F.array(*[F.lit(t) for t in query_terms])
    tf = (
        docs.select("id", F.explode("words").alias("term"))
        .filter(F.array_contains(terms, F.col("term")))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))

    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "id")
        .crossJoin(F.broadcast(totals))
        .select(
            "id",
            "term",
            F.expr(
                "((2 * n_docs - 2 * df + 1) * 1000000 div (2 * df + 1))"
                " * 44 * tf * w_total"
                " div (20 * tf * w_total + 6 * w_total + 18 * dl * n_docs)"
            ).alias("term_score"),
        )
    )


def bm25_scores_terms_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: DataFrame,
    docs: DataFrame | None = None,
) -> DataFrame:
    """(id, score) like :func:`bm25_scores`, but the query's term set
    arrives as a one-column DataFrame ``(term)`` broadcast-joined into
    the postings instead of a literal array — so operators that DERIVE
    the term set (pseudo-relevance-feedback expansion) stay fully
    declarative with no driver-side collect between passes.  Identical
    integer scoring to bm25_term_scores; ``docs`` optionally supplies a
    pre-tokenized ``(id, words)`` frame (the PRF sharing hook)."""
    if docs is None:
        docs = df.select(
            F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("words"))
    lens = docs.select("id", F.size("words").cast("long").alias("dl"))
    totals = lens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("w_total"),
    )
    tf = (
        docs.select("id", F.explode("words").alias("term"))
        .join(F.broadcast(terms.select("term").distinct()), "term")
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "id")
        .crossJoin(F.broadcast(totals))
        .select(
            "id",
            F.expr(
                "((2 * n_docs - 2 * df + 1) * 1000000 div (2 * df + 1))"
                " * 44 * tf * w_total"
                " div (20 * tf * w_total + 6 * w_total + 18 * dl * n_docs)"
            ).alias("term_score"),
        )
        .groupBy("id")
        .agg(F.sum("term_score").cast("long").alias("score"))
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    docs: DataFrame | None = None,
) -> DataFrame:
    """(id, score) for every document matching at least one query term:
    the exhaustive sum over bm25_term_scores."""
    return (
        bm25_term_scores(df, id_col, text_col, query_terms, docs=docs)
        .groupBy("id")
        .agg(F.sum("term_score").cast("long").alias("score"))
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 20,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query: (id, score) with exact
    integer scores, ties broken by id — a TakeOrderedAndProject over
    bm25_scores, never a full sort."""
    return (
        bm25_scores(df, id_col, text_col, query_terms, docs=docs)
        .orderBy(F.desc("score"), "id")
        .limit(k)
    )


def _maxscore_parts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int,
) -> dict[str, DataFrame]:
    """The MaxScore (Turtle & Flood 1995) pruning pieces, re-expressed
    as a two-pass batch plan.  Returned parts (tests assert on the
    intermediate ones; maxscore_topk consumes ``final``):

      ``ts``         probed postings (id, term, term_score), persisted
                     once — the four consumers below reuse it, exactly
                     as a serving node reuses the postings it read;
      ``ub``         per-term score upper bound (|q| rows);
      ``theta``      1-row safe threshold: the k-th best FULL score
                     among docs containing the single highest-UB term —
                     a subset of all matches, so a LOWER bound on the
                     true k-th best (−1 when that subset has < k docs,
                     disabling pruning);
      ``essential``  terms whose ascending-UB cumulative sum reaches
                     theta.  A doc containing only non-essential terms
                     scores <= max nonessential cum < theta, and the
                     true k-th best is >= theta, so pruning it is safe
                     even under the (score DESC, id ASC) tie-break —
                     the inequality against theta is strict;
      ``cand``       doc ids containing >= 1 essential term;
      ``final``      exhaustive rescoring of candidates only, top-k.

    Everything stays plan-side: theta flows through a broadcast cross
    join, never a driver collect, so one Spark job serves many queries
    by unioning their plans.  At 10^10-doc scale the wins compound: the
    candidate semi-join replaces a full groupBy over every posting of
    every low-impact term with one over the essential subset."""
    ts = bm25_term_scores(df, id_col, text_col, query_terms).localCheckpoint()
    ub = ts.groupBy("term").agg(F.max("term_score").alias("ub"))

    top_term = ub.orderBy(F.desc("ub"), "term").limit(1).select("term")
    seed_scores = (
        ts.join(
            ts.join(F.broadcast(top_term), "term", "left_semi").select("id"),
            "id",
            "left_semi",
        )
        .groupBy("id")
        .agg(F.sum("term_score").cast("long").alias("score"))
    )
    theta = (
        seed_scores.orderBy(F.desc("score"), "id")
        .limit(k)
        .agg(
            F.when(F.count(F.lit(1)) >= k, F.min("score"))
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("theta")
        )
    )

    w = Window.orderBy(F.asc("ub"), F.desc("term")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = ub.select("term", "ub", F.sum("ub").over(w).alias("cum"))
    essential = (
        cum.crossJoin(F.broadcast(theta))
        .filter(F.col("cum") >= F.col("theta"))
        .select("term")
    )
    cand = ts.join(F.broadcast(essential), "term", "left_semi").select("id").distinct()
    final = (
        ts.join(cand, "id", "left_semi")
        .groupBy("id")
        .agg(F.sum("term_score").cast("long").alias("score"))
        .orderBy(F.desc("score"), "id")
        .limit(k)
    )
    return {
        "ts": ts,
        "ub": ub,
        "theta": theta,
        "essential": essential,
        "cand": cand,
        "final": final,
    }


def maxscore_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Top-k under MaxScore pruning — provably EQUAL to bm25_topk's
    exhaustive ranking (see _maxscore_parts for the safety argument);
    the driver oracle is therefore the exhaustive SQL ranking, so the
    gate verifies the pruning logic never drops a true top-k doc."""
    return _maxscore_parts(df, id_col, text_col, query_terms, k)["final"]


def blockmax_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    chunk_range: int = 1 << 20,
) -> DataFrame:
    """Block-Max WAND first-level pruning evidence (Ding & Suel, SIGIR
    2011): per (query term, posting chunk), the BLOCK MAX term score
    and whether the chunk is provably skippable at the final top-k
    threshold.

    BMW stores, next to each posting chunk (the same ``id div
    chunk_range`` key as :func:`postings_chunks`), the maximum term
    score inside it.  A chunk can be skipped when even its most
    optimistic document — block max here plus the GLOBAL max of every
    other query term — cannot reach the heap threshold theta (the
    k-th best exhaustive score): ``block_max + (g_sum - g_max) <
    theta``.  The pruning is safe by construction (upper bound >= any
    achievable score in the chunk), so the skip fraction is pure
    bookkeeping the exhaustive oracle can re-derive.

    Shapes: term scores ride :func:`bm25_term_scores` (one keyed
    shuffle family); block maxima are one (term, chunk_no) hash agg
    with map-side combine; global maxima and theta are 1-row/≤|q|-row
    broadcasts.  Nothing new shuffles at corpus scale.

    Output: (term, chunk_no, df_chunk, block_max, upper_bound,
    skippable) — skippable an exact 0/1 long.
    """
    ts = bm25_term_scores(df, id_col, text_col, query_terms)
    blocks = ts.groupBy(
        "term", F.expr(f"id div {int(chunk_range)}").alias("chunk_no")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("df_chunk"),
        F.max("term_score").cast("long").alias("block_max"),
    )
    gmax = ts.groupBy("term").agg(
        F.max("term_score").cast("long").alias("g_max"))
    gsum = gmax.agg(F.sum("g_max").cast("long").alias("g_sum"))
    theta = (
        ts.groupBy("id").agg(F.sum("term_score").cast("long").alias("s"))
        .orderBy(F.desc("s"), "id").limit(k)
        .agg(F.min("s").cast("long").alias("theta"))
    )
    return (
        blocks.join(F.broadcast(gmax), "term")
        .crossJoin(F.broadcast(gsum))
        .crossJoin(F.broadcast(theta))
        .select(
            "term", "chunk_no", "df_chunk", "block_max",
            (F.col("block_max") + F.col("g_sum") - F.col("g_max"))
            .cast("long").alias("upper_bound"),
            (F.col("block_max") + F.col("g_sum") - F.col("g_max")
             < F.col("theta")).cast("long").alias("skippable"),
        )
    )


def merge_postings(
    base: DataFrame, delta_docs: DataFrame, removed_ids: DataFrame,
    id_col: str = "id", text_col: str = "text",
) -> DataFrame:
    """Incremental index maintenance: fold a refetch round's changed
    docs and removals into an existing (term, id, tf) index without
    re-tokenizing the unchanged corpus.

    The continuous-crawl loop (snapshot diff -> refetch queue ->
    re-extraction, plans/crawl.run_refetch) yields exactly these two
    inputs: ``delta_docs`` = re-fetched documents (their OLD postings
    are stale in ``base``), ``removed_ids`` = URLs that disappeared.
    Semantics: every posting of a delta/removed id is dropped from the
    base, then the delta docs' fresh postings are unioned in — i.e.
    per-document replacement, the same contract as the reindex sink's
    typed upsert (plans/upload.py) but for the search index.

    Scale shape: ONE id-keyed left_anti join against the (small)
    delta+removed id set — broadcast when it fits, never a shuffle of
    the full base on a 10^10-posting index with runtime bloom pruning
    on (spark.sql.optimizer.runtime.bloomFilter, session.py) — plus
    inverted_postings over only the delta docs. No windows; the
    output is the same (term, id, tf) shape, so postings_chunks /
    bm25_topk consume it unchanged.
    """
    stale = (
        delta_docs.select(F.col(id_col).alias("id"))
        .unionByName(removed_ids.select(F.col(id_col).alias("id")))
        .distinct()
    )
    kept = base.join(F.broadcast(stale), "id", "left_anti")
    fresh = inverted_postings(delta_docs, id_col, text_col)
    return kept.unionByName(fresh)


def retrieval_metrics(
    ranked: DataFrame, qrels: DataFrame, k: int = 10
) -> DataFrame:
    """Exact-integer retrieval evaluation over a ranked run:
    ``(query_id, n_rel, n_hits_at_k, first_rank, rr_ppm,
    recall_at_k_ppm)`` per query.

    ``ranked`` = (query_id, id, rank) from bm25_topk / ANN top-k;
    ``qrels`` = (query_id, id) relevance judgments.  rr_ppm =
    10^6 div first relevant rank (reciprocal rank; 0 when nothing
    relevant was retrieved), recall_at_k_ppm = hits in the top-k per
    10^6 div the query's judged-relevant count — all floor divisions,
    so MRR/recall aggregates are bit-identical cross-engine.

    Scale shape: judgment sets are small by construction — qrels
    broadcast into ONE equi-join on (query_id, id), then a
    query-keyed hash agg; per-query totals ride a second broadcast
    join.  No windows (first_rank is a MIN, not a row_number).
    """
    totals = qrels.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = (
        ranked.filter(F.col("rank") <= k)
        .join(F.broadcast(qrels), ["query_id", "id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits_at_k"),
            F.min("rank").alias("first_rank"),
        )
    )
    return (
        totals.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id", "n_rel",
            F.coalesce(F.col("n_hits_at_k"), F.lit(0)).alias("n_hits_at_k"),
            "first_rank",
            F.coalesce(F.expr("1000000 div first_rank"), F.lit(0)).alias("rr_ppm"),
            F.expr("coalesce(n_hits_at_k, 0) * 1000000 div n_rel")
            .alias("recall_at_k_ppm"),
        )
    )


def bm25f_topk(
    docs: DataFrame,
    anchors: DataFrame,
    id_col: str,
    text_col: str,
    anchor_col: str,
    query_terms: list[str],
    w_anchor: int = 3,
    k: int = 20,
) -> DataFrame:
    """Field-weighted retrieval (BM25F in the simplified
    weighted-term-frequency form of Zaragoza et al., CIKM 2004): a
    term hit in ANCHOR TEXT pointing at a page is worth ``w_anchor``
    body hits — the web-ranking signal body-only BM25 can't see (the
    page that everyone links as 'spark table docs' may barely say so
    itself).  tf' = tf_body + w_anchor * tf_anchor feeds the SAME
    exact-integer BM25 kernel as :func:`bm25_topk` (k1=1.2, b=0.75,
    length-normalized by BODY length; df = docs matching in either
    field).  Shapes: two tf aggregates, one outer join on (id, term),
    broadcast df/totals — one keyed shuffle family, no new scale risk.
    """
    from biothings_crawler_spark.operators.text import words_col

    body = docs.select(F.col(id_col).alias("id"),
                       words_col(F.col(text_col)).alias("words"))
    lens = body.select("id", F.size("words").cast("long").alias("dl"))
    totals = lens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("w_total"))

    terms = F.array(*[F.lit(t) for t in query_terms])

    def field_tf(df: DataFrame, col: Column, name: str) -> DataFrame:
        return (df.select(F.col(id_col).alias("id"),
                          F.explode(words_col(col)).alias("term"))
                .filter(F.array_contains(terms, F.col("term")))
                .groupBy("id", "term")
                .agg(F.count(F.lit(1)).cast("long").alias(name)))

    tfb = field_tf(docs, F.col(text_col), "tfb")
    tfa = field_tf(anchors, F.col(anchor_col), "tfa")
    tfw = (tfb.join(tfa, ["id", "term"], "full")
           .select("id", "term",
                   (F.coalesce("tfb", F.lit(0))
                    + w_anchor * F.coalesce("tfa", F.lit(0)))
                   .cast("long").alias("tf")))
    dfreq = tfw.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        tfw.join(F.broadcast(dfreq), "term")
        .join(lens, "id")  # anchor-only docs outside the corpus drop here
        .crossJoin(F.broadcast(totals))
        .select(
            "id",
            F.expr(
                "((2 * n_docs - 2 * df + 1) * 1000000 div (2 * df + 1))"
                " * 44 * tf * w_total"
                " div (20 * tf * w_total + 6 * w_total + 18 * dl * n_docs)"
            ).alias("term_score"))
        .groupBy("id")
        .agg(F.sum("term_score").cast("long").alias("score")))
    return scored.orderBy(F.desc("score"), "id").limit(k)


def ql_dirichlet_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    mu: int = 2000,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood scores (Zhai & Lafferty
    2001) — the language-model companion to BM25 over the same
    (term, id, tf) index plane, exact in lg-fxp units (the integer
    floor(65536*log2 x) recurrence from functions/fxp, so the rank
    order is cross-engine verifiable like BM25's rational scores).

    The smoothed per-term likelihood (tf + mu*cf/C) / (dl + mu) is
    scored in the candidate-doc decomposition, every lg floored
    individually (the oracle must replay the SAME decomposition —
    floored lgs do not re-associate):

        score = sum_{w in Q and d} [lg(tf*C + mu*cf_w) - lg(mu*cf_w)]
              + sum_{w in Q'} lg(mu*cf_w)  -  |Q'|*(lg C + lg(dl+mu))

    with C = collection token count, cf_w = collection frequency, and
    Q' = query terms present in the collection (cf = 0 terms carry no
    evidence for any document and are dropped, the standard
    convention). Docs matching no query term never enter the ranking.

    Scale shape mirrors bm25_topk: the query-term filter lands before
    the tf aggregation (k postings lists, not the corpus), cf/C and
    the query constant are one tiny broadcast row, and the top-k is a
    TakeOrderedAndProject. Integer bound: tf*C + mu*cf <= (tf_max +
    mu)*C must stay under 2^46 for the lg recurrence — at 10^12
    collection tokens, pre-scale C and cf by a common 2^s shift (the
    ratio cf/C is what the score depends on, up to a per-query
    constant that cancels in ranking)."""
    m = int(mu)
    if docs is None:
        docs = df.select(
            F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("words")
        )
    lens = docs.select("id", F.size("words").cast("long").alias("dl"))
    terms = F.array(*[F.lit(t) for t in query_terms])
    occ = docs.select("id", F.explode("words").alias("term")).filter(
        F.array_contains(terms, F.col("term"))
    )
    tf = occ.groupBy("id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    cfreq = occ.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("cf")
    )
    coll = docs.select(F.explode("words").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("c_total")
    )
    # one-row query constant: sum lg(mu*cf_w) over present terms + |Q'|
    qconst = cfreq.crossJoin(F.broadcast(coll)).agg(
        F.sum(F.expr(ilog2_fxp_spark(f"{m} * cf"))).cast("long").alias("k_fxp"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.first("c_total").alias("c_total"),
    )
    matched = (
        tf.join(F.broadcast(cfreq), "term")
        .crossJoin(F.broadcast(coll))
        .select(
            "id",
            (
                F.expr(ilog2_fxp_spark(f"tf * c_total + {m} * cf"))
                - F.expr(ilog2_fxp_spark(f"{m} * cf"))
            ).cast("long").alias("gain_fxp"),
        )
        .groupBy("id")
        .agg(F.sum("gain_fxp").cast("long").alias("match_fxp"))
    )
    return (
        matched.join(lens, "id")
        .crossJoin(F.broadcast(qconst))
        .select(
            "id",
            (
                F.col("match_fxp") + F.col("k_fxp")
                - F.col("n_terms") * (
                    F.expr(ilog2_fxp_spark("c_total"))
                    + F.expr(ilog2_fxp_spark(f"dl + {m}"))
                )
            ).cast("long").alias("score_fxp"),
        )
    )


def ql_dirichlet_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    mu: int = 2000,
    k: int = 20,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Top-k over :func:`ql_dirichlet_scores` — (score desc, id) as a
    TakeOrderedAndProject, never a full sort."""
    scored = ql_dirichlet_scores(df, id_col, text_col, query_terms, mu,
                                 docs=docs)
    return scored.orderBy(F.desc("score_fxp"), "id").limit(k)


def prune_postings_topn(
    scored: DataFrame,
    keep_n: int,
    salt_target: int = 100_000,
    max_salt: int = 4096,
) -> DataFrame:
    """Static impact-ordered index pruning (Carmel et al. 2001): keep
    only each term's ``keep_n`` highest-impact postings — the offline
    index-build step that trades a bounded index size for (empirically
    tiny) tail-rank error; the pytest evidence measures top-k overlap
    against the unpruned ranking.

    Input ``(term, id, term_score)`` (bm25_term_scores shape or a
    precomputed impact plane). Exact and skew-proof: per-term top-N
    done as the politeness plane's TWO-PHASE SALTED selection — a hot
    term with 10^8 postings never lands in one window task; phase 1
    ranks within (term, salt buckets sized by the term's posting
    count) keeping N per bucket (can never lose a true top-N row),
    phase 2 ranks the <= salt_n*N survivors. Deterministic order
    (term_score desc, id asc)."""
    counts = scored.groupBy("term").agg(F.count(F.lit(1)).alias("n_post"))
    plan = counts.select(
        "term",
        F.least(
            F.greatest(F.ceil(F.col("n_post") / F.lit(salt_target)), F.lit(1)),
            F.lit(max_salt),
        ).cast("int").alias("salt_n"),
    )
    order = [F.desc("term_score"), F.asc("id")]
    cand = scored.join(F.broadcast(plan), "term").withColumn(
        "salt", F.pmod(F.xxhash64("id"), F.col("salt_n"))
    )
    w1 = Window.partitionBy("term", "salt").orderBy(*order)
    phase1 = (
        cand.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= keep_n)
        .drop("__r1", "salt", "salt_n")
    )
    w2 = Window.partitionBy("term").orderBy(*order)
    return (
        phase1.withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= keep_n)
        .drop("__r2")
    )


def pruned_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    keep_n: int,
    k: int = 20,
) -> DataFrame:
    """Ranked retrieval over the statically pruned index: bm25 term
    scores -> per-term top-``keep_n`` prune -> per-doc sum -> top-k.
    A doc's score uses only the postings that SURVIVED pruning (the
    whole point: the dropped tail never gets read at query time)."""
    pruned = prune_postings_topn(
        bm25_term_scores(df, id_col, text_col, query_terms), keep_n
    )
    return (
        pruned.groupBy("id")
        .agg(F.sum("term_score").cast("long").alias("score"))
        .orderBy(F.desc("score"), "id")
        .limit(k)
    )


def ltr_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    mu: int = 2000,
) -> DataFrame:
    """Learning-to-rank feature table for one query — the training
    input an MSLR-style ranker consumes, assembled from this module's
    retrieval planes so every feature is integer-exact and
    cross-engine verifiable: per candidate document (>= 1 matching
    term) returns

      (id, n_matched, tf_total, dl, bm25_score, ql_fxp)

    where bm25_score is the summed rational-integer BM25, ql_fxp the
    Dirichlet query-likelihood in lg-fxp units, dl the doc length,
    tf_total the summed query-term frequency and n_matched the count
    of distinct matching terms.  Shape: the two scorers share one
    candidate set; each is hash-agg + broadcast stats (see their
    docstrings); the final assembly is two equi-joins on id — at
    scale, candidates of ONE query are a small fraction of the corpus,
    so the joins are candidate-sized, never corpus-sized."""
    bm = (
        bm25_term_scores(df, id_col, text_col, query_terms)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.sum("term_score").cast("long").alias("bm25_score"),
        )
    )
    docs = df.select(
        F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("words")
    )
    lens = docs.select("id", F.size("words").cast("long").alias("dl"))
    terms = F.array(*[F.lit(t) for t in query_terms])
    tfs = (
        docs.select("id", F.explode("words").alias("term"))
        .filter(F.array_contains(terms, F.col("term")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf_total"))
    )
    ql = ql_dirichlet_scores(
        df, id_col, text_col, query_terms, mu=mu
    ).withColumnRenamed("score_fxp", "ql_fxp")
    return (
        bm.join(tfs, "id")
        .join(lens, "id")
        .join(ql, "id")
        .select("id", "n_matched", "tf_total", "dl", "bm25_score", "ql_fxp")
    )


def query_clarity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    mu: int = 2000,
    fb_k: int = 10,
) -> DataFrame:
    """Query clarity score (Cronen-Townsend et al. 2002) — query
    performance PREDICTION: the KL divergence between the language
    model of the query's top-``fb_k`` retrieved documents and the
    collection model. Unambiguous queries retrieve a focused slice
    whose term distribution diverges sharply from the collection
    (high clarity); queries that retrieve "more of the same" score
    near zero — the broker-side signal for triggering PRF, query
    rewriting, or shard re-routing without relevance labels.

    Exact integers: with tf_fb(w) the term counts over the feedback
    docs, L their total, cf(w)/C the collection model,

        clarity_fxp = sum_w tf_fb(w) * (lg(tf_fb(w)*C) - lg(L*cf(w)))

    which is L*KL in lg-fxp units (every floor replayed by the
    oracle); the per-token rate divides by L. Returns ONE row
    ``(n_fb_docs, fb_tokens, clarity_fxp, clarity_tok_fxp)``.

    Shape: the feedback set is a TakeOrdered k-row slice joined back
    to the corpus (semi-join, candidate-sized), its vocabulary one
    hash agg, the collection stats one corpus hash agg joined on the
    feedback vocabulary only. No windows, no Python."""
    # tokenize the corpus ONCE (eager checkpoint) — the QL ranking and
    # the clarity models otherwise each re-run the words_col pass
    # (~6 evaluations measured); at 10^10 rows this is the token table
    # a serving index materializes anyway (the prf_search discipline)
    docs = df.select(
        F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("words")
    ).localCheckpoint(eager=True)
    fb_ids = ql_dirichlet_topk(
        df, id_col, text_col, query_terms, mu=mu, k=fb_k, docs=docs
    ).select("id")
    coll_occ = docs.select(F.explode("words").alias("w"))
    coll = coll_occ.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("cf")
    )
    c_total = coll_occ.agg(F.count(F.lit(1)).cast("long").alias("c_total"))
    fb_tf = (
        docs.join(F.broadcast(fb_ids), "id", "left_semi")
        .select(F.explode("words").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf_fb"))
    )
    fb_len = fb_tf.agg(F.sum("tf_fb").cast("long").alias("fb_len"))
    per_term = (
        fb_tf.join(coll, "w")
        .crossJoin(F.broadcast(c_total))
        .crossJoin(F.broadcast(fb_len))
        .selectExpr(
            f"""tf_fb * (({ilog2_fxp_spark('tf_fb * c_total')})
                         - ({ilog2_fxp_spark('fb_len * cf')})) AS kl_fxp""",
            "fb_len",
        )
    )
    n_fb = fb_ids.agg(F.count(F.lit(1)).cast("long").alias("n_fb_docs"))
    return (
        per_term.groupBy("fb_len")
        .agg(
            # Gibbs: true KL >= 0; per-term floors can shave the sum a
            # hair below zero on a degenerate feedback set, and the two
            # engines floor negative division differently - clamp at 0
            F.greatest(F.sum("kl_fxp"), F.lit(0))
            .cast("long").alias("clarity_fxp"))
        .crossJoin(F.broadcast(n_fb))
        .selectExpr(
            "n_fb_docs",
            "cast(fb_len AS bigint) AS fb_tokens",
            "clarity_fxp",
            "clarity_fxp div fb_len AS clarity_tok_fxp",
        )
    )


def dictionary_frontcoding_report(
    postings: DataFrame, block: int = 16
) -> DataFrame:
    """Term-DICTIONARY storage accounting under front coding — the
    third leg of the index-storage trio (varint postings, Elias-Fano
    doc ids, and now the term dictionary): consecutive sorted terms
    share long prefixes, so each block of ``block`` terms stores its
    head in full and every follower as (lcp byte, suffix) — the
    classic Lucene/PISA dictionary layout. Returns per block

        (pfx, block_no, n_terms, raw_bytes, packed_bytes, savings_ppm)

    with raw = 1 length byte + full term per entry, packed = head +
    per-follower 2 control bytes + the lcp-stripped suffix. Exact
    char arithmetic (fixture terms are ASCII words; multi-byte
    charsets would count code points — documented, not a correctness
    lane).

    Scale shape: the vocabulary is orders of magnitude smaller than
    the corpus, and the sort windows are PARTITIONED by the term's
    2-char prefix (blocks never cross a prefix group — front coding
    restarts at block heads anyway), so no single task ever owns the
    whole dictionary. LCP against the predecessor is one row-local
    integer fold."""
    vocab = postings.select("term").distinct().withColumn(
        "pfx", F.expr("substring(term, 1, 2)")
    )
    w = Window.partitionBy("pfx").orderBy("term")
    seq = vocab.withColumn("rn", F.row_number().over(w)).withColumn(
        "prev", F.lag("term").over(w)
    )
    lcp = F.expr(
        "CASE WHEN prev IS NULL THEN 0L ELSE "
        "aggregate(sequence(1, least(length(term), length(prev))), 0L, "
        "(acc, i) -> CASE WHEN acc = i - 1 "
        "AND substring(term, i, 1) = substring(prev, i, 1) "
        "THEN cast(i as bigint) ELSE acc END) END"
    )
    staged = seq.select(
        "pfx",
        F.expr(f"(rn - 1) div {int(block)}").cast("long").alias("block_no"),
        F.expr(f"(rn - 1) % {int(block)} = 0").alias("is_head"),
        F.length("term").cast("long").alias("tlen"),
        lcp.cast("long").alias("lcp"),
    )
    return (
        staged.groupBy("pfx", "block_no")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(F.lit(1) + F.col("tlen")).cast("long").alias("raw_bytes"),
            F.sum(
                F.when(F.col("is_head"), F.lit(1) + F.col("tlen"))
                .otherwise(F.lit(2) + F.col("tlen") - F.col("lcp"))
            ).cast("long").alias("packed_bytes"),
        )
        .withColumn(
            "savings_ppm",
            F.expr("(raw_bytes - packed_bytes) * 1000000 div raw_bytes"),
        )
    )


def ndcg_at_k(
    ranked: DataFrame, qrels: DataFrame, k: int = 10
) -> DataFrame:
    """Exact-integer graded nDCG@k — the evaluation metric the
    reciprocal-rank/recall report (retrieval_metrics) lacks: DCG's
    1/log2(rank+1) discount is the one place eval usually goes
    transcendental, and the fixed-point lg makes it exact:

        dcg_fxp  = sum over retrieved relevant at rank r <= k of
                   rel * 10^12 div lg_fxp(r + 1)
        idcg_fxp = the same sum over the query's qrels sorted by
                   (rel desc, id) at ranks 1..k
        ndcg_ppm = dcg_fxp * 10^6 div idcg_fxp

    (floored lg in the denominator — bit-identical across engines;
    a *floored-discount* DCG, monotone-equivalent to the textbook
    value at every practical depth). ``qrels`` = (query_id, id, rel)
    graded judgments.

    Scale shape: qrels are broadcast-small by construction; the run
    join is one broadcast equi-join + a query-keyed hash agg; the
    ideal ordering is a window over each query's judgments only."""
    disc = f"rel * 1000000000000 div ({ilog2_fxp_spark('rank + 1')})"
    dcg = (
        ranked.filter(F.col("rank") <= k)
        .join(F.broadcast(qrels), ["query_id", "id"])
        .selectExpr("query_id", f"{disc} AS g")
        .groupBy("query_id")
        .agg(F.sum("g").cast("long").alias("dcg_fxp"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), "id")
    ideal = (
        qrels.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .selectExpr("query_id", f"{disc} AS g")
        .groupBy("query_id")
        .agg(F.sum("g").cast("long").alias("idcg_fxp"))
    )
    return (
        ideal.join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("dcg_fxp", F.lit(0)).cast("long").alias("dcg_fxp"),
            "idcg_fxp",
            F.expr("coalesce(dcg_fxp, 0L) * 1000000 div idcg_fxp")
            .cast("long").alias("ndcg_ppm"),
        )
    )


def map_at_k(
    ranked: DataFrame, qrels: DataFrame, k: int = 10
) -> DataFrame:
    """Exact mean-average-precision companion to :func:`ndcg_at_k` —
    AP is purely rational (no discount log): per query,

        ap_ppm = (sum over relevant hits at rank r of
                  hits_so_far(r) * 10^6 div r) div n_rel

    binary relevance (any rel > 0 counts). The per-hit cumulative
    count is a window over each query's <= k HIT rows (qrels-bounded,
    never the corpus).  Returns (query_id, n_rel, n_hits, ap_ppm)."""
    rel = qrels.filter(F.col("rel") > 0).select("query_id", "id")
    totals = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rel")
    )
    hits = ranked.filter(F.col("rank") <= k).join(
        F.broadcast(rel), ["query_id", "id"]
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    per = (
        hits.withColumn("cum", F.count(F.lit(1)).over(w))
        .selectExpr("query_id", "cum * 1000000 div rank AS p_at_r")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.sum("p_at_r").cast("long").alias("sum_p"),
        )
    )
    return (
        totals.join(per, "query_id", "left")
        .selectExpr(
            "query_id", "n_rel",
            "coalesce(n_hits, 0L) AS n_hits",
            "coalesce(sum_p, 0L) div n_rel AS ap_ppm",
        )
    )


def err_at_k(
    ranked: DataFrame, qrels: DataFrame, k: int = 10, g_max: int = 3
) -> DataFrame:
    """Exact Expected Reciprocal Rank (Chapelle et al. 2009) — the
    cascade-model metric completing the eval family (RR, recall,
    nDCG, MAP, Kendall): a user scans down the ranking and stops at a
    document with probability R_r = (2^g - 1) / 2^g_max;
    ERR = sum_r (1/r) * R_r * prod_{i<r}(1 - R_i).

    Exact integers: with D = 2^g_max the fold carries survival
    probability p in ppm and accumulates ERR in ppb —

        err += p * (2^g - 1) * 1000 div (D * r);  p' = p * (D - (2^g - 1)) div D

    every step floored identically in the DuckDB twin (which packs
    (p, err) into one BIGINT accumulator, p * 10^10 + err, since
    list_reduce is only row-count-sound with scalar state).

    Shape: the run joins broadcast qrels, each query's <= k
    (rank, grade) rows collect into a BOUNDED ordered array, and the
    fold is row-local. Returns (query_id, n_graded, err_ppb)."""
    d = 1 << int(g_max)
    graded = (
        ranked.filter(F.col("rank") <= k)
        .join(F.broadcast(qrels), ["query_id", "id"], "left")
        .select(
            "query_id", "rank",
            F.coalesce("rel", F.lit(0)).cast("long").alias("g"),
        )
    )
    per = graded.groupBy("query_id").agg(
        F.array_sort(F.collect_list(F.struct("rank", "g"))).alias("rs"),
        F.sum((F.col("g") > 0).cast("long")).cast("long").alias("n_graded"),
    )
    # integer-exact fold as SQL text: Spark's Column `/` is DOUBLE
    # division, unusable past 2^53 — `div` keeps every step in int64
    step = (
        f"((acc div 10000000000) * ({d} - (shiftleft(1L, cast(s.g as int)) - 1))"
        f" div {d}) * 10000000000"
        f" + acc % 10000000000"
        f" + ((acc div 10000000000) * (shiftleft(1L, cast(s.g as int)) - 1)"
        f" * 1000 div ({d} * s.rank))"
    )
    fold = F.expr(
        f"aggregate(rs, {10**10 * 10**6}L, (acc, s) -> cast(({step}) as bigint))"
    )
    return per.select(
        "query_id",
        "n_graded",
        (fold % F.lit(10**10)).cast("long").alias("err_ppb"),
    )


SHARD_BLOOM_M = 1024
SHARD_BLOOM_K = 3


def shard_term_blooms(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shard_col: str,
    m_bits: int = SHARD_BLOOM_M,
    k_hashes: int = SHARD_BLOOM_K,
) -> DataFrame:
    """Per-shard term-membership bloom bits — the term-space zone map
    a sharded index consults BEFORE fanning a query out (CORI,
    operators/serving, routes by score mass; this is the cheaper hard
    filter: a shard whose bloom misses any query-term bit cannot
    contain that term at all, so conjunctive queries skip it with zero
    I/O and NO false negatives by construction).

    Representation is the SPARSE exact form — one (shard, bit) row per
    set bit — which is what a cross-engine oracle can verify
    bit-for-bit; packing to m_bits/64 longs per shard is a storage
    projection on top (one groupBy(shard), documented, not part of
    the verified contract).

    Scale shape: distinct (shard, term) is one hash agg over the
    corpus; bits explode ×k off the DISTINCT pairs (bounded by
    vocabulary × shards, not by corpus rows); final distinct
    (shard, bit) is a second hash agg.  No windows, no joins."""
    pairs = docs.select(
        F.col(shard_col).alias("shard"),
        F.explode(words_col(F.col(text_col))).alias("term"),
    ).distinct()
    bits = pairs.select(
        "shard",
        F.explode(F.array(*[
            (F.conv(F.substring(F.md5(
                F.concat(F.lit(f"{h}:"), F.col("term"))), 1, 8), 16, 10)
             .cast("long") % m_bits)
            for h in range(k_hashes)
        ])).alias("bit"),
    ).distinct()
    return bits


def shard_skip_report(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shard_col: str,
    query_terms: list[str],
    m_bits: int = SHARD_BLOOM_M,
    k_hashes: int = SHARD_BLOOM_K,
) -> DataFrame:
    """Conjunctive-query shard pruning with its own safety audit:
    (shard, candidate, truth) where candidate = every query term's
    every bloom bit is set in the shard, truth = the shard REALLY
    contains every query term.  The bloom guarantee (truth = 1 implies
    candidate = 1) is structural; the report exposes the false-positive
    shards a real planner would still scan."""
    import hashlib

    blooms = shard_term_blooms(docs, id_col, text_col, shard_col,
                               m_bits, k_hashes)
    qbits = [
        (t, h,
         int(hashlib.md5(f"{h}:{t}".encode()).hexdigest()[:8], 16) % m_bits)
        for t in query_terms for h in range(k_hashes)
    ]
    spark = docs.sparkSession
    qdf = spark.createDataFrame(
        [(b,) for _, _, b in qbits], "bit long").distinct()
    n_qbits = qdf.count()
    cand = (
        blooms.join(F.broadcast(qdf), "bit", "left_semi")
        .groupBy("shard")
        .agg(F.countDistinct("bit").cast("long").alias("n_hit"))
        .withColumn("candidate",
                    F.when(F.col("n_hit") == n_qbits, F.lit(1))
                    .otherwise(F.lit(0)).cast("long"))
    )
    present = docs.select(
        F.col(shard_col).alias("shard"),
        F.explode(words_col(F.col(text_col))).alias("term"),
    ).distinct().filter(
        F.col("term").isin(*query_terms)
    ).groupBy("shard").agg(
        F.countDistinct("term").cast("long").alias("n_terms"))
    truth = present.withColumn(
        "truth",
        F.when(F.col("n_terms") == len(query_terms), F.lit(1))
        .otherwise(F.lit(0)).cast("long"))
    shards = docs.select(F.col(shard_col).alias("shard")).distinct()
    return (
        shards
        .join(cand.select("shard", "n_hit", "candidate"), "shard", "left")
        .join(truth.select("shard", "truth"), "shard", "left")
        .select(
            "shard",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.coalesce("candidate", F.lit(0)).cast("long")
            .alias("candidate"),
            F.coalesce("truth", F.lit(0)).cast("long").alias("truth"),
        )
    )
