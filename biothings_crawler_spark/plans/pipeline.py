"""End-to-end training-corpus cleaning plan — the C4/RefinedWeb shape,
composed from the engine's own operators in the order a pretraining
pipeline runs them:

    1. language filter        (operators/text.lang_id_col)
    2. quality filter         (operators/text.quality_score_col,
                               integer-exact q40 encoding)
    3. exact dedup            (operators/dedup.exact_dedup, min-id win)
    4. near-dup removal       (minhash_lsh_pairs -> connected
                               components -> survivor = min id)
    5. boilerplate line dedup (operators/text.line_dedup)

Everything stays one lazy DataFrame program, so Catalyst plans the
whole pipeline together (filters before shuffles, semi-joins for the
survivor sets). Scale shape: two hash-agg shuffles (fingerprint,
line count), the banded LSH self-join, and the bounded component loop
— nothing quadratic, no collect. The driver pair (q_clean_corpus)
verifies the COMPOSITION end-to-end against a single DuckDB statement,
not just each stage alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biothings_crawler_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_pairs,
)
from biothings_crawler_spark.operators.text import (
    lang_id_col,
    line_dedup,
    quality_score_col,
    token_count_col,
)


def clean_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang: str = "en",
    min_q40: int = 20,
    jaccard: float = 0.5,
    n_perm: int = 16,
    bands: int = 16,
    max_line_occ: int = 10,
    shingle_impl: str = "pandas",
) -> DataFrame:
    """documents -> cleaned corpus (id, clean_text, n_kept, n_removed,
    n_tokens). ``min_q40`` is the quality threshold on the exact
    integer encoding (score*40); default 20 = 0.5. ``bands=n_perm``
    gives 1-row LSH bands (recall ~1 at the verify threshold) — lower
    it for cheaper candidate generation at scale."""
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    q40 = F.round(quality_score_col(F.col("text")) * 40).cast("long")
    # the filtered corpus is read by five downstream consumers (dedup
    # agg, semi-join, LSH base, CC nodes, survivor join) — materialize
    # the lang/quality pass once instead of re-running it per consumer
    kept = base.filter(lang_id_col(F.col("text")) == lang).filter(
        q40 >= min_q40
    ).localCheckpoint(eager=True)

    exact_winners = exact_dedup(kept, "id", "text").select("id")
    d2 = kept.join(exact_winners, "id", "left_semi")

    pairs = minhash_lsh_pairs(
        d2, "id", "text", n_perm=n_perm, bands=bands,
        verify_threshold=jaccard, shingle_impl=shingle_impl,
    )
    comp = connected_components(pairs, d2.select("id"))
    survivors = d2.join(
        comp.filter(F.col("id") == F.col("component")).select("id"),
        "id", "left_semi",
    )

    cleaned = line_dedup(survivors, "id", "text", max_occurrences=max_line_occ)
    return cleaned.select(
        "id", "clean_text", "n_kept", "n_removed",
        token_count_col(F.col("clean_text")).cast("long").alias("n_tokens"),
    )
