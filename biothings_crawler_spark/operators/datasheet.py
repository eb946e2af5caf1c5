"""Corpus datasheet: the composition report a training-data release
ships alongside the parquet ("Datasheets for Datasets", Gebru et al.
2018; the Pile/Dolma papers publish exactly this table).

The reference has no analogue — its corpus is one source at a time and
a human eyeballs counts in Kibana (reference ``hub/api`` stats
endpoints).  A 100-TB corpus needs the composition table computed *by
the engine*: per (lang, source) stratum, how many documents, what
share of the corpus, how many tokens, how short-doc-heavy.

Shape: one projection (token/char counts are row-local codegen
expressions — the same ``TOKEN_RE`` proxy as operators/text.py, so the
datasheet agrees with the pipeline's own token accounting), ONE hash
aggregation keyed by the stratum, then a 1-row global-totals broadcast
join (same pattern as traps.host_skew_report).  No
windows, no driver collects; the stratum domain is |langs|×|sources|-
bounded, so the final join is trivially broadcast-able at any corpus
size.  All derived ratios are exact integer parts-per-million so the
DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from biothings_crawler_spark.operators.text import token_count_col


def corpus_datasheet(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
    short_chars: int = 200,
) -> DataFrame:
    """Per-(lang, source) composition table: ``(lang, source, n_docs,
    share_ppm, total_tokens, avg_tokens_ppm, total_chars,
    short_docs_ppm)``.

    * ``share_ppm``      — stratum's share of all documents, ppm.
    * ``avg_tokens_ppm`` — mean tokens per document ×10^6 (floor
      division — exact, so "12.345678 tokens/doc" survives the oracle
      hash).
    * ``short_docs_ppm`` — fraction of the stratum under
      ``short_chars`` characters, ppm: the boilerplate/stub-page
      warning light.
    """
    per_doc = docs.select(
        F.col(lang_col).alias("lang"),
        F.col(source_col).alias("source"),
        token_count_col(F.col(text_col)).cast("long").alias("n_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
        (F.length(text_col) < short_chars).cast("long").alias("is_short"),
    )
    strata = per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("is_short").alias("n_short"),
    )
    totals = strata.agg(F.sum("n_docs").alias("total_docs"))
    return (
        strata.join(F.broadcast(totals))
        .select(
            "lang", "source", "n_docs",
            F.expr("n_docs * 1000000 div total_docs").alias("share_ppm"),
            "total_tokens",
            F.expr("total_tokens * 1000000 div n_docs").alias("avg_tokens_ppm"),
            "total_chars",
            F.expr("n_short * 1000000 div n_docs").alias("short_docs_ppm"),
        )
    )


def survival_attribution(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    allowed_langs: tuple = ("en", "de", "es", "fr"),
    lang_col: str = "lang",
    min_words: int = 10,
) -> DataFrame:
    """Per-source pipeline survival ledger: which cleaning stage kills
    which documents and tokens — the datasheet companion every corpus
    release needs ("of source X's 2.1B tokens, 40% fell to language
    ID, 5% to quality, 12% to dedup").  Attribution is FIRST-KILL:
    stages run in pipeline order (language -> quality -> exact dedup),
    a doc is charged to the first stage that drops it, and exact
    dedup elects winners only among docs that SURVIVED the earlier
    stages (deduping against already-dropped docs would misattribute).

    Shape: row-local stage flags, ONE text-keyed hash aggregation for
    the dedup winner election (min id per text over eligible docs,
    map-side combined), one broadcast-sized join back, one final
    source-keyed rollup. No windows.

    Output per source: (source, n_docs, tokens_in, killed_lang,
    killed_quality, killed_dup, survived, tokens_out,
    survival_ppm).
    """
    from biothings_crawler_spark.operators.text import words_col

    # NULLs are kills, not fall-throughs: a NULL lang or NULL text
    # must not slide past the when() ladder's three-valued logic into
    # the 'ok' branch (review finding: un-coalesced, both counted as
    # survivors)
    flags = docs.select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.coalesce(F.size(words_col(F.col(text_col))), F.lit(0))
        .cast("long").alias("tok"),
        F.coalesce(F.col(lang_col).isin(*allowed_langs), F.lit(False))
        .alias("ok_lang"),
    ).withColumn(
        "ok_quality", F.col("tok") >= min_words
    )
    eligible = flags.filter(F.col("ok_lang") & F.col("ok_quality"))
    winners = eligible.groupBy("text").agg(
        F.min("id").alias("_winner"))
    j = flags.join(winners, "text", "left")
    verdict = (
        F.when(~F.col("ok_lang"), F.lit("lang"))
        .when(~F.col("ok_quality"), F.lit("quality"))
        .when(F.col("id") != F.col("_winner"), F.lit("dup"))
        .otherwise(F.lit("ok"))
    )
    v = j.select("source", "tok", verdict.alias("v"))

    def k(name: str) -> F.Column:
        return F.sum(F.when(F.col("v") == name, 1).otherwise(0)) \
            .cast("long").alias(f"killed_{name}")

    return v.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("tokens_in"),
        k("lang"), k("quality"), k("dup"),
        F.sum(F.when(F.col("v") == "ok", 1).otherwise(0))
        .cast("long").alias("survived"),
        F.sum(F.when(F.col("v") == "ok", F.col("tok")).otherwise(0))
        .cast("long").alias("tokens_out"),
        F.expr(
            "sum(case when v = 'ok' then tok else 0 end) * 1000000"
            " div greatest(sum(tok), 1)"
        ).cast("long").alias("survival_ppm"),
    )
