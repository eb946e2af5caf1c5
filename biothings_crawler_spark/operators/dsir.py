"""DSIR-style data selection via hashed importance weights (Xie et
al. 2023, "Data Selection for Language Models via Importance
Resampling") — the targeted-curation stage of a web-text pipeline:
given a small TARGET corpus (the distribution you want more of) and
the RAW crawl, weight every raw document by how much more likely its
hashed bag-of-words is under the target's unigram model than under
the raw corpus's own, and keep the positive-evidence slice.

The reference crawler curates by source allowlist (crawler/spiders/*
pick trusted APIs); at Common-Crawl scale distribution matching
replaces the allowlist.  The published method samples with Gumbel
noise from exp(w); the cross-engine-exact stand-in here is the
deterministic core — the importance weight itself, in the same
**lg-fxp units** as :mod:`functions/fxp` (floor(65536·log2 x) via
the integer squaring recurrence), with selection as the row-local
``w_fxp > 0`` likelihood-ratio test.

Both feature distributions are Laplace-(+1)-smoothed over the SAME
V hashed buckets, so the per-bucket log-ratio table is V rows —
bounded by construction, broadcast to the scoring join no matter how
large either corpus grows.  100-TB shape: two (bucket) hash aggs
(target side is small by premise), ONE broadcast join onto the raw
side's (id, bucket, tf) features, ONE per-id hash agg.  No windows,
no Python, no floats, no global sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biothings_crawler_spark.functions.fxp import ilog2_fxp_spark
from biothings_crawler_spark.operators.text import words_col


def hashed_features(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int = 512
) -> DataFrame:
    """(id, bucket, tf) — hashed bag-of-words term frequencies.

    bucket = md5-u32(word) mod n_buckets (the cross-engine hash used
    by every banding operator in this engine); tf = occurrences.  One
    explode + ONE hash agg; output rows per doc are bounded by
    min(doc words, n_buckets)."""
    w = df.select(
        F.col(id_col).alias("id"),
        F.explode(words_col(F.col(text_col))).alias("w"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    return (
        w.select("id", bucket.alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def _bucket_lg(feats: DataFrame, n_buckets: int, out: str) -> DataFrame:
    """Dense per-bucket smoothed log-probability table
    ``(bucket, out)`` with ``out = lg(cnt_b + 1) - lg(tot + V)`` —
    every bucket materialized so downstream joins need no fallback."""
    cnt = feats.groupBy("bucket").agg(F.sum("tf").cast("long").alias("cnt"))
    grid = feats.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    dense = grid.join(cnt, "bucket", "left").select(
        "bucket", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    tot = dense.agg(F.sum("cnt").cast("long").alias("tot"))
    return dense.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.expr(ilog2_fxp_spark("cnt + 1"))
            - F.expr(ilog2_fxp_spark(f"tot + {n_buckets}"))
        ).cast("long").alias(out),
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 512,
) -> DataFrame:
    """Importance weight per raw document; returns
    ``(id, n_tokens, w_fxp, selected)``:

    * ``w_fxp = Σ_b tf_b · (lg p_target(b) - lg p_raw(b))`` over the
      document's hashed features (lg-fxp units);
    * ``n_tokens`` = total tf (the weight is un-normalized, as in the
      paper — longer on-target docs accumulate more evidence);
    * ``selected = w_fxp > 0`` — the deterministic likelihood-ratio
      keep rule (the Gumbel resampling of the paper is noise around
      exactly this statistic).

    Token-free documents carry zero evidence: w_fxp = 0, unselected.
    """
    feats = hashed_features(raw, id_col, text_col, n_buckets)
    lr = (
        _bucket_lg(hashed_features(target, id_col, text_col, n_buckets),
                   n_buckets, "lg_t")
        .join(_bucket_lg(feats, n_buckets, "lg_r"), "bucket")
        .select("bucket", (F.col("lg_t") - F.col("lg_r")).alias("lr_fxp"))
    )
    scored = (
        feats.join(F.broadcast(lr), "bucket")
        .groupBy("id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lr_fxp")).cast("long").alias("w_fxp"),
        )
    )
    ids = raw.select(F.col(id_col).alias("id"))
    return (
        ids.join(scored, "id", "left")
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("w_fxp", F.lit(0)).cast("long").alias("w_fxp"),
        )
        .withColumn("selected", F.col("w_fxp") > 0)
    )
