"""Corpus table layout for the 100-TB tier: partitioned, sorted,
pruning-friendly parquet.

A 10^10-document corpus is read thousands of times by downstream
stages that almost always filter on LANGUAGE (per-language pipelines)
and QUALITY (training-mix selection).  If those columns are ordinary
data columns every stage scans all bytes; laid out as Hive/Iceberg-
style PARTITION columns the scan prunes to the slice (`PartitionFilters`
in the physical plan — pytest-asserted below) — on a real Iceberg
catalog the same `partitionedBy` spec applies verbatim.

Within a partition, files are written sorted by content hash
(`sortWithinPartitions`): co-locating near-identical rows gives
parquet's RLE/dictionary encodings their best compression ratio and
makes every downstream hash-ranged operator (exact dedup, snapshot
diff) read fewer row groups via min/max pruning.

`quality_band` is a coarse integer (score_ppm // band_width) — a
HIGH-CARDINALITY partition column (raw ppm) would explode into 1e6
directories of tiny files, the classic small-files failure; ~10 bands
keeps partitions chunky.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def layout_columns(
    df: DataFrame,
    lang_col: str,
    score_ppm_col: str,
    text_col: str,
    band_width_ppm: int = 100_000,
) -> DataFrame:
    """Add the layout columns: ``lang`` (partition), ``quality_band``
    (partition, score_ppm // band_width), ``content_hash`` (sort key,
    xxhash64 of the text). Row-local, zero exchanges."""
    return df.withColumn(
        "quality_band",
        (F.col(score_ppm_col) / F.lit(int(band_width_ppm))).cast("int"),
    ).withColumn("content_hash", F.xxhash64(F.col(text_col)))


def write_corpus(
    df: DataFrame,
    path: str,
    lang_col: str = "lang",
    score_ppm_col: str = "score_ppm",
    text_col: str = "text",
    band_width_ppm: int = 100_000,
) -> None:
    """Write the corpus with the pruning layout: partitioned by
    (lang, quality_band), files sorted by content_hash within each
    partition."""
    laid = layout_columns(df, lang_col, score_ppm_col, text_col, band_width_ppm)
    (
        laid.repartition(F.col(lang_col), F.col("quality_band"))
        .sortWithinPartitions("content_hash")
        .write.mode("overwrite")
        .partitionBy(lang_col, "quality_band")
        .parquet(path)
    )


def read_slice(
    spark: SparkSession, path: str, lang: str | None = None,
    min_band: int | None = None,
) -> DataFrame:
    """Read a corpus slice; the lang/band predicates land in the
    scan's PartitionFilters (directory pruning, zero data bytes read
    outside the slice)."""
    df = spark.read.parquet(path)
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    if min_band is not None:
        df = df.filter(F.col("quality_band") >= min_band)
    return df


def write_surt_layout(
    df: DataFrame, path: str, url_col: str = "url", files: int = 32,
) -> None:
    """Write the corpus RANGE-partitioned and sorted by SURT key —
    the CDX-lookup layout applied to the page table itself.

    ``repartitionByRange(surt)`` gives every output file a DISJOINT
    surt range; ``sortWithinPartitions`` orders rows inside each, so
    parquet row-group min/max statistics on ``surt`` become a real
    index: a per-domain read (``surt LIKE 'org,example%'``) skips
    every file and row group outside the domain's contiguous slice.
    Hive-partitioning by domain would create 10^8 tiny directories at
    web scale; range layout keeps file count CHOSEN (``files``), not
    data-driven.  RangePartitioning samples the key distribution, so
    hot domains spread across several files instead of skewing one.
    """
    from .urlnorm import surt_key_col

    laid = df.withColumn("surt", surt_key_col(F.col(url_col)))
    (
        laid.repartitionByRange(files, "surt")
        .sortWithinPartitions("surt")
        .write.mode("overwrite")
        .parquet(path)
    )


def read_domain(spark: SparkSession, path: str, domain: str) -> DataFrame:
    """Everything under ``domain`` (all subdomains, all paths) from a
    :func:`write_surt_layout` table — one contiguous range scan.  The
    ``StringStartsWith`` predicate is pushed to the parquet reader
    (``PushedFilters`` — pytest-asserted), where the sorted layout's
    min/max stats prune non-matching files and row groups."""
    from .urlnorm import surt_prefix

    pref = surt_prefix(domain)
    df = spark.read.parquet(path)
    # "org,example" owns both the apex ("org,example)/...") and every
    # subdomain ("org,example,news)/..."); both start with the prefix.
    return df.filter(F.col("surt").startswith(pref))


# ---------------------------------------------------------------------------
# Z-order (Morton) layout: multi-dimensional range pruning for scans that
# filter on TWO columns at once (host × time, language × quality).  A 1D
# sort prunes only its leading column; interleaving the bits of both keys
# makes parquet min/max stats selective for rectangles in either dimension
# (Morton, "A computer oriented geodetic data base", 1966; the same layout
# Delta/Iceberg expose as ZORDER BY).
# ---------------------------------------------------------------------------

# magic-number bit spread: insert a zero between every bit of a 31-bit int
_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_bits(x):
    for sh, mask in _SPREAD:
        x = (x | (x << sh)) & mask
    return x


def zorder_key_py(a: int, b: int) -> int:
    """Pure-Python twin of :func:`zorder_key_col` (driver-side range
    bound computation + pytest reference)."""
    a &= 0x7FFFFFFF
    b &= 0x7FFFFFFF
    return _spread_bits(a) | (_spread_bits(b) << 1)


def zorder_key_col(a, b):
    """Morton key interleaving two non-negative 31-bit integer columns
    (a gets the even bits) — five shift/mask rounds per dimension, all
    JVM integer ops, zero exchange.  Monotone in each coordinate, so
    ``[zorder_key(a0,b0), zorder_key(a1,b1)]`` is a valid (coarse)
    key-range bound for the rectangle ``[a0,a1] x [b0,b1]`` — the
    pruning predicate a reader pushes into parquet min/max stats
    without needing the exact BIGMIN walk."""
    def spread(x):
        x = x.cast("long").bitwiseAND(F.lit(0x7FFFFFFF))
        for sh, mask in _SPREAD:
            x = (x.bitwiseOR(F.shiftleft(x, sh))).bitwiseAND(F.lit(mask))
        return x

    return spread(a).bitwiseOR(F.shiftleft(spread(b), 1))


def write_zorder_layout(
    df: DataFrame, path: str, col_a: str, col_b: str,
    n_files: int = 16,
) -> None:
    """Write ``df`` z-ordered on ``(col_a, col_b)``: range-partitioned
    and sorted by the Morton key, so every output file covers one
    compact z-range and its parquet min/max footer makes rectangle
    scans skip non-intersecting files."""
    keyed = df.withColumn(
        "zkey", zorder_key_col(F.col(col_a), F.col(col_b)))
    (keyed.repartitionByRange(n_files, "zkey")
     .sortWithinPartitions("zkey")
     .write.mode("overwrite").parquet(path))


def read_zorder_rectangle(
    spark: SparkSession, path: str,
    a0: int, a1: int, b0: int, b1: int,
    col_a: str, col_b: str,
) -> DataFrame:
    """Rectangle scan over a z-ordered table: the coarse z-range
    ``[z(a0,b0), z(a1,b1)]`` prunes files/row-groups via pushed parquet
    stats, the exact per-column predicates filter the survivors."""
    zlo = zorder_key_py(a0, b0)
    zhi = zorder_key_py(a1, b1)
    return (spark.read.parquet(path)
            .filter((F.col("zkey") >= zlo) & (F.col("zkey") <= zhi))
            .filter((F.col(col_a) >= a0) & (F.col(col_a) <= a1)
                    & (F.col(col_b) >= b0) & (F.col(col_b) <= b1)))


# ---------------------------------------------------------------------------
# Hilbert locality keys
# ---------------------------------------------------------------------------
#
# The Morton key above is monotone and cheap, but adjacent z-values can
# be FAR apart in (a, b) space at quadrant boundaries — a scan of one
# key range touches up to 4 disjoint rectangles.  The Hilbert curve
# (Hilbert 1891; xy->d walk as in the standard public formulation, e.g.
# Wikipedia "Hilbert curve") guarantees consecutive keys are Manhattan
# neighbours, so a key range covers ONE connected blob: fewer files
# intersect any rectangle, which is why modern table formats cluster on
# Hilbert rather than Morton when given the choice.
#
# Expression strategy: the xy2d walk updates (x, y, d) per bit level —
# naively unrolling 16 levels into nested column expressions explodes
# exponentially (each level references x and y several times), so the
# walk runs as ONE runtime `aggregate` fold over the descending bit
# levels with an (x, y, d) accumulator struct: linear expression size,
# O(bits) work per row, still row-local JVM evaluation with zero
# exchange and no UDF.
#
# 15-bit default: the DuckDB oracle replays the fold over a SINGLE
# packed BIGINT accumulator ``(d << 32) | (x << 16) | y`` because
# DuckDB 1.0's list_reduce reuses the accumulator struct storage
# across steps (later struct_pack fields read already-overwritten
# values — found the hard way); 15-bit coords keep d < 2^30 so the
# packed value stays inside signed 64-bit on both engines.

HILBERT_BITS = 15


def hilbert_key_py(a: int, b: int, bits: int = HILBERT_BITS) -> int:
    """Pure-Python twin of :func:`hilbert_key_col` (pytest reference +
    driver-side literals)."""
    n = 1 << bits
    x, y = a & (n - 1), b & (n - 1)
    d = 0
    s = n >> 1
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s >>= 1
    return d


def hilbert_key_col(a, b, bits: int = HILBERT_BITS):
    """Hilbert curve index of two non-negative ``bits``-bit integer
    columns: one row-local aggregate fold over the bit levels, no
    exchange, no UDF."""
    n = 1 << bits
    levels = ", ".join(str(1 << i) for i in reversed(range(bits)))
    init = F.struct(
        a.cast("long").bitwiseAND(F.lit(n - 1)).alias("x"),
        b.cast("long").bitwiseAND(F.lit(n - 1)).alias("y"),
        F.lit(0).cast("long").alias("d"),
    )

    def step(acc, s):
        rx = F.when(acc["x"].bitwiseAND(s) > 0, F.lit(1).cast("long")) \
             .otherwise(F.lit(0).cast("long"))
        ry = F.when(acc["y"].bitwiseAND(s) > 0, F.lit(1).cast("long")) \
             .otherwise(F.lit(0).cast("long"))
        flip_x = F.when(rx == 1, F.lit(n - 1) - acc["x"]).otherwise(acc["x"])
        flip_y = F.when(rx == 1, F.lit(n - 1) - acc["y"]).otherwise(acc["y"])
        return F.struct(
            # ry == 0: flip (if rx) then swap; ry == 1: unchanged
            F.when(ry == 0, flip_y).otherwise(acc["x"]).alias("x"),
            F.when(ry == 0, flip_x).otherwise(acc["y"]).alias("y"),
            (acc["d"] + s * s * (rx * 3).bitwiseXOR(ry)).alias("d"),
        )

    return F.aggregate(
        F.expr(f"array({levels})"),
        init,
        step,
        lambda acc: acc["d"],
    )
