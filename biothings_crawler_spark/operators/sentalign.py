"""Gale-Church sentence alignment over mined bitext document pairs
(Gale & Church, "A Program for Aligning Sentences in Bilingual
Corpora", Computational Linguistics 1993) — the stage that turns
document pairs (hreflang clusters / URL matching / lexicon
verification, operators/hreflang + operators/bitext) into the
sentence-level bitext a translation-model pipeline actually trains on.

Cost spec (shared with the frozen oracle, ``oracle/galechurch.py``,
which documents it): the paper's integer bead penalties (1-1 → 0,
1-0/0-1 → 450, 2-1/1-2 → 230, 2-2 → 440) plus the exact-rational
length term ``|ls - lt| * 1000 // (ls + lt + 1)``; ties prefer the
earlier operation.  Everything is integer, so the distributed run and
the single-threaded oracle are bit-identical.

Scale shape: each document pair is an independent row — the DP is
per-pair O(n_sents² · 6) with n_sents bounded by document length, and
pairs ride ``mapInPandas`` (Arrow batches, the sanctioned Python
path): no shuffle at all if the pair
table already carries both texts, one co-keyed join per side if it
carries URLs only.  State never outlives a batch row.  At 10^8 mined
pairs this is embarrassingly parallel.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from biothings_crawler_spark.oracle.galechurch import (
    OPS,
    length_cost,
    split_sentences,
)

ALIGN_SCHEMA = (
    "src_url string, tgt_url string, bead_no long, "
    "src_lo long, src_hi long, tgt_lo long, tgt_hi long, bead_cost long"
)


def _align_iterative(src_lens: list[int], tgt_lens: list[int]):
    """Iterative DP table + op backtrack — deliberately a different
    implementation shape from the oracle's memoized recursion; ties
    prefer the earlier OPS entry (same spec)."""
    n, m = len(src_lens), len(tgt_lens)
    INF = 1 << 60
    cost = [[INF] * (m + 1) for _ in range(n + 1)]
    op = [[None] * (m + 1) for _ in range(n + 1)]
    cost[0][0] = 0
    src_pre = [0]
    for v in src_lens:
        src_pre.append(src_pre[-1] + v)
    tgt_pre = [0]
    for v in tgt_lens:
        tgt_pre.append(tgt_pre[-1] + v)
    for i in range(n + 1):
        for j in range(m + 1):
            if i == 0 and j == 0:
                continue
            best, arg = INF, None
            for a, b, pen in OPS:
                if i - a < 0 or j - b < 0 or cost[i - a][j - b] >= INF:
                    continue
                bead = pen + length_cost(src_pre[i] - src_pre[i - a],
                                         tgt_pre[j] - tgt_pre[j - b])
                tot = cost[i - a][j - b] + bead
                if tot < best:
                    best, arg = tot, (a, b, bead)
            cost[i][j] = best
            op[i][j] = arg
    beads = []
    i, j = n, m
    while i > 0 or j > 0:
        a, b, bead = op[i][j]
        beads.append((i - a, i, j - b, j, bead))
        i, j = i - a, j - b
    return list(reversed(beads))


def gale_church_align(
    pairs: DataFrame,
    src_text_col: str = "src_text",
    tgt_text_col: str = "tgt_text",
) -> DataFrame:
    """``(src_url, tgt_url, bead_no, src_lo, src_hi, tgt_lo, tgt_hi,
    bead_cost)`` — one row per alignment bead (half-open sentence
    spans), for every input pair carrying (src_url, tgt_url, src_text,
    tgt_text).  Pairs where either side has zero sentences emit the
    degenerate all-insertion/deletion beads, exactly as the DP does."""
    s_col, t_col = src_text_col, tgt_text_col

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("src_url", "tgt_url", "bead_no", "src_lo",
                                   "src_hi", "tgt_lo", "tgt_hi", "bead_cost")}
            for su, tu, st, tt in zip(
                pdf["src_url"], pdf["tgt_url"], pdf[s_col], pdf[t_col]
            ):
                sl = [len(x) for x in split_sentences(st)]
                tl = [len(x) for x in split_sentences(tt)]
                for k, (lo, hi, tlo, thi, c) in enumerate(
                    _align_iterative(sl, tl)
                ):
                    out["src_url"].append(su)
                    out["tgt_url"].append(tu)
                    out["bead_no"].append(k)
                    out["src_lo"].append(lo)
                    out["src_hi"].append(hi)
                    out["tgt_lo"].append(tlo)
                    out["tgt_hi"].append(thi)
                    out["bead_cost"].append(c)
            yield pd.DataFrame(out)

    return pairs.mapInPandas(_batches, ALIGN_SCHEMA)
