"""Sentence-snapped retrieval chunking (the RAG passage splitter).

The serving/training counterpart of ``operators/packing`` (which packs
whole documents into context bins): split each document into sentences
and emit OVERLAPPING, token-bounded passages that never cut a sentence
in half — the standard retrieval-corpus chunker (sentence-window
splitting as popularized by the LangChain/LlamaIndex recursive
splitters, snapped to sentence boundaries so embedding inputs stay
grammatical).

Semantics (exact, integer-only):

* Sentences split on ``([.!?])\\s+``: a run of whitespace that
  follows ``.``, ``!`` or ``?`` ends a sentence, and the terminator
  stays with the sentence it closes.  The rule is expressed as a
  marker-substitution + split so the DuckDB twin (RE2: no lookbehind)
  can run the identical rule.  Each sentence is trimmed; empties drop.
* Sentence token count = whitespace-word count of the trimmed
  sentence.
* Greedy fill: a chunk grows sentence-by-sentence while its token sum
  stays ≤ ``max_tokens``; the sentence that would overflow closes the
  chunk and the next chunk REWINDS ``overlap`` sentences (bounded by
  the +1 progress guarantee), so consecutive chunks share context.  A
  single sentence longer than ``max_tokens`` becomes its own chunk —
  a 100-TB stage must not fail on one run-on line.

Scale shape: the whole operator is ONE row-local projection — a JVM
``aggregate`` expression fold over the per-document sentence array
(whole-stage codegen, no Python, no shuffle, no window).  Per-row work
is O(sentences² ) in the worst case via the slice-sums, bounded by
document length; chunk explosion is a row-local ``posexplode``.
Embarrassingly parallel over any partitioning, so it rides whatever
layout the corpus already has.

Reference anchor: the crawler's extracted-text corpus
(crawler/upload.py text fields) is the input surface; chunking is the
downstream indexing step its ES consumers apply before embedding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Unit-separator marker injected at sentence boundaries before the
#: split.  Control char — cannot appear in the crawler's extracted
#: text (textnorm strips C0 controls upstream).
_MARK = "\x01"


def sentences_col(text: Column | str) -> Column:
    """Sentence array: mark ``([.!?])\\s+`` boundaries, split, trim,
    drop empties.  Identical rule to the DuckDB twin (marker
    substitution instead of lookbehind — RE2-safe)."""
    marked = F.regexp_replace(text, r"([.!?])\s+", "$1" + _MARK)
    return F.filter(
        F.transform(F.split(marked, _MARK), lambda s: F.trim(s)),
        lambda s: s != F.lit(""),
    )


def _spans_expr(max_tokens: int, overlap: int) -> Column:
    """Greedy chunk spans over columns ``tk`` (per-sentence token
    counts) as a ``;``-delimited ``lo:hi`` string (0-based inclusive
    sentence spans).  String accumulation keeps the fold state flat —
    the same shape the DuckDB twin uses (its list-in-struct
    accumulator is lossy, documented at SQL_CDC_CHUNKS)."""
    return F.expr(f"""
      aggregate(sequence(1, size(tk)),
        named_struct('spans', '', 'b', 0),
        (acc, i) -> IF(i - 1 > acc.b AND
                       aggregate(slice(tk, acc.b + 1, i - acc.b), 0L,
                                 (a, t) -> a + t) > {int(max_tokens)},
                       named_struct(
                         'spans', concat(acc.spans, acc.b, ':', i - 2, ';'),
                         'b', greatest(acc.b + 1, i - 1 - {int(overlap)})),
                       acc),
        acc -> concat(acc.spans, acc.b, ':', size(tk) - 1))
    """)


def rag_chunks(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int = 128,
    overlap: int = 1,
) -> DataFrame:
    """Overlapping sentence-snapped passages per document.

    Returns ``(id_col, chunk_id, sent_lo, sent_hi, n_sents, n_tokens,
    n_chars, chunk_md5)`` — one row per passage, ``chunk_id`` dense
    from 0 in document order.  ``chunk_md5`` hashes the passage text
    (sentences re-joined with single spaces), the key the downstream
    embedding/dedup stages join on.  Documents with no sentences emit
    nothing.
    """
    if overlap < 0 or max_tokens < 1:
        raise ValueError("max_tokens >= 1 and overlap >= 0 required")
    base = (
        docs.select(
            F.col(id_col),
            sentences_col(F.col(text_col)).alias("sents"),
        )
        .filter(F.size("sents") > 0)
        .withColumn(
            "tk", F.expr("transform(sents, s -> size(split(s, '\\\\s+')))")
        )
        .withColumn("spans", _spans_expr(max_tokens, overlap))
    )
    span = F.split(F.col("span_s"), ":")
    lo = span.getItem(0).cast("int")
    hi = span.getItem(1).cast("int")
    ctext = F.array_join(
        F.slice(F.col("sents"), lo + 1, hi - lo + 1), " "
    )
    return (
        base.select(
            id_col,
            "sents",
            "tk",
            F.posexplode(F.split("spans", ";")).alias("chunk_id", "span_s"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("int").alias("chunk_id"),
            lo.alias("sent_lo"),
            hi.alias("sent_hi"),
            (hi - lo + 1).alias("n_sents"),
            F.aggregate(
                F.slice(F.col("tk"), lo + 1, hi - lo + 1),
                F.lit(0).cast("long"),
                lambda a, t: a + t,
            ).alias("n_tokens"),
            F.length(ctext).cast("int").alias("n_chars"),
            F.md5(ctext).alias("chunk_md5"),
        )
    )


HEADING_SCHEMA = ("id long, sec_no long, level long, path string, "
                  "title string, n_words long, content string")


def _parse_outline(html: str) -> list[tuple]:
    """One page -> [(sec_no, level, path, title, n_words, content)].

    Sections run from each ``<h1>``-``<h6>`` to the next heading of
    ANY level; ``path`` is the ``>``-joined titles of the open
    ancestor stack (an ``h3`` under ``h1 > h2``), which is what a RAG
    citation renders as breadcrumbs. A page's preamble before its
    first heading becomes section 0 with an empty path/title. Script/style element CONTENTS are removed from bodies, then tags
    inside section bodies are stripped to whitespace; charrefs are NOT
    decoded here (the textnorm plane owns entity decoding).
    """
    import re

    # non-greedy title group: anchor-wrapped headings
    # (<h2><a>...</a></h2>) are the common case, so titles may carry
    # markup, stripped below (review finding: the [^<]* form silently
    # dropped such boundaries)
    heads = list(re.finditer(
        r"<[hH]([1-6])[^>]*>(.*?)</[hH][1-6]\s*>", html, re.S))

    def detag(t: str) -> str:
        return re.sub(r"\s+", " ", re.sub(r"<[^>]*>", " ", t)).strip()

    bounds = [(m.start(), m.end(), int(m.group(1)), detag(m.group(2)))
              for m in heads]
    out = []
    stack: list[tuple[int, str]] = []     # (level, title)

    def body(lo: int, hi: int) -> str:
        seg = re.sub(r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " ",
                     html[lo:hi])
        return re.sub(r"\s+", " ", re.sub(r"<[^>]*>", " ", seg)).strip()

    pre = body(0, bounds[0][0] if bounds else len(html))
    sec_no = 0
    if pre:
        out.append((0, 0, "", "", len(pre.split()), pre))
        sec_no = 1
    for j, (s, e, lvl, title) in enumerate(bounds):
        while stack and stack[-1][0] >= lvl:
            stack.pop()
        path = " > ".join(t for _, t in stack)
        stack.append((lvl, title))
        nxt = bounds[j + 1][0] if j + 1 < len(bounds) else len(html)
        content = body(e, nxt)
        out.append((sec_no, lvl, path, title,
                    len(content.split()), content))
        sec_no += 1
    return out


def heading_chunks(
    pages, id_col: str = "id", html_col: str = "html"
):
    """Structural (heading-outline) chunking — the third chunking mode
    beside token-budget ``rag_chunks`` and topical ``topic_chunks``:
    practical RAG pipelines split on the author's own section
    boundaries first and only re-split oversized sections. Output one
    row per section with the ancestor breadcrumb path. Arrow-batched
    ``mapInPandas`` in the parser-plane shape (microdata/rdfa
    precedent): pure map, no cross-row state.
    """
    import pandas as pd

    def run(batches):
        for b in batches:
            rows = []
            for pid, html in zip(b[id_col], b[html_col]):
                if html is None:
                    continue
                for r in _parse_outline(html):
                    rows.append((pid, *r))
            yield pd.DataFrame(
                rows, columns=["id", "sec_no", "level", "path",
                               "title", "n_words", "content"])

    return pages.select(id_col, html_col).mapInPandas(
        run, HEADING_SCHEMA)
