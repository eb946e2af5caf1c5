"""Text-analysis operators for a training-data pipeline over the crawl
output: language-ID, quality scoring, token counting, fingerprinting.

All four are pure native-Spark column expressions (JVM, codegen) —
deliberately SQL-expressible so the driver's DuckDB oracle can verify
them 1:1 (each has a queries()/oracle_sql() pair in __spark_entry__).

These extend the reference's capability set (its analysis layer stops
at field coverage); they are what the same crawl corpus needs to feed
an LLM-pretraining pipeline at 100 TB.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from biothings_crawler_spark.functions.fxp import ilog2_fxp_spark

# tiny marker-word lists; enough for a deterministic n-gram-free heuristic
EN_MARKERS = ["the", "and", "of", "to", "a", "in", "is", "for", "with", "data"]
DE_MARKERS = ["der", "die", "und", "das", "mit", "von", "für", "ist", "ein", "daten"]
ES_MARKERS = ["el", "la", "de", "los", "con", "por", "una", "es", "para", "datos"]

PUNCT_RE = r"[^\w\s]"
# whitespace + BPE-ish boundaries: letter/digit runs and single punctuation
TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def words_col(text: Column) -> Column:
    """Lowercased whitespace words, empties removed."""
    return F.filter(
        F.split(F.lower(text), r"\s+"), lambda w: F.length(w) > 0
    )


def bind_col(value: Column, body) -> Column:
    """Expression-level let-binding: evaluate ``value`` ONCE per row
    and pass it to ``body`` as a higher-order-function lambda variable.

    Why it exists: referencing an expensive expression (a regex
    split, say) inside a ``transform``/``filter`` lambda re-evaluates
    it PER ELEMENT — Catalyst does not hoist loop-invariant children
    out of lambda bodies, so shingle/n-gram builders silently go
    O(words^2) in expression work (measured 12 s -> ~1 s on the LM
    bigram path at sf0.1). Wrapping the value in a one-element array
    and reading it back through a lambda variable forces exactly one
    evaluation while staying a pure Column (usable where a projection
    boundary, the other fix, is not available).
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def once_col(value: Column) -> Column:
    """Optimizer barrier: evaluate ``value`` exactly once per row, no
    matter how many filters/projections the caller stacks on top.

    ``shuffle`` of a one-element array returns that element, always —
    the VALUE is deterministic (task retries are safe) — but the
    expression is FLAGGED non-deterministic, so the optimizer may not
    push predicates through it, duplicate it, or re-inline it per
    downstream reference (the expression-level analog of
    ``udf.asNondeterministic()`` for the filter-duplication pathology:
    a pushed-down predicate substitutes the full expression chain per
    disjunct, and FilterExec does no common-subexpression
    elimination).  Use on EXPENSIVE derived columns that callers
    filter on; don't blanket-apply — it also blocks legitimate
    pushdowns past the column."""
    return F.element_at(F.shuffle(F.array(value)), 1)


def _marker_hits(words: Column, markers: list[str]) -> Column:
    return F.size(
        F.array_intersect(F.array_distinct(words), F.array(*[F.lit(m) for m in markers]))
    )


def lang_id_col(text: Column) -> Column:
    """Marker-word language heuristic over {en,de,es}, 'und' when no
    markers hit. Deterministic ties: en > de > es (>= comparisons)."""
    w = words_col(text)
    en, de, es = (_marker_hits(w, m) for m in (EN_MARKERS, DE_MARKERS, ES_MARKERS))
    return (
        F.when((en >= de) & (en >= es) & (en > 0), F.lit("en"))
        .when((de >= es) & (de > 0), F.lit("de"))
        .when(es > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )


def _lang_id_py(texts: "pd.Series") -> "pd.Series":
    """Deterministic Python twin of lang_id_col — the default stand-in
    "model" for lang_id_model. Matches the expression for ASCII
    whitespace (Python \\s is a unicode superset of Java's; fixture
    text is ASCII, so the pytest equality holds)."""
    import re

    en, de, es = set(EN_MARKERS), set(DE_MARKERS), set(ES_MARKERS)

    def one(t):
        if t is None:
            # the expression's F.when chain falls through to 'und' on
            # NULL text (NULL conditions never match) — mirror it
            return "und"
        words = {w for w in re.split(r"\s+", t.lower()) if w}
        n_en, n_de, n_es = len(words & en), len(words & de), len(words & es)
        if n_en >= n_de and n_en >= n_es and n_en > 0:
            return "en"
        if n_de >= n_es and n_de > 0:
            return "de"
        if n_es > 0:
            return "es"
        return "und"

    return texts.map(one)


# Worker-process-global model cache: one loaded model per (worker, key),
# shared across all partitions/generator invocations that worker runs.
_WORKER_MODEL_CACHE: dict = {}


def _model_map_in_pandas(df, text_col, out_col, out_type, loader, model_key):
    """Shared model-hook plumbing: mapInPandas that appends
    ``out_col: out_type`` computed by a batch predictor, where the
    predictor comes from ``loader()`` memoized in the worker-process-
    global cache under ``model_key`` (mapInPandas invokes the generator
    once per PARTITION; the cache makes heavy models load once per
    Python WORKER and be reused across all its partitions/batches)."""
    from pyspark.sql.types import StructField, StructType

    out_schema = StructType(df.schema.fields + [StructField(out_col, out_type)])
    key = model_key or "%s.%s" % (
        getattr(loader, "__module__", "?"),
        getattr(loader, "__qualname__", repr(loader)),
    )

    def gen(batches):
        # resolve the cache through a real import ON THE WORKER:
        # cloudpickle serializes this closure's globals by value per
        # task (a fresh dict per partition); importing the module here
        # lands on the worker process's one true module singleton, so
        # the memoization actually spans partitions.
        from biothings_crawler_spark.operators.text import _WORKER_MODEL_CACHE

        predict = _WORKER_MODEL_CACHE.get(key)
        if predict is None:
            predict = loader()
            _WORKER_MODEL_CACHE[key] = predict
        for pdf in batches:
            pdf[out_col] = predict(pdf[text_col])
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)


def lang_id_model(
    df,
    text_col: str,
    out_col: str = "lang_pred",
    model_loader=None,
    model_key: str | None = None,
):
    """Pluggable model-based language ID over mapInPandas — the
    production path a 100-TB pipeline swaps in for the marker-word
    heuristic (no fastText-class model is bundled, so the default
    "model" is the deterministic heuristic twin, and the Spark-side
    plumbing — Arrow batching, per-worker model load, schema — is real
    and tested).

    ``model_loader``: zero-arg callable returning a batch predictor
    ``pd.Series[str] -> pd.Series[str lang code]``. mapInPandas invokes
    the generator once per PARTITION, so the loader result is memoized
    in a worker-process-global cache (keyed by ``model_key``, default
    the loader's module+qualname): a real model (e.g. fastText lid.176)
    is loaded once per Python worker and reused across every partition
    and Arrow batch that worker processes — never per-partition, never
    per-row. Distinct loaders that share a qualname (e.g. two lambdas
    from the same scope) must pass distinct ``model_key`` strings.
    Default loader: ``_lang_id_py``, the exact twin of lang_id_col
    (pytest asserts equality against the expression).

    Returns df plus ``out_col: string``.
    """
    from pyspark.sql.types import StringType

    return _model_map_in_pandas(
        df, text_col, out_col, StringType(),
        model_loader or (lambda: _lang_id_py), model_key,
    )


def token_count_col(text: Column) -> Column:
    """BPE-ish token count: letter runs + digit runs + punctuation marks."""
    return F.size(
        F.filter(F.regexp_extract_all(text, F.lit(f"({TOKEN_RE})"), 1),
                 lambda t: F.length(t) > 0)
    )


def _token_count_py(texts: "pd.Series") -> "pd.Series":
    """Deterministic Python twin of token_count_col — the default
    stand-in "tokenizer" for tokenizer_model (pytest asserts equality
    against the expression). NULL text counts as NULL, mirroring
    F.size over a NULL array. Same ASCII-whitespace caveat as
    _lang_id_py (Python \\s is a unicode superset of Java's; fixture
    text is ASCII)."""
    pat = re.compile(TOKEN_RE)
    return texts.map(lambda t: None if t is None else len(pat.findall(t)))


def tokenizer_model(
    df,
    text_col: str,
    out_col: str = "n_tokens",
    model_loader=None,
    model_key: str | None = None,
):
    """Pluggable model-backed token counting over mapInPandas — the
    production path a 100-TB pipeline swaps a real subword tokenizer
    into (e.g. a HuggingFace BPE/SentencePiece vocab), same stub
    contract as lang_id_model: the container ships no tokenizer
    package, so the default "model" is the deterministic regex-proxy
    twin, and the Spark-side plumbing — Arrow batching, per-worker
    memoized model load, schema — is real and oracle-verified.

    ``model_loader``: zero-arg callable returning a batch counter
    ``pd.Series[str] -> pd.Series[int]``; loaded once per Python worker
    (memoized under ``model_key``, default the loader's qualname) and
    reused across every partition that worker processes. Default:
    ``_token_count_py``, the exact twin of token_count_col.

    Returns df plus ``out_col: long``.
    """
    from pyspark.sql.types import LongType

    return _model_map_in_pandas(
        df, text_col, out_col, LongType(),
        model_loader or (lambda: _token_count_py), model_key,
    )


def quality_score_col(text: Column) -> Column:
    """Composite [0,1] quality proxy: length band + punctuation ratio +
    stopword presence + mean word length band (the classic pretraining
    heuristics, each a native expression)."""
    n_chars = F.length(text)
    w = words_col(text)
    n_words = F.size(w)
    mean_wlen = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    n_punct = F.size(
        F.filter(F.regexp_extract_all(text, F.lit(f"({PUNCT_RE})"), 1),
                 lambda t: F.length(t) > 0)
    )
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(1.0))
    stop_ratio = F.when(
        n_words > 0, _marker_hits(w, EN_MARKERS) / F.lit(float(len(EN_MARKERS)))
    ).otherwise(F.lit(0.0))
    len_ok = F.when((n_chars >= 50) & (n_chars <= 20000), F.lit(1.0)).otherwise(F.lit(0.0))
    wlen_ok = F.when((mean_wlen >= 3.0) & (mean_wlen <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + wlen_ok + punct_ok + stop_ratio) / F.lit(4.0)


def fingerprint_col(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text — the exact-dedup identity (md5 exists in both Spark and
    DuckDB, keeping the oracle pair byte-comparable)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def winnow_fps_py(t: str, k: int, w: int) -> list[str]:
    """Pure-Python winnowing kernel: md5 char k-gram hashes, sliding
    w-window minima, first-occurrence distinct. Shared by the pandas
    UDF and tests; byte-identical to the expression twin."""
    import hashlib
    import re

    norm = re.sub(r"\s+", " ", t.lower()).strip()
    n_grams = max(len(norm) - (k - 1), 1)
    grams = [hashlib.md5(norm[i:i + k].encode("utf-8")).hexdigest()
             for i in range(n_grams)]
    n_windows = max(len(grams) - (w - 1), 1)
    seen: set = set()
    out: list[str] = []
    for j in range(n_windows):
        m = min(grams[j:j + w])
        if m not in seen:
            seen.add(m)
            out.append(m)
    return out


def winnow_fingerprints(
    df,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    impl: str = "pandas",
):
    """Winnowing document fingerprints (Schleimer et al. 2003, the
    MOSS algorithm): hash every character k-gram of the normalized
    text, slide a w-wide window, keep each window's minimum hash,
    distinct — a position-robust fingerprint set that detects partial
    overlap (exact dedup's md5 can't; shingle Jaccard needs pairwise
    work). Returns (id, fp) rows ready for a groupBy(fp) inverted
    index — overlap candidates are fingerprint collisions, never a
    pairwise scan.

    ``impl='pandas'`` (default, the scale path) runs the per-doc
    kernel Arrow-batched with hashlib at C speed. ``impl='expr'`` is
    the native-expression twin for the DuckDB oracle; its gram array
    is materialized through an eager localCheckpoint because a lambda
    body re-evaluates outer expressions per element — without the
    barrier the k-gram hashing would rerun once per window (O(L^2))."""
    from pyspark.sql import functions as F

    if impl == "pandas":
        from pyspark.sql import types as T

        @F.pandas_udf(T.ArrayType(T.StringType()))
        def _udf(text: pd.Series) -> pd.Series:
            return pd.Series(
                [None if t is None else winnow_fps_py(t, k, w) for t in text],
                dtype=object,
            )

        fps = _udf(F.col(text_col))
        return df.select(F.col(id_col).alias("id"), F.explode(fps).alias("fp"))

    # let-bind the normalized text: inlined into the lambda the regex
    # chain would re-run per CHARACTER INDEX (the bind_col blowup)
    norm_expr = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    grams = bind_col(
        norm_expr,
        lambda norm: F.transform(
            F.sequence(F.lit(1),
                       F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))),
            lambda i: F.md5(F.substr(norm, i, F.lit(k))),
        ),
    )
    with_grams = df.select(
        F.col(id_col).alias("id"), grams.alias("grams")
    ).localCheckpoint(eager=True)
    n_windows = F.greatest(F.size(F.col("grams")) - F.lit(w - 1), F.lit(1))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice(F.col("grams"), j, w)),
        )
    )
    return with_grams.select("id", F.explode(fps).alias("fp"))


def bigram_coverage(df, id_col: str, text_col: str, min_count: int = 3):
    """Corpus-level fluency proxy: per document, the ratio of its word
    bigrams that occur at least ``min_count`` times corpus-wide
    (KenLM-style language-model scoring without the log-prob — rare
    bigrams mark gibberish, OCR noise, and boilerplate-mangled text; a
    deterministic integer/exact-ratio contract the DuckDB oracle can
    pair, where a real LM would need the ``lang_id_model``-style
    model-hook treatment).

    Output: (id, n_bigrams, n_common, coverage_q6) with coverage as an
    exact millionths integer (n_common * 10^6 div n_bigrams) so the
    cross-engine hash never touches float division.

    Scale shape: one explode + one (bigram) hash agg with map-side
    partial combine for the corpus counts, one equi-join of the
    document's bigram stream against the common-bigram set (AQE may
    broadcast it when small; at web scale it's a shuffled semi-join),
    one per-doc count agg. No windows, no Python."""
    # word split let-bound: one evaluation per row, not per gram index
    grams = bind_col(
        words_col(F.col(text_col)),
        lambda words: F.when(
            F.size(words) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - 2),
                lambda i: F.concat_ws(" ", F.element_at(words, i + 1),
                                      F.element_at(words, i + 2)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    doc_grams = df.select(
        F.col(id_col).alias("id"), F.explode(grams).alias("bg")
    )
    common = (
        doc_grams.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .select("bg")
    )
    hits = doc_grams.join(common, "bg", "left_semi").groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    totals = df.select(
        F.col(id_col).alias("id"), F.size(grams).cast("long").alias("n_bigrams")
    )
    return (
        totals.join(hits, "id", "left")
        .select(
            "id",
            "n_bigrams",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            F.when(
                F.col("n_bigrams") > 0,
                F.expr("coalesce(n_common, 0) * 1000000 div n_bigrams"),
            ).otherwise(F.lit(0)).cast("long").alias("coverage_q6"),
        )
    )


def repetition_stats(df, id_col: str, text_col: str, line_sep: str = "\n"):
    """Gopher-style repetition/format signals per document (Rae et al.
    2021 quality rules; beyond the reference's analysis layer — this is
    what the same corpus needs before pretraining):

    - ``dup_line_frac``   1 - distinct/total over non-empty lines
    - ``dup_para_frac``   same over blank-line-separated paragraphs
    - ``bullet_frac``     lines starting with ``- `` / ``* ``
    - ``ellipsis_frac``   lines ending with ``...``
    - ``top_word_frac``   most frequent word / total words

    The four line/paragraph ratios are pure array expressions — no
    shuffle, whole-stage codegen over the scan. The word mode is the
    one genuinely distributive piece: explode -> two hash aggs keyed
    (id, word) then (id) — partial-agg friendly, near-unique keys, no
    skew — then a 1:1 join back on id. At 10^10 docs the expression
    half is free and the mode half is a single well-keyed shuffle.

    Returns (id, n_lines, n_words, dup_line_frac, dup_para_frac,
    bullet_frac, ellipsis_frac, top_word_frac) with ratio columns as
    doubles in [0,1].
    """
    from pyspark.sql import functions as F

    t = F.col(text_col)
    lines = F.filter(F.split(t, line_sep), lambda l: F.length(F.trim(l)) > 0)
    paras = F.filter(
        F.split(t, line_sep + line_sep), lambda p: F.length(F.trim(p)) > 0
    )
    n_lines = F.size(lines)
    n_paras = F.size(paras)

    def _dup_frac(arr, n):
        return F.when(
            n > 0, F.lit(1.0) - F.size(F.array_distinct(arr)) / n.cast("double")
        ).otherwise(F.lit(0.0))

    def _line_frac(pred, n):
        return F.when(
            n > 0, F.size(F.filter(lines, pred)) / n.cast("double")
        ).otherwise(F.lit(0.0))

    per_doc = df.select(
        F.col(id_col).alias("id"),
        words_col(t).alias("words"),
        n_lines.cast("long").alias("n_lines"),
        _dup_frac(lines, n_lines).alias("dup_line_frac"),
        _dup_frac(paras, n_paras).alias("dup_para_frac"),
        _line_frac(lambda l: l.rlike(r"^[-*] "), n_lines).alias("bullet_frac"),
        _line_frac(lambda l: l.rlike(r"\.\.\.$"), n_lines).alias("ellipsis_frac"),
    )
    word_counts = (
        per_doc.select("id", F.explode("words").alias("w"))
        .groupBy("id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_words"))
    )
    return (
        per_doc.drop("words")
        .join(word_counts, "id", "left")
        .select(
            "id",
            "n_lines",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            "dup_line_frac",
            "dup_para_frac",
            "bullet_frac",
            "ellipsis_frac",
            F.when(
                F.col("n_words") > 0,
                F.col("top_c") / F.col("n_words").cast("double"),
            ).otherwise(F.lit(0.0)).alias("top_word_frac"),
        )
    )


def chunk_documents(
    df,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
):
    """Split documents into fixed-size token windows with overlap —
    the packing step between a cleaned corpus and a pretraining
    dataloader (each chunk becomes one training sequence; the overlap
    preserves context across boundaries).

    Tokens are whitespace words (words_col); chunk starts advance by
    ``chunk_tokens - overlap`` while ``start <= max(n - overlap, 1)``,
    so every token is covered and short docs yield exactly one chunk.
    Returns (id, chunk_idx, n_tokens, chunk_text).

    Scale shape: pure array expressions + one posexplode — row-local,
    zero shuffle, codegen; output size is input × (1/(1-overlap
    fraction)), the expected blow-up, with no skew (chunks inherit the
    input partitioning)."""
    from pyspark.sql import functions as F

    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    w = words_col(F.col(text_col))
    n = F.size(w)
    starts = F.sequence(
        F.lit(1), F.greatest(n - F.lit(overlap), F.lit(1)), F.lit(stride)
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.array_join(F.slice(w, s, chunk_tokens), " ").alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - s + 1).cast("long").alias("n_tokens"),
        ),
    )
    # null text -> zero chunks (least/greatest skip nulls, which would
    # otherwise fabricate a phantom full-size chunk with NULL text)
    chunks = F.when(n.isNotNull(), chunks)
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(chunks).alias("chunk_idx", "c")
    ).select(
        "id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


def line_dedup(
    df,
    id_col: str,
    text_col: str,
    line_sep: str = "\n",
    max_occurrences: int = 10,
):
    """Corpus-level line deduplication (CCNet/RefinedWeb-style
    boilerplate removal): lines whose exact content appears in more
    than ``max_occurrences`` documents corpus-wide are dropped from
    every document; surviving lines keep their original order.

    Returns (id, clean_text, n_kept, n_removed).

    Scale shape: posexplode -> hash-agg per-document line presence
    (countDistinct(id): a line repeated inside ONE document does not
    count as boilerplate) -> shuffled anti-join on the line key ->
    re-assemble with array_sort on (pos). No broadcast hint: at 100 TB
    the >max_occurrences boilerplate set (nav bars, footers, cookie
    banners) is itself tens of GB; the anti-join shuffles on the line
    key and AQE is free to downgrade to broadcast when the set really
    is small. No skew (line-content keys are near-unique).
    """
    from pyspark.sql import functions as F

    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("pos", "line"),
    )
    freq = (
        lines.groupBy("line")
        .agg(F.countDistinct("id").alias("n"))
        .filter(F.col("n") > max_occurrences)
        .select("line")
    )
    kept = lines.join(freq, "line", "left_anti")
    rebuilt = (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                line_sep,
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    totals = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), line_sep)).cast("long").alias("n_lines"),
    )
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).cast("long").alias("n_removed"),
        )
    )


def passage_dedup(
    df,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_chars: int = 40,
):
    """Corpus-level KEEP-FIRST exact passage dedup (the Lee et al.
    'Deduplicating Training Data Makes Language Models Better'
    semantics at separator granularity): every later occurrence of a
    normalized passage is removed corpus-wide; the single surviving
    copy is the one at the smallest (doc id, position). Distinct from
    line_dedup (CCNet boilerplate removal), which drops ALL copies of
    over-frequent lines — here exactly one copy always survives and
    frequency is irrelevant.

    Passages whose normalized length is under ``min_chars`` are exempt
    (section headers and list stubs repeat legitimately); eligibility
    is a function of the normalized text, so all copies of a passage
    share it.

    Scale shape: one hash agg on the passage key (map-side partial
    MIN over a ``struct(id, pos)`` winner — lexicographic struct
    ordering, correct for any long id, no bit-packing range limits),
    one equi-join back on the key, one per-doc rebuild agg whose
    collect_list is bounded by the doc's own passage count. Returns
    (id, clean_text, n_kept, n_removed).
    """
    # F.split takes a REGEX but the rebuild joins with the literal sep
    # — escape the pattern so metacharacter separators (e.g. '.') split
    # literally and the two sides agree
    sep_re = re.escape(sep)
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep_re)).alias("pos", "passage"),
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col("passage")), r"\s+", " "))
    keyed = paras.select(
        "id",
        "pos",
        "passage",
        F.md5(norm).alias("k"),
        (F.length(norm) >= min_chars).alias("eligible"),
    )
    winners = (
        keyed.filter("eligible")
        .groupBy("k")
        .agg(F.min(F.struct("id", "pos")).alias("w"))
    )
    kept = keyed.join(winners, "k", "left").filter(
        ~F.col("eligible")
        | ((F.col("id") == F.col("w.id")) & (F.col("pos") == F.col("w.pos")))
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "passage"))),
                lambda s: s["passage"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), sep_re)).cast("long").alias("n_total"),
    )
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_total") - F.coalesce("n_kept", F.lit(0))).cast("long").alias("n_removed"),
        )
    )


def heavy_bigrams(df, id_col: str, text_col: str, top_k: int = 100):
    """Corpus-wide heavy-hitter word bigrams: ``(bigram, n)`` — the
    top-``top_k`` most frequent bigrams with a deterministic
    (n desc, bigram asc) order.

    The boilerplate/template detector that feeds line-dedup and
    repetition filtering: headers, cookie banners, and nav chrome
    surface as bigrams whose corpus frequency is orders of magnitude
    above the Zipf tail.  Same gram construction as
    :func:`bigram_coverage` so the two share one contract.

    Scale shape: explode -> ONE bigram-keyed hash agg with map-side
    partial combine -> TakeOrderedAndProject (never a full sort).  A
    hot bigram is one reducer key holding a single counter — bounded
    state by construction.
    """
    # word split let-bound: one evaluation per row, not per gram index
    grams = bind_col(
        words_col(F.col(text_col)),
        lambda words: F.when(
            F.size(words) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - 2),
                lambda i: F.concat_ws(" ", F.element_at(words, i + 1),
                                      F.element_at(words, i + 2)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return (
        df.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(top_k)
    )


def c4_quality_filter(
    df,
    id_col: str,
    text_col: str,
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    line_sep: str = "\n",
):
    """C4-style page cleaning (Raffel et al. 2020, arXiv:1910.10683
    §2.2 — the reference pipeline has no quality filtering at all;
    its corpus is curated API metadata, reference
    ``crawler/spiders/*`` fetch structured records): keep only lines
    that end in a terminal punctuation mark, have at least
    ``min_words_per_line`` words, and don't mention "javascript";
    flag whole pages that contain "lorem ipsum" or a ``{`` (code/
    template leakage), or end up with fewer than ``min_sentences``
    sentences after line filtering.

    Returns ``(id, clean_text, n_lines_kept, n_sentences, keep)``.
    ``n_sentences`` counts terminal marks in the KEPT text (C4's
    sentence proxy).  ``keep`` folds the three page-level gates.

    Scale shape: every step is a row-local array/regex expression —
    split, higher-order filter, array_join, regexp count — ZERO
    exchanges, fully inside whole-stage codegen.  All regexes are
    Java==RE2-safe so the DuckDB oracle runs the identical pipeline.
    """
    def line_ok(l):
        t = F.trim(l)
        words = F.filter(F.split(t, r"\s+"), lambda w: F.length(w) > 0)
        return (
            (F.size(words) >= F.lit(min_words_per_line))
            & t.rlike('[.!?"]$')
            & ~F.lower(t).contains("javascript")
        )

    kept = F.filter(F.split(F.col(text_col), line_sep), line_ok)
    # once_col: callers filter on `keep`, whose n_sentences term reads
    # clean_text — without the barrier the pushed-down predicate
    # re-runs the whole line-filter chain a second time per row
    out = df.select(
        F.col(id_col).alias("id"),
        once_col(F.array_join(kept, line_sep)).alias("clean_text"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        F.lower(F.col(text_col)).contains("lorem ipsum").alias("_lorem"),
        F.col(text_col).contains("{").alias("_brace"),
    )
    n_sent = F.size(
        F.regexp_extract_all(F.col("clean_text"), F.lit(r"([.!?])"), 1)
    ).cast("long")
    return out.select(
        "id", "clean_text", "n_lines_kept",
        n_sent.alias("n_sentences"),
        (~F.col("_lorem") & ~F.col("_brace")
         & (n_sent >= F.lit(min_sentences))).alias("keep"),
    )


# Unicode script-mix profile (pure codegen)
# ---------------------------------------------------------------------------

_SCRIPT_CLASSES = (
    ("latin", "A-Za-z"),
    ("cyrillic", "Ѐ-ӿ"),
    ("cjk", "一-鿿぀-ヿ"),
    ("arabic", "؀-ۿ"),
)


def script_mix(df, id_col: str, text_col: str, mixed_ppm: int = 200_000):
    """Per-document Unicode script profile: ``(id, n_latin,
    n_cyrillic, n_cjk, n_arabic, n_letters, dominant_script,
    mixed_ppm, is_mixed)`` — the cheap first-pass language/abuse
    signal a 100-TB corpus runs before any model-based language ID:
    wrong-script documents skip expensive downstream stages, and
    HIGH-MIX documents (Latin text salted with Cyrillic lookalikes)
    are the classic homoglyph-spoofing / SEO-spam shape (IDN-homograph
    literature, Gabrilovich & Gontmakher).

    Counts are codepoint-range ``regexp_replace`` lengths — row-local,
    ZERO exchanges, no Python.  ``dominant_script`` breaks ties in the
    fixed order latin > cyrillic > cjk > arabic; ``mixed_ppm`` is the
    non-dominant letter share in exact parts-per-million, and
    ``is_mixed`` flags documents whose off-script share reaches the
    threshold.  Documents with no letters at all report dominant
    'none' and are never mixed.
    """
    t = F.col(text_col)
    counts = {
        name: F.length(F.regexp_replace(t, f"[^{cls}]", "")).cast("long")
        for name, cls in _SCRIPT_CLASSES
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    out = df.select(
        F.col(id_col).alias("id"),
        *[counts[n].alias(f"n_{n}") for n, _ in _SCRIPT_CLASSES],
        total.alias("n_letters"),
    )
    mx = F.greatest(*[F.col(f"n_{n}") for n, _ in _SCRIPT_CLASSES])
    dominant = F.when(F.col("n_letters") == 0, F.lit("none"))
    for name, _ in _SCRIPT_CLASSES:
        dominant = dominant.when(F.col(f"n_{name}") == mx, F.lit(name))
    off = F.when(
        F.col("n_letters") == 0, F.lit(0).cast("long")
    ).otherwise(F.expr(f"(n_letters - {'greatest(' + ', '.join('n_' + n for n, _ in _SCRIPT_CLASSES) + ')'}) * 1000000 div n_letters"))
    return out.select(
        "*",
        dominant.alias("dominant_script"),
        off.alias("mixed_ppm"),
        (off >= F.lit(int(mixed_ppm))).alias("is_mixed"),
    )


def trim_repeated_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """WITHIN-document repeated-line removal — the cleaning step for
    pages whose template repeats blocks (cookie banners, nav strips
    duplicated per section): keep each distinct line's FIRST
    occurrence, preserve order, report what was trimmed.  The
    cross-corpus twin is ``line_dedup`` (removes lines common across
    documents); this one never looks past the row.

    Pure row-local array ops: ``split -> array_distinct -> join`` —
    ``array_distinct`` keeps first occurrences in order (the DuckDB
    oracle reconstructs the same contract independently via
    min-ordinality grouping, so the order guarantee is cross-checked,
    not assumed).  Zero exchange, zero Python; adds ``text_trimmed``,
    ``n_lines``, ``n_kept``, ``chars_saved``.
    """
    lines = F.split(F.col(text_col), "\n")
    kept = F.array_distinct(lines)
    trimmed = F.array_join(kept, "\n")
    return df.select(
        F.col(id_col),
        trimmed.alias("text_trimmed"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.length(F.col(text_col)) - F.length(trimmed)).cast("long")
        .alias("chars_saved"),
    )


def smooth_lang_by_host(
    df: DataFrame, id_col: str, host_col: str, lang_col: str,
    unknown: str = "und",
) -> DataFrame:
    """Host-prior language smoothing: documents whose classifier said
    ``unknown`` inherit their HOST's majority language — the standard
    CommonCrawl-pipeline prior (a host is overwhelmingly monolingual;
    short/markup-heavy pages defeat per-doc classifiers but not the
    site-level vote). Confident per-doc labels are never overridden.

    Output: (id, host, lang, lang_smoothed, from_host_prior).

    Scale shape: ONE (host, lang) hash agg over the confident docs,
    an argmax per host over <= |languages| rows (bounded window — the
    partition is a host's distinct-language count, never its page
    count), then one broadcast-friendly equi-join on host + row-local
    CASE. Ties break lexicographically (deterministic). Hosts with no
    confident doc at all leave ``unknown`` in place."""
    from pyspark.sql import Window

    votes = (
        df.filter(F.col(lang_col) != unknown)
        .groupBy(F.col(host_col).alias("host"),
                 F.col(lang_col).alias("hl"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("host").orderBy(F.desc("n"), F.asc("hl"))
    major = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("host", F.col("hl").alias("host_lang"))
    )
    out = df.select(
        F.col(id_col).alias("id"),
        F.col(host_col).alias("host"),
        F.col(lang_col).alias("lang"),
    ).join(major, "host", "left")
    prior = (F.col("lang") == unknown) & F.col("host_lang").isNotNull()
    return out.select(
        "id", "host", "lang",
        F.when(prior, F.col("host_lang")).otherwise(F.col("lang"))
        .alias("lang_smoothed"),
        prior.alias("from_host_prior"),
    )


def trending_terms(
    docs: DataFrame,
    snap_col: str,
    text_col: str,
    min_count: int = 8,
) -> DataFrame:
    """Terms whose relative frequency shifted between two crawl
    snapshots (``snap_col`` = 0 for the old crawl, 1 for the new) —
    the drift monitor that tells a corpus curator WHAT changed when
    q_snapshot_diff says THAT things changed.  Add-one-smoothed
    frequency-ratio ranking: the classic log-odds trender with the
    monotone log dropped (same trick as the PMI ranker in
    q_collocations), so everything stays integer and cross-engine
    exact:

        t1 = (c_new + 1) * 1e6 div (c_old + 1)       # count ratio
        t2 = (tot_old + V) * 1e6 div (tot_new + V)   # size correction
        score_ppm = t1 * t2 div 1e6                  # smoothed ratio

    ``V`` = vocabulary size (the add-one mass).  Intermediates stay
    under int64 while per-term counts are below ~1e12; a term hot
    enough to break that is a stopword the ``min_count`` band and any
    sane vocab cap would have excluded long before the arithmetic
    matters.  Scale shape: one explode + one (term, snap) hash agg
    with map-side partials, one term-keyed conditional re-agg, one
    1-row broadcast totals join — no window, no self-join.
    """
    toks = docs.select(
        F.col(snap_col).alias("snap"),
        F.explode(words_col(F.col(text_col))).alias("term"),
    )
    per = toks.groupBy("term").agg(
        F.sum(F.when(F.col("snap") == 0, 1).otherwise(0)).alias("c_old"),
        F.sum(F.when(F.col("snap") == 1, 1).otherwise(0)).alias("c_new"),
    )
    totals = per.agg(
        F.sum("c_old").cast("long").alias("tot_old"),
        F.sum("c_new").cast("long").alias("tot_new"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    return (
        per.filter(F.col("c_old") + F.col("c_new") >= min_count)
        .crossJoin(F.broadcast(totals))
        .select(
            "term",
            F.col("c_old").cast("long").alias("c_old"),
            F.col("c_new").cast("long").alias("c_new"),
            F.expr(
                "(((c_new + 1) * 1000000 div (c_old + 1))"
                " * ((tot_old + vocab) * 1000000 div (tot_new + vocab)))"
                " div 1000000"
            ).alias("score_ppm"),
        )
    )


def readability_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Flesch reading-ease and Flesch-Kincaid grade per document, in
    exact integer thousandths — the classic curation signal for
    "too-simple boilerplate vs. unreadable slurry" quality banding
    (both formula families are public: Flesch 1948, Kincaid et al.
    1975).  Syllables use the standard vowel-group heuristic (runs of
    ``[aeiouy]+`` per lowercased word, minimum 1) — deterministic and
    cross-engine replayable, unlike dictionary-based counters:

        flesch_milli = 206835 - 1015*W div S - 84600*Y div W
        fk_grade_milli = 390*W div S + 11800*Y div W - 15590

    with W = words, S = sentences (runs of ``[.!?]+``, min 1), Y =
    syllables.  Each ``a*x div y`` term is the exact floor of the
    real-valued term in thousandths, so both engines agree bit-for-bit.
    Scale shape: ONE row-local projection — no shuffle, no UDF, rides
    the scan inside whole-stage codegen.
    """
    words = words_col(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(words).cast("long").alias("n_words"),
        F.greatest(
            F.lit(1).cast("long"),
            F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")).cast("long"),
        ).alias("n_sentences"),
        F.aggregate(
            words,
            F.lit(0).cast("long"),
            lambda acc, w: acc
            + F.greatest(
                F.lit(1).cast("long"),
                F.regexp_count(w, F.lit("[aeiouy]+")).cast("long"),
            ),
        ).alias("n_syllables"),
    )
    return base.select(
        "id", "n_words", "n_sentences", "n_syllables",
        F.expr(
            "206835 - (1015 * n_words) div n_sentences"
            " - (84600 * n_syllables) div greatest(1L, n_words)"
        ).alias("flesch_milli"),
        F.expr(
            "(390 * n_words) div n_sentences"
            " + (11800 * n_syllables) div greatest(1L, n_words) - 15590"
        ).alias("fk_grade_milli"),
    )


def char_entropy(df, id_col: str, text_col: str):
    """Exact per-document character-level Shannon entropy — the
    gibberish / binary-spill / keyboard-mash detector (low entropy =
    one char repeated; entropy at the lg-alphabet ceiling with no
    word structure = random bytes), complementing the word-level
    quality_stats and Gopher repetition family.

    Exactness: H = lg N - (sum_c n_c*lg n_c)/N is transcendental, so
    what is returned is the integer **total self-information**
    ``ent_tot_fxp = N*lg(N) - sum_c n_c*lg(n_c)`` in lg-fxp units
    (floor(65536*log2), the functions/fxp integer recurrence) plus
    its floor per-char rate — bit-identical in the DuckDB twin, and
    0 exactly when the text is one repeated character (or empty).

    Scale shape: one ROW-LOCAL expression chain — split to chars,
    histogram via distinct+filter counts (O(alphabet * len) per row,
    alphabet bounded by the charset), nested integer folds for the
    lgs. Zero exchanges, zero Python; the histogram never leaves the
    row, so nothing shuffles per character.
    """
    clg = ilog2_fxp_spark("c")
    nlg = ilog2_fxp_spark("size(cs)")
    staged = df.selectExpr(
        f"{id_col} AS id",
        f"filter(split({text_col}, ''), c -> c <> '') AS cs",
    )
    return staged.selectExpr(
        "id",
        "size(cs) AS n_chars",
        "size(array_distinct(cs)) AS n_distinct",
        f"""CASE WHEN size(cs) = 0 THEN 0L ELSE
            cast(size(cs) * ({nlg})
                 - aggregate(
                     transform(array_distinct(cs),
                               d -> cast(size(filter(cs, x -> x = d)) AS bigint)),
                     0L, (acc, c) -> acc + c * ({clg})) AS bigint)
            END AS ent_tot_fxp""",
    ).selectExpr(
        "id",
        "cast(n_chars AS bigint) AS n_chars",
        "cast(n_distinct AS bigint) AS n_distinct",
        "ent_tot_fxp",
        "CASE WHEN n_chars = 0 THEN 0L "
        "ELSE ent_tot_fxp div n_chars END AS ent_char_fxp",
    )


def tokenizer_fertility(df, id_col: str, text_col: str, lang_col: str):
    """Per-language tokenizer fertility — the multilingual budgeting
    metric (how many tokens a language costs per word / per char
    decides its effective context length and its share of a token
    budget; high-fertility languages are systematically under-served
    by a tokenizer trained elsewhere).  Returns per language

        (lang, n_docs, words, tokens, chars,
         fertility_ppm = tokens*10^6 div words,
         chars_per_token_ppm = chars*10^6 div tokens)

    using the engine's BPE-ish token proxy (token_count_col) and
    whitespace words — both already oracle-paired primitives.  One
    hash agg keyed by language; every ratio an exact integer ppm.
    """
    per = df.select(
        F.col(lang_col).alias("lang"),
        F.size(words_col(F.col(text_col))).cast("long").alias("w"),
        token_count_col(F.col(text_col)).cast("long").alias("t"),
        F.length(F.col(text_col)).cast("long").alias("c"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("words"),
            F.sum("t").cast("long").alias("tokens"),
            F.sum("c").cast("long").alias("chars"),
        )
        .selectExpr(
            "lang", "n_docs", "words", "tokens", "chars",
            "CASE WHEN words = 0 THEN 0L "
            "ELSE tokens * 1000000 div words END AS fertility_ppm",
            "CASE WHEN tokens = 0 THEN 0L "
            "ELSE chars * 1000000 div tokens END AS chars_per_token_ppm",
        )
    )


def ngram_novelty(df, id_col: str, text_col: str, n: int = 3):
    """Per-document corpus n-gram novelty — the memorization /
    diversity audit a synthetic-data pipeline runs before mixing
    generated text into training corpora (the document-level inverse
    of Self-BLEU: high novelty = the document shares few word n-grams
    with ANY other document).

    For each document: its DISTINCT word n-grams, each gram's
    document frequency across the corpus, and
    ``novelty_ppm = |grams with df == 1| * 10^6 div |grams|`` — exact
    integers, so cross-engine bit-stable.  Documents with fewer than
    ``n`` words have no grams and drop (both engines agree by
    construction).

    Scale shape: gram construction is row-local (same transform
    contract as :func:`heavy_bigrams`); dedup to DISTINCT (id, gram)
    is one hash agg; document frequency is ONE gram-keyed hash agg
    with map-side combine; the df join carries (gram, df) only —
    never text.  No windows, no self-join of the corpus."""
    grams = bind_col(
        words_col(F.col(text_col)),
        lambda words: F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(words, i + k + 1)
                           for k in range(n)]),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    # the distinct (id, gram) set feeds BOTH the document-frequency
    # agg and the novelty join — materialize it once so the gram
    # construction + distinct shuffle don't run twice (at 10^10 rows
    # this is the written gram-index table).  (An Arrow-UDF gram
    # kernel was A/B-measured SLOWER than this bind_col chain — 0.78
    # vs 0.68 s at sf0.1 — the n=3 element_at chain is already cheap,
    # unlike the n_perm-fold MinHash case; kept as expressions.)
    dg = (
        df.select(F.col(id_col).alias("id"), F.explode(grams).alias("gram"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dfreq = dg.groupBy("gram").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    return (
        dg.join(dfreq, "gram")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long").alias("n_novel"),
        )
        .withColumn("novelty_ppm",
                    F.expr("n_novel * 1000000 div n_grams").cast("long"))
    )


def host_boilerplate_strip(
    df,
    id_col: str,
    host_col: str,
    text_col: str,
    min_share_ppm: int = 800_000,
    min_pages: int = 3,
):
    """HOST-scoped template subtraction — the site-level sibling of
    :func:`line_dedup` (which is corpus-global): a line appearing on at
    least ``min_share_ppm`` of a host's pages (hosts with >=
    ``min_pages`` pages) is that site's chrome — nav, footer, cookie
    banner — and is dropped from that host's documents only.  The same
    sentence on a DIFFERENT host is untouched, which is exactly the
    semantics global line-dedup cannot express (a quote syndicated to
    3 sites survives here; a footer on 95% of one site's pages dies
    even if the corpus only has one such site).

    Returns (id, host, clean_text, n_kept, n_removed).

    Scale shape: posexplode -> ONE (host, line) hash agg with
    countDistinct(id) (per-document presence — internal repetition is
    not template evidence) -> per-host page counts (bounded host
    table, broadcast by AQE) -> the template set anti-joins back on
    the (host, line) key, so templates of one host never shuffle
    against another host's pages.  No windows; line keys are
    near-unique per host so no skew."""
    lines = df.select(
        F.col(id_col).alias("id"), F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    pages = df.groupBy(F.col(host_col).alias("host")).agg(
        F.countDistinct(F.col(id_col)).cast("long").alias("n_pages"))
    freq = lines.groupBy("host", "line").agg(
        F.countDistinct("id").cast("long").alias("n_docs"))
    tmpl = (
        freq.join(pages, "host")
        .filter((F.col("n_pages") >= min_pages)
                & (F.col("n_docs") * 1_000_000
                   >= F.lit(min_share_ppm) * F.col("n_pages")))
        .select("host", "line")
    )
    kept = lines.join(tmpl, ["host", "line"], "left_anti")
    stats = lines.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"))
    out = (
        kept.groupBy("id", "host")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list(F.struct("pos", "line"))).line,
                "\n").alias("clean_text"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), F.col(host_col).alias("host"))
        .join(out, ["id", "host"], "left")
        .join(stats, "id", "left")
        .select(
            "id", "host",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.coalesce("n_total", F.lit(0))
             - F.coalesce("n_kept", F.lit(0))).cast("long")
            .alias("n_removed"),
        )
    )


def lexicon_hits(
    df,
    id_col: str,
    text_col: str,
    lexicon: dict,
    severe_at: int = 3,
    max_density_ppm: int = 50_000,
):
    """Weighted-lexicon safety scoring (the C4 "bad words" gate,
    Raffel et al. §2.2, generalized to severity weights) with
    obfuscation folding: ``0/1/3/@/$`` fold to ``o/i/e/a/s`` BEFORE
    matching, so ``z3br@`` hits a ``zebra`` lexicon entry — the
    cheap leetspeak evasion a plain word filter misses.  The lexicon
    is a caller-supplied ``{term: weight}`` map (weights >=
    ``severe_at`` are drop-on-sight); this module ships no word list.

    Matching is word-boundary exact on lowercased, leet-folded,
    edge-punctuation-stripped whitespace words — substring matching
    is deliberately avoided (the classic 'Scunthorpe' false-positive
    class).  One pass: the per-word weight lookup is a map literal
    folded over the words array; everything stays in whole-stage
    codegen, zero shuffles.

    Output: (id, n_words, n_hits, score, density_ppm, verdict) with
    verdict in {clean, flag, drop}: drop on any severe term or
    density above ``max_density_ppm``, flag on any hit.
    """
    folded = F.translate(F.lower(F.col(text_col)), "013@$", "oieas")
    words = F.transform(
        words_col(folded),
        lambda w: F.regexp_replace(w, r"^[^\w]+|[^\w]+$", ""),
    )
    wmap = F.create_map(
        *[F.lit(x) for kv in lexicon.items() for x in kv])
    weights = F.transform(words, lambda w: F.coalesce(
        wmap[w], F.lit(0)))
    staged = df.select(
        F.col(id_col).alias("id"),
        F.size(words).cast("long").alias("n_words"),
        F.aggregate(weights, F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("score"),
        F.size(F.filter(weights, lambda x: x > 0)).cast("long")
        .alias("n_hits"),
        F.size(F.filter(weights, lambda x: x >= severe_at))
        .cast("long").alias("_severe"),
    )
    density = F.expr("n_hits * 1000000 div greatest(n_words, 1)")
    return staged.select(
        "id", "n_words", "n_hits", F.col("score").cast("long").alias("score"),
        density.cast("long").alias("density_ppm"),
        F.when((F.col("_severe") > 0)
               | (density > max_density_ppm), F.lit("drop"))
        .when(F.col("n_hits") > 0, F.lit("flag"))
        .otherwise(F.lit("clean")).alias("verdict"),
    )
