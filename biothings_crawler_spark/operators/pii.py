"""PII detection + scrubbing over the crawl corpus (emails, IPv4
addresses, phone numbers) — the redaction pass every web-text
training pipeline runs before tokenization (C4 / RefinedWeb drop or
mask contact strings; see also the reference's contact-email handling
in its schema.org transforms, crawler/upload/__init__.py — here it is
corpus-wide, not per-field).

All patterns are chosen to behave identically under Java regex
(Spark, JVM codegen) and RE2 (DuckDB oracle): no lookaround, no
backreferences, no variable-greed ambiguity. Detection and redaction
are pure native column expressions — zero shuffle, zero Python — so
the scrub pass is embarrassingly parallel at 100 TB and rides next to
whatever projection already scans the text column. Plan note: the
regex passes are whole-stage-codegen-able on their own; the Luhn card
COUNT uses higher-order-function expressions (filter/transform/
aggregate), which Spark evaluates JVM-interpreted outside WSCG — still
a single no-exchange projection, and the expensive part (the regex
scans) dominates either way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Java-regex == RE2 behavior for all three (verified by the DuckDB
# oracle pair q_pii_scrub): character classes, bounded repetition,
# non-capturing groups and \b only.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
# rigid NANP-ish shape (555-123-4567 / 555 123 4567) — fixed-width so
# greedy matching can't diverge between engines
PHONE_RE = r"\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b"
# 16-digit payment-card shapes: plain, dash-grouped, space-grouped
# (explicit alternation, no backreferences — RE2-safe); detection
# counts only Luhn-VALID candidates, redaction is conservative (all
# card-shaped runs), the standard asymmetry in PII scrubbing
CC_RE = (
    r"\b(?:[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}"
    r"|[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}"
    r"|[0-9]{16})\b"
)

# US SSN shape (3-2-4, dashed) — disjoint from the 3-3-4 phone shape
# and boundary-protected against digit runs inside cards/IBANs
SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
# contiguous IBAN shape: country code + 2 check digits + 11-30
# alphanumeric BBAN chars (DE=22 total, GB=22, FR=27 ... all within
# 15-34); detection counts only mod-97-VALID candidates, redaction is
# conservative (all IBAN-shaped runs), same asymmetry as cards
IBAN_RE = r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b"

EMAIL_TOKEN = "<EMAIL>"
IPV4_TOKEN = "<IP>"
PHONE_TOKEN = "<PHONE>"
CC_TOKEN = "<CARD>"
SSN_TOKEN = "<SSN>"
IBAN_TOKEN = "<IBAN>"


def _count_matches(text: Column, pattern: str) -> Column:
    """Number of non-overlapping matches (group 0 = whole match —
    identical semantics to DuckDB's regexp_extract_all default)."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0))


def pii_email_count(text: Column) -> Column:
    return _count_matches(text, EMAIL_RE)


def luhn_valid_col(candidate: Column) -> Column:
    """Luhn checksum over a 16-digit card candidate (separators
    stripped), as a pure expression: strip non-digits, double every
    digit at odd 1-based position from the left (16-digit numbers
    double odd-left == every second from the right), subtract 9 when
    the doubled digit exceeds 9, sum, valid iff sum % 10 == 0.
    Integer-only — bit-identical in DuckDB's list_transform twin."""
    ds = F.regexp_replace(candidate, r"[^0-9]", "")
    digits = F.filter(F.split(ds, ""), lambda ch: F.length(ch) > 0)
    contrib = F.transform(
        digits,
        lambda d, i: F.when(
            i % 2 == 0,
            F.when(d.cast("int") * 2 > 9, d.cast("int") * 2 - 9)
            .otherwise(d.cast("int") * 2),
        ).otherwise(d.cast("int")),
    )
    return F.aggregate(contrib, F.lit(0), lambda a, x: a + x) % 10 == 0


def iban_valid_col(candidate: Column) -> Column:
    """ISO 13616 mod-97 check over an IBAN candidate, as a pure
    integer expression: move the first 4 chars to the end, then fold
    the characters left to right keeping a running remainder —
    digits contribute r = (r*10 + d) % 97, letters (A=10..Z=35)
    r = (r*100 + v) % 97 — valid iff the final remainder is 1.
    Integer-only, so DuckDB's list_reduce twin is bit-identical."""
    rearranged = F.concat(F.substring(candidate, 5, 34),
                          F.substring(candidate, 1, 4))
    chars = F.filter(F.split(rearranged, ""), lambda ch: F.length(ch) > 0)
    return (
        F.aggregate(
            chars,
            F.lit(0),
            lambda r, ch: F.when(
                F.ascii(ch) <= 57, (r * 10 + (F.ascii(ch) - 48)) % 97
            ).otherwise((r * 100 + (F.ascii(ch) - 55)) % 97),
        )
        == 1
    )


def pii_scrub_col(text: Column) -> Column:
    """Redact email -> IPv4 -> phone -> SSN -> IBAN -> card, in that
    fixed order (order matters: an email's host part may contain digit
    runs; scrubbing emails first keeps the later passes from seeing
    them). IBAN and card redaction are conservative: ALL shaped runs
    are masked, checksum-valid or not (a per-match predicate can't
    ride regexp_replace; over-masking shaped-but-invalid runs is the
    safe direction for a training corpus)."""
    out = F.regexp_replace(text, EMAIL_RE, EMAIL_TOKEN)
    out = F.regexp_replace(out, IPV4_RE, IPV4_TOKEN)
    out = F.regexp_replace(out, PHONE_RE, PHONE_TOKEN)
    out = F.regexp_replace(out, SSN_RE, SSN_TOKEN)
    out = F.regexp_replace(out, IBAN_RE, IBAN_TOKEN)
    return F.regexp_replace(out, CC_RE, CC_TOKEN)


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document PII scrub: returns (id, n_emails, n_ipv4,
    n_phones, n_ssns, n_ibans, n_cards, clean_text). Pure projection
    (no exchange, no Python worker) built as a LINEAR chain of staged
    scrub columns, each computed exactly once and referenced by the
    next stage plus one count — NOT via per-pattern count helpers that
    each rebuild the scrub prefix from the raw text: composing such
    helpers in one select duplicates the regex tree 2^stages times,
    which blows the 64 KB Janino method limit and drops the whole
    projection to interpreted mode (observed; the staged form stays
    codegen-compilable as the scrub cascade grows). Each count reads
    the text as scrubbed by every earlier stage (mirror-the-scrub-order
    inputs); at 10^10 documents this remains the cheapest pass in the
    pipeline."""
    t = F.col(text_col)
    staged = df.select(
        F.col(id_col).alias("id"),
        t.alias("_t0"),
        F.regexp_replace(t, EMAIL_RE, EMAIL_TOKEN).alias("_t1"),
    )
    staged = staged.withColumn(
        "_t2", F.regexp_replace(F.col("_t1"), IPV4_RE, IPV4_TOKEN)
    )
    staged = staged.withColumn(
        "_t3", F.regexp_replace(F.col("_t2"), PHONE_RE, PHONE_TOKEN)
    )
    staged = staged.withColumn(
        "_t4", F.regexp_replace(F.col("_t3"), SSN_RE, SSN_TOKEN)
    )
    staged = staged.withColumn(
        "_t5", F.regexp_replace(F.col("_t4"), IBAN_RE, IBAN_TOKEN)
    )
    return staged.select(
        "id",
        _count_matches(F.col("_t0"), EMAIL_RE).cast("long").alias("n_emails"),
        _count_matches(F.col("_t1"), IPV4_RE).cast("long").alias("n_ipv4"),
        _count_matches(F.col("_t2"), PHONE_RE).cast("long").alias("n_phones"),
        _count_matches(F.col("_t3"), SSN_RE).cast("long").alias("n_ssns"),
        F.size(
            F.filter(F.regexp_extract_all(F.col("_t4"), F.lit(IBAN_RE), 0),
                     iban_valid_col)
        ).cast("long").alias("n_ibans"),
        F.size(
            F.filter(F.regexp_extract_all(F.col("_t5"), F.lit(CC_RE), 0),
                     luhn_valid_col)
        ).cast("long").alias("n_cards"),
        F.regexp_replace(F.col("_t5"), CC_RE, CC_TOKEN).alias("clean_text"),
    )
