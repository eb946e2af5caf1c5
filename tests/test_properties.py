"""Property-based tests (hypothesis) for invariant-rich pure kernels.

These complement the example-based suites: hypothesis explores the
input space for invariants that must hold EVERYWHERE — round-trips,
conservation laws, bounds — on the pure-Python kernels that back the
Arrow-batched operators (no SparkSession needed, so hundreds of cases
run in seconds).
"""

from hypothesis import given, settings
from hypothesis import strategies as st

# unicode label material: BMP letters incl. non-Latin scripts, no
# control chars / surrogates
_label_chars = st.characters(
    min_codepoint=0x2D, max_codepoint=0x2FFF,
    blacklist_categories=("Cs", "Cc"),
)


@settings(max_examples=300, deadline=None)
@given(st.text(_label_chars, min_size=1, max_size=16))
def test_punycode_roundtrip_matches_stdlib(s):
    from biothings_crawler_spark.operators.idn import punycode_decode

    try:
        enc = s.encode("punycode").decode("ascii")
    except Exception:
        return  # stdlib encoder rejects; nothing to round-trip
    assert punycode_decode(enc) == s


@settings(max_examples=100, deadline=None)
@given(st.text(st.characters(min_codepoint=0x20, max_codepoint=0x7E),
               max_size=60))
def test_gzip_member_parse_roundtrip(payload):
    # ASCII payloads: the member parser's text decode is charset-
    # sniffed downstream; the byte-level round-trip is the property
    import gzip

    from biothings_crawler_spark.operators.http import _parse_gzip_member

    blob = gzip.compress(payload.encode("utf-8"))
    valid, text, _fname, _mtime = _parse_gzip_member(blob)
    assert valid and text == payload
    # a flipped trailer byte must be rejected, never mis-decoded
    corrupt = blob[:-1] + bytes([blob[-1] ^ 0xFF])
    assert _parse_gzip_member(corrupt)[0] is False
