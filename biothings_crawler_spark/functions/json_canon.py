"""Canonical JSON serialization.

The reference emits documents as Python dicts with top-level keys sorted
before indexing (reference crawler/upload/helper.py:25
``dict(sorted(_doc.items()))`` and crawler/upload/immport.py:133). For a
distributed engine we need a *total* canonical byte form so that the
per-row invariant ("byte-identical extracted text per url") is
well-defined independent of dict insertion order: recursively sorted
keys, no whitespace, ensure_ascii=False.

This exact form is used for (a) the golden ``text`` column of the pages
fixture, (b) the engine's extraction output, and (c) the frozen oracle —
all three must agree byte-for-byte.
"""

from __future__ import annotations

import json
from typing import Any


def canonical_json(obj: Any) -> str:
    """Deterministic JSON: recursively sorted keys, compact separators."""
    return json.dumps(obj, sort_keys=True, ensure_ascii=False, separators=(",", ":"))
