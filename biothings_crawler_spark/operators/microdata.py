"""Schema.org HTML microdata extraction (itemscope / itemtype /
itemprop) — the sibling of the JSON-LD extractor.

The reference harvests schema.org metadata exclusively through
extruct's JSON-LD path (reference crawler/spiders/helper.py:5 —
``from extruct.jsonld import JsonLdExtractor``); extruct itself also
ships a microdata extractor, and real Common-Crawl pages carry
schema.org markup in both syntaxes, so a complete harvester needs this
plane.  This is a REAL parser over the html bytes — stdlib
``html.parser.HTMLParser`` (charrefs decoded), not a regex — in the
an Arrow-batched mapInPandas pass: pure map, no cross-row state,
scale = executor count.

Supported subset: non-nested TEXT
properties; property value sources per the WHATWG microdata algorithm
for the common tags (``meta`` -> @content, ``a``/``link`` -> @href,
``img`` -> @src, ``time`` -> @datetime, anything else -> descendant
text); one level of item nesting via ``itemprop`` + ``itemscope`` on
the same tag (the child item carries ``parent_item``/``parent_prop``);
``itemprop`` outside any open itemscope is ignored.  Multi-valued
``itemprop="a b"`` tokens emit one row per token.

Output: one row per (page, item, property):
``(id, item_no, item_type, parent_item, parent_prop, prop, value)``
with ``item_no`` numbering itemscope opens in document order.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MICRODATA_SCHEMA = (
    "id long, item_no long, item_type string, parent_item long, "
    "parent_prop string, prop string, value string"
)

_VOID = {"meta", "img", "link", "br", "hr", "input", "source"}


def _parse_microdata(html: str) -> list[tuple]:
    """One page -> [(item_no, item_type, parent_item, parent_prop,
    prop, value)], WHATWG-subset semantics per the module docstring."""
    from html.parser import HTMLParser

    out: list[tuple] = []

    class P(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.items: list[dict] = []     # stack of open itemscopes
            self.n_items = 0
            self.capture: dict | None = None  # active text-prop
            self.depth = 0                   # element nesting depth

        def handle_starttag(self, tag, attrs):
            a = dict(attrs)
            self.depth += 1
            props = (a.get("itemprop") or "").split()
            scoped = "itemscope" in a
            if scoped:
                no = self.n_items
                self.n_items += 1
                parent = self.items[-1]["no"] if self.items else None
                pprop = props[0] if (props and self.items) else None
                self.items.append(
                    {"no": no, "type": a.get("itemtype", ""),
                     "parent": parent, "pprop": pprop,
                     "depth": self.depth})
                return
            if props and self.items and self.capture is None:
                cur = self.items[-1]
                if tag == "meta":
                    val = a.get("content", "")
                elif tag in ("a", "link"):
                    val = a.get("href", "")
                elif tag == "img":
                    val = a.get("src", "")
                elif tag == "time":
                    val = a.get("datetime", "")
                else:
                    self.capture = {"item": cur, "props": props,
                                    "depth": self.depth, "buf": []}
                    return
                for p in props:
                    out.append((cur["no"], cur["type"], cur["parent"],
                                cur["pprop"], p, val))
            if tag in _VOID:
                self.depth -= 1

        def handle_startendtag(self, tag, attrs):
            self.handle_starttag(tag, attrs)
            if tag not in _VOID:
                self.depth -= 1

        def handle_data(self, data):
            if self.capture is not None:
                self.capture["buf"].append(data)

        def handle_endtag(self, tag):
            if (self.capture is not None
                    and self.depth == self.capture["depth"]):
                cur = self.capture["item"]
                val = "".join(self.capture["buf"])
                for p in self.capture["props"]:
                    out.append((cur["no"], cur["type"], cur["parent"],
                                cur["pprop"], p, val))
                self.capture = None
            if (self.items and tag not in _VOID
                    and self.depth == self.items[-1]["depth"]):
                self.items.pop()
            self.depth -= 1

    p = P()
    p.feed(html)
    p.close()
    return out


def microdata_extract(
    pages: DataFrame, id_col: str = "id", html_col: str = "html"
) -> DataFrame:
    """Microdata items over an HTML column, Arrow-batched."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from biothings_crawler_spark.operators import microdata as md

        cols = ("id", "item_no", "item_type", "parent_item",
                "parent_prop", "prop", "value")
        for pdf in batches:
            rows = []
            for pid, html in zip(pdf[id_col], pdf[html_col]):
                for tup in md._parse_microdata(str(html)):
                    rows.append((int(pid), *tup))
            yield pd.DataFrame(rows, columns=cols)

    return pages.mapInPandas(run, MICRODATA_SCHEMA)
