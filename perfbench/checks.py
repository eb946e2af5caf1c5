"""Pure-Python checks and counters over one committed checkpoint.

Nothing here touches Spark: the runner collects the committed tables into
tuples, and these functions compare them with the oracle's expectations,
parse the manifest's per-round commit stamps and size the checkpoint.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class CheckResult:
    dup_scheduled: int
    mismatch: dict = field(default_factory=dict)   # part -> symmetric-diff rows

    @property
    def oracle_mismatch_rows(self) -> int:
        return sum(self.mismatch.values())

    @property
    def ok(self) -> bool:
        return self.dup_scheduled == 0 and self.oracle_mismatch_rows == 0


def multiset_diff(got, want) -> int:
    """Rows in the multiset symmetric difference of *got* and *want*."""
    a, b = Counter(got), Counter(want)
    return sum(((a - b) + (b - a)).values())


def dup_scheduled(scheduled: list[tuple]) -> int:
    """Extra schedulings: scheduled rows minus distinct ``url_canon``s
    (``url_canon`` is the last field of each ordering tuple)."""
    return len(scheduled) - len({row[-1] for row in scheduled})


def check_crawl(scheduled: list[tuple], docs: list[tuple], page_texts: list[tuple],
                exp) -> CheckResult:
    """Compare one call's committed output with the oracle.

    *scheduled* holds ``(commit_round, host, sched_rank, url_canon)`` —
    the round is the checkpoint round the row was stored under, which is
    what the oracle's ordering records; *docs* and *page_texts* hold
    ``(round, url_canon, doc_json | text)``. *exp* is a
    ``workloads.Expected``.
    """
    return CheckResult(
        dup_scheduled=dup_scheduled(scheduled),
        mismatch={
            "ordering": multiset_diff(scheduled, exp.ordering),
            "docs": multiset_diff(docs, exp.docs),
            "seen": len({row[-1] for row in scheduled} ^ set(exp.seen)),
            "page_texts": multiset_diff(page_texts, exp.page_texts),
        },
    )


def round_walls(manifest: dict, start: dt.datetime) -> list[float]:
    """Per-round wall seconds from the manifest's ``_meta.<round>.build_date``
    commit stamps: round 0 runs from *start* (the call's start, UTC) to its
    stamp, each later round from the previous stamp to its own."""
    meta = manifest.get("_meta", {})
    stamps = [dt.datetime.fromisoformat(meta[str(r)]["build_date"])
              for r in sorted(manifest["rounds"])]
    walls, prev = [], start
    for s in stamps:
        walls.append((s - prev).total_seconds())
        prev = s
    return walls


def read_manifest(checkpoint: str | os.PathLike) -> dict:
    return json.loads((Path(checkpoint) / "_manifest.json").read_text())


def dir_bytes(path: str | os.PathLike) -> tuple[int, int]:
    """(total bytes, parquet part files) under *path*."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(dirpath, name))
            files += name.startswith("part-")
    return total, files
