"""URL-seen set: persistent bloom segments + exact anti-join backstop.

The reference gets exactly-once fetching from Scrapy's in-memory
RFPDupeFilter (never overridden; SURVEY.md §1.1) plus explicit ES
``exists()`` point lookups for incremental sources (harvard.py:102-104,
figshare.py:104-106). Neither survives a 10^10-URL frontier: the seen
set is too large for one process and point lookups don't batch.

Scale design (north_star):

  * the seen set is partitioned into ``n_segments`` bloom filters keyed
    by ``pmod(url_hash, n_segments)``; each segment is a numpy bitarray
    serialized as a binary blob row in the ``seen_segments`` checkpoint
    table: (segment_id, round, bloom:binary, n_items).
  * per crawl round: candidates are COGROUPED with their segment on
    segment_id (one shuffle; each task holds exactly one blob — blobs
    are never replicated per row) and membership-tested vectorized in
    numpy. ``maybe_seen=false`` rows are *definitely new* (blooms have
    no false negatives) and skip the expensive path entirely.
  * only ``maybe_seen=true`` rows (true dups + ~FPP false positives) go
    through the exact ``left_anti`` join against the scheduled-URLs
    table — so the engine is exactly-once AND complete (a bloom false
    positive cannot lose a URL), at ~FPP of the anti-join cost a naive
    design would pay.
  * segments OR-merge across rounds (fixed bit width per segment), so
    updating the seen set is an append of ``n_segments`` small rows per
    round, not a rewrite of 10^10 keys.

Bit positions use double hashing (Kirsch-Mitzenmacher) on the existing
``xxhash64(url_canon)`` value with a splitmix64 remix — no Python-side
string hashing anywhere; everything vectorizes over int64 numpy arrays.

For politeness/robots *revocations* (URLs that must be deletable from
the seen set so they can be re-fetched), blooms cannot delete; hosts
with deletion events use a :class:`CuckooFilter` segment instead
(SURVEY.md §4 "custom work").
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEEN_SEGMENTS_SCHEMA = "segment_id int, round int, bloom binary, n_items long"

_SPLITMIX_C1 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_C2 = np.uint64(0x94D049BB133111EB)


def _remix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — second independent hash stream from h."""
    z = h.astype(np.uint64, copy=True)
    z ^= z >> np.uint64(30)
    z *= _SPLITMIX_C1
    z ^= z >> np.uint64(27)
    z *= _SPLITMIX_C2
    z ^= z >> np.uint64(31)
    return z


class BloomFilter:
    """Fixed-width bloom over int64 keys, numpy-vectorized, OR-mergeable."""

    HEADER = np.uint64(0xB100F117)

    def __init__(self, n_bits: int, n_hashes: int, bits: np.ndarray | None = None):
        assert n_bits % 8 == 0
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)

    @classmethod
    def sized_for(cls, n_items: int, fpp: float = 0.01) -> "BloomFilter":
        n_bits = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
        n_bits = (n_bits + 7) // 8 * 8
        k = max(1, round(n_bits / max(1, n_items) * math.log(2)))
        return cls(n_bits, k)

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        """(len(keys), k) bit positions via double hashing (uint64 wrap)."""
        h1 = keys.astype(np.uint64)
        h2 = _remix(h1) | np.uint64(1)  # odd so strides cycle
        i = np.arange(self.n_hashes, dtype=np.uint64)
        return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(self.n_bits)

    def add_many(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        pos = self._positions(np.asarray(keys, dtype=np.int64)).ravel()
        np.bitwise_or.at(self.bits, (pos >> np.uint64(3)).astype(np.int64),
                         np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)))

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(np.asarray(keys, dtype=np.int64))
        byte_idx = (pos >> np.uint64(3)).astype(np.int64)
        bit = np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8))
        return ((self.bits[byte_idx] & bit) != 0).all(axis=1)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.n_bits == other.n_bits and self.n_hashes == other.n_hashes
        return BloomFilter(self.n_bits, self.n_hashes, self.bits | other.bits)

    def to_bytes(self) -> bytes:
        head = np.array([self.HEADER, self.n_bits, self.n_hashes], dtype=np.uint64)
        return head.tobytes() + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        head = np.frombuffer(blob[:24], dtype=np.uint64)
        assert head[0] == cls.HEADER, "not a bloom blob"
        return cls(int(head[1]), int(head[2]),
                   np.frombuffer(blob[24:], dtype=np.uint8).copy())


class CuckooFilter:
    """Deletable membership filter (bucketed fingerprints, 4 slots/bucket).

    Used for hosts with robots revocations — the only seen-set entries
    that ever need deletion (SURVEY.md §4). Fingerprint 0 is reserved
    for "empty"; remix() provides fingerprints and alt-bucket offsets.
    """

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, n_buckets: int, table: np.ndarray | None = None):
        self.n_buckets = n_buckets
        self.table = (table if table is not None
                      else np.zeros((n_buckets, self.SLOTS), dtype=np.uint16))

    @classmethod
    def sized_for(cls, n_items: int) -> "CuckooFilter":
        n_buckets = 1 << max(4, math.ceil(math.log2(max(1, n_items) / 3.2)))
        return cls(n_buckets)

    def _fp_and_buckets(self, key: int) -> tuple[int, int, int]:
        h = np.uint64(np.int64(key).astype(np.uint64))
        r = int(_remix(np.array([h], dtype=np.uint64))[0])
        fp = (r & 0xFFFF) or 1
        b1 = int(h) % self.n_buckets
        b2 = (b1 ^ (int(_remix(np.array([fp], dtype=np.uint64))[0]))) % self.n_buckets
        return fp, b1, b2

    def _fp_buckets_many(self, keys) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Vectorized twin of _fp_and_buckets — one _remix call per
        batch instead of two numpy allocations per key."""
        h = np.asarray(keys, dtype=np.int64).astype(np.uint64)
        fp = (_remix(h) & np.uint64(0xFFFF))
        fp[fp == 0] = 1
        nb = np.uint64(self.n_buckets)
        b1 = h % nb
        b2 = (b1 ^ _remix(fp)) % nb
        return fp, b1.astype(np.int64), b2.astype(np.int64)

    def _insert_at(self, b: int, fp: int) -> bool:
        row = self.table[b]
        for s in range(self.SLOTS):
            if row[s] == 0:
                row[s] = fp
                return True
        return False

    def _kick_insert(self, fp: int, b1: int, b2: int) -> bool:
        b = b1 if (fp + b1) % 2 else b2
        for kick in range(self.MAX_KICKS):
            slot = (fp + kick) % self.SLOTS
            fp, self.table[b][slot] = int(self.table[b][slot]), fp
            b = (b ^ int(_remix(np.array([fp], dtype=np.uint64))[0])) % self.n_buckets
            if self._insert_at(b, fp):
                return True
        return False  # table full — caller resizes

    def add(self, key: int) -> bool:
        fp, b1, b2 = self._fp_and_buckets(key)
        if self._insert_at(b1, fp) or self._insert_at(b2, fp):
            return True
        return self._kick_insert(fp, b1, b2)

    def contains(self, key: int) -> bool:
        fp, b1, b2 = self._fp_and_buckets(key)
        return bool((self.table[b1] == fp).any() or (self.table[b2] == fp).any())

    def delete(self, key: int) -> bool:
        fp, b1, b2 = self._fp_and_buckets(key)
        for b in (b1, b2):
            idx = np.where(self.table[b] == fp)[0]
            if len(idx):
                self.table[b][idx[0]] = 0
                return True
        return False

    def add_many(self, keys: np.ndarray) -> None:
        """Bulk insert: fingerprints/buckets computed in one vectorized
        pass (the former per-key numpy allocs dominated); the placement
        loop stays sequential — same table state as repeated add()."""
        if not len(keys):
            return
        fps, b1s, b2s = self._fp_buckets_many(keys)
        for fp, b1, b2 in zip(fps.tolist(), b1s.tolist(), b2s.tolist()):
            if (self._insert_at(b1, fp) or self._insert_at(b2, fp)
                    or self._kick_insert(fp, b1, b2)):
                continue
            raise RuntimeError(
                "cuckoo segment full — size segments for expected "
                "capacity (CuckooFilter.sized_for)"
            )

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        """Fully vectorized probe: both candidate buckets gathered and
        compared in numpy (no per-key Python)."""
        if not len(keys):
            return np.zeros(0, dtype=bool)
        fps, b1s, b2s = self._fp_buckets_many(keys)
        fp16 = fps.astype(np.uint16)[:, None]
        return ((self.table[b1s] == fp16).any(axis=1)
                | (self.table[b2s] == fp16).any(axis=1))

    def delete_many(self, keys: np.ndarray) -> int:
        if not len(keys):
            return 0
        fps, b1s, b2s = self._fp_buckets_many(keys)
        n = 0
        for fp, b1, b2 in zip(fps.tolist(), b1s.tolist(), b2s.tolist()):
            for b in (b1, b2):
                idx = np.where(self.table[b] == fp)[0]
                if len(idx):
                    self.table[b][idx[0]] = 0
                    n += 1
                    break
        return n

    def to_bytes(self) -> bytes:
        head = np.array([0xC0C00F11, self.n_buckets], dtype=np.uint64)
        return head.tobytes() + self.table.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        head = np.frombuffer(blob[:16], dtype=np.uint64)
        assert head[0] == 0xC0C00F11
        n_buckets = int(head[1])
        table = np.frombuffer(blob[16:], dtype=np.uint16).reshape(n_buckets, cls.SLOTS).copy()
        return cls(n_buckets, table)


def filter_from_bytes(blob: bytes):
    """Blob dispatcher: segments are self-describing (header word), so
    bloom and cuckoo segments coexist in one seen_segments table —
    deletion-heavy hosts get cuckoo, everyone else the cheaper bloom."""
    head = int(np.frombuffer(blob[:8], dtype=np.uint64)[0])
    if head == 0xC0C00F11:
        return CuckooFilter.from_bytes(blob)
    return BloomFilter.from_bytes(blob)


# --- DataFrame-level seen-set ops ---------------------------------------------

def segment_col(url_hash, n_segments: int):
    return F.pmod(url_hash, F.lit(n_segments)).cast("int")


def build_segments(
    scheduled: DataFrame,
    round_no: int,
    n_segments: int,
    bits_per_segment: int,
    n_hashes: int,
    prev_segments: DataFrame | None = None,
    segment_kind: str = "bloom",
    cuckoo_capacity: int | None = None,
) -> DataFrame:
    """New seen_segments rows for this round (merged with previous).

    The round's keys are cogrouped with the previous segments on
    segment_id; each group builds its filter in numpy.
    ``segment_kind='cuckoo'`` builds deletable segments (robots
    revocation hosts — SURVEY.md §4); capacity must be pre-sized
    (``cuckoo_capacity`` items/segment) because fingerprints cannot be
    rehashed into a bigger table.
    """
    keyed = scheduled.select(
        segment_col(F.col("url_hash"), n_segments).alias("segment_id"), "url_hash"
    )

    # Keys and previous segments stay separate (cogroup sides) so
    # ``url_hash`` has no nulls and reaches pandas as int64; a nullable
    # long column arrives as float64, which rounds every key past 2^53.
    def build(keys: pd.DataFrame, prev_pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int((keys if len(keys) else prev_pdf)["segment_id"].iloc[0])
        if segment_kind == "cuckoo":
            bf = CuckooFilter.sized_for(cuckoo_capacity or 1 << 16)
        else:
            bf = BloomFilter(bits_per_segment, n_hashes)
        prev_n = 0
        if len(prev_pdf):
            prev_f = filter_from_bytes(bytes(prev_pdf["bloom"].iloc[0]))
            if not isinstance(prev_f, type(bf)):
                # membership filters cannot be converted in place (a
                # cuckoo needs the key set, which a bloom doesn't keep);
                # silently keeping the old kind made revocation-host
                # migration a permanent no-op — fail loudly instead.
                raise ValueError(
                    f"segment {seg}: stored kind {type(prev_f).__name__} != "
                    f"requested segment_kind={segment_kind!r}; rebuild the "
                    "segment from the full key set to migrate kinds"
                )
            bf = bf.merge(prev_f) if isinstance(bf, BloomFilter) else prev_f
            prev_n = int(prev_pdf["n_items"].iloc[0])
        new_keys = keys["url_hash"].to_numpy(dtype=np.int64)
        bf.add_many(new_keys)
        return pd.DataFrame(
            [{"segment_id": seg, "round": round_no, "bloom": bf.to_bytes(),
              "n_items": prev_n + len(new_keys)}]
        )

    if prev_segments is None:
        # a plain grouped map: cogrouping with an empty side costs an
        # extra shuffle stage on every fresh crawl's first round
        return keyed.groupBy("segment_id").applyInPandas(
            lambda keys: build(keys, pd.DataFrame()), SEEN_SEGMENTS_SCHEMA
        )
    prev = prev_segments.select("segment_id", "bloom", "n_items")
    return (
        keyed.groupBy("segment_id")
        .cogroup(prev.groupBy("segment_id"))
        .applyInPandas(build, SEEN_SEGMENTS_SCHEMA)
    )


def mark_maybe_seen(
    candidates: DataFrame, segments: DataFrame | None, n_segments: int
) -> DataFrame:
    """Add ``maybe_seen`` via cogrouped vectorized bloom probe.

    false => definitely new (no false negatives); true => check exactly.
    """
    if segments is None:
        return candidates.withColumn("maybe_seen", F.lit(False))
    cand = candidates.withColumn(
        "segment_id", segment_col(F.col("url_hash"), n_segments)
    )
    segs = segments.select("segment_id", "bloom")
    out_schema = cand.drop("segment_id").schema.add("maybe_seen", "boolean")

    def probe(cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        cpdf = cpdf.drop(columns=["segment_id"])
        if len(cpdf) == 0:
            return cpdf.assign(maybe_seen=pd.Series([], dtype=bool))
        if len(spdf) == 0:
            return cpdf.assign(maybe_seen=False)
        bf = filter_from_bytes(bytes(spdf["bloom"].iloc[0]))
        keys = cpdf["url_hash"].to_numpy(dtype=np.int64)
        return cpdf.assign(maybe_seen=bf.contains_many(keys))

    return (
        cand.groupBy("segment_id")
        .cogroup(segs.groupBy("segment_id"))
        .applyInPandas(probe, out_schema)
    )


def filter_unseen(
    candidates: DataFrame,
    segments: DataFrame | None,
    exact_seen: DataFrame | None,
    n_segments: int,
) -> DataFrame:
    """Exactly-once + complete: bloom prune, then exact anti-join on the
    (tiny) maybe-seen slice only."""
    marked = mark_maybe_seen(candidates, segments, n_segments)
    if exact_seen is None:
        return marked.drop("maybe_seen")
    definitely_new = marked.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspicious = marked.filter(F.col("maybe_seen")).drop("maybe_seen")
    rescued = suspicious.join(
        exact_seen.select("url_hash", "url_canon"), ["url_hash", "url_canon"], "left_anti"
    )
    return definitely_new.unionByName(rescued)


def revoke_seen(exact_seen: DataFrame, revoked: DataFrame) -> DataFrame:
    """Remove *revoked* URLs from the seen set so they re-fetch
    (politeness/robots revocation — SURVEY.md §4 deletions row).

    Only the exact table needs the delete: a stale bloom segment keeps
    answering maybe-seen for a revoked URL, but :func:`filter_unseen`
    routes maybe-seen rows through the exact anti-join, which no longer
    matches — the URL passes. Correctness never depends on bloom
    deletes; staleness only adds FPP-side anti-join traffic for the
    revoked keys. Hosts with heavy revocation churn should store their
    segment as a :class:`CuckooFilter` (supports true deletes, same
    blob/serde contract) to win that cost back — that swap is a segment
    build-time choice, not a semantic one.
    """
    return exact_seen.join(
        revoked.select("url_hash", "url_canon"), ["url_hash", "url_canon"], "left_anti"
    )


def delete_from_segments(
    segments: DataFrame, revoked: DataFrame, n_segments: int
) -> DataFrame:
    """Delete revoked url_hashes from cuckoo segments (bloom segments
    pass through untouched — their staleness is correctness-neutral, see
    :func:`revoke_seen`). Returns the updated segments table."""
    keyed = revoked.select(
        segment_col(F.col("url_hash"), n_segments).alias("segment_id"), "url_hash"
    )
    out_schema = SEEN_SEGMENTS_SCHEMA

    def drop(spdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(spdf) == 0:
            return pd.DataFrame(columns=["segment_id", "round", "bloom", "n_items"])
        row = spdf.iloc[0]
        blob = bytes(row["bloom"])
        filt = filter_from_bytes(blob)
        n = int(row["n_items"])
        if len(rpdf) and isinstance(filt, CuckooFilter):
            keys = rpdf["url_hash"].to_numpy(dtype=np.int64)
            n -= filt.delete_many(keys)
            blob = filt.to_bytes()
        return pd.DataFrame([{
            "segment_id": int(row["segment_id"]), "round": int(row["round"]),
            "bloom": blob, "n_items": n,
        }])

    return (
        segments.groupBy("segment_id")
        .cogroup(keyed.groupBy("segment_id"))
        .applyInPandas(drop, out_schema)
    )


FILL_REPORT_SCHEMA = (
    "segment_id int, kind string, n_items long, n_bits long, "
    "bits_set long, fill_ppm long, est_fpr_ppm long, needs_rebuild boolean"
)


def segment_fill_report(
    segments: DataFrame, max_fpr_ppm: int = 20_000
) -> DataFrame:
    """Seen-set operability report: per segment ``(segment_id, kind,
    n_items, n_bits, bits_set, fill_ppm, est_fpr_ppm,
    needs_rebuild)``.

    Bloom false-positive rate RISES as segments absorb rounds (fixed
    bit width, OR-merge) — and every false positive is a paid exact
    anti-join probe, so at a 10^10-URL frontier FPR drift is a real
    cost knob, not a curiosity.  The standard estimate from the
    OBSERVED fill is fpr = (bits_set / n_bits)^k (the textbook bloom
    analysis with the fill measured, not modeled), reported in ppm;
    segments over ``max_fpr_ppm`` are flagged for rebuild — blooms
    cannot split in place (no key set inside the blob), so the rebuild
    path is :func:`build_segments` from the exact scheduled-URLs table
    at a larger ``n_segments``, which this report sizes.

    Shape: mapInPandas popcount over the blobs — one Arrow-batched
    pass, each task touches only its partition's blobs, nothing
    shuffles.  Cuckoo segments report occupancy as fill and 0 est_fpr
    (their FPR is fingerprint-width-bound, not fill-bound).
    """
    def gen(it):
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                f = filter_from_bytes(bytes(r["bloom"]))
                if isinstance(f, BloomFilter):
                    kind = "bloom"
                    n_bits = int(f.n_bits)
                    bits_set = int(np.unpackbits(f.bits).sum())
                    fill = bits_set * 1_000_000 // n_bits
                    est = int(((bits_set / n_bits) ** f.n_hashes) * 1_000_000)
                else:
                    kind = "cuckoo"
                    occ = int((f.table != 0).sum())
                    n_bits = int(f.table.size)
                    bits_set = occ
                    fill = occ * 1_000_000 // max(n_bits, 1)
                    est = 0
                rows.append({
                    "segment_id": int(r["segment_id"]),
                    "kind": kind,
                    "n_items": int(r["n_items"]),
                    "n_bits": n_bits,
                    "bits_set": bits_set,
                    "fill_ppm": fill,
                    "est_fpr_ppm": est,
                    "needs_rebuild": kind == "bloom" and est > max_fpr_ppm,
                })
            if rows:
                yield pd.DataFrame(rows)

    return segments.select("segment_id", "bloom", "n_items").mapInPandas(
        gen, FILL_REPORT_SCHEMA
    )
