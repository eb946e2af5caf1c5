"""Bloom/cuckoo seen-set: no false negatives, bounded FPP, serde, deletes,
and the DataFrame-level prune+exact pipeline."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from biothings_crawler_spark.operators.seen import (
    BloomFilter,
    CuckooFilter,
    build_segments,
    filter_unseen,
    mark_maybe_seen,
)

RNG_KEYS = np.arange(-50_000, 50_000, 7, dtype=np.int64) * 2_654_435_761
WIDE_KEYS = np.random.default_rng(0).integers(
    np.iinfo(np.int64).min, np.iinfo(np.int64).max, 2_000, dtype=np.int64
)


def test_bloom_no_false_negatives_and_fpp():
    bf = BloomFilter.sized_for(10_000, fpp=0.01)
    ins = RNG_KEYS[:10_000]
    bf.add_many(ins)
    assert bf.contains_many(ins).all()
    other = RNG_KEYS[10_000:14_000] + 1
    fpp = bf.contains_many(other).mean()
    assert fpp < 0.03, fpp


def test_bloom_serde_and_merge():
    a = BloomFilter(1 << 13, 5)
    b = BloomFilter(1 << 13, 5)
    a.add_many(RNG_KEYS[:100])
    b.add_many(RNG_KEYS[100:200])
    m = BloomFilter.from_bytes(a.merge(b).to_bytes())
    assert m.contains_many(RNG_KEYS[:200]).all()


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200))
def test_bloom_membership_property(keys):
    bf = BloomFilter.sized_for(max(1, len(keys)))
    bf.add_many(np.array(keys, dtype=np.int64))
    if keys:
        assert bf.contains_many(np.array(keys, dtype=np.int64)).all()


def test_cuckoo_add_contains_delete():
    cf = CuckooFilter.sized_for(2_000)
    keys = [int(k) for k in RNG_KEYS[:2_000]]
    for k in keys:
        assert cf.add(k)
    assert all(cf.contains(k) for k in keys)
    for k in keys[:500]:
        assert cf.delete(k)
    # deleted keys are gone (up to fp collisions with remaining keys)
    still = sum(cf.contains(k) for k in keys[:500])
    assert still < 25, still
    assert all(cf.contains(k) for k in keys[500:])
    rt = CuckooFilter.from_bytes(cf.to_bytes())
    assert all(rt.contains(k) for k in keys[500:])


N_SEG = 8


def _cand(spark, hashes):
    return spark.createDataFrame(
        [(int(h), f"u{h}") for h in hashes], "url_hash long, url_canon string"
    )


def test_segment_build_and_probe(spark):
    seen_hashes = [int(k) for k in RNG_KEYS[:3_000]]
    new_hashes = [int(k) + 1 for k in RNG_KEYS[3_000:3_400]]
    segs = build_segments(_cand(spark, seen_hashes), 0, N_SEG, 1 << 16, 7)
    segs_pd = segs.toPandas()
    assert set(segs_pd["segment_id"]) <= set(range(N_SEG))
    assert segs_pd["n_items"].sum() == len(seen_hashes)

    marked = mark_maybe_seen(
        _cand(spark, seen_hashes[:500] + new_hashes), segs, N_SEG
    ).toPandas()
    seen_set = set(seen_hashes[:500])
    maybe = dict(zip(marked["url_hash"], marked["maybe_seen"]))
    # no false negatives
    assert all(maybe[h] for h in seen_set)
    fp = sum(maybe[h] for h in new_hashes)
    assert fp < len(new_hashes) * 0.05


def test_segments_merge_across_rounds(spark):
    # RNG_KEYS all fit in a float64 mantissa; WIDE_KEYS span the full
    # int64 range, where a key that passes through float64 loses bits.
    for keys in (RNG_KEYS, WIDE_KEYS):
        r0 = [int(k) for k in keys[:1_000]]
        r1 = [int(k) for k in keys[1_000:2_000]]
        s0 = build_segments(_cand(spark, r0), 0, N_SEG, 1 << 16, 7)
        s1 = build_segments(_cand(spark, r1), 1, N_SEG, 1 << 16, 7, prev_segments=s0)
        marked = mark_maybe_seen(_cand(spark, r0 + r1), s1, N_SEG).toPandas()
        assert marked["maybe_seen"].all()
        assert s1.toPandas()["n_items"].sum() == 2_000


def test_filter_unseen_exactness(spark):
    """Bloom false positives must NOT lose unseen URLs (exact backstop)."""
    seen = [int(k) for k in RNG_KEYS[:2_000]]
    new = [int(k) + 1 for k in RNG_KEYS[2_000:4_000]]
    segs = build_segments(_cand(spark, seen), 0, N_SEG, 1 << 10, 3)  # tiny -> high FPP
    exact = _cand(spark, seen)
    out = filter_unseen(_cand(spark, seen + new), segs, exact, N_SEG).toPandas()
    assert set(out["url_hash"]) == set(new)  # complete AND exactly-once


@pytest.mark.parametrize("n_seg", [1, 8])
def test_filter_unseen_no_segments(spark, n_seg):
    out = filter_unseen(_cand(spark, [1, 2, 3]), None, None, n_seg)
    assert out.count() == 3


def test_revoked_urls_refetch(spark):
    """Revocation flow: stale bloom + pruned exact table => the revoked
    URL passes filter_unseen again (correctness never needs bloom
    deletes)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from biothings_crawler_spark.operators.seen import (
        build_segments,
        filter_unseen,
        revoke_seen,
    )

    urls = spark.createDataFrame(
        pd.DataFrame({"url_canon": [f"https://h/x{i}" for i in range(50)]})
    ).withColumn("url_hash", F.xxhash64("url_canon"))
    segments = build_segments(urls.select("url_hash"), 0, 4, 1 << 12, 5)
    exact = urls.select("url_hash", "url_canon")

    revoked = urls.filter(F.col("url_canon") == "https://h/x7")
    exact2 = revoke_seen(exact, revoked)

    out = filter_unseen(urls, segments.select("segment_id", "bloom"), exact2, 4)
    passed = {r["url_canon"] for r in out.collect()}
    assert passed == {"https://h/x7"}


def test_cuckoo_segments_end_to_end(spark):
    """Cuckoo segment build -> probe -> segment-level delete -> revoked
    key re-probes as unseen, all others still maybe-seen (no false
    negatives)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from biothings_crawler_spark.operators.seen import (
        build_segments,
        delete_from_segments,
        mark_maybe_seen,
    )

    urls = spark.createDataFrame(
        pd.DataFrame({"url_canon": [f"https://h/c{i}" for i in range(200)]})
    ).withColumn("url_hash", F.xxhash64("url_canon"))
    segs = build_segments(
        urls.select("url_hash"), 0, 4, 0, 0,
        segment_kind="cuckoo", cuckoo_capacity=4096,
    ).persist()
    probed = mark_maybe_seen(urls, segs.select("segment_id", "bloom"), 4)
    assert probed.filter(~F.col("maybe_seen")).count() == 0  # no false negatives

    revoked = urls.filter(F.col("url_canon").isin("https://h/c5", "https://h/c50"))
    segs2 = delete_from_segments(segs, revoked, 4)
    probed2 = mark_maybe_seen(urls, segs2.select("segment_id", "bloom"), 4)
    unseen = {r["url_canon"] for r in probed2.filter(~F.col("maybe_seen")).collect()}
    assert unseen == {"https://h/c5", "https://h/c50"}


def test_segment_fill_report_tracks_fpr_drift(spark):
    """Fill report: estimated FPR rises with absorbed rounds, the
    rebuild flag trips past the threshold, cuckoo segments report
    occupancy with est_fpr 0, and the report never shuffles blobs."""
    import pandas as pd

    from biothings_crawler_spark.operators.seen import (
        BloomFilter,
        CuckooFilter,
        segment_fill_report,
    )

    import numpy as np

    light = BloomFilter(1024, 4)
    light.add_many(np.arange(10, dtype=np.int64))
    heavy = BloomFilter(1024, 4)
    heavy.add_many(np.arange(5000, dtype=np.int64))       # way oversubscribed
    ck = CuckooFilter.sized_for(64)
    ck.add_many(np.arange(20, dtype=np.int64))
    segs = spark.createDataFrame(pd.DataFrame({
        "segment_id": [0, 1, 2],
        "round": [1, 1, 1],
        "bloom": [light.to_bytes(), heavy.to_bytes(), ck.to_bytes()],
        "n_items": [10, 5000, 20],
    }))
    out = {r["segment_id"]: r for r in
           segment_fill_report(segs, max_fpr_ppm=20_000).collect()}
    assert out[0]["kind"] == "bloom" and out[0]["needs_rebuild"] is False
    assert out[0]["est_fpr_ppm"] < 100
    assert out[1]["needs_rebuild"] is True
    assert out[1]["est_fpr_ppm"] > 500_000       # saturated filter
    assert out[0]["fill_ppm"] < out[1]["fill_ppm"]
    assert out[2]["kind"] == "cuckoo" and out[2]["est_fpr_ppm"] == 0
    plan = segment_fill_report(segs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
