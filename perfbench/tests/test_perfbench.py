"""The benchmark's own checks: the oracle comparison, the layer wrappers and
the manifest round-wall parser. Pure Python, no Spark session.

    python3 -m pytest perfbench/tests -q
"""

import datetime as dt

import pytest

from perfbench import checks, tracing, workloads
from biothings_crawler_spark.oracle import bfs

N = 80


@pytest.fixture(scope="module")
def harvest_expected():
    return workloads.expected("harvest", workloads.generate("harvest", seed=7, n=N))


def _as_engine(exp):
    """The tables a correct engine would commit for *exp*."""
    return list(exp.ordering), list(exp.docs), list(exp.page_texts)


def test_oracle_output_passes_the_check(harvest_expected):
    res = checks.check_crawl(*_as_engine(harvest_expected), harvest_expected)
    assert res.ok and res.dup_scheduled == 0 and res.oracle_mismatch_rows == 0
    assert harvest_expected.page_texts and harvest_expected.docs


def test_check_flags_a_duplicate_scheduled_row(harvest_expected):
    sched, docs, texts = _as_engine(harvest_expected)
    rnd, host, _rank, canon = sched[0]
    sched.append((rnd + 2, host, 1, canon))  # the same URL again, two rounds later
    res = checks.check_crawl(sched, docs, texts, harvest_expected)
    assert not res.ok
    assert res.dup_scheduled == 1
    assert res.mismatch["ordering"] == 1
    assert res.mismatch["seen"] == 0  # the seen set alone cannot see a duplicate


def test_check_flags_an_altered_doc(harvest_expected):
    sched, docs, texts = _as_engine(harvest_expected)
    rnd, canon, doc = docs[0]
    docs[0] = (rnd, canon, doc.replace('"', "'", 1))
    res = checks.check_crawl(sched, docs, texts, harvest_expected)
    assert not res.ok
    assert res.dup_scheduled == 0
    assert res.mismatch["docs"] == 2  # one row missing, one unexpected


def test_check_flags_a_doc_committed_in_another_round(harvest_expected):
    sched, docs, texts = _as_engine(harvest_expected)
    rnd, canon, doc = docs[0]
    docs[0] = (rnd + 1, canon, doc)
    assert checks.check_crawl(sched, docs, texts, harvest_expected).mismatch["docs"] == 2


def test_seed_changes_the_seed_list_but_not_the_corpus():
    a = workloads.generate("harvest", seed=1, n=N)
    b = workloads.generate("harvest", seed=2, n=N)
    assert a.pages == b.pages
    assert [s["url"] for s in a.seeds] == [s["url"] for s in b.seeds]
    assert [s["priority"] for s in a.seeds] != [s["priority"] for s in b.seeds]
    assert workloads.generate("harvest", seed=1, n=N).seeds == a.seeds
    d1 = workloads.discover_seeds(N, 1)
    assert d1 == workloads.discover_seeds(N, 1)
    assert d1 != workloads.discover_seeds(N, 2)
    assert len({s["url"] for s in d1}) == len(d1) == 14


def test_harvest2_is_the_first_two_rounds_of_harvest():
    inp = workloads.generate("harvest2", seed=7, n=N)
    assert inp.seeds == workloads.generate("harvest", seed=7, n=N).seeds
    two = workloads.expected("harvest2", inp)
    three = workloads.expected("harvest", inp)
    assert {row[0] for row in two.ordering} == {0, 1}  # round 1 probes the seen set
    assert sorted(two.ordering) == sorted(r for r in three.ordering if r[0] < 2)
    assert checks.check_crawl(*_as_engine(two), two).ok


def test_refetch_expectation_restores_the_simulator():
    orig = bfs.oracle_page_items
    exp = workloads.expected("refetch", workloads.generate("refetch", seed=3, n=N))
    assert bfs.oracle_page_items is orig
    assert exp.meta["changed_seen"] > 0 and exp.docs


def _manifest(n_rounds, start, step_s):
    meta = {str(r): {"build_date": (start + dt.timedelta(seconds=step_s * (r + 1)))
                     .isoformat()} for r in range(n_rounds)}
    return {"rounds": list(range(n_rounds)), "tables": {}, "_meta": meta}


def test_round_walls_one_round():
    start = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    assert checks.round_walls(_manifest(1, start, 7.5), start) == [7.5]


def test_round_walls_eight_rounds():
    start = dt.datetime(2026, 1, 1, 12, tzinfo=dt.timezone.utc)
    m = _manifest(8, start, 2.25)
    m["rounds"] = list(reversed(m["rounds"]))  # order comes from the round number
    assert checks.round_walls(m, start) == [2.25] * 8


def test_wrappers_restore_the_originals():
    before = {(owner, attr): owner.__dict__[attr] for owner, attr in tracing.PATCH_POINTS}
    tracer = tracing.Tracer(spark=None, call_group="g")
    with pytest.raises(RuntimeError):
        with tracing.patched(tracer):
            for owner, attr in tracing.PATCH_POINTS:
                assert owner.__dict__[attr] is not before[(owner, attr)], attr
            raise RuntimeError("a failing call must still restore")
    for (owner, attr), fn in before.items():
        assert owner.__dict__[attr] is fn, attr


def test_round_table_adds_up_to_the_round_wall():
    t = tracing.Tracer(spark=None, call_group="g")
    t.spans = [tracing.Span("seen.filter", 0, 1.0, 1.5, "a"),
               tracing.Span("catalog.commit", 0, 2.0, 3.0, "b"),
               tracing.Span("seen.filter", 1, 4.0, 4.25, "c")]
    t.round_bounds = [(0.5, 3.5), (3.5, 5.0)]
    rows = t.round_table()
    for row in rows:
        assert row["overhead_s"] + sum(row["spans_s"].values()) == pytest.approx(row["wall_s"])
    assert rows[0]["spans_s"] == {"seen.filter": 0.5, "catalog.commit": 1.0}
    assert rows[1]["overhead_s"] == pytest.approx(1.25)


def test_event_log_jobs_and_shuffle_per_group(tmp_path):
    import json

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "seen.filter#3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "call-1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 20}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = tracing.event_log_by_group(str(tmp_path))
    assert got == {"seen.filter#3": {"jobs": 1, "shuffle_bytes": 120},
                   "call-1": {"jobs": 1, "shuffle_bytes": 0}}
