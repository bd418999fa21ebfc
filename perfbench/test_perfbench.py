"""Tests of the benchmark's own code: generators, statistics, span
self-times and job-group accounting.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from tracing import JobGroups, Span, Tracer, median, percentile, self_times  # noqa: E402


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_docs_same_seed_identical_other_seed_differs(tmp_path):
    a = gen.write_docs(str(tmp_path / "a"), 3000, seed=5, n_files=3, sample_every=3)
    b = gen.write_docs(str(tmp_path / "b"), 3000, seed=5, n_files=3, sample_every=3)
    c = gen.write_docs(str(tmp_path / "c"), 3000, seed=6, n_files=3, sample_every=3)
    assert _digest(a.paths) == _digest(b.paths)
    assert _digest(a.paths) != _digest(c.paths)
    assert gen.lookup_ids(a, 5, 200) == gen.lookup_ids(b, 5, 200)
    assert gen.lookup_ids(a, 5, 200) != gen.lookup_ids(c, 6, 200)


def test_docs_malformed_and_null_rates_exact(tmp_path):
    n = 20_000
    d = gen.write_docs(str(tmp_path), n, seed=9, n_files=4)
    bad = null = good = 0
    ids = set()
    for p in d.paths:
        with open(p) as f:
            for line in f:
                try:
                    doc = json.loads(line)
                except json.JSONDecodeError:
                    bad += 1
                    continue
                if doc["doc_id"] is None:
                    null += 1
                else:
                    good += 1
                    ids.add(doc["doc_id"])
    assert (bad, null, good) == (n // 100, n // 200, n - n // 100 - n // 200)
    assert (d.n_malformed, d.n_null_id, d.n_good) == (bad, null, good)
    assert len(ids) == good
    assert d.input_bytes == sum(os.path.getsize(p) for p in d.paths)


def test_lookup_ids_hit_share_and_no_repeats(tmp_path):
    d = gen.write_docs(str(tmp_path), 5000, seed=3, n_files=2, sample_every=1)
    ids = gen.lookup_ids(d, 3, 400)
    assert len(ids) == len(set(ids)) == 400
    hits = [i for i in ids if i in d.sample]
    assert len(hits) == 360
    with open(d.paths[0]) as f0, open(d.paths[1]) as f1:
        text = f0.read() + f1.read()
    assert all(f'"{i}"' not in text for i in ids if i not in d.sample)


def test_query_order_seeded():
    assert gen.query_order(4, 1) == gen.query_order(4, 1)
    assert sorted(gen.query_order(4, 1)) == sorted(gen.QUERY_MIX)
    orders = {tuple(gen.query_order(s, p)) for s in range(3) for p in range(3)}
    assert len(orders) > 1


def test_tables_same_seed_identical(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 1, 0.001)
    gen.write_tables(str(tmp_path / "b"), 1, 0.001)
    gen.write_tables(str(tmp_path / "c"), 2, 0.001)
    for t in ("lineitem", "documents", "embeddings"):
        a, b, c = (str(tmp_path / x / f"{t}.parquet") for x in "abc")
        assert _digest([a]) == _digest([b])
        assert _digest([a]) != _digest([c])


@pytest.mark.parametrize("q", [0, 10, 25, 50, 90, 95, 100])
def test_percentile_matches_linear_interpolation(q):
    rng = random.Random(q)
    xs = [rng.random() for _ in range(37)]
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100
    lo = int(pos)
    want = s[lo] + (s[min(lo + 1, len(s) - 1)] - s[lo]) * (pos - lo)
    assert percentile(xs, q) == pytest.approx(want)


def test_percentile_small_cases():
    assert percentile([3.0], 95) == 3.0
    assert median([1, 2, 3, 4]) == 2.5
    assert percentile([1, 2, 3, 4, 5], 90) == pytest.approx(4.6)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_self_times():
    spans = [
        Span(0, "root", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 3.0, 0, 0),
        Span(2, "b", 2.0, 5.0, 0, 0),  # overlaps a: covered 1..5
        Span(3, "c", 8.0, 12.0, 0, 0),  # clipped to 8..10
        Span(4, "a.child", 1.5, 2.0, 1, 0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[1] == pytest.approx(2 - 0.5)
    assert st[2] == pytest.approx(3)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nesting_and_trace_ids():
    tr = Tracer(True)
    with tr.span("op"):
        with tr.span("inner"):
            pass
    with tr.span("op"):
        pass
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    inner, (op1, op2) = by_name["inner"][0], sorted(by_name["op"], key=lambda s: s.start)
    assert inner.parent == op1.span_id and inner.trace_id == op1.trace_id
    assert op2.parent is None and op2.trace_id != op1.trace_id
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from common import start_session
    from run import stop_session

    s, _ = start_session(str(tmp_path_factory.mktemp("spark")), 2)
    yield s
    stop_session(s)


def test_repeated_call_reports_same_job_count(spark):
    """Each call gets its own job group, so a repeated multi-job call
    reports the same job count every time (one shared group name would
    report the jobs of every earlier call as well)."""
    groups = JobGroups(spark)

    def call():
        df = spark.range(1000)
        df.count()
        df.filter("id % 2 = 0").collect()
        df.groupBy((df.id % 7).alias("k")).count().collect()

    counts = []
    for _ in range(3):
        with groups.group("call") as gid:
            call()
        counts.append(groups.stats(gid)["jobs"])
    assert counts[0] >= 3 and counts == [counts[0]] * 3
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None

    spark.sparkContext.setJobGroup("shared", "shared")
    call()
    call()
    shared = len(spark.sparkContext.statusTracker().getJobIdsForGroup("shared"))
    assert shared == 2 * counts[0]


def test_disabled_job_groups_set_nothing(spark):
    """Untraced runs open no job group: no JVM call around the timed call."""
    sc = spark.sparkContext
    before = sc.getLocalProperty("spark.jobGroup.id")
    with JobGroups(spark, enabled=False).group("call") as gid:
        assert sc.getLocalProperty("spark.jobGroup.id") == before
        spark.range(10).count()
    assert gid is None
    assert sc.getLocalProperty("spark.jobGroup.id") == before
