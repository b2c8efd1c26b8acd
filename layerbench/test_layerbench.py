"""Self-tests of the benchmark at tiny sizes:

    python3 -m pytest layerbench -q

Generators are deterministic per seed, every output check trips on a
corrupted output, and an operation that misses its deadline is
cancelled and counted as failed.
"""

from __future__ import annotations

import sys
import threading
import time
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import gen  # noqa: E402
import harness  # noqa: E402
import refs  # noqa: E402


def _same(a, b) -> bool:
    if isinstance(a, tuple):
        return all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b)
    return a == b


GENERATORS = {
    "geo_points": lambda s: gen.geo_points(s, 500),
    "small_boxes": lambda s: gen.small_boxes(s, 200, 0.01),
    "sample_ids": lambda s: gen.sample_ids(s, 6, 1000, 50),
    "documents": lambda s: gen.documents(s, 60, 0.2),
    "vectors": lambda s: gen.vectors(s, 100, 8, 0.1),
    "probe_queries": lambda s: gen.probe_queries(s, 12, *gen.geo_points(s, 300)[1:]),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generator_is_seeded(name):
    g = GENERATORS[name]
    assert _same(g(1), g(1))
    assert not _same(g(1), g(2))


# -- checks trip on corrupted outputs -----------------------------------------


def _points(n=400, seed=3):
    ids, x, y = gen.geo_points(seed, n)
    return ids, x, y


def test_pair_check():
    ids, x, y = _points()
    e = 0.05
    boxes = np.stack([x - e, y - e, x + e, y + e], axis=1)
    l, r = refs.box_pairs(ids, boxes, ids, boxes)
    # brute force over all pairs agrees with the sweep
    ov = (
        (boxes[:, None, 0] <= boxes[None, :, 2])
        & (boxes[:, None, 2] >= boxes[None, :, 0])
        & (boxes[:, None, 1] <= boxes[None, :, 3])
        & (boxes[:, None, 3] >= boxes[None, :, 1])
    )
    assert len(l) == int(ov.sum()) > len(ids)
    good = (len(l), refs.pair_checksum(l, r))
    assert refs.check_pairs(good, l, r) is None
    assert refs.check_pairs((good[0] - 1, good[1]), l, r)
    r2 = r.copy()
    r2[0] = (r2[0] + 1) % len(ids)
    assert refs.check_pairs((len(l), refs.pair_checksum(l, r2)), l, r)


def _knn_output(ids, x, y, lefts, k):
    out_l, out_r, out_d = [], [], []
    for i in lefts:
        ri, rd = refs.knn_brute(x[i], y[i], x, y, ids, k)
        out_l += [i] * k
        out_r += ri.tolist()
        out_d += rd.tolist()
    return np.array(out_l), np.array(out_r), np.array(out_d)


def test_knn_check():
    ids, x, y = _points()
    lefts = np.arange(0, 400, 7)
    k = 3
    ol, orr, od = _knn_output(ids, x, y, lefts, k)
    sample = [(int(i), float(x[i]), float(y[i])) for i in lefts[:10]]
    args = (len(lefts), k, sample, x, y, ids)
    assert refs.check_knn(ol, orr, od, *args) is None
    assert refs.check_knn(ol[:-1], orr[:-1], od[:-1], *args)
    bad_r = orr.copy()
    bad_r[[1, 2]] = bad_r[[2, 1]]
    assert refs.check_knn(ol, bad_r, od, *args)
    bad_d = od.copy()
    bad_d[4] *= 1.001
    assert refs.check_knn(ol, orr, bad_d, *args)


def test_count_check():
    want = {1: 3, 2: 5}
    assert refs.check_counts(dict(want), want, "tiles") is None
    assert refs.check_counts({1: 3, 2: 4}, want, "tiles")
    assert refs.check_counts({1: 3, 2: 5, 9: 1}, want, "tiles")


def test_probe_check():
    ids, x, y = _points()
    for q in gen.probe_queries(4, 9, x, y):
        want = refs.probe_brute(q, x, y, ids)
        assert refs.check_probe(q, want, x, y, ids) is None
        if q[0] == "knn":
            wi, wd = want
            assert refs.check_probe(q, (wi[:-1], wd[:-1]), x, y, ids)
            assert refs.check_probe(q, (wi, wd * 1.01 + 1e-6), x, y, ids)
        else:
            assert refs.check_probe(q, want | {-1}, x, y, ids)


def test_jaccard_and_cosine_checks():
    ids, texts, planted = gen.documents(5, 80, 0.25)
    t = dict(zip(ids.tolist(), texts))
    assert refs.check_jaccard_pairs(planted, t, 4, 1, 2) is None
    assert refs.check_jaccard_pairs(planted + [(0, 1)], t, 4, 1, 2)
    _, v, vp = gen.vectors(5, 200, 16, 0.1)
    assert refs.check_cosine_pairs(vp, v, 0.95) is None
    assert refs.check_cosine_pairs(vp + [(0, 1)], v, 0.95)
    assert refs.recall(vp[:5], vp) == pytest.approx(5 / len(vp))


# -- deadline, failure counting, spans ------------------------------------------


class FakeContext:
    """Stands in for a SparkContext: cancelling a group stops its op."""

    def __init__(self):
        self.cancelled = threading.Event()
        self.groups = []

    def setJobGroup(self, group, desc, interruptOnCancel=False):
        self.groups.append(group)

    def setLocalProperty(self, k, v):
        pass

    def cancelJobGroup(self, group):
        self.cancelled.set()


def _slow_job(sc: FakeContext):
    t0 = time.perf_counter()
    while not sc.cancelled.is_set():
        if time.perf_counter() - t0 > 30:
            return "finished"
        time.sleep(0.01)
    raise RuntimeError("job cancelled")


def test_missed_deadline_counts_as_failed():
    sc = FakeContext()
    runner = harness.OpRunner(sc, harness.Tracer("t", enabled=True))
    t0 = time.perf_counter()
    res = runner.run("slow", lambda: _slow_job(sc), deadline_s=0.3)
    assert time.perf_counter() - t0 < 5
    assert not res.ok and res.error.startswith("deadline")
    assert sc.cancelled.is_set()
    ok = runner.run("fast", lambda: 42, deadline_s=5, check=lambda v: None if v == 42 else "wrong")
    bad = runner.run("wrong", lambda: 41, deadline_s=5, check=lambda v: None if v == 42 else "wrong")
    boom = runner.run("boom", lambda: 1 / 0, deadline_s=5)
    assert ok.ok and not bad.ok and bad.error.startswith("output check") and not boom.ok
    assert [r.ok for r in runner.results] == [False, True, False, False]


def test_self_time_subtracts_children():
    tr = harness.Tracer("t", enabled=True)
    root = tr.start("root")
    a = tr.start("a")
    time.sleep(0.05)
    tr.finish(a)
    time.sleep(0.02)
    tr.finish(root)
    st = tr.self_times()
    assert st[a.span_id] == pytest.approx(a.duration)
    assert st[root.span_id] == pytest.approx(root.duration - a.duration, abs=1e-9)
    assert a.parent == root.span_id and a.run_id == "t"


def test_tail_percentile():
    xs = list(range(1, 101))
    p, v = harness.tail_percentile(xs)
    assert p == 90.0 and v == 90
    assert harness.tail_percentile(list(range(12)))[0] == 50.0
