"""Self-tests for the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q

The last test starts a small Spark session (about 30 s).
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
import workload  # noqa: E402


# ------------------------------------------------------------- generator
def test_corpus_is_deterministic_per_seed():
    a, b, c = gen.make_corpus(5, 300), gen.make_corpus(5, 300), gen.make_corpus(6, 300)
    assert a.texts == b.texts and a.html == b.html
    assert np.array_equal(a.tok_ids, b.tok_ids) and np.array_equal(a.offsets, b.offsets)
    assert a.texts != c.texts


def test_segments_are_independent_draws_with_fresh_ids():
    base = gen.make_corpus(5, 300)
    seg = gen.make_corpus(5, 100, id_base=len(base), stream=1, edges=False, vocab=base.vocab)
    assert seg.doc_ids[0] == len(base) and len(seg) == 100
    assert set(seg.texts).isdisjoint(base.texts[:300])


def test_ground_truth_tokens_match_the_text():
    c = gen.make_corpus(9, 400)
    for i in range(len(c)):
        want = gen.ref_tokenize(c.texts[i])
        got = [c.vocab[t] for t in c.tok_ids[c.offsets[i]:c.offsets[i + 1]]]
        assert got == want, i


def test_corpus_has_the_fixture_shape():
    c = gen.make_corpus(1, 2000)
    df = gen.doc_freqs(c)
    ids = {t: i for i, t in enumerate(c.vocab)}
    assert df[ids["the"]] > 0.8 * len(c)  # hot term
    assert df[ids[gen.RARE_TERM]] == 2  # doc 7 and the all-terms edge row
    assert 0.1 < df[ids["biology"]] / len(c) < 0.2  # planted ~1/8
    assert c.texts[-6:] == list(gen.EDGE_TEXTS)
    assert any(t != t.lower() for t in c.texts[0].split())  # mixed case


def test_queries_are_deterministic_unique_and_follow_the_cycle():
    c = gen.make_corpus(2, 1000)
    qa = gen.QueryGen(c, 4).take(50)
    qb = gen.QueryGen(c, 4).take(50)
    assert qa == qb
    assert len({(q.text, q.mode) for q in qa}) == 50
    assert [q.shape for q in qa[:10]] == list(gen.CYCLE)
    assert all(q.mode == ("and" if q.shape == "and" else "or") for q in qa)
    g = gen.QueryGen(c, 4)
    first, second = g.take(30), g.take(30, gen.BATCH_CYCLE)
    assert not {q.text for q in first} & {q.text for q in second}
    assert all(q.shape != "and" for q in second)


def test_serve_stream_alternates_first_uses_and_repeats():
    a = gen.serve_stream(2000, 3)
    assert np.array_equal(a, gen.serve_stream(2000, 3))
    assert not np.array_equal(a, gen.serve_stream(2000, 4))
    assert np.array_equal(a[0::2], np.arange(1000))  # first uses, in pool order
    for step in range(1, 2000, 2):
        assert a[step] < step // 2 + 1  # a repeat of something already used
    n = len(gen.CYCLE)
    shapes = a[1::2][50:] % n  # once every shape has been used
    assert np.array_equal(shapes, (np.arange(50, 1000) % n))
    counts = np.bincount(a[1::2], minlength=1000)
    assert counts[0] > counts[10 * n]  # popularity falls with first-use rank


def test_postings_ground_truth():
    c = gen.make_corpus(3, 200)
    ids = {t: i for i, t in enumerate(c.vocab)}
    p = gen.postings(c, [ids["biology"]])[ids["biology"]]
    want = {}
    for i, d in enumerate(c.doc_ids.tolist()):
        n = gen.ref_tokenize(c.texts[i]).count("biology")
        if n:
            want[d] = n
    assert p == want


# ------------------------------------------------------------ arithmetic
def test_percentile_matches_numpy():
    rng = np.random.default_rng(0)
    for n in (1, 2, 7, 100):
        xs = rng.lognormal(size=n)
        for q in (0, 50, 90, 100):
            assert stats.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))
    assert stats.percentile([3, 1, 2], 50) == 2
    assert stats.percentile([1, 2, 3, 4], 90) == pytest.approx(3.7)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_rates():
    assert stats.rate(30, 1.5) == 20
    with pytest.raises(ValueError):
        stats.rate(1, 0)
    assert stats.ok_rate(10, 0) == 1.0
    assert stats.ok_rate(4, 1) == 0.75
    with pytest.raises(ValueError):
        stats.ok_rate(0, 0)
    with pytest.raises(ValueError):
        stats.ok_rate(3, 4)


def test_spread_uses_quartiles_over_median():
    vals = list(range(1, 11))
    assert stats.spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)
    assert stats.spread([7.0] * 10) == 0.0


def test_compare_rank_identity_and_tolerance():
    want = [(4, 2.0), (1, 1.5), (9, 1.5)]
    assert workload.compare([(4, 2.0), (1, 1.5 + 1e-12), (9, 1.5)], want) is None
    assert workload.compare([(4, 2.0), (9, 1.5), (1, 1.5)], want) is not None  # tie order
    assert workload.compare([(4, 2.0), (1, 1.5)], want) is not None
    assert workload.compare([(4, 2.0 + 1e-6), (1, 1.5), (9, 1.5)], want) is not None


def test_plan_kind():
    assert workload.plan_kind("exhaustive") == ("exhaustive", None)
    assert workload.plan_kind("routed+probe") == ("routed_probe", None)
    assert workload.plan_kind("and-candidate+neg+range-anti") == ("and_candidate", "range_anti")
    assert workload.plan_kind("routed+docset-kernel") == ("routed", "docset_kernel")
    assert workload.plan_kind("something-new") == ("other", None)


# ------------------------------------------------------ cold/warm on Spark
def test_cold_warm_classification_on_a_tiny_corpus(monkeypatch):
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([workload.REPO, os.environ.get("PYTHONPATH", "")]))
    monkeypatch.chdir(workload.REPO)  # the socket dir is relative to it
    scratch = os.path.join(workload.REPO, ".perfbench", "runs", f"test{os.getpid()}")
    args = argparse.Namespace(workload="serve", seed=3, seconds=1, trace=1, scratch=scratch)
    b = workload.Bench(args)
    b.size = {"docs": 200, "appends": 1}
    try:
        b.start_session()
        b.make_inputs()
        b.build(b.base_dir, b.path("wh"))
        seen: set = set()
        q1, q2, q3 = [q for q in b.qgen.take(12) if q.shape in ("or", "rare", "mixed")][:3]
        for i, q in enumerate([q1, q2, q1, q1, q3, q2]):
            b.query(q, seen, f"r{i}")
        b.append(0)
        b.query(q1, seen, "after-append")
        b.check()
        assert [e["cold"] for e in b.qlog] == [True, True, False, False, True, False, True]
        assert all(ok for _, ok in b.ops), b.notes
        # a warm call is a plan-memo hit: search() returns without planning
        cold = [e["plan_ms"] for e in b.qlog if e["cold"]]
        warm = [e["plan_ms"] for e in b.qlog if not e["cold"]]
        assert max(warm) < min(cold), (warm, cold)
        assert statistics.median(warm) < 5.0
        # repeats return what the first run returned
        assert b.qlog[0]["rows"] == b.qlog[2]["rows"] == b.qlog[3]["rows"]
    finally:
        b.close()
        shutil.rmtree(scratch, ignore_errors=True)
