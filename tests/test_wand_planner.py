"""Pure-python soundness properties of the driver-side WAND planner's
ladder estimators (query._est_kept_blocks / query._deep_kth_wand).

The ladders are built here exactly as build._block_summary builds them
(per salt: [n_blocks, max@0, min@0, max@1, min@1, ... at power-of-two
block_ids] over a wand-DESC posting sequence), then the two claims are
checked against ground truth computed directly from the postings:

- _est_kept_blocks(theta) is an UPPER bound on the blocks the theta
  filter keeps (never underestimates -> the cost-based plan choice can
  only err toward the exhaustive-but-exact plan);
- _deep_kth_wand(k) returns v such that at least k DISTINCT docs truly
  score >= v from this term alone (the tau it feeds is a valid lower
  bound on the k-th best score at any depth).

The planner gate tests at the end run query.plan_query with no
SparkSession against a warehouse seeded only in the driver memo, and
force each gate both ways by patching its threshold.
"""

import types

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lsearch_spark import query as Q
from lsearch_spark.query import _deep_kth_wand, _est_kept_blocks

BLOCK = 8  # small block size so tiny cases exercise partial tail blocks


def _mk_salts(wands: np.ndarray, n_salts: int, seed: int):
    """Split a term's per-posting wand values across salts (hash-like),
    sort each salt DESC (impact order), chunk into BLOCK-sized blocks."""
    rng = np.random.RandomState(seed)
    which = rng.randint(0, n_salts, len(wands))
    salts = []
    for s in range(n_salts):
        w = np.sort(wands[which == s])[::-1]
        if len(w):
            blocks = [w[i : i + BLOCK] for i in range(0, len(w), BLOCK)]
            salts.append(blocks)
    return salts


def _mk_ladder(salts):
    lads = []
    for blocks in salts:
        lad = [float(len(blocks))]
        for j, b in enumerate(blocks):
            if j == 0 or (j & (j - 1)) == 0:  # power-of-two block ids
                lad += [float(b.max()), float(b.min())]
        lads.append(lad)
    return lads


wand_lists = st.lists(
    st.floats(min_value=0.01, max_value=10.0, allow_nan=False), min_size=1, max_size=400
)


@given(wand_lists, st.integers(1, 4), st.floats(0.0, 11.0), st.integers(0, 10**6))
@settings(max_examples=200, deadline=None)
def test_est_kept_blocks_never_underestimates(ws, n_salts, theta, seed):
    wands = np.array(ws)
    salts = _mk_salts(wands, n_salts, seed)
    n_blocks = sum(len(b) for b in salts)
    bs = {"n_blocks": n_blocks, "top_wands": [], "impact_ladder": _mk_ladder(salts)}
    truly_kept = sum(1 for blocks in salts for b in blocks if b.max() >= theta)
    est = _est_kept_blocks(bs, theta, impact=True)
    assert est >= truly_kept, (est, truly_kept, theta)


@given(wand_lists, st.integers(1, 4), st.integers(1, 500), st.integers(0, 10**6))
@settings(max_examples=200, deadline=None)
def test_deep_kth_wand_is_sound(ws, n_salts, k, seed):
    wands = np.array(ws)
    salts = _mk_salts(wands, n_salts, seed)
    bs = {"n_blocks": sum(len(b) for b in salts), "impact_ladder": _mk_ladder(salts)}
    v = _deep_kth_wand(bs, k, BLOCK)
    if v is None:
        return  # "can't prove k docs" is always a sound answer
    # every posting is one distinct doc: at least k must truly reach v
    assert int((wands >= v).sum()) >= k, (v, k, int((wands >= v).sum()))


def test_deep_kth_wand_reaches_depth_beyond_any_topk_list():
    """A 10k-posting stopword-like term: the ladder proves a bound at
    depth 5000 — far past any stored top-K list — and the bound is the
    tightest sampled value (within one po2 step of the true 5000th)."""
    wands = np.linspace(10.0, 0.1, 10_000)
    salts = _mk_salts(wands, 4, seed=1)
    bs = {"n_blocks": sum(len(b) for b in salts), "impact_ladder": _mk_ladder(salts)}
    v = _deep_kth_wand(bs, 5000, BLOCK)
    assert v is not None
    true_kth = np.sort(wands)[::-1][4999]
    n_at_v = int((wands >= v).sum())
    assert 5000 <= n_at_v <= 4 * 5000  # sound and within the po2 slack
    assert v <= true_kth


# --------------------------------------------------- docset exclusion kernel
from hypothesis import given, settings
from hypothesis import strategies as hst


@settings(max_examples=200, deadline=None)
@given(
    hst.lists(hst.integers(min_value=-(2**62), max_value=2**62), max_size=60),
    hst.lists(hst.integers(min_value=-(2**62), max_value=2**62), max_size=60),
)
def test_exclusion_mask_matches_isin(ids_l, ex_l):
    """The decode kernel's searchsorted exclusion (query.py
    _decode_score_partials) must equal np.isin set semantics for any ids
    vs any sorted-unique exclusion array."""
    import numpy as np

    ids = np.array(ids_l, dtype=np.int64)
    ex = np.unique(np.array(ex_l, dtype=np.int64))
    if ex.size:
        pos = np.searchsorted(ex, ids)
        pos[pos == ex.size] = 0
        keep = ex[pos] != ids
    else:
        keep = np.ones(ids.size, dtype=bool)
    want = ~np.isin(ids, ex)
    assert np.array_equal(keep, want)


# ------------------------------------------- planner gates, no SparkSession
N_FAKE = 1000


def _term(wands, impact: bool, seed: int = 0) -> dict:
    """term_block_stats row for a term whose postings carry `wands`."""
    salts = _mk_salts(np.asarray(wands, dtype=float), 2, seed)
    maxima = sorted((float(b.max()) for blocks in salts for b in blocks), reverse=True)
    return {
        "n_blocks": len(maxima), "n_postings": len(wands), "ub_wand": maxima[0],
        "top_wands": maxima[:16], "impact_ladder": _mk_ladder(salts) if impact else None,
    }


@pytest.fixture
def fake_wh(monkeypatch):
    """A warehouse that exists only as seeded driver memo: every planner
    input is served from _WH_CACHE, so any Spark access would fail."""
    bstats = {
        "hot": _term(np.linspace(2.0, 0.5, 900), impact=True, seed=1),
        "hot2": _term(np.linspace(2.0, 0.5, 800), impact=True, seed=2),
        "rare": _term([1.5, 1.2], impact=False),
        "mid": _term(np.linspace(1.5, 1.0, 9), impact=False),
        "mid8": _term(np.linspace(1.5, 1.0, 8), impact=False),
    }
    root = "/nonexistent/fake-planner-wh"
    monkeypatch.setitem(Q._WH_CACHE, root, {
        "cfg": {"n_buckets": 4, "block_size": BLOCK, "n_salts": 2},
        "stats": {"n_docs": N_FAKE, "avgdl": 10.0},
        "plans": {}, "buckets": {},
        "dfs": {t: b["n_postings"] for t, b in bstats.items()},
        "bstats": bstats,
        "postings_rel": types.SimpleNamespace(columns=["term", "min_doc_id", "max_doc_id"]),
        "impact_terms": {"hot", "hot2"},
    })
    return root


def _plan(root, q, **kw):
    return Q.plan_query(None, root, q, **kw)


def test_cost_check_gate_both_ways(fake_wh, monkeypatch):
    p = _plan(fake_wh, "hot")
    assert p.kind == "routed" and p.est_kept < Q._ROUTED_MAX_KEPT_FRAC * p.n_blocks, p
    assert p.coalesce and p.impact == ("hot",)
    monkeypatch.setattr(Q, "_COALESCE_MAX_KEPT", 0)
    assert not _plan(fake_wh, "hot").coalesce
    monkeypatch.setattr(Q, "_ROUTED_MAX_KEPT_FRAC", 0.0)
    p = _plan(fake_wh, "hot")
    assert p.kind == "exhaustive" and p.tau > float("-inf") and p.cost == p.n_blocks, p
    assert _plan(fake_wh, "hot", probe=True).kind == "routed"  # probe=True forces routing


def test_probe_gate_both_ways(fake_wh, monkeypatch):
    calls = []

    def probe_stub(spark, st, terms, imp, idf_map, avgdl, k, all_hit):
        calls.append((tuple(terms), all_hit))
        bs = st["bstats"]
        return 0.99 * sum(idf_map[t] * bs[t]["ub_wand"] for t in terms)

    monkeypatch.setattr(Q, "_probe_tau", probe_stub)
    p = _plan(fake_wh, "hot hot2")
    assert not p.probe and not calls and p.kind == "exhaustive", p
    monkeypatch.setattr(Q, "_PROBE_MIN_POSTINGS", 0)
    p = _plan(fake_wh, "hot hot2")
    assert p.probe and calls == [(("hot", "hot2"), False)] and p.kind == "routed+probe", p
    # the estimator's probe=False never asks for the job
    assert not _plan(fake_wh, "hot hot2", probe=False).probe and len(calls) == 1


@pytest.mark.parametrize(
    "patch, query, kind",
    [
        ({}, "rare hot", "and-candidate"),
        ({"_NEG_RANGE_MAX_CAND": 1}, "rare hot", "exhaustive"),
        ({"_PHRASE_BNLJ_MAX": 0}, "rare hot", "exhaustive"),
        ({}, "rare mid", "and-candidate"),  # df 9 > 4 x 2
        ({}, "rare mid8", "exhaustive"),  # df 8 = 4 x 2: the prune can't pay
        ({}, "rare hot -mid", "and-candidate+neg"),
        ({}, "rare hot ~mid", "and-candidate+less"),
    ],
)
def test_and_candidate_gate_both_ways(fake_wh, monkeypatch, patch, query, kind):
    for name, value in patch.items():
        monkeypatch.setattr(Q, name, value)
    p = _plan(fake_wh, query, mode="and")
    assert p.kind == kind, p
    assert (p.seed == "rare") == kind.startswith("and-candidate")


@pytest.mark.parametrize(
    "patch, neg_plan",
    [
        ({}, "docset-kernel"),
        ({"_NEG_DOCSET_MAX_POSTINGS": 0}, "range-anti"),
        ({"_NEG_DOCSET_MAX_POSTINGS": 0, "_NEG_RANGE_MAX_CAND": 1}, "anti-join"),
        ({"_NEG_DOCSET_MAX_POSTINGS": 0, "_PHRASE_BNLJ_MAX": 0}, "anti-join"),
    ],
)
def test_exclusion_gates_both_ways(fake_wh, monkeypatch, patch, neg_plan):
    for name, value in patch.items():
        monkeypatch.setattr(Q, name, value)
    p = _plan(fake_wh, "rare -hot")
    assert p.neg_plan == neg_plan and p.label == f"{p.kind}+{neg_plan}", p
    # an exclusion at least as large as the positive side x4 is what
    # makes range-anti pay: 'hot -rare' never takes it
    assert _plan(fake_wh, "hot -rare").neg_plan != "range-anti"


def test_fan_out_gate_both_ways(fake_wh, monkeypatch):
    assert _plan(fake_wh, "rare").kind == "exhaustive"
    assert not _plan(fake_wh, "rare").fan_out
    monkeypatch.setattr(Q, "_FAN_OUT_MIN_POSTINGS", 1)
    assert _plan(fake_wh, "rare").fan_out
    assert not _plan(fake_wh, "hot").fan_out  # routed: never fanned out
