"""Resolved-plan memo (r8): a repeated interactive query skips parsing/
planning/py4j plan construction, while every call still re-executes the
physical plan (plans are cached, never results). Exactness gates: the
verify shapes (pruned negation) re-run their a-posteriori check per
call, and append/rebuild invalidation drops the memo."""

import pytest

from lsearch_spark.build import build_index
from lsearch_spark.corpus import pages_df
from lsearch_spark.oracle import bm25_topk
from lsearch_spark.query import _WH_CACHE, batch_search, invalidate_cache, search

N_DOCS = 300


@pytest.fixture(scope="module")
def whc(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh_plancache"))
    pages = pages_df(spark, N_DOCS)
    return build_index(
        spark, pages, root, n_buckets=4, block_size=32, hot_df=64, n_salts=4,
        run_id="pc", input_id="corpus300pc",
    )


@pytest.fixture(scope="module")
def pyidx():
    from lsearch_spark.corpus import make_pages
    from lsearch_spark.oracle import build_index as py_build

    pdf = make_pages(N_DOCS)
    return py_build(list(zip(pdf["doc_id"], pdf["text"])))


def _jobs_for(spark, fn, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    return len(tracker.getJobIdsForGroup(group))


def test_repeat_search_hits_cache_and_matches(spark, whc, pyidx):
    q = "physics data"
    first = search(spark, whc, q, k=10, prune=True)
    rows1 = first.collect()
    second = search(spark, whc, q, k=10, prune=True)
    assert second is first  # plan object reused (lazy shape)
    rows2 = second.collect()  # re-executes the physical plan
    assert [(r["doc_id"], r["score"]) for r in rows1] == [
        (r["doc_id"], r["score"]) for r in rows2
    ]
    want = bm25_topk(pyidx, q, 10)
    assert [r["doc_id"] for r in rows2] == [d for d, _ in want]


def test_repeat_single_term_one_job(spark, whc):
    search(spark, whc, "physics", k=10, prune=True).collect()  # populate
    n = _jobs_for(
        spark, lambda: search(spark, whc, "physics", k=10, prune=True).collect(),
        "plan-cache-replay",
    )
    # single positive term, unsegmented index: zero-exchange plan -> the
    # replayed call is exactly ONE Spark job (VERDICT r7 #8 done-bar)
    assert n == 1


def test_verify_shape_reruns_check_per_call(spark, whc, pyidx):
    q = "the -physics"
    r1 = search(spark, whc, q, k=10, prune=True).collect()
    st = _WH_CACHE[whc.root]
    hits = [v for kk, v in st["plans"].items() if kk[0] == q]
    assert len(hits) == 1 and hits[0]["kind"] == "verify"
    # the replay must re-execute the pruned job + verification: it still
    # issues at least one job and returns identical, oracle-exact rows
    n = _jobs_for(
        spark, lambda: globals().__setitem__(
            "_pc_rows", search(spark, whc, q, k=10, prune=True).collect()
        ),
        "plan-cache-verify",
    )
    assert n >= 1
    r2 = globals().pop("_pc_rows")
    assert [(r["doc_id"], r["score"]) for r in r1] == [
        (r["doc_id"], r["score"]) for r in r2
    ]
    want = bm25_topk(pyidx, q, 10)
    assert [r["doc_id"] for r in r2] == [d for d, _ in want]


def test_verify_shortfall_memoizes_exhaustive_plan(spark, whc, pyidx, monkeypatch):
    """ADVICE r8 #2: after a verify shortfall the memo holds the
    exhaustive plan (exact unconditionally), so a repeat pays one job
    instead of the pruned job, the check and the fallback again."""
    import lsearch_spark.query as Q

    real = Q._wand_thetas

    def tau_above_every_score(live, idf_map, bstats, k, ratio=1.0, block_size=128):
        thetas, tau = real(live, idf_map, bstats, k, ratio, block_size)
        return (None, tau) if thetas is None else ({t: 1e9 for t in live}, 1e9)

    monkeypatch.setattr(Q, "_wand_thetas", tau_above_every_score)
    q, k = "the -physics", 7
    out: dict = {}
    n_first = _jobs_for(
        spark, lambda: out.__setitem__("r1", search(spark, whc, q, k=k).collect()),
        "plan-cache-shortfall-first",
    )
    hits = [v for kk, v in _WH_CACHE[whc.root]["plans"].items() if kk[:2] == (q, k)]
    assert len(hits) == 1 and hits[0]["kind"] == "df", hits
    n_replay = _jobs_for(
        spark, lambda: out.__setitem__("r2", search(spark, whc, q, k=k).collect()),
        "plan-cache-shortfall-replay",
    )
    assert n_replay < n_first, (n_replay, n_first)
    want = bm25_topk(pyidx, q, k)
    for rows in (out["r1"], out["r2"]):
        assert [r["doc_id"] for r in rows] == [d for d, _ in want]
        assert [r["score"] for r in rows] == pytest.approx([s for _, s in want], rel=1e-9)


def test_batch_repeat_matches_and_reuses_plan(spark, whc, pyidx):
    qs = {"a": "physics data", "b": "the", "c": "quantum -the"}
    r1 = batch_search(spark, whc, qs, k=5).collect()
    r2 = batch_search(spark, whc, qs, k=5).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    st = _WH_CACHE[whc.root]
    assert any(kk[1] == 5 for kk in st.get("bplans", {}))


def test_invalidate_drops_plan_memo(spark, whc):
    search(spark, whc, "physics", k=10).collect()
    assert _WH_CACHE[whc.root].get("plans")
    invalidate_cache(whc.root)
    assert whc.root not in _WH_CACHE
    # post-invalidation query rebuilds state and still answers
    assert search(spark, whc, "physics", k=10).collect()


def test_stats_calls_bypass_cache(spark, whc):
    from lsearch_spark.query import search_with_stats

    rows1, info1 = search_with_stats(spark, whc, "physics data", k=10, prune=True)
    rows2, info2 = search_with_stats(spark, whc, "physics data", k=10, prune=True)
    assert info1["blocks_decoded"] == info2["blocks_decoded"]
    assert [r["doc_id"] for r in rows1] == [r["doc_id"] for r in rows2]
