"""End-to-end: staged index build + BM25 top-k, rank-identical vs the
pure-Python oracle on the reference query set (north_rule gate)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from lsearch_spark import codec
from lsearch_spark.build import Warehouse, build_index
from lsearch_spark.corpus import QUERIES, make_pages, pages_df
from lsearch_spark.oracle import PyIndex, bm25_topk, build_index as py_build
from lsearch_spark.query import read_query_metrics, search

N_DOCS = 300  # +6 edge rows


@pytest.fixture(scope="session")
def wh(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("warehouse"))
    pages = pages_df(spark, N_DOCS)
    # small blocks + aggressive salting so the physical layout is exercised
    return build_index(
        spark, pages, root, n_buckets=4, block_size=32, hot_df=64, n_salts=4, run_id="t1", input_id="corpus300"
    )


@pytest.fixture(scope="session")
def pyidx() -> PyIndex:
    pdf = make_pages(N_DOCS)
    return py_build(list(zip(pdf["doc_id"], pdf["text"])))


def assert_rank_identical(got_rows, want, tol=1e-9):
    got = [(r["doc_id"], r["score"]) for r in got_rows]
    assert len(got) == len(want), (got, want)
    want_score = dict(want)
    for d, s in got:
        assert d in want_score, f"unexpected doc {d}"
        assert math.isclose(s, want_score[d], rel_tol=tol, abs_tol=tol), (d, s, want_score[d])
    # re-rank engine docs by ORACLE scores -> must reproduce oracle order
    rerank = sorted((d for d, _ in got), key=lambda d: (-want_score[d], d))
    assert rerank == [d for d, _ in want]


def test_docs_and_stats_match_oracle(spark, wh, pyidx):
    from lsearch_spark.build import read_docs

    docs = {r["doc_id"]: r["doc_len"] for r in read_docs(spark, wh).select("doc_id", "doc_len").collect()}
    assert docs == pyidx.doc_len
    stats = wh.corpus_stats(spark)
    assert stats["n_docs"] == pyidx.n_docs
    assert math.isclose(stats["avgdl"], pyidx.avgdl, rel_tol=1e-12)
    ts = {r["term"]: (r["df"], r["cf"]) for r in spark.read.parquet(wh.path("term_stats")).collect()}
    want = {t: (len(p), sum(p.values())) for t, p in pyidx.postings.items()}
    assert ts == want


def test_blocks_reconstruct_postings(spark, wh, pyidx):
    """Decode every compressed block -> exact (term, doc, tf, positions)."""
    rows = spark.read.parquet(wh.path("postings")).filter("kind = 0").collect()
    got: dict[str, dict[int, int]] = {}
    got_pos: dict[str, dict[int, list[int]]] = {}
    for r in rows:
        ids = codec.decode_ids_signed(bytes(r["doc_ids"]))
        tfs = codec.varint_decode(bytes(r["tfs"]))
        dls = codec.varint_decode(bytes(r["doc_lens"]))
        poss = codec.decode_positions(bytes(r["positions"]), tfs)
        assert len(ids) == r["n_docs"] == len(tfs) == len(dls)
        assert int(ids[0]) == r["min_doc_id"] and int(ids[-1]) == r["max_doc_id"]
        assert int(tfs.max()) == r["block_max_tf"]
        assert np.all(np.diff(ids) > 0), "doc_ids strictly increasing within block"
        for d, tf, dl, pos in zip(ids, tfs, dls, poss):
            got.setdefault(r["term"], {})[int(d)] = int(tf)
            got_pos.setdefault(r["term"], {})[int(d)] = [int(x) for x in pos]
            assert pyidx.doc_len[int(d)] == int(dl)
    assert got == pyidx.postings
    assert got_pos == pyidx.positions


def test_hot_terms_are_salted(spark, wh):
    hot = (
        spark.read.parquet(wh.path("postings"))
        .filter((F.col("term") == "the") & (F.col("kind") == 0))
        .select("salt")
        .distinct()
        .count()
    )
    assert hot > 1, "stopword 'the' must be split across salts"


@pytest.mark.parametrize("q", QUERIES, ids=[f"q{q['query_id']}" for q in QUERIES])
def test_bm25_rank_identical(spark, wh, pyidx, q):
    want = bm25_topk(pyidx, q["query"], k=q["k"])
    got = search(spark, wh, q["query"], k=q["k"]).collect()
    assert_rank_identical(got, want)


@pytest.mark.parametrize("qid", [1, 2, 5, 6, 11, 13, 18, 25])
def test_pruned_equals_exhaustive(spark, wh, pyidx, qid):
    q = next(x for x in QUERIES if x["query_id"] == qid)
    want = bm25_topk(pyidx, q["query"], k=q["k"])
    got = search(spark, wh, q["query"], k=q["k"], prune=True).collect()
    assert_rank_identical(got, want)


def test_and_mode(spark, wh, pyidx):
    want = bm25_topk(pyidx, "biology chemistry", k=10, mode="and")
    got = search(spark, wh, "biology chemistry", k=10, mode="and").collect()
    assert_rank_identical(got, want)
    assert search(spark, wh, "biology absentterm", mode="and").count() == 0


def test_with_url(spark, wh):
    rows = search(spark, wh, "biology", k=3, with_url=True).collect()
    assert len(rows) == 3 and all(r["url"].startswith("https://") for r in rows)


@pytest.mark.parametrize("q", ["biology ~chemistry", "the ~biology ~physics", "~quantum neural"])
def test_less_terms_match_oracle(spark, wh, pyidx, q):
    from lsearch_spark.oracle import bm25_topk as oracle_topk

    want = oracle_topk(pyidx, q, k=10)
    got = search(spark, wh, q, k=10).collect()
    assert_rank_identical(got, want)


@pytest.mark.parametrize("phrase", ["quantum flux", "tiebreak quantum flux", "spark spark", "the biology", "absentterm biology"])
def test_phrase_search_matches_oracle(spark, wh, pyidx, phrase):
    from lsearch_spark.oracle import phrase_topk
    from lsearch_spark.query import phrase_search

    want = phrase_topk(pyidx, phrase, k=10)
    got = phrase_search(spark, wh, phrase, k=10).collect()
    assert_rank_identical(got, [(d, s) for d, s in want])
    # phrase_tf sanity on the max-tf doc
    if phrase == "spark spark" and got:
        spark_doc = max(pyidx.postings["spark"].items(), key=lambda kv: kv[1])[0]
        tfs = {r["doc_id"]: r["phrase_tf"] for r in got}
        if spark_doc in tfs:
            assert tfs[spark_doc] == pyidx.postings["spark"][spark_doc] - 1


@pytest.mark.parametrize(
    "phrase,slop",
    [("quantum flux", 1), ("quantum flux", 3), ("the biology", 2), ("tiebreak flux", 2)],
)
def test_phrase_slop_matches_oracle(spark, wh, pyidx, phrase, slop):
    from lsearch_spark.oracle import phrase_topk
    from lsearch_spark.query import phrase_search

    want = phrase_topk(pyidx, phrase, k=50, slop=slop)
    got = phrase_search(spark, wh, phrase, k=50, slop=slop).collect()
    assert_rank_identical(got, [(d, s) for d, s in want])


def test_phrase_slop_widens_matches(spark, wh, pyidx):
    # "tiebreak flux" never occurs adjacent ("tiebreak quantum flux" docs
    # have one token between) but matches at slop>=1 — slop must engage
    from lsearch_spark.oracle import phrase_topk
    from lsearch_spark.query import phrase_search

    assert phrase_topk(pyidx, "tiebreak flux", k=10, slop=0) == []
    wide = phrase_topk(pyidx, "tiebreak flux", k=10, slop=1)
    assert wide, "corpus should hold a gap-1 'tiebreak . flux' occurrence"
    got = phrase_search(spark, wh, "tiebreak flux", k=10, slop=1).collect()
    assert_rank_identical(got, [(d, s) for d, s in wide])
    assert not phrase_search(spark, wh, "tiebreak flux", k=10, slop=0).collect()


def _py_expand(pyidx, stem, cap=64):
    ranked = sorted(
        ((t, len(p)) for t, p in pyidx.postings.items() if t.startswith(stem)),
        key=lambda x: (-x[1], x[0]),
    )
    return [t for t, _ in ranked[:cap]]


@pytest.mark.parametrize("stem,extra", [("qu", ""), ("bio", "-chemistry"), ("gla", "~the")])
def test_wildcard_search_matches_oracle(spark, wh, pyidx, stem, extra):
    from lsearch_spark.oracle import bm25_topk

    expanded = " ".join(_py_expand(pyidx, stem) + extra.split())
    want = bm25_topk(pyidx, expanded, k=10)
    got = search(spark, wh, f"{stem}* {extra}".strip(), k=10).collect()
    assert_rank_identical(got, want)


def test_wildcard_operators_and_batch(spark, wh, pyidx):
    from lsearch_spark.oracle import bm25_topk
    from lsearch_spark.query import batch_search, expand_wildcards

    # '-' distributes over the expansion
    expanded_neg = " ".join("-" + t for t in _py_expand(pyidx, "qu"))
    want = bm25_topk(pyidx, f"biology {expanded_neg}", k=10)
    got = search(spark, wh, "biology -qu*", k=10).collect()
    assert_rank_identical(got, want)
    # batch path expands identically to the single path
    rows = batch_search(spark, wh, {"a": "qu*", "b": "biology -qu*"}, k=10).collect()
    single_a = search(spark, wh, "qu*", k=10).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    assert by_q["a"] == [(r["doc_id"], r["score"]) for r in single_a]
    assert by_q["b"] == [(r["doc_id"], r["score"]) for r in got]
    # no-match prefix drops out; bare '*' is rejected
    assert search(spark, wh, "zzzz*", k=10).collect() == []
    with pytest.raises(ValueError):
        expand_wildcards(spark, wh, "*")


def _lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[len(b)]


def _py_fuzzy(pyidx, stem, dist=1, cap=64):
    ranked = sorted(
        ((t, len(p)) for t, p in pyidx.postings.items()
         if abs(len(t) - len(stem)) <= dist and _lev(t, stem) <= dist),
        key=lambda x: (-x[1], x[0]),
    )
    return [t for t, _ in ranked[:cap]]


@pytest.mark.parametrize("stem,dist,extra", [("quary", 1, ""), ("quant", 2, ""), ("biolog", 1, "-chemistry")])
def test_fuzzy_search_matches_oracle(spark, wh, pyidx, stem, dist, extra):
    from lsearch_spark.oracle import bm25_topk

    expansion = _py_fuzzy(pyidx, stem, dist)
    assert expansion, f"test stem {stem!r} should match vocabulary"
    want = bm25_topk(pyidx, " ".join(expansion + extra.split()), k=10)
    suffix = "~" if dist == 1 else f"~{dist}"
    got = search(spark, wh, f"{stem}{suffix} {extra}".strip(), k=10).collect()
    assert_rank_identical(got, want)


def test_fuzzy_edges(spark, wh, pyidx):
    from lsearch_spark.query import expand_wildcards, fuzzy_terms

    # exact-term typo: 'quary' alone matches nothing, 'quary~' finds query
    assert search(spark, wh, "quary", k=10).collect() == []
    assert search(spark, wh, "quary~", k=10).collect()
    # leading '~' stays the less operator: '~biology' must NOT fuzzy-expand
    rewritten = expand_wildcards(spark, wh, "spark ~biology")
    assert rewritten == "spark ~biology"
    # '~quary~' = fuzzy less-term
    assert "~query" in expand_wildcards(spark, wh, "spark ~quary~").split()
    # fuzzy_terms orders (df DESC, term ASC) and respects the length window
    rows = fuzzy_terms(spark, wh, "quary", max_dist=1).collect()
    assert [r["term"] for r in rows] == _py_fuzzy(pyidx, "quary", 1)


def test_pruned_stopword_decodes_fewer_blocks(spark, wh, pyidx):
    """The reference's --stats analog (cli.rs:14-96) + VERDICT r1 item 8:
    on a stopword query the pruned plan must decode strictly fewer blocks
    than the exhaustive plan, with identical results."""
    from lsearch_spark.query import search_with_stats

    rows_p, info_p = search_with_stats(spark, wh, "the", k=3, prune=True)
    rows_e, info_e = search_with_stats(spark, wh, "the", k=3, prune=False)
    assert [(r["doc_id"], round(r["score"], 9)) for r in rows_p] == [
        (r["doc_id"], round(r["score"], 9)) for r in rows_e
    ]
    assert info_p["blocks_total"] and info_p["blocks_decoded"] < info_p["blocks_total"], info_p
    assert info_e["blocks_decoded"] == info_e["blocks_total"], info_e
    assert info_p["tau"] is not None and info_e["tau"] is None
    qm = read_query_metrics(spark, wh)
    assert qm.filter(F.col("query") == "the").count() >= 2
    assert {"blocks_decoded", "blocks_total", "wall_ms", "postings_decoded"} <= set(qm.columns)


def test_batch_search_matches_single(spark, wh, pyidx):
    """batch_search (one job, N queries) must reproduce per-query search
    exactly, per query."""
    from lsearch_spark.query import batch_search

    qs = {"a": "biology chemistry", "b": "the", "c": "quantum neural"}
    got = batch_search(spark, wh, qs, k=5).collect()
    by_q: dict[str, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        want = bm25_topk(pyidx, q, k=5)
        assert_rank_identical(
            [{"doc_id": d, "score": s} for d, s in by_q.get(qid, [])], want
        )


def test_batch_search_less_terms_match(spark, wh, pyidx):
    """'~less' queries batch too: penalties decoded from the union of all
    queries' less terms, fanned out per query; positive-side pruning uses
    the tau-lowered-by-less-UB correction. Must equal per-query search
    and the python oracle, pruned and exhaustive."""
    from lsearch_spark.query import batch_search

    qs = {
        "a": "biology ~chemistry",
        "b": "the ~physics",
        "c": "quantum neural",
        "d": "physics -the ~biology",  # neg+less combined: unpruned in-batch
    }
    for prune in (True, False):
        got = batch_search(spark, wh, qs, k=5, prune=prune).collect()
        by_q: dict[str, list] = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, q in qs.items():
            want = bm25_topk(pyidx, q, k=5)
            assert_rank_identical(
                [{"doc_id": d, "score": s} for d, s in by_q.get(qid, [])], want
            ), (prune, qid)


def test_batch_search_route_out_matches_single(spark, wh, pyidx, monkeypatch):
    """VERDICT r5 #3: stopword-heavy queries may be routed OUT of the
    shared batch scan (scored through per-query search()'s WAND, unioned
    back in). Force the gate both ways — everything routable routed
    (negative subtree cost) and nothing routed (infinite cost) — and
    require per-query exactness either way. Since r8 (VERDICT r7 #6) the
    neg+less compound shape is routable too: its route-out estimate
    composes the df-aware deeper tau with the '~less' correction, the
    same plan search() executes and verifies."""
    import lsearch_spark.query as Q

    qs = {
        "a": "the of",                 # stopword pair: a route-out target
        "b": "biology",                # rare: stays cheap either way
        "c": "the ~of",                # less-term: routable through search()
        # neg with a RARE exclusion: the deeper tau is formable even at
        # this tiny corpus, so the query is routable via search()
        # ("-the"-style huge exclusions only form their tau at scale)
        "d": "the -chemistry",
        # neg+less with a rare exclusion: routable since r8 — search()
        # stacks the deeper tau with the less correction and verifies
        "e": "the -chemistry ~biology",
    }
    want = {qid: bm25_topk(pyidx, q, k=5) for qid, q in qs.items()}
    for cost, expect_routed in ((-(10**9), True), (10**12, False)):
        monkeypatch.setattr(Q, "_ROUTE_OUT_BLOCK_COST", cost)
        st: dict = {}
        got = Q.batch_search(spark, wh, qs, k=5, _stats=st).collect()
        routed = st.get("routed_out", [])
        assert (len(routed) > 0) == expect_routed, (cost, st)
        if expect_routed:
            assert "d" in routed and "e" in routed, st
        by_q: dict[str, list] = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid in qs:
            assert_rank_identical(
                [{"doc_id": d, "score": s} for d, s in by_q.get(qid, [])], want[qid]
            ), (cost, qid)


def test_batch_search_all_routed_out(spark, wh, pyidx, monkeypatch):
    """Edge: every query routable and routed — the shared scan has no
    queries left and the result is the pure union of search() subtrees."""
    import lsearch_spark.query as Q

    monkeypatch.setattr(Q, "_ROUTE_OUT_BLOCK_COST", -(10**9))
    qs = {"a": "the of", "b": "the data"}
    st: dict = {}
    got = Q.batch_search(spark, wh, qs, k=5, _stats=st).collect()
    assert len(st.get("routed_out", [])) >= 1
    by_q: dict[str, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        want = bm25_topk(pyidx, q, k=5)
        assert_rank_identical(
            [{"doc_id": d, "score": s} for d, s in by_q.get(qid, [])], want
        )


def test_batch_search_negation_and_pruned_match(spark, wh, pyidx):
    """VERDICT r3 #3: batch_search supports '-term' (per-query LEFT ANTI
    after the shared agg) and the pruned shared scan must equal the
    exhaustive one and per-query search, per query."""
    from lsearch_spark.query import batch_search

    qs = {
        "a": "biology -chemistry",
        "b": "the",
        "c": "quantum neural",
        "d": "physics -the",
    }
    for prune in (True, False):
        got = batch_search(spark, wh, qs, k=5, prune=prune).collect()
        by_q: dict[str, list] = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, q in qs.items():
            want = bm25_topk(pyidx, q, k=5)
            assert_rank_identical(
                [{"doc_id": d, "score": s} for d, s in by_q.get(qid, [])], want
            ), (prune, qid)


def test_batch_search_pruned_decodes_fewer_blocks(spark, whbig, pyidx_big):
    """The union-of-thetas shared scan must decode strictly fewer blocks
    than the batch exhaustive plan, with identical per-query results."""
    from lsearch_spark.query import batch_search_with_stats

    qs = {"a": "biology", "b": "glacier quantum", "c": "the"}
    rows_p, info_p = batch_search_with_stats(spark, whbig, qs, k=5, prune=True)
    rows_e, info_e = batch_search_with_stats(spark, whbig, qs, k=5, prune=False)
    assert [tuple(r) for r in rows_p] == [tuple(r) for r in rows_e]
    assert info_p["plan"] == "routed-batch", info_p
    assert info_p["blocks_total"] and info_p["blocks_decoded"] < info_p["blocks_total"], info_p
    by_q: dict[str, list] = {}
    for r in rows_p:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        want = bm25_topk(pyidx_big, q, k=5)
        assert_rank_identical(
            [{"doc_id": d, "score": s} for d, s in by_q.get(qid, [])], want
        )


def test_tiebreak_deterministic(spark, wh):
    rows = search(spark, wh, "tiebreak", k=10).collect()
    assert len(rows) == 2
    assert rows[0]["doc_id"] < rows[1]["doc_id"]
    assert rows[0]["score"] == rows[1]["score"]


def test_impact_blocks_reconstruct(spark, wh, pyidx):
    """The impact-ordered copy must hold EXACTLY the hot terms' postings
    (same doc->tf map, doc_ids strictly increasing within each block) and
    block_max_wand must be non-increasing across block_ids per (term,salt)."""
    from lsearch_spark import catalog

    imp_terms = {r["term"] for r in catalog.read_table(spark, wh.root, "impact_terms").collect()}
    assert {"the", "and", "of"} <= imp_terms  # stopwords are hot at hot_df=64
    rows = catalog.read_table(spark, wh.root, "postings").filter("kind = 1").collect()
    got: dict[str, dict[int, int]] = {}
    seq: dict[tuple, list] = {}
    for r in rows:
        ids = codec.decode_ids_signed(bytes(r["doc_ids"]))
        tfs = codec.varint_decode(bytes(r["tfs"]))
        dls = codec.varint_decode(bytes(r["doc_lens"]))
        assert len(ids) == r["n_docs"] == len(tfs) == len(dls)
        assert np.all(np.diff(ids) > 0), "doc_ids strictly increasing within block"
        for d, tf, dl in zip(ids, tfs, dls):
            got.setdefault(r["term"], {})[int(d)] = int(tf)
            assert pyidx.doc_len[int(d)] == int(dl)
        seq.setdefault((r["term"], r["salt"]), []).append((r["block_id"], r["block_max_wand"]))
    assert set(got) == imp_terms
    for t in imp_terms:
        assert got[t] == pyidx.postings[t], f"impact copy of {t} incomplete"
    for key, pairs in seq.items():
        pairs.sort()
        maxes = [m for _, m in pairs]
        assert all(a >= b - 1e-12 for a, b in zip(maxes, maxes[1:])), (key, maxes)


N_BIG = 5000  # large enough that stopwords have >250 blocks each (the
# probe gate and the df-aware negation k_eff ~ 221 need real top_wands depth)


@pytest.fixture(scope="module")
def whbig(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("whbig"))
    return build_index(
        spark, pages_df(spark, N_BIG), root,
        n_buckets=4, block_size=16, hot_df=64, n_salts=4, run_id="tbig", input_id="corpus5000",
    )


@pytest.fixture(scope="module")
def pyidx_big() -> PyIndex:
    pdf = make_pages(N_BIG)
    return py_build(list(zip(pdf["doc_id"], pdf["text"])))


def test_negation_pruned_decodes_fewer_blocks(spark, whbig, pyidx_big):
    """Negation now prunes the positive side (df-aware deeper tau) and
    verifies a posteriori; results must equal the oracle AND the pruned
    run must decode strictly fewer blocks than exhaustive."""
    from lsearch_spark.query import search_with_stats

    q = "the -biology"
    want = bm25_topk(pyidx_big, q, k=10)
    rows_p, info_p = search_with_stats(spark, whbig, q, k=10, prune=True)
    assert_rank_identical(rows_p, want)
    assert info_p.get("prune_verified") or info_p.get("prune_fallback"), info_p
    if info_p.get("prune_verified"):
        assert info_p["blocks_decoded"] < info_p["blocks_total"], info_p


def test_multi_stopword_probe_prunes(spark, whbig, pyidx_big):
    """Disjunctive multi-stopword queries ('of and') — unprunable with
    doc_id-ordered blocks — must now decode fewer blocks via the probe-
    refined tau over impact-ordered prefixes, with identical results."""
    from lsearch_spark.query import search_with_stats

    q = "of and"
    want = bm25_topk(pyidx_big, q, k=10)
    # probe=True: the at-scale plan (probe="auto" skips the refinement
    # job below ~4M candidate postings — this corpus is far under that)
    rows_p, info_p = search_with_stats(spark, whbig, q, k=10, prune=True, probe=True)
    assert_rank_identical(rows_p, want)
    assert info_p["blocks_total"] and info_p["blocks_decoded"] < info_p["blocks_total"], info_p
    # the auto gate must still be exact when it picks the cheap plan
    rows_a, _ = search_with_stats(spark, whbig, q, k=10, prune=True, probe="auto")
    assert_rank_identical(rows_a, want)


def test_phrase_range_prune_sound_and_effective(spark, whbig, pyidx_big):
    """Phrase phase-1 block-range pruning: the candidate range semi-join
    over block METADATA must (a) keep every hot-term block that contains
    a candidate doc — soundness — and (b) keep strictly fewer blocks
    than exist for a hot term paired with a rare one."""
    from lsearch_spark import query as Q
    from lsearch_spark.query import phrase_search

    st = Q._wh_state(spark, Warehouse(whbig.root))
    rare, hot = "tiebreak", "the"  # df=2 (edge docs) vs ~every doc
    cand = Q._decode_blocks_ids_only(Q._postings_for(spark, whbig, st, [rare])).distinct()
    hot_blocks = Q._postings_for(spark, whbig, st, [hot])
    kept = hot_blocks.join(
        F.broadcast(cand),
        (F.col("doc_id") >= F.col("min_doc_id")) & (F.col("doc_id") <= F.col("max_doc_id")),
        "left_semi",
    )
    n_total, n_kept = hot_blocks.count(), kept.count()
    assert n_kept < n_total, (n_kept, n_total)
    # soundness: ids decoded from KEPT blocks cover candidates-with-hot
    kept_ids = {r["doc_id"] for r in Q._decode_blocks_ids_only(kept).collect()}
    cand_ids = {r["doc_id"] for r in cand.collect()}
    want = {d for d in cand_ids if d in pyidx_big.postings[hot]}
    assert want <= kept_ids
    # end-to-end: hot+rare phrases match the oracle through the pruned path
    from lsearch_spark.oracle import phrase_topk

    for phrase in ["tiebreak quantum", "the glacier", "glacier the"]:
        want_rows = phrase_topk(pyidx_big, phrase, k=10)
        got = phrase_search(spark, whbig, phrase, k=10).collect()
        assert_rank_identical(got, [(d, s) for d, s in want_rows])


def test_batch_search_with_stats(spark, wh, pyidx):
    from lsearch_spark.query import batch_search_with_stats

    rows, info = batch_search_with_stats(spark, wh, {"a": "biology", "b": "the"}, k=5)
    assert info["n_queries"] == 2 and info["rows_out"] == len(rows) > 0
    qm = read_query_metrics(spark, wh)
    assert qm.filter(F.col("query").startswith("batch:a:")).count() >= 1
    assert qm.filter(F.col("query").startswith("batch:b:")).count() >= 1


def test_phrase_scratch_lifecycle(spark, wh, pyidx):
    """ADVICE r3: phrase_search used to leak one _scratch/phrase_* dir per
    query. Now every query sweeps prior scratch on entry, so repeated
    queries leave at most ONE live dir, and sweep_phrase_scratch clears
    the last one."""
    import glob
    import os

    from lsearch_spark.query import phrase_search, sweep_phrase_scratch

    for phrase in ["quantum flux", "the biology", "quantum flux"]:
        phrase_search(spark, wh, phrase, k=5).collect()
        live = glob.glob(os.path.join(wh.root, "_scratch", "phrase_*"))
        assert len(live) <= 1, live
    assert sweep_phrase_scratch(wh) <= 1
    assert glob.glob(os.path.join(wh.root, "_scratch", "phrase_*")) == []


def test_phrase_scratch_dir_outside_warehouse(spark, wh, pyidx, tmp_path):
    """Read-only deployments: scratch_dir routes the durable cut points
    outside the warehouse root entirely."""
    import glob
    import os

    from lsearch_spark.oracle import phrase_topk
    from lsearch_spark.query import phrase_search

    sd = str(tmp_path / "scr")
    want = phrase_topk(pyidx, "quantum flux", k=5)
    got = phrase_search(spark, wh, "quantum flux", k=5, scratch_dir=sd).collect()
    assert_rank_identical(got, [(d, s) for d, s in want])
    assert glob.glob(os.path.join(wh.root, "_scratch", "phrase_*")) == []
    assert glob.glob(os.path.join(sd, "phrase_*"))


def test_phrase_bnlj_gate_skips_on_hot_product(spark, whbig, pyidx_big, monkeypatch):
    """VERDICT r3 #7: the range semi-join gate is cost-based on
    df_rare * n_other_blocks, both known driver-side. Forcing the cap to
    0 exercises the decode-all path against a hot other-term — results
    must stay rank-identical to the oracle."""
    from lsearch_spark import query as Q
    from lsearch_spark.oracle import phrase_topk
    from lsearch_spark.query import phrase_search

    monkeypatch.setattr(Q, "_PHRASE_BNLJ_MAX", 0)
    for phrase in ["the glacier", "tiebreak quantum"]:
        want = phrase_topk(pyidx_big, phrase, k=10)
        got = phrase_search(spark, whbig, phrase, k=10).collect()
        assert_rank_identical(got, [(d, s) for d, s in want])


def test_negation_docset_vs_antijoin(spark, whbig, pyidx_big, monkeypatch):
    """The '-term' docset fast path (driver-decoded broadcast exclusion
    ids applied inside the decode kernel) must be set-identical to the
    distributed LEFT ANTI plan it replaces, on every negation shape."""
    from lsearch_spark import query as Q
    from lsearch_spark.query import search_with_stats

    shapes = ["the -biology", "physics -the", "biology -the -chemistry"]
    wants = {q: bm25_topk(pyidx_big, q, k=10) for q in shapes}
    for q in shapes:
        rows_d, info_d = search_with_stats(spark, whbig, q, k=10, prune=True)
        assert info_d["neg_plan"] == "docset-kernel", info_d
        assert_rank_identical(rows_d, wants[q])
    monkeypatch.setattr(Q, "_NEG_DOCSET_MAX_POSTINGS", 0)
    for q in shapes:
        rows_a, info_a = search_with_stats(spark, whbig, q, k=10, prune=True)
        assert info_a["neg_plan"] == "anti-join", info_a
        assert_rank_identical(rows_a, wants[q])


def test_negation_range_prune_plan(spark, whbig, pyidx_big, monkeypatch):
    """Tiny-positive / huge-exclusion shapes ('w0003 -the') must route to
    the range-pruned anti-join (broadcast range semi-join on excluded
    block metadata, O(df_pos) decode) once the docset path is off, be
    rank-identical to the classic plans, and still fall back to the full
    anti-join when the shape doesn't qualify."""
    from lsearch_spark import query as Q
    from lsearch_spark.query import search_with_stats

    # positive dfs 1-2 vs ~5000-df exclusions ('zyzzyva -of' is even
    # EMPTY — exercising the eliminated-observation hardening too)
    shapes = ["tiebreak -the", "café -and", "zyzzyva -of"]
    wants = {q: bm25_topk(pyidx_big, q, k=10) for q in shapes}
    monkeypatch.setattr(Q, "_NEG_DOCSET_MAX_POSTINGS", 0)
    for q in shapes:
        rows, info = search_with_stats(spark, whbig, q, k=10, prune=False)
        assert info["neg_plan"] == "range-anti", (q, info)
        assert_rank_identical(rows, wants[q])
        # O(df_pos) evidence in the --stats surface: the exclusion decode
        # is bounded by kept_blocks * block_size, nowhere near df_neg
        assert info["neg_ids_decoded"] <= 4 * 16 * 2, info
        rows_p, info_p = search_with_stats(spark, whbig, q, k=10, prune=True)
        assert_rank_identical(rows_p, wants[q])
    # positive side too large for a broadcast -> full anti-join
    monkeypatch.setattr(Q, "_NEG_RANGE_MAX_CAND", 1)
    rows, info = search_with_stats(spark, whbig, "tiebreak -the", k=10, prune=False)
    assert info["neg_plan"] == "anti-join", info
    assert_rank_identical(rows, wants["tiebreak -the"])
    # exclusion not >=4x the positive side -> the prune can't pay
    monkeypatch.setattr(Q, "_NEG_RANGE_MAX_CAND", 200_000)
    rows, info = search_with_stats(spark, whbig, "the -biology", k=10, prune=False)
    assert info["neg_plan"] == "anti-join", info
    assert_rank_identical(rows, bm25_topk(pyidx_big, "the -biology", k=10))


def test_negation_range_prune_decodes_fewer_blocks(spark, whbig):
    """Evidence for the O(df_pos) claim: each candidate id lives in at
    most one excluded block per (term, salt), so the range semi-join
    keeps <= df_pos * n_salts of the excluded term's blocks — orders of
    magnitude below its total block count for a hot exclusion."""
    from lsearch_spark import query as Q

    st = Q._wh_state(spark, whbig)
    dfs = Q._term_dfs(spark, st, whbig, ["tiebreak", "the"])
    cand = Q._decode_blocks_ids_only(Q._postings_for(spark, whbig, st, ["tiebreak"])).distinct()
    neg_blocks = Q._postings_for(spark, whbig, st, ["the"])
    kept = Q._range_semi_join(neg_blocks, cand).count()
    total = neg_blocks.count()
    n_salts = int((whbig.read_manifest("config") or {}).get("n_salts", 4))
    assert kept <= dfs["tiebreak"] * n_salts, (kept, dfs)
    assert kept < total / 50, (kept, total)


def test_randomized_query_shapes_match_oracle(spark, wh, pyidx):
    """Seeded random sweep over the full operator grammar (1-3 positive
    terms from mixed df strata, optional '-term', optional '~term'):
    search (exhaustive AND pruned) must match the python oracle, and
    batch_search must match per-query search, for every sampled shape —
    the planner picks different routes per shape, all must agree."""
    from lsearch_spark.query import batch_search

    rng = np.random.RandomState(20260817)
    terms = sorted(pyidx.postings, key=lambda t: -len(pyidx.postings[t]))
    hot, mid, rare = terms[:5], terms[5:50], terms[50:400]

    def pick(pool):
        return pool[int(rng.randint(len(pool)))]

    queries = []
    for _ in range(12):
        pos = [pick((hot, mid, rare)[int(rng.randint(3))]) for _ in range(1 + int(rng.randint(3)))]
        q = " ".join(dict.fromkeys(pos))
        r = rng.rand()
        if r < 0.35:
            q += f" -{pick((hot, mid)[int(rng.randint(2))])}"
        elif r < 0.6:
            q += f" ~{pick(mid)}"
        queries.append(q)

    wants = {q: bm25_topk(pyidx, q, k=7) for q in queries}
    for q in queries:
        for prune in (False, True):
            got = search(spark, wh, q, k=7, prune=prune).collect()
            assert_rank_identical(got, wants[q]), (q, prune)
    got_b = batch_search(spark, wh, {str(i): q for i, q in enumerate(queries)}, k=7).collect()
    by_q: dict[str, list] = {}
    for r in got_b:
        by_q.setdefault(r["query_id"], []).append({"doc_id": r["doc_id"], "score": r["score"]})
    for i, q in enumerate(queries):
        assert_rank_identical(by_q.get(str(i), []), wants[q]), q


@pytest.mark.parametrize("q,window", [("quantum neural", 3), ("the glacier", 2), ("bio* -chemistry", 4)])
def test_search_snippets_match_twin(spark, wh, pyidx, q, window):
    from lsearch_spark.query import expand_wildcards, search_snippets

    got = search_snippets(spark, wh, q, k=8, window=window).collect()
    expanded = expand_wildcards(spark, wh, q) if "*" in q else q
    want_rank = bm25_topk(pyidx, expanded, k=8)
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (d, round(s, 9)) for d, s in want_rank
    ]
    from lsearch_spark.oracle import parse_query as _pq

    pos, _, _ = _pq(expanded)
    live = sorted((t for t in pos if t in pyidx.postings), key=lambda t: (len(pyidx.postings[t]), t))
    def _doc_tokens(doc_id):
        toks = [""] * pyidx.doc_len[doc_id]
        for t, per_doc in pyidx.positions.items():
            for p in per_doc.get(doc_id, ()):
                toks[p] = t
        return toks

    for r in got:
        toks = _doc_tokens(r["doc_id"])
        term = next((t for t in live if t in toks), None)
        assert r["term"] == term
        p = toks.index(term) + 1  # 1-based, first occurrence
        s = max(1, p - window)
        assert r["snippet"] == " ".join(toks[s - 1 : s - 1 + 2 * window + 1])


def test_randomized_and_compound_shapes_match_oracle(spark, wh, pyidx):
    """Seeded random sweep over COMPOUND conjunctive shapes (2-3
    positive terms from mixed df strata, optional '-term', optional
    '~term' — the r6/r7 compositions): mode='and' search, exhaustive
    AND pruned, must match the python oracle for every sampled shape —
    the conjunctive planner routes each to candidate-driven (now
    carrying neg and less) / probe-tau / exhaustive, and all routes
    must agree. (This test was previously silently SHADOWED by a
    same-named later sweep — renamed so both run.)"""
    rng = np.random.RandomState(20260818)
    terms = sorted(pyidx.postings, key=lambda t: -len(pyidx.postings[t]))
    hot, mid, rare = terms[:5], terms[5:50], terms[50:400]

    def pick(pool):
        return pool[int(rng.randint(len(pool)))]

    queries = []
    for _ in range(12):
        pos = [pick((hot, mid, rare)[int(rng.randint(3))]) for _ in range(2 + int(rng.randint(2)))]
        q = " ".join(dict.fromkeys(pos))
        r = rng.rand()
        if r < 0.35:
            q += f" -{pick((hot, mid)[int(rng.randint(2))])}"
        elif r < 0.6:
            q += f" ~{pick((hot, mid)[int(rng.randint(2))])}"
        if rng.rand() < 0.2:  # occasionally BOTH compositions at once
            q += f" ~{pick(mid)}"
        queries.append(q)

    for q in queries:
        want = bm25_topk(pyidx, q, k=7, mode="and")
        for prune in (False, True):
            got = search(spark, wh, q, k=7, mode="and", prune=prune).collect()
            assert_rank_identical(got, want), (q, prune)


def test_randomized_rewrite_shapes_match_oracle(spark, wh, pyidx):
    """Seeded random sweep over the query-REWRITE surfaces: wildcard
    stems, fuzzy stems (damaged vocabulary terms at distance 1/2), and
    slop phrases — the rewritten/expanded plans must match the python
    twin expansion fed through the oracle, exhaustive and pruned."""
    from lsearch_spark.oracle import phrase_topk

    rng = np.random.RandomState(20260818)
    vocab = sorted(pyidx.postings, key=lambda t: -len(pyidx.postings[t]))

    def pick(pool):
        return pool[int(rng.randint(len(pool)))]

    # wildcard: random 2-4 char stems of random vocabulary terms
    for _ in range(4):
        t = pick(vocab[: 200])
        stem = t[: 2 + int(rng.randint(min(3, max(1, len(t) - 1))))]
        expansion = _py_expand(pyidx, stem)
        want = bm25_topk(pyidx, " ".join(expansion), k=7) if expansion else []
        for prune in (False, True):
            got = search(spark, wh, f"{stem}*", k=7, prune=prune).collect()
            assert_rank_identical(got, want), (stem, prune)
    # fuzzy: damage one char of a vocabulary term, distances 1 and 2
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    for dist in (1, 2):
        for _ in range(3):
            t = pick(vocab[:150])
            if len(t) < 3:
                continue
            i = int(rng.randint(len(t)))
            damaged = t[:i] + pick(alphabet) + t[i + 1 :]
            expansion = _py_fuzzy(pyidx, damaged, dist)
            want = bm25_topk(pyidx, " ".join(expansion), k=7) if expansion else []
            suffix = "~" if dist == 1 else f"~{dist}"
            got = search(spark, wh, f"{damaged}{suffix}", k=7).collect()
            assert_rank_identical(got, want), (damaged, dist)
    # slop phrases: random hot+mid pairs at random slop
    for _ in range(4):
        a, b = pick(vocab[:30]), pick(vocab[:80])
        slop = int(rng.randint(4))
        want = phrase_topk(pyidx, f"{a} {b}", k=7, slop=slop)
        from lsearch_spark.query import phrase_search

        got = phrase_search(spark, wh, f"{a} {b}", k=7, slop=slop).collect()
        assert_rank_identical(got, [(d, s) for d, s in want]), (a, b, slop)


def test_randomized_and_shapes_match_oracle(spark, wh, pyidx):
    """Seeded random sweep over CONJUNCTIVE shapes (r5 AND planner):
    2-3 positive terms sampled across df strata, probe in {auto, True},
    pruned and exhaustive — every route (and-candidate / and-probe /
    exhaustive) must match the python oracle's AND semantics."""
    rng = np.random.RandomState(20260817 + 5)
    terms = sorted(pyidx.postings, key=lambda t: -len(pyidx.postings[t]))
    hot, mid, rare = terms[:5], terms[5:50], terms[50:400]

    def pick(pool):
        return pool[int(rng.randint(len(pool)))]

    queries = []
    for _ in range(10):
        pos = [pick((hot, mid, rare)[int(rng.randint(3))]) for _ in range(2 + int(rng.randint(2)))]
        queries.append(" ".join(dict.fromkeys(pos)))
    for q in queries:
        want = bm25_topk(pyidx, q, k=7, mode="and")
        got_e = search(spark, wh, q, k=7, mode="and", prune=False).collect()
        assert_rank_identical(got_e, want), (q, "exhaustive")
        for probe in ("auto", True):
            got_p = search(spark, wh, q, k=7, mode="and", prune=True, probe=probe).collect()
            assert_rank_identical(got_p, want), (q, probe)


def test_negation_edge_shapes(spark, wh):
    """Exclusion edge cases through both negation plans: excluding the
    query term itself empties the result; an absent excluded term
    excludes nothing."""
    from lsearch_spark.query import search

    assert search(spark, wh, "the -the", k=5).count() == 0
    a = [tuple(r) for r in search(spark, wh, "biology", k=5).collect()]
    b = [tuple(r) for r in search(spark, wh, "biology -absentterm", k=5).collect()]
    assert a == b


def test_less_pruned_decodes_fewer_blocks(spark, whbig, pyidx_big):
    """'~less' queries now prune the POSITIVE side (tau lowered by the
    less terms' total upper bound): results stay rank-identical to the
    oracle and strictly fewer positive blocks decode when the less term
    is a STOPWORD (low idf -> small upper bound; a rare less term's huge
    idf collapses tau and the planner correctly stays exhaustive)."""
    from lsearch_spark.query import search_with_stats

    q = "physics ~the"
    want = bm25_topk(pyidx_big, q, k=10)
    rows_p, info_p = search_with_stats(spark, whbig, q, k=10, prune=True)
    assert_rank_identical(rows_p, want)
    assert info_p["blocks_total"] and info_p["blocks_decoded"] < info_p["blocks_total"], info_p
    rows_e, _ = search_with_stats(spark, whbig, q, k=10, prune=False)
    assert [tuple(r) for r in rows_p] == [tuple(r) for r in rows_e]


def test_with_stats_empty_result_zero_counts(spark, wh):
    """A query with zero hits can have its observe node AQE-eliminated;
    the stats path must report zeros (guarded on the caller-known empty
    result, not on Spark's exception text — ADVICE r4)."""
    from lsearch_spark.query import search_with_stats

    rows, info = search_with_stats(spark, wh, "zzzznosuchterm", k=5)
    assert rows == []
    assert info["blocks_decoded"] == 0 and info["postings_decoded"] == 0
    # and a non-empty result with a healthy observe node still surfaces counts
    rows2, info2 = search_with_stats(spark, wh, "biology", k=5, prune=False)
    assert rows2 and info2["blocks_decoded"] > 0


@pytest.mark.parametrize(
    "q", ["biology chemistry", "the of", "quantum neural the", "tiebreak the", "the biology"]
)
def test_and_pruned_equals_exhaustive(spark, wh, pyidx, q):
    """VERDICT r4 #7: pruned AND == exhaustive AND == oracle, across
    shapes (balanced, stopword pair, mixed, rare+hot)."""
    from lsearch_spark.query import search_with_stats

    want = bm25_topk(pyidx, q, k=10, mode="and")
    for probe in ("auto", True):
        got, info = search_with_stats(spark, wh, q, k=10, mode="and", prune=True, probe=probe)
        assert_rank_identical(got, want), (q, probe, info)
    got_e = search(spark, wh, q, k=10, mode="and", prune=False).collect()
    assert_rank_identical(got_e, want)


def test_and_candidate_plan_engages(spark, wh, pyidx):
    """A selective conjunction (rare term + stopword) must take the
    candidate-driven range-semi-join plan and decode fewer blocks than
    the candidate terms' total."""
    from lsearch_spark.query import search_with_stats

    rows, info = search_with_stats(spark, wh, "tiebreak the", k=10, mode="and")
    assert info["plan"] == "and-candidate", info
    assert info["blocks_total"] and info["blocks_decoded"] < info["blocks_total"], info
    assert_rank_identical(rows, bm25_topk(pyidx, "tiebreak the", k=10, mode="and"))


def test_and_candidate_plan_composes_with_negation(spark, wh, pyidx):
    """VERDICT r5 #6: AND+neg prunes through the candidate-driven plan —
    every conjunctive match carries an exact score before the exclusion
    applies, so the composition needs no tau and no verification. Must
    equal the exhaustive twin and the python oracle, and decode fewer
    blocks than the candidate terms' total."""
    from lsearch_spark.query import search, search_with_stats

    for q in ("tiebreak the -chemistry", "tiebreak the -biology"):
        rows, info = search_with_stats(spark, wh, q, k=10, mode="and")
        assert info["plan"].startswith("and-candidate+neg"), (q, info)
        assert info["blocks_total"] and info["blocks_decoded"] < info["blocks_total"], (q, info)
        got_e = search(spark, wh, q, k=10, mode="and", prune=False).collect()
        want = bm25_topk(pyidx, q, k=10, mode="and")
        assert_rank_identical(rows, want), q
        assert_rank_identical(got_e, want), q


def test_and_candidate_plan_composes_with_less(spark, wh, pyidx):
    """VERDICT r6 #5: AND+'~less' prunes through the candidate-driven
    plan — every conjunctive match carries an exact positive score and
    penalties are decoded in full, so the composition needs no tau and
    no verification. Must equal the exhaustive twin and the python
    oracle, and decode fewer blocks than the candidate terms' total."""
    from lsearch_spark.query import search, search_with_stats

    for q in ("tiebreak the ~chemistry", "tiebreak the ~biology -chemistry"):
        rows, info = search_with_stats(spark, wh, q, k=10, mode="and")
        assert info["plan"].startswith("and-candidate"), (q, info)
        assert "+less" in info["plan"], (q, info)
        assert info["blocks_total"] and info["blocks_decoded"] < info["blocks_total"], (q, info)
        got_e = search(spark, wh, q, k=10, mode="and", prune=False).collect()
        want = bm25_topk(pyidx, q, k=10, mode="and")
        assert_rank_identical(rows, want), q
        assert_rank_identical(got_e, want), q


def test_neg_less_composed_pruning(spark, wh, pyidx):
    """VERDICT r6 #5: neg+'~less' composes in the OR planner — the
    df-aware deeper tau stacks with the less upper-bound correction and
    the a-posteriori verification (surviving k-th FINAL score >= tau)
    keeps it exact. Pruned == exhaustive == python oracle; when the
    verification passes, fewer blocks than total were decoded."""
    from lsearch_spark.query import search, search_with_stats

    for q in ("the -biology ~chemistry", "physics -the ~biology", "the ~physics -chemistry"):
        rows, info = search_with_stats(spark, wh, q, k=10, prune=True)
        got_e = search(spark, wh, q, k=10, prune=False).collect()
        want = bm25_topk(pyidx, q, k=10)
        assert_rank_identical(rows, want), (q, info)
        assert_rank_identical(got_e, want), q
        if info.get("prune_verified"):
            assert info["blocks_decoded"] < info["blocks_total"], (q, info)
        # pruning engaged (plan routed) for at least the stopword shapes
        if q.startswith("the "):
            assert info["plan"] != "exhaustive" or info.get("prune_fallback"), (q, info)


def test_and_probe_plan_prunes_stopword_pair(spark, wh, pyidx):
    """A conjunctive stopword pair (no rare seed) must, with the probe
    forced, form a conjunctive tau and decode fewer blocks than total —
    with results still exact (VERDICT r4 #7 done-criterion)."""
    from lsearch_spark.query import search_with_stats

    rows, info = search_with_stats(spark, wh, "the of", k=10, mode="and", probe=True)
    assert info["plan"] == "and-probe", info
    assert info["tau"] is not None and info["tau"] > float("-inf")
    assert info["blocks_total"] and info["blocks_decoded"] < info["blocks_total"], info
    assert_rank_identical(rows, bm25_topk(pyidx, "the of", k=10, mode="and"))


def test_plan_summary_reports_and_plans(spark, wh):
    """--strats parity: plan_summary renders the plan search() executes.
    Its `plan:` line must equal search_with_stats' plan string (exclusion
    plan included) and tau for every reference query and for the shapes
    where separate planner copies once disagreed: single-term AND with
    '~less', AND+less, k_eff-deepened negation taus, the cost check that
    turns WAND thetas into an exhaustive scan."""
    from lsearch_spark.query import plan_summary, search_with_stats

    s1 = plan_summary(spark, wh, "tiebreak the", mode="and")
    assert "candidate-driven" in s1 and "'tiebreak'" in s1, s1
    # a stopword pair under AND: the probe is not worth its job at this
    # size (and-probe is forced in test_and_probe_plan_prunes_stopword_pair)
    s2 = plan_summary(spark, wh, "the of", mode="and")
    assert "plan: exhaustive tau=None" in s2, s2
    shapes = [
        ("biology ~chemistry", "and"), ("the of ~physics", "and"), ("the -physics", "or"),
        ("physics -the", "or"), ("the of", "or"), ("of and the", "or"), ("the", "or"),
        ("tiebreak the", "and"), ("the of", "and"),
    ]
    cases = [(q["query"], "or", q["k"]) for q in QUERIES] + [(q, m, 10) for q, m in shapes]
    for q, m, k in cases:
        _, info = search_with_stats(spark, wh, q, k=k, mode=m)
        summary = plan_summary(spark, wh, q, k=k, mode=m)
        line = next(x for x in summary.splitlines() if x.startswith("plan: "))
        assert line == f"plan: {info.get('plan')} tau={info.get('tau')!r}", (q, m, summary)


def _table_rows(spark, root, name):
    """A table's rows, sorted, with impact ladders as sorted multisets
    (collect_list order is not fixed)."""
    from lsearch_spark import catalog

    rows = []
    for r in catalog.read_table(spark, root, name).collect():
        d = r.asDict()
        if d.get("impact_ladder") is not None:
            d["impact_ladder"] = sorted(list(x) for x in d["impact_ladder"])
        rows.append(d)
    return sorted(rows, key=repr)


def test_build_gates_forced_both_ways(spark, tmp_path, monkeypatch):
    """The build's driver-side fast paths (_term_stats_local, and the
    _hot_terms_local InSet literal + driver-written impact_terms) against
    their distributed sides (the Spark aggregate, the broadcast join):
    identical tables and search rows, and each stage manifest records
    which side ran."""
    from lsearch_spark import build as Bd

    pages = pages_df(spark, 150)
    kw = dict(n_buckets=4, block_size=32, hot_df=64, n_salts=4, resume=False)
    local = build_index(spark, pages, str(tmp_path / "local"), input_id="gates-local", **kw)
    monkeypatch.setattr(Bd, "_LOCAL_STATS_MAX_BYTES", 0)
    monkeypatch.setattr(Bd, "_LOCAL_HOT_MAX_TERMS", 0)
    dist = build_index(spark, pages, str(tmp_path / "dist"), input_id="gates-dist", **kw)

    assert local.read_manifest("term_stats")["side"] == "local"
    assert local.read_manifest("blocks")["hot_set"] == "local"
    assert dist.read_manifest("term_stats")["side"] == "spark"
    assert dist.read_manifest("blocks")["hot_set"] == "join"
    for name in ("term_stats", "impact_terms", "term_block_stats"):
        a, b = _table_rows(spark, local.root, name), _table_rows(spark, dist.root, name)
        assert a == b and a, name
    for q in ("the", "biology chemistry", "the -biology"):
        a = search(spark, local, q, k=10).collect()
        b = search(spark, dist, q, k=10).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b] and a, q


def test_flat_direct_scan_row_group_split(spark, tmp_path):
    """A docs table with FEW huge files (re-partitioned / compacted
    layouts) must not collapse the direct feed's parallelism: units drop
    from files to ROW GROUPS, and the postings content is unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lsearch_spark.build import FLAT_SCHEMA, _flat_direct_scan, _make_flat_mapper
    from lsearch_spark.codec import decode_chunk_rows

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    pdf = (
        pages_df(spark, 120)
        .select(
            F.xxhash64("url").alias("doc_id"),
            F.split(F.lower("text"), r"\s+").alias("tokens"),
        )
        .toPandas()
    )
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(tbl, docs_dir / "part-0.parquet", row_group_size=20)  # ONE file, ~7 row groups

    direct = _flat_direct_scan(spark, str(docs_dir), 16)
    assert direct is not None
    assert direct.rdd.getNumPartitions() > 1, "single file must split by row group"
    socket_fed = (
        spark.read.parquet(str(docs_dir))
        .select("doc_id", "tokens")
        .mapInArrow(_make_flat_mapper(16), FLAT_SCHEMA)
    )

    def postings_map(df):
        out = {}
        for r in df.collect():
            for did, tf, positions, dl in decode_chunk_rows(r):
                out[(r["term"], did)] = (tf, tuple(positions), dl)
        return out

    a, b = postings_map(direct), postings_map(socket_fed)
    assert a == b and len(a) > 100


def test_batch_negation_docset_gate(spark, wh, pyidx, monkeypatch):
    """VERDICT r4 #6: under the size gate a batch's '-term' exclusions
    are driver-decoded ONCE (per-term arrays shared with the
    single-query cache) and applied as a broadcast searchsorted filter —
    no executor ids decode, no per-query anti-join shuffle. Over the
    gate the distributed anti-join plan remains. Both branches must
    produce identical rows and match the python oracle per query."""
    from lsearch_spark import query as q

    qs = {"a": "biology -chemistry", "b": "physics -the", "c": "quantum neural"}
    rows_d, info_d = q.batch_search_with_stats(spark, wh, qs, k=5)
    assert info_d["neg_plan"] == "docset-batch", info_d
    assert info_d["neg_ids_decoded"] > 0
    monkeypatch.setattr(q, "_NEG_DOCSET_MAX_POSTINGS", 0)
    rows_a, info_a = q.batch_search_with_stats(spark, wh, qs, k=5)
    assert info_a["neg_plan"] == "anti-join", info_a
    assert [tuple(r) for r in rows_d] == [tuple(r) for r in rows_a]
    by_q: dict[str, list] = {}
    for r in rows_d:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, query in qs.items():
        want = bm25_topk(pyidx, query, k=5)
        assert_rank_identical(
            [{"doc_id": d, "score": s} for d, s in by_q.get(qid, [])], want
        )


def test_flat_direct_scan_equals_socket_feed(spark, tmp_path):
    """The direct-read feed (python opens docs parquet splits itself)
    must produce the same postings CONTENT as the JVM-scan feed: same
    per-(term,doc) tf/positions after decode, same df/cf totals. Chunk
    boundaries may differ (different batch segmentation) — semantics are
    chunk-invariant by design."""
    from lsearch_spark.build import FLAT_SCHEMA, _flat_direct_scan, _make_flat_mapper
    from lsearch_spark.codec import decode_chunk_rows

    docs_dir = str(tmp_path / "docs")
    pages_df(spark, 120).select(
        F.xxhash64("url").alias("doc_id"),
        F.split(F.lower("text"), r"\s+").alias("tokens"),
    ).repartition(6).write.parquet(docs_dir)

    direct = _flat_direct_scan(spark, docs_dir, 16)
    assert direct is not None
    socket_fed = (
        spark.read.parquet(docs_dir)
        .select("doc_id", "tokens")
        .mapInArrow(_make_flat_mapper(16), FLAT_SCHEMA)
    )

    def postings_map(df):
        out = {}
        for r in df.collect():
            for did, tf, positions, dl in decode_chunk_rows(r):
                out[(r["term"], did)] = (tf, tuple(positions), dl)
        return out

    a, b = postings_map(direct), postings_map(socket_fed)
    assert a == b and len(a) > 100


def test_build_from_path_equals_build_from_dataframe(spark, tmp_path):
    """build_index(spark, <parquet dir>) takes the python direct-read
    extract feed (html/text never cross the Arrow socket); the docs
    table it writes must be IDENTICAL — doc_id, url, warc_ts, lang and
    the full token stream — to the JVM Arrow-UDF plan's, including the
    null-html -> text fallthrough and the hashed-doc_id assignment."""
    from lsearch_spark.build import _extract_direct_scan

    pages = pages_df(spark, 90).withColumn(
        "html", F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("html"))
    )
    src = str(tmp_path / "pages")
    pages.repartition(4).write.parquet(src)
    assert _extract_direct_scan(spark, src, True) is not None

    cols = ["doc_id", "url", "warc_ts", "lang", "tokens"]

    def docs_of(wh):
        return sorted(
            spark.read.parquet(wh.path("docs")).select(*cols).collect(),
            key=lambda r: r["doc_id"],
        )

    kw = dict(n_buckets=2, block_size=32, hot_df=64, n_salts=2, resume=False)
    a = docs_of(build_index(spark, spark.read.parquet(src), str(tmp_path / "w1"), input_id="p", **kw))
    b = docs_of(build_index(spark, src, str(tmp_path / "w2"), input_id="p", **kw))
    assert a == b and len(a) == 96

    # no doc_id column -> both paths must assign the same xxhash64(url)
    src2 = str(tmp_path / "pages_noid")
    spark.read.parquet(src).drop("doc_id").write.parquet(src2)
    c = docs_of(build_index(spark, spark.read.parquet(src2), str(tmp_path / "w3"), input_id="q", **kw))
    d = docs_of(build_index(spark, src2, str(tmp_path / "w4"), input_id="q", **kw))
    assert c == d and len({r["doc_id"] for r in c}) == 96

    # from_html=False: tokens come from the text column on both paths
    e = docs_of(build_index(spark, spark.read.parquet(src), str(tmp_path / "w5"),
                            input_id="r", from_html=False, **kw))
    f = docs_of(build_index(spark, src, str(tmp_path / "w6"),
                            input_id="r", from_html=False, **kw))
    assert e == f and len(e) == 96


def test_search_highlights_matches_oracle(spark, wh, pyidx):
    """search_highlights returns the exact 0-based token offsets of every
    live query term in each top-k doc (python positional oracle), with
    scores/ranking identical to search()."""
    from lsearch_spark.query import search_highlights

    for q in ["biology", "quantum flux", "the -biology", "BIOLOGY chemistry"]:
        want_top = bm25_topk(pyidx, q, k=10)
        rows = search_highlights(spark, wh, q, k=10).collect()
        # ranking: distinct docs in emitted order == oracle order by (score desc, id)
        seen = list(dict.fromkeys(r["doc_id"] for r in rows))
        want_order = [d for d, _ in want_top]
        # docs with NO live-term occurrence can't appear; all others must
        assert seen == [d for d in want_order if any(
            d in pyidx.positions.get(t, {}) for t in q.lower().split() if not t.startswith("-")
        )]
        want_score = dict(want_top)
        for r in rows:
            t, d = r["term"], r["doc_id"]
            assert math.isclose(r["score"], want_score[d], rel_tol=1e-9)
            assert list(r["positions"]) == pyidx.positions[t][d], (t, d)
        # every (top doc, live term) pair present exactly once
        pairs = [(r["doc_id"], r["term"]) for r in rows]
        assert len(pairs) == len(set(pairs))


def test_search_highlights_empty(spark, wh):
    from lsearch_spark.query import search_highlights

    assert search_highlights(spark, wh, "zzzzabsent", k=5).count() == 0


def test_search_within_matches_oracle(spark, wh, pyidx):
    """within=<predicate> restricts CANDIDATES while idf/avgdl stay
    corpus-global: oracle = full-corpus BM25 ranking filtered to the
    predicate's docs, first k. Pruned must equal exhaustive (the
    deeper-tau + a-posteriori verification path), the DataFrame-docset
    form must equal the predicate form, and AND composes through the
    candidate-driven plan."""
    from lsearch_spark.corpus import make_pages

    pdf = make_pages(N_DOCS)
    en = set(int(d) for d in pdf.loc[pdf["lang"] == "en", "doc_id"])

    def want(q, k=10, mode="or"):
        full = bm25_topk(pyidx, q, k=len(pyidx.doc_len) + 1, mode=mode)
        return [(d, s) for d, s in full if d in en][:k]

    for q in ["the", "biology chemistry", "physics -the"]:
        for prune in (True, False):
            got = search(spark, wh, q, k=10, prune=prune, within="lang = 'en'").collect()
            assert_rank_identical(got, want(q)), (q, prune)

    docset = spark.createDataFrame([(d,) for d in sorted(en)], "doc_id long")
    a = [tuple(r) for r in search(spark, wh, "the", k=10, within=docset).collect()]
    b = [tuple(r) for r in search(spark, wh, "the", k=10, within="lang = 'en'").collect()]
    assert a == b and len(a) == 10

    got = search(spark, wh, "biology chemistry", k=10, mode="and", within="lang = 'en'").collect()
    assert_rank_identical(got, want("biology chemistry", mode="and"))

    # full composition: candidate-driven AND (r6 neg composition) + within
    # + '-term' in one query — exclusion (anti) and docset (semi) both
    # apply to the complete exact candidate scores, so the stack is exact
    for q in ("tiebreak the -chemistry", "tiebreak the -biology"):
        for prune in (True, False):
            got = search(spark, wh, q, k=10, mode="and", prune=prune, within="lang = 'en'").collect()
            assert_rank_identical(got, want(q, mode="and")), (q, prune)

    assert search(spark, wh, "the", k=5, within="lang = 'nolang'").count() == 0


def test_search_within_prunes_and_verifies(spark, wh):
    """The pruned within path must actually take the routed plan and
    record a verified (or fallback) outcome — never silently exhaustive
    when stats exist, never unverified when tau formed."""
    from lsearch_spark.query import search_with_stats

    rows, info = search_with_stats(spark, wh, "the", k=10, prune=True, within="lang = 'en'")
    assert info["within"] == "lang = 'en'"
    assert len(rows) == 10
    if info.get("plan", "").startswith("routed"):
        assert info.get("prune_verified") or info.get("prune_fallback")
    # probe=True forces the ROUTED plan regardless of the cost gate, so
    # the verification branch runs deterministically — and its output
    # must still equal the exhaustive scan's
    rows_f, info_f = search_with_stats(
        spark, wh, "the", k=10, prune=True, probe=True, within="lang = 'en'"
    )
    assert info_f["plan"].startswith("routed")
    assert info_f.get("prune_verified") or info_f.get("prune_fallback")
    ex = search(spark, wh, "the", k=10, prune=False, within="lang = 'en'").collect()
    assert [tuple(r) for r in rows_f] == [tuple(r) for r in ex]


def test_search_within_and_probe_tau_verifies(spark, wh):
    """VERDICT r6 #6: within composes with the conjunctive PROBE-TAU
    plan — the probe asks for filter-proportionally deeper witnesses
    and the a-posteriori verification keeps the filtered conjunction
    exact. Forced probe must take the and-probe plan, decode fewer
    blocks than total, record verified-or-fallback, and equal the
    exhaustive twin."""
    from lsearch_spark.query import search_with_stats

    q, pred = "the of", "lang = 'en'"
    rows, info = search_with_stats(
        spark, wh, q, k=10, mode="and", prune=True, probe=True, within=pred
    )
    assert info["plan"] == "and-probe", info
    assert info.get("prune_verified") or info.get("prune_fallback"), info
    if info.get("prune_verified"):
        assert info["blocks_decoded"] < info["blocks_total"], info
    ex = search(spark, wh, q, k=10, mode="and", prune=False, within=pred).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in ex]


def test_batch_search_within_prunes_and_verifies(spark, wh):
    """VERDICT r6 #6 (batch half): a within batch now PRUNES the shared
    scan under filter-deepened thetas and runs the batched a-posteriori
    verification — results must equal the unpruned twin per query, and
    the stats must witness the routed-batch plan + verification
    bookkeeping."""
    from lsearch_spark.query import batch_search

    qs = {"a": "biology", "b": "quantum", "c": "tiebreak glacier"}
    binfo: dict = {}
    out = batch_search(spark, wh, qs, k=5, within="lang = 'en'", _stats=binfo).collect()
    assert binfo.get("plan", "").startswith("routed-batch") or binfo.get("plan") == "exhaustive"
    if binfo.get("plan", "").startswith("routed-batch"):
        assert "within_verified" in binfo, binfo
        assert binfo["within_verified"] + len(binfo.get("within_fallbacks", [])) >= 1
    plain = batch_search(spark, wh, qs, k=5, within="lang = 'en'", prune=False).collect()
    key = lambda rs: sorted((r["query_id"], r["doc_id"], round(r["score"], 9)) for r in rs)
    assert key(out) == key(plain)


def test_batch_search_within_matches_single(spark, wh):
    """A batch-global within docset must give, per query, exactly what
    search() gives with the same within (batch runs the filter unpruned;
    search may prune+verify — results must agree regardless)."""
    from lsearch_spark.query import batch_search

    qs = {"a": "biology", "b": "the chemistry", "c": "physics -the"}
    out = batch_search(spark, wh, qs, k=5, within="lang = 'en'").collect()
    by_q: dict[str, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], round(r["score"], 9)))
    for qid, q in qs.items():
        single = [
            (r["doc_id"], round(r["score"], 9))
            for r in search(spark, wh, q, k=5, within="lang = 'en'").collect()
        ]
        assert by_q.get(qid, []) == single, qid


def test_phrase_search_within(spark, wh, pyidx):
    """phrase_search(within=...) keeps the corpus-global phrase idf and
    filters candidates: oracle = full phrase ranking filtered to the
    docset, first k."""
    from lsearch_spark.corpus import make_pages
    from lsearch_spark.oracle import phrase_topk
    from lsearch_spark.query import phrase_search

    pdf = make_pages(N_DOCS)
    en = set(int(d) for d in pdf.loc[pdf["lang"] == "en", "doc_id"])
    full = phrase_topk(pyidx, "quantum flux", k=len(pyidx.doc_len) + 1)
    want = [(d, s) for d, s, *_ in full if d in en][:10]
    got = phrase_search(spark, wh, "quantum flux", k=10, within="lang = 'en'").collect()
    assert_rank_identical(got, want)
    assert all(r["doc_id"] in en for r in got)


def test_suggest_terms_matches_oracle(spark, wh, pyidx):
    from lsearch_spark.query import suggest_terms

    want = sorted(
        ((t, len(p)) for t, p in pyidx.postings.items() if t.startswith("qu")),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    got = [(r["term"], r["df"]) for r in suggest_terms(spark, wh, "Qu", n=5).collect()]
    assert got == want and got
    assert suggest_terms(spark, wh, "", n=5).count() == 0
    assert suggest_terms(spark, wh, "zzzznope", n=5).count() == 0


def test_search_rerank_matches_oracle(spark, wh, pyidx, tmp_path):
    """Two-stage hybrid retrieval: BM25 top-k0 candidates re-ranked by
    cosine to a query vector. Oracle: python BM25 top-k0 (tie-ordered)
    + float64 left-fold cosines, sorted (cos DESC, id ASC) top-k."""
    import math

    from lsearch_spark.query import search_rerank

    rng = np.random.RandomState(11)
    ids = sorted(pyidx.doc_len)
    vecs = {d: rng.normal(size=8).astype("float32") for d in ids}
    emb = spark.createDataFrame(
        [(int(d), [float(x) for x in v]) for d, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    qv = [float(x) for x in vecs[ids[3]]]

    def fdot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def fnorm32(a):
        # Spark norm() squares FLOAT columns in float32 (Multiply of two
        # FloatType operands), then accumulates float64 — replay exactly
        acc = 0.0
        for x in a:
            acc += float(np.float32(x) * np.float32(x))
        return math.sqrt(acc)

    k0, k = 25, 5
    top = bm25_topk(pyidx, "the biology", k=k0)
    qn = math.sqrt(fdot(qv, qv))  # query literal is double-typed
    want = []
    for d, s in top:
        v = [float(x) for x in vecs[d]]
        den = fnorm32(v) * qn
        want.append((d, s, fdot(v, qv) / den if den > 0 else 0.0))
    want.sort(key=lambda r: (-r[2], r[0]))
    want = want[:k]

    got = search_rerank(spark, wh, "the biology", qv, emb, k=k, k0=k0).collect()
    assert [r["doc_id"] for r in got] == [d for d, _, _ in want]
    for r, (d, s, c) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9)
        assert math.isclose(r["cosine"], c, rel_tol=1e-12), (r["doc_id"], r["cosine"], c)


def test_randomized_within_shapes_match_oracle(spark, wh, pyidx):
    """Seeded random sweep over the grammar WITH a within docset: every
    sampled shape (1-3 positive terms, optional '-term'), with lang
    slices of varying selectivity, pruned (incl. forced-routed
    probe=True) and exhaustive, must equal the python oracle's
    full-ranking-filtered-then-top-k — exercising the verified-pruned,
    fallback, and exhaustive within routes across planner shapes."""
    from lsearch_spark.corpus import make_pages

    pdf = make_pages(N_DOCS)
    slices = {
        "lang = 'en'": set(int(d) for d in pdf.loc[pdf["lang"] == "en", "doc_id"]),
        "lang = 'de'": set(int(d) for d in pdf.loc[pdf["lang"] == "de", "doc_id"]),
        "lang IN ('fr', 'de')": set(
            int(d) for d in pdf.loc[pdf["lang"].isin(["fr", "de"]), "doc_id"]
        ),
    }
    rng = np.random.RandomState(20260817 + 9)
    terms = sorted(pyidx.postings, key=lambda t: -len(pyidx.postings[t]))
    hot, mid, rare = terms[:5], terms[5:50], terms[50:400]

    def pick(pool):
        return pool[int(rng.randint(len(pool)))]

    preds = list(slices)
    n_all = len(pyidx.doc_len)
    sampled: list[tuple[str, str]] = []
    for _ in range(10):
        pos = [pick((hot, mid, rare)[int(rng.randint(3))]) for _ in range(1 + int(rng.randint(3)))]
        q = " ".join(dict.fromkeys(pos))
        r = rng.rand()
        if r < 0.35:
            q += f" -{pick((hot, mid)[int(rng.randint(2))])}"
        elif r < 0.55:  # within+'~less' composes too (r7)
            q += f" ~{pick((hot, mid)[int(rng.randint(2))])}"
        pred = preds[int(rng.randint(len(preds)))]
        sampled.append((q, pred))
        keep = slices[pred]
        full = bm25_topk(pyidx, q, k=n_all + 1)
        want = [(d, s) for d, s in full if d in keep][:7]
        for kw in ({"prune": False}, {"prune": True}, {"prune": True, "probe": True}):
            got = search(spark, wh, q, k=7, within=pred, **kw).collect()
            assert_rank_identical(got, want), (q, pred, kw)

    # batch-within (r7): one PRUNED shared scan per predicate group with
    # the batched verification must agree with per-query search
    from lsearch_spark.query import batch_search

    for pred in preds:
        group = {f"q{i}": q for i, (q, p) in enumerate(sampled) if p == pred}
        if not group:
            continue
        got_b = batch_search(spark, wh, group, k=7, within=pred).collect()
        by_q: dict[str, list] = {}
        for r in got_b:
            by_q.setdefault(r["query_id"], []).append({"doc_id": r["doc_id"], "score": r["score"]})
        keep = slices[pred]
        for qid, q in group.items():
            full = bm25_topk(pyidx, q, k=n_all + 1)
            want = [(d, s) for d, s in full if d in keep][:7]
            assert_rank_identical(by_q.get(qid, []), want), (pred, q)
