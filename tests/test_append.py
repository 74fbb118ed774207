"""Incremental segment append: results after append_index must be
IDENTICAL to a fresh build over the union corpus (df/avgdl are global),
block keys must stay unique, and WAND pruning must stay exact under the
avgdl drift the append introduces."""

import pytest
from pyspark.sql import functions as F

from lsearch_spark.build import Warehouse, append_index, build_index
from lsearch_spark.corpus import QUERIES, make_pages, pages_df
from lsearch_spark.oracle import bm25_topk, build_index as py_build, phrase_topk
from lsearch_spark.query import phrase_search, search

import math


def assert_rank_identical(got_rows, want, tol=1e-9):
    got = [(r["doc_id"], r["score"]) for r in got_rows]
    assert len(got) == len(want), (got, want)
    want_score = dict(want)
    for d, s in got:
        assert d in want_score, f"unexpected doc {d}"
        assert math.isclose(s, want_score[d], rel_tol=tol, abs_tol=tol), (d, s, want_score[d])
    rerank = sorted((d for d, _ in got), key=lambda d: (-want_score[d], d))
    assert rerank == [d for d, _ in want]


N_A, N_B = 150, 80
SHIFT = 1_000_000


def _pages_b(spark, n=N_B, seed=9, shift=SHIFT):
    pdf = make_pages(n, seed=seed)
    pdf["doc_id"] = pdf["doc_id"] + shift
    # longer docs on purpose: the append must shift avgdl so the
    # WAND-basis drift correction is actually exercised
    pdf["text"] = (pdf["text"] + " ") * 3 + "biology quantum flux"
    pdf["html"] = None
    schema = "doc_id long, url string, warc_ts timestamp, html binary, text string, lang string"
    return spark.createDataFrame(pdf, schema=schema)


@pytest.fixture(scope="module")
def awh(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("appendwh"))
    wh = build_index(
        spark, pages_df(spark, N_A), root,
        n_buckets=4, block_size=32, hot_df=64, n_salts=4, input_id="a150",
    )
    return append_index(spark, _pages_b(spark), wh, from_html=False)


@pytest.fixture(scope="module")
def union_pyidx():
    a = make_pages(N_A)
    b = make_pages(N_B, seed=9)
    docs = list(zip(a["doc_id"], a["text"]))
    docs += [
        (int(d) + SHIFT, (t + " ") * 3 + "biology quantum flux")
        for d, t in zip(b["doc_id"], b["text"])
    ]
    return py_build(docs)


@pytest.mark.parametrize("q", ["the", "biology chemistry", "quantum neural spark", "physics -the", "spark spark"])
def test_append_matches_fresh_oracle(spark, awh, union_pyidx, q):
    want = bm25_topk(union_pyidx, q, k=10)
    got = search(spark, awh, q, k=10).collect()  # default prune=True
    assert_rank_identical(got, want)
    got_ex = search(spark, awh, q, k=10, prune=False).collect()
    assert_rank_identical(got_ex, want)


def test_append_block_keys_unique(spark, awh):
    from lsearch_spark import catalog

    dup = (
        catalog.read_table(spark, awh.root, "postings")
        .groupBy("kind", "term", "salt", "block_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_append_phrase_and_stats(spark, awh, union_pyidx):
    want = phrase_topk(union_pyidx, "quantum flux", k=10)
    got = phrase_search(spark, awh, "quantum flux", k=10).collect()
    assert_rank_identical(got, [(d, s) for d, s in want])
    stats = Warehouse(awh.root).corpus_stats(spark)
    assert stats["n_docs"] == union_pyidx.n_docs
    assert abs(stats["avgdl"] - union_pyidx.avgdl) < 1e-9
    cfg = awh.read_manifest("config")
    assert cfg["n_appends"] == 1 and cfg["wand_avgdl"] != pytest.approx(stats["avgdl"])


def _summary_rows(df):
    """term_block_stats rows by term; impact ladders as sorted multisets
    of per-salt arrays (collect_list order is not fixed)."""
    rows = []
    for r in df.collect():
        lad = r["impact_ladder"]
        rows.append((
            r["term"], r["n_blocks"], r["n_postings"], list(r["top_wands"]), r["ub_wand"],
            None if lad is None else sorted(list(x) for x in lad),
        ))
    return sorted(rows, key=lambda x: x[0])


def test_append_block_summary_merge_is_additive(spark, tmp_path):
    """append_index merges the old term_block_stats with the segment's
    summary (counts sum, top-K of the union, ladders concatenate) instead
    of rescanning the corpus. After each of two appends, the committed
    table must equal _block_summary recomputed over the resolved
    postings (base + every segment)."""
    from lsearch_spark import catalog
    from lsearch_spark.build import _block_summary

    root = str(tmp_path / "wh")
    wh = build_index(
        spark, pages_df(spark, N_A), root,
        n_buckets=4, block_size=32, hot_df=64, n_salts=4, input_id="merge150",
    )
    for pages in (_pages_b(spark), _pages_b(spark, n=40, seed=11, shift=2 * SHIFT)):
        append_index(spark, pages, wh, from_html=False)
        got = _summary_rows(catalog.read_table(spark, root, "term_block_stats"))
        want = _summary_rows(_block_summary(catalog.read_table(spark, root, "postings")))
        assert got == want
        assert any(r[5] for r in got)  # impact ladders are covered too


def test_second_append_and_refusal(spark, tmp_path):
    root = str(tmp_path / "wh")
    with pytest.raises(ValueError):
        append_index(spark, pages_df(spark, 10), root, from_html=False)


@pytest.mark.parametrize(
    "texts",
    [
        ["a"],  # one doc, one token
        ["b b b b b"],  # one doc, one repeated term
        ["x " * 5000],  # giant single-term doc (many sub-chunks)
        ["中文 émile 中文", "émile"],  # non-ASCII-only tokens
        ["q w e", "", "q", "w w"],  # empty doc mixed in
    ],
    ids=["one-token", "one-term", "giant", "unicode", "mixed-empty"],
)
def test_kernel_edge_corpora_reconstruct(spark, tmp_path, texts):
    """The chunk + merge kernels must reproduce the pure-python index
    bit-for-bit on pathological corpora (not just the synthetic one)."""
    import numpy as np

    from lsearch_spark import codec

    rows = [(i + 1, f"u{i}", None, None, t, "en") for i, t in enumerate(texts)]
    schema = "doc_id long, url string, warc_ts timestamp, html binary, text string, lang string"
    pages = spark.createDataFrame(rows, schema)
    wh = build_index(
        spark, pages, str(tmp_path / "wh"),
        n_buckets=2, block_size=4, hot_df=3, n_salts=2,
        input_id="edge", from_html=False,
    )
    pyidx = py_build([(i + 1, t) for i, t in enumerate(texts)])
    got: dict[str, dict[int, int]] = {}
    got_pos: dict[str, dict[int, list[int]]] = {}
    for r in spark.read.parquet(wh.path("postings")).filter("kind = 0").collect():
        ids = codec.decode_ids_signed(bytes(r["doc_ids"]))
        tfs = codec.varint_decode(bytes(r["tfs"]))
        poss = codec.decode_positions(bytes(r["positions"]), tfs)
        assert np.all(np.diff(ids) > 0) if len(ids) > 1 else True
        for d, tf, pos in zip(ids, tfs, poss):
            got.setdefault(r["term"], {})[int(d)] = int(tf)
            got_pos.setdefault(r["term"], {})[int(d)] = [int(x) for x in pos]
    assert got == pyidx.postings
    assert got_pos == pyidx.positions


def test_append_crash_atomicity_and_idempotency(spark, tmp_path):
    """A crashed append (segment staged, config NOT flipped) must leave the
    read path byte-identical; retrying the append must overwrite the
    orphan segment and produce exactly-once results."""
    from lsearch_spark import catalog
    from lsearch_spark.query import search

    root = str(tmp_path / "wh")
    build_index(
        spark, pages_df(spark, 60), root,
        n_buckets=2, block_size=16, hot_df=32, n_salts=2, input_id="a60", from_html=True,
    )
    wh = Warehouse(root)
    before = search(spark, wh, "biology", k=5).collect()
    n_docs_before = wh.corpus_stats(spark)["n_docs"]

    # simulate a crash: stage a partial segment WITHOUT the config flip
    import os
    seg = os.path.join(root, "_segments", "seg1")
    os.makedirs(os.path.join(seg, "docs"), exist_ok=True)
    spark.range(3).select(
        F.col("id").alias("doc_id"), F.lit("u").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"), F.lit("en").alias("lang"),
        F.array(F.lit("ghost")).alias("tokens"),
    ).write.mode("overwrite").parquet(os.path.join(seg, "docs"))

    # uncommitted segment is invisible on every read path
    assert wh.corpus_stats(spark)["n_docs"] == n_docs_before
    assert catalog.read_table(spark, root, "docs").filter("url = 'u'").count() == 0
    from lsearch_spark.query import invalidate_cache
    invalidate_cache(root)
    assert [tuple(r) for r in search(spark, wh, "biology", k=5).collect()] == [tuple(r) for r in before]
    assert search(spark, wh, "ghost", k=5).count() == 0

    # the retried append overwrites the orphan and commits exactly once
    append_index(spark, _pages_b(spark), wh, from_html=False)
    assert (wh.read_manifest("config") or {})["n_appends"] == 1
    assert search(spark, wh, "ghost", k=5).count() == 0
    assert catalog.read_table(spark, root, "docs").filter("url = 'u'").count() == 0
    n_after = wh.corpus_stats(spark)["n_docs"]
    assert n_after == n_docs_before + N_B + 6  # the appended pages, once


def test_pre_v8_layout_queries_and_append_refuses(spark, tmp_path):
    """ADVICE r3 (medium): a warehouse whose postings table has no 'kind'
    partition (pre-v8 layout) must still answer queries — the kind filter
    is gated on column presence, like the impact_terms/block_stats
    fallbacks — and append_index must refuse with a rebuild-required
    error instead of committing a segment whose schema would poison
    read_table's union AFTER the commit."""
    import shutil

    from lsearch_spark import query as Q
    from lsearch_spark.build import INDEX_FORMAT

    root = str(tmp_path / "oldwh")
    wh = build_index(
        spark, pages_df(spark, 60), root,
        n_buckets=2, block_size=16, hot_df=16, n_salts=2, input_id="old60",
    )
    want = search(spark, wh, "biology the", k=5).collect()

    # doctor the warehouse into a pre-v8 shape: postings without the kind
    # partition, no impact_terms table, an older format fingerprint
    tmp_old = str(tmp_path / "postings_old")
    spark.read.parquet(wh.path("postings")).filter(F.col("kind") == 0).drop(
        "kind"
    ).write.mode("overwrite").partitionBy("bucket").parquet(tmp_old)
    shutil.rmtree(wh.path("postings"))
    shutil.move(tmp_old, wh.path("postings"))
    shutil.rmtree(wh.path("impact_terms"), ignore_errors=True)
    m = wh.read_manifest("blocks")
    m["fingerprint"] = m["fingerprint"].replace(f"|v{INDEX_FORMAT}|", "|v7|")
    wh.write_manifest("blocks", m)
    Q.invalidate_cache(root)

    got = search(spark, wh, "biology the", k=5).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]
    with pytest.raises(ValueError, match="older index format"):
        append_index(spark, _pages_b(spark), wh, from_html=False)
    # the refusal must leave nothing committed
    assert int((wh.read_manifest("config") or {}).get("n_appends", 0) or 0) == 0


def test_compact_index_matches_appended(spark, awh, union_pyidx):
    """compact_index folds all segments into a fresh single-epoch
    warehouse WITHOUT re-tokenizing; results must equal the appended
    warehouse (and therefore the union oracle) exactly."""
    import os

    from lsearch_spark.build import compact_index

    dst = compact_index(spark, awh)
    assert int((dst.read_manifest("config") or {}).get("n_appends", 0) or 0) == 0
    assert not os.path.exists(os.path.join(dst.root, "_segments"))
    assert dst.corpus_stats(spark)["n_docs"] == awh.corpus_stats(spark)["n_docs"]
    for q in ["biology", "the -biology", "quantum flux", "tiebreak", "the"]:
        a = [(r["doc_id"], round(r["score"], 9)) for r in search(spark, awh, q, k=10).collect()]
        b = [(r["doc_id"], round(r["score"], 9)) for r in search(spark, dst, q, k=10).collect()]
        assert a == b, q


def test_append_from_path_equals_append_from_dataframe(spark, tmp_path):
    """append_index(spark, <parquet dir>) must commit a segment identical
    to the DataFrame call's: same segment docs (full token stream) and
    identical post-append search results."""

    def fresh_base(name):
        root = str(tmp_path / name)
        return build_index(
            spark, pages_df(spark, 60), root,
            n_buckets=2, block_size=32, hot_df=64, n_salts=2, input_id="b60",
        )

    src = str(tmp_path / "pages_b")
    _pages_b(spark).write.parquet(src)
    wh_df = append_index(spark, spark.read.parquet(src), fresh_base("w_df"), from_html=False)
    wh_path = append_index(spark, src, fresh_base("w_path"), from_html=False)

    cols = ["doc_id", "url", "warc_ts", "lang", "tokens"]

    def seg_docs(wh):
        return sorted(
            spark.read.parquet(wh.path("_segments/seg1/docs")).select(*cols).collect(),
            key=lambda r: r["doc_id"],
        )

    a, b = seg_docs(wh_df), seg_docs(wh_path)
    assert a == b and len(a) == N_B + 6
    for q in ["biology quantum flux", "the -biology"]:
        ra = [tuple(r) for r in search(spark, wh_df, q, k=10).collect()]
        rb = [tuple(r) for r in search(spark, wh_path, q, k=10).collect()]
        assert ra == rb and ra


def test_warm_postings_cache_and_append_invalidation(spark, tmp_path):
    """warm_postings pins the posting relations in executor memory:
    warm results must equal cold ones exactly, and an append must
    invalidate the cache (the post-append query sees the new segment,
    never the stale cached table)."""
    from lsearch_spark.query import warm_postings

    root = str(tmp_path / "warmwh")
    wh = build_index(
        spark, pages_df(spark, 120), root,
        n_buckets=4, block_size=32, hot_df=64, n_salts=4, input_id="warm120",
    )
    cold = [tuple(r) for r in search(spark, wh, "the", k=10).collect()]
    n = warm_postings(spark, wh)
    assert n > 0
    warm = [tuple(r) for r in search(spark, wh, "the", k=10).collect()]
    assert warm == cold
    # idempotent: a second call persists nothing new
    assert warm_postings(spark, wh) == 0
    # append invalidates: new docs must be visible immediately
    append_index(spark, _pages_b(spark), wh, from_html=False)
    post = search(spark, wh, "flux", k=10).collect()
    # appended docs visible (every appended doc contains 'flux'; base
    # docs may too — the stale cache would show NONE of the new ids)
    assert post and any(r["doc_id"] >= SHIFT for r in post)
    post_ex = search(spark, wh, "flux", k=10, prune=False).collect()
    assert [tuple(r) for r in post] == [tuple(r) for r in post_ex]
