"""Staged inverted-index build: the persistent generalization of what the
reference recomputes per query (More.score re-counts matches on every
invocation, reference search.rs:271-279; content re-read per run,
cli.rs:484-485).

Stages (each a checkpointable DataFrame job with a manifest + metrics):
  extract      pages -> docs(doc_id, url, warc_ts, lang, tokens)
               [Arrow UDF hot path; the corpus is tokenized exactly ONCE,
               here — docs stores the token stream (a forward index), so
               no later stage re-runs translate+split over the text]
  flat         docs -> LOCAL PARTIAL POSTING CHUNKS: one row per
               (term, sub-chunk) per batch with doc_ids/tfs/doc_lens/
               positions as pre-encoded varint blobs — a NARROW Arrow
               kernel (the (term, doc_id) grouping key lives inside one
               document row, so token occurrences are never shuffled)
  term_stats   flat -> term_stats(term, df, cf) from per-chunk counters
  blocks       flat -> GLOBAL MERGE: chunks shuffle once on (term, salt)
               (~1000x fewer rows than per-posting), the kernel
               merge-sorts each group by doc_id and emits compressed
               blocks(term, salt, block_id, min/max_doc_id, n_docs,
               doc_ids, tfs, doc_lens, positions, block_max_tf,
               block_max/min_wand, kind, bucket). Hot terms (df >=
               hot_df) are salted at CHUNK granularity
               (pmod(xxhash64(chunk doc_ids), n_salts)) so no single
               task owns a stopword's posting list (AQE cannot split a
               hash-agg hot key; this is the one manual physical-layout
               decision, SURVEY.md §4.1). Hot groups ALSO emit an
               impact-ordered positions-free copy (kind=1, see
               _make_block_mapper) from the same shuffle — the pruned
               query path reads a tau-threshold PREFIX of those.
  block_stats  postings meta (kind=0) -> term_block_stats (per-term
               top-K_TOP block maxima; drives the driver-side WAND plan)

Scale notes (designed for 10^12 docs / 1000 executors, tested local):
  - ONE wide shuffle in the whole build: the posting-level
    repartition(term, salt) feeding block assembly; its hot keys are
    salted first. Token occurrences are never shuffled.
  - block_max_wand stores max over the block of
    tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) — the idf-free BM25 factor —
    so query-time upper bounds are idf(term) * block_max_wand without
    joining df into the build.
  - doc_lens are stored inside each block: query-time scoring needs no
    join against the (huge) docs table.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import B, BLOCK_SIZE, K1
from . import catalog, fsio
from .codec import i64_to_u64_order, u64_to_i64_order, varint_decode, varint_encode_all, varint_encode_segmented
from .extract import extracted_text_col
from .tokenize import tokens_col

BLOCK_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("salt", IntegerType()),
        StructField("block_id", IntegerType()),
        StructField("min_doc_id", LongType()),
        StructField("max_doc_id", LongType()),
        StructField("n_docs", IntegerType()),
        StructField("doc_ids", BinaryType()),
        StructField("tfs", BinaryType()),
        StructField("doc_lens", BinaryType()),
        StructField("positions", BinaryType()),
        StructField("block_max_tf", IntegerType()),
        StructField("block_max_wand", DoubleType()),
        StructField("block_min_wand", DoubleType()),
        StructField("kind", IntegerType()),  # 0 = doc_id-ordered (with
        # positions), 1 = impact-ordered copy (wand DESC across blocks,
        # positions empty) — a Hive partition column, so each query path
        # partition-prunes to its own layout
        StructField("bucket", IntegerType()),
    ]
)


@dataclass
class Warehouse:
    root: str

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    @property
    def manifests(self) -> str:
        return os.path.join(self.root, "_manifests")

    def manifest_path(self, stage: str) -> str:
        return os.path.join(self.manifests, f"{stage}.json")

    def read_manifest(self, stage: str) -> dict | None:
        raw = fsio.read_bytes(self.manifest_path(stage))
        return None if raw is None else json.loads(raw)

    def write_manifest(self, stage: str, payload: dict) -> None:
        fsio.write_bytes(self.manifest_path(stage), json.dumps(payload).encode())

    def corpus_stats(self, spark: SparkSession) -> dict:
        # segment-aware: the newest committed segment carries the merged
        # stats (see append_index); pre-segment warehouses read in place
        path = self.path("corpus_stats")
        for i in range(catalog._n_appends(self.root), 0, -1):
            p = catalog.seg_table_path(self.root, i, "corpus_stats")
            if fsio.exists(p):
                path = p
                break
        if not fsio.has_scheme(path):
            # single tiny control-plane file, written driver-side by
            # _write_corpus_stats_at: read it back driver-side too — a
            # 1-row Spark collect costs a whole scheduler round trip
            # (~30-90ms) on every cold build stage / query session
            try:
                import pyarrow.parquet as pq

                files = fsio.file_sizes(os.path.join(path, "*.parquet"))
                if len(files) == 1:  # _write_corpus_stats_at writes ONE
                    # file; anything else is unexpected -> Spark read
                    t = pq.read_table(files[0][0])
                    return {c: t[c][0].as_py() for c in t.column_names}
            except Exception:
                pass  # fall through to the Spark read
        row = spark.read.parquet(path).collect()[0]
        return row.asDict()


def _write_metrics(spark, wh: Warehouse, run_id, stage, rows: list[tuple], wall_ms, lineage):
    """build_metrics rows (FIXTURES.md §4). rows = [(partition_id, n_rows,
    n_bytes)]; counts come from Observation on the write itself — no
    re-scan of stage output. Written driver-side with pyarrow (a 1-row
    Spark job costs seconds of scheduler overhead); Spark reads the dir
    like any parquet table."""
    import uuid

    import pyarrow as pa

    table = pa.table(
        {
            "run_id": pa.array([run_id] * len(rows), pa.string()),
            "stage": pa.array([stage] * len(rows), pa.string()),
            "partition_id": pa.array([int(p) for p, _, _ in rows], pa.int32()),
            "n_rows": pa.array([int(n) for _, n, _ in rows], pa.int64()),
            "n_bytes": pa.array([None if b is None else int(b) for _, _, b in rows], pa.int64()),
            "wall_ms": pa.array([int(wall_ms)] * len(rows), pa.int64()),
            "input_lineage": pa.array([lineage] * len(rows), pa.string()),
        }
    )
    fsio.write_parquet_bytes(
        os.path.join(wh.path("build_metrics"), f"part-{run_id}-{stage}-{uuid.uuid4().hex}.parquet"), table
    )


def _observed(df: DataFrame, stage: str, *extra_aggs):
    from pyspark.sql import Observation

    obs = Observation(f"obs_{stage}")
    return df.observe(obs, F.count(F.lit(1)).alias("n_rows"), *extra_aggs), obs


def _write_corpus_stats_at(path: str, n_docs: int, total_tokens: int) -> None:
    """Single-row stats table, written driver-side (pyarrow through the
    Hadoop FS seam) — schema: n_docs long, avgdl double, total_tokens long."""
    import pyarrow as pa

    fsio.remove(path, recursive=True)
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    table = pa.table(
        {
            "n_docs": pa.array([n_docs], pa.int64()),
            "avgdl": pa.array([avgdl], pa.float64()),
            "total_tokens": pa.array([total_tokens], pa.int64()),
        }
    )
    fsio.write_parquet_bytes(os.path.join(path, "part-0.parquet"), table)


def _write_corpus_stats(wh: Warehouse, n_docs: int, total_tokens: int) -> None:
    _write_corpus_stats_at(wh.path("corpus_stats"), n_docs, total_tokens)


def read_docs(spark: SparkSession, wh: Warehouse) -> DataFrame:
    """docs table (doc_id, url, warc_ts, lang, tokens, doc_len) — doc_len
    materialized lazily from the stored token stream (SURVEY §1.2 schema);
    consumers that don't touch tokens/doc_len get them pruned away."""
    d = catalog.read_table(spark, wh.root, "docs")
    return d.withColumn("doc_len", F.size("tokens"))


STAGES = ["extract", "flat", "term_stats", "blocks", "block_stats"]

# per-term summary depth: top-K_TOP block maxima stored in term_block_stats
# (bounds the deepest tau the planner can form: plain top-k needs k, a
# negated query needs ~(k + 4*sqrt(k) + 4)/(1 - df_neg/n) witnesses so
# the anti-join survives binomial noise — a negated 88%-df term at k=10
# needs depth ~220). 256 doubles = 2KB per term. Folded into the stage
# fingerprint: changing it changes produced bytes.
K_TOP = 256

# bump on any on-disk layout/schema change: folded into the stage
# fingerprint so warehouses built by older code rebuild instead of being
# served with a stale schema
INDEX_FORMAT = 8  # v8: impact ladders interleave (max, min) wand samples


def _stage_done(wh: Warehouse, stage: str, fingerprint: str, resume: bool) -> bool:
    m = wh.read_manifest(stage)
    return bool(resume and m and m.get("fingerprint") == fingerprint and m.get("ok"))


FLAT_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("seq", IntegerType()),
        StructField("n_docs", IntegerType()),
        StructField("cf", LongType()),
        StructField("doc_ids", BinaryType()),
        StructField("tfs", BinaryType()),
        StructField("doc_lens", BinaryType()),
        StructField("positions", BinaryType()),
        StructField("pos_lens", BinaryType()),
    ]
)


def _make_flat_mapper(block_size: int):
    """tokens -> LOCAL PARTIAL POSTING CHUNKS, entirely within each input
    partition (the north_star's "tokenize -> local partial postings ->
    global merge": this is the local step).

    One output row per (term, sub-chunk) per partition, carrying the
    chunk's doc_ids/tfs/doc_lens/positions as pre-encoded varint blobs
    (positions delta-gapped per doc, sliced from ONE whole-partition
    encode). Compared to round 1's groupBy(term, doc_id) this removes the
    token-occurrence shuffle entirely AND collapses the posting-level
    shuffle from one row per (term, doc) to one row per (term, chunk) —
    measured: the local-mode shuffle machinery is row-count-bound and
    does not scale with cores, so fewer/bigger rows is the lever.

    Chunks are capped at 4*block_size docs (`seq` = sub-chunk index), so
    a stopword's postings arrive pre-split and the blocks stage can salt
    them across tasks even when the corpus came from a single partition.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    chunk_docs = 4 * block_size

    def mapper(batches):
      # per-BATCH processing (not per-partition): buffering the whole
      # partition measured a ~13s 16-core floor from allocation/reclaim
      # contention; per-batch keeps worker memory flat. Chunks simply
      # don't span batches — more, smaller chunks, same semantics.
      for rb in batches:
        tbl = pa.Table.from_batches([rb])
        if not tbl.num_rows:
            continue
        arr = tbl["tokens"].combine_chunks()
        offsets = np.asarray(arr.offsets, dtype=np.int64)  # absolute into .values
        counts = np.diff(offsets)
        total = int(offsets[-1] - offsets[0])
        if total == 0:
            continue
        docs = tbl["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64)
        doc_idx = np.repeat(np.arange(len(docs)), counts)
        docid_tok = docs[doc_idx]
        pos = (np.arange(offsets[0], offsets[-1]) - np.repeat(offsets[:-1], counts)).astype(np.int64)
        vals = arr.values.slice(int(offsets[0]), total)
        sort_tbl = pa.table(
            {"t": vals, "d": pa.array(docid_tok), "p": pa.array(pos), "i": pa.array(doc_idx)}
        )
        idx = pc.sort_indices(
            sort_tbl, sort_keys=[("t", "ascending"), ("d", "ascending"), ("p", "ascending")]
        )
        st = sort_tbl.take(idx)
        t_s = st["t"].combine_chunks()
        d_s = st["d"].to_numpy(zero_copy_only=False)
        p_s = st["p"].combine_chunks().to_numpy(zero_copy_only=False).astype(np.uint64)
        i_s = st["i"].to_numpy(zero_copy_only=False)

        # ---- doc-group bounds: (term, doc) change points ----
        neq_t = (
            pc.not_equal(t_s.slice(1), t_s.slice(0, total - 1)).to_numpy(zero_copy_only=False)
            if total > 1
            else np.array([], dtype=bool)
        )
        dchange = np.flatnonzero(neq_t | (d_s[1:] != d_s[:-1])) if total > 1 else np.array([], dtype=np.int64)
        dstarts = np.concatenate(([0], dchange + 1))
        dends = np.concatenate((dstarts[1:], [total]))
        tf = (dends - dstarts).astype(np.int64)
        dls = counts[i_s[dstarts]].astype(np.int64)
        ids_dg = d_s[dstarts]

        # ---- positions: ONE whole-partition encode, then byte slicing ----
        gaps = p_s.copy()
        if total > 1:
            gaps[1:] = p_s[1:] - p_s[:-1]
        gaps[dstarts] = p_s[dstarts]
        posbuf, valoffs = varint_encode_all(gaps)
        doc_byte_start = valoffs[dstarts]
        doc_byte_end = valoffs[dends]
        doc_byte_len = doc_byte_end - doc_byte_start

        # ---- term bounds at doc-group level, then sub-chunk split ----
        ndg = len(dstarts)
        tflag = np.zeros(ndg, dtype=bool)
        tflag[0] = True
        if total > 1:
            # a term change point is always also a doc-group start
            tstarts_tok = np.flatnonzero(neq_t) + 1
            tflag[np.searchsorted(dstarts, tstarts_tok)] = True
        tg_starts = np.flatnonzero(tflag)
        tg_ends = np.concatenate((tg_starts[1:], [ndg]))
        glens = tg_ends - tg_starts
        nch = -(-glens // chunk_docs)
        n_chunks = int(nch.sum())
        gi = np.repeat(np.arange(len(tg_starts)), nch)
        first = np.concatenate(([0], np.cumsum(nch[:-1]))) if len(nch) else np.array([], dtype=np.int64)
        seq = np.arange(n_chunks, dtype=np.int64) - np.repeat(first, nch)
        cstarts = tg_starts[gi] + seq * chunk_docs
        cends = np.minimum(cstarts + chunk_docs, tg_ends[gi])

        # ---- per-chunk encodes (vectorized segmented varints) ----
        ids_u = i64_to_u64_order(ids_dg)
        id_gaps = ids_u.copy()
        if ndg > 1:
            id_gaps[1:] = ids_u[1:] - ids_u[:-1]
        id_gaps[cstarts] = ids_u[cstarts]
        ids_b = varint_encode_segmented(id_gaps, cstarts, cends)
        tfs_b = varint_encode_segmented(tf.astype(np.uint64), cstarts, cends)
        dls_b = varint_encode_segmented(dls.astype(np.uint64), cstarts, cends)
        plens_b = varint_encode_segmented(doc_byte_len.astype(np.uint64), cstarts, cends)
        pos_b = [posbuf[doc_byte_start[s_] : doc_byte_end[e_ - 1]] for s_, e_ in zip(cstarts, cends)]
        cf = np.add.reduceat(tf, cstarts) if n_chunks else np.array([], dtype=np.int64)

        yield pa.record_batch(
            [
                t_s.take(pa.array(dstarts[cstarts])),
                pa.array(seq.astype(np.int32), pa.int32()),
                pa.array((cends - cstarts).astype(np.int32), pa.int32()),
                pa.array(cf.astype(np.int64), pa.int64()),
                pa.array(ids_b, pa.binary()),
                pa.array(tfs_b, pa.binary()),
                pa.array(dls_b, pa.binary()),
                pa.array(pos_b, pa.binary()),
                pa.array(plens_b, pa.binary()),
            ],
            names=["term", "seq", "n_docs", "cf", "doc_ids", "tfs", "doc_lens", "positions", "pos_lens"],
        )

    return mapper


def _make_block_mapper(block_size: int, avgdl: float):
    """GLOBAL-MERGE kernel (the north_star's "global merge-sort by
    (term, docID) -> compress"): consumes (term, salt)-hash-partitioned
    PARTIAL POSTING CHUNKS (one row per term sub-chunk, binary columns
    from _make_flat_mapper), decodes the whole partition's ids/tfs/
    doc_lens in single vectorized varint passes, merge-sorts postings by
    doc_id within each (term, salt) group with ONE numpy lexsort, and
    emits compressed blocks.

    Per-doc position streams are NEVER decoded: they were encoded once in
    the flat kernel and move into block order via one vectorized
    byte-gather. Per-block python work is two byte slices.

    Groups flagged `want_impact` additionally emit a SECOND, positions-
    free copy of their postings in IMPACT order (kind=1): postings sorted
    by wand DESC across blocks (block_max_wand non-increasing with
    block_id), re-sorted by doc_id WITHIN each block for delta-gap
    encoding. Doc_id-ordered 128-doc stopword blocks have saturated
    maxima (measured: even a PERFECT tau prunes ~30% of "of and"); in
    impact order the same threshold filter keeps only the true wand
    prefix ("of": 15 blocks vs 4355). Emitting both layouts from the one
    merge shuffle costs ~no extra IO — the group's postings are already
    decoded here (a separate impact stage measured +3.4s/600k at
    local[16] for a redundant scan + shuffle). This is the classic
    impact-ordered index (JASS / anytime ranking) as a parquet partition.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def mapper(batches):
        tbls = [pa.Table.from_batches([rb]) for rb in batches]
        if not tbls:
            return
        tbl = pa.concat_tables(tbls)
        nrows = tbl.num_rows
        if not nrows:
            return
        # contiguous (term, salt) chunk groups — one row per CHUNK, so
        # this string sort is over ~1000x fewer rows than postings
        idx = pc.sort_indices(tbl, sort_keys=[("term", "ascending"), ("salt", "ascending")])
        tbl = tbl.take(idx).combine_chunks()
        tcol = tbl["term"].combine_chunks()
        salt = tbl["salt"].to_numpy(zero_copy_only=False).astype(np.int64)
        bucket = tbl["bucket"].to_numpy(zero_copy_only=False).astype(np.int64)
        nd = tbl["n_docs"].to_numpy(zero_copy_only=False).astype(np.int64)
        if nrows > 1:
            neq_t = pc.not_equal(tcol.slice(1), tcol.slice(0, nrows - 1)).to_numpy(zero_copy_only=False)
            gid_chunk = np.concatenate(([0], np.cumsum(neq_t | (salt[1:] != salt[:-1]))))
        else:
            gid_chunk = np.zeros(1, dtype=np.int64)

        def raw(col):
            """(data bytes as np.uint8, absolute per-row byte offsets)."""
            c = tbl[col].combine_chunks()
            bufs = c.buffers()
            offs = np.frombuffer(bufs[1], dtype=np.int32)[c.offset : c.offset + len(c) + 1].astype(np.int64)
            data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
            return data, offs

        # ---- whole-partition decodes (one vectorized pass per column) ----
        ids_data, ids_offs = raw("doc_ids")
        gaps = varint_decode(ids_data[ids_offs[0] : ids_offs[-1]].tobytes())
        n_post = int(nd.sum())
        post_offs = np.concatenate(([0], np.cumsum(nd)))
        starts = post_offs[:-1]
        csum = np.cumsum(gaps, dtype=np.uint64)
        base = csum[starts] - gaps[starts]
        ids = u64_to_i64_order(csum - np.repeat(base, nd))
        tfs_data, t_offs = raw("tfs")
        tfs = varint_decode(tfs_data[t_offs[0] : t_offs[-1]].tobytes()).astype(np.int64)
        dls_data, d_offs = raw("doc_lens")
        dls = varint_decode(dls_data[d_offs[0] : d_offs[-1]].tobytes()).astype(np.int64)
        pl_data, pl_offs = raw("pos_lens")
        plens = varint_decode(pl_data[pl_offs[0] : pl_offs[-1]].tobytes()).astype(np.int64)
        pdata, p_offs = raw("positions")

        # per-posting byte range into the (row-ordered) positions buffer
        pcum = np.concatenate(([0], np.cumsum(plens)))
        within = pcum[:-1] - np.repeat(pcum[starts], nd)
        pstart = np.repeat(p_offs[:-1], nd) + within

        # idf-free BM25 factor per posting (elementwise, so the same bits
        # in either emission order)
        wand = tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / max(avgdl, 1e-9)))
        chunk_of = np.repeat(np.arange(nrows), nd)
        gid_p = gid_chunk[chunk_of]
        names = [f.name for f in BLOCK_SCHEMA.fields]

        def emit(order, kind):
            """One record batch of `kind` blocks over the postings `order`
            selects, already in emission order and contiguous per group:
            block_size-posting blocks per (term, salt) group, doc ids
            delta-gapped from each block start, segmented varints."""
            ids_s, tfs_s, dls_s, w_s = ids[order], tfs[order], dls[order], wand[order]
            g_s, ch_s = gid_p[order], chunk_of[order]
            n = len(order)
            gchg = np.flatnonzero(g_s[1:] != g_s[:-1]) if n > 1 else np.array([], dtype=np.int64)
            gstarts = np.concatenate(([0], gchg + 1))
            gends = np.concatenate((gstarts[1:], [n]))
            # ---- block boundary vectors (no per-group python) ----
            nblk = -(-(gends - gstarts) // block_size)
            total = int(nblk.sum())
            gi_rep = np.repeat(np.arange(len(gstarts)), nblk)
            first_blk = np.concatenate(([0], np.cumsum(nblk[:-1]))) if len(nblk) else np.array([], dtype=np.int64)
            bidx = np.arange(total, dtype=np.int64) - np.repeat(first_blk, nblk)
            bstarts = gstarts[gi_rep] + bidx * block_size
            bends = np.minimum(bstarts + block_size, gends[gi_rep])
            # block maxima/minima are order-free within a block
            bmax_tf = np.maximum.reduceat(tfs_s, bstarts) if total else np.array([], dtype=np.int64)
            bmax_wand = np.maximum.reduceat(w_s, bstarts) if total else np.array([], dtype=np.float64)
            # block_min_wand backs the DRIVER-SIDE top-k lower bound tau
            # (see query._wand_thetas / plan_query) — no Spark job for tau.
            bmin_wand = np.minimum.reduceat(w_s, bstarts) if total else np.array([], dtype=np.float64)
            if kind == 1:
                # impact blocks: re-sort WITHIN each block by doc_id for
                # delta-gap encoding; positions are not stored
                blk_of = np.repeat(np.arange(total), bends - bstarts) if total else np.array([], np.int64)
                o = np.lexsort((ids_s, blk_of))
                ids_s, tfs_s, dls_s = ids_s[o], tfs_s[o], dls_s[o]
                pos_b = [b""] * total
            else:
                # ---- positions: ONE byte-gather into block order, then slices ----
                lens_s = plens[order]
                newoffs = np.concatenate(([0], np.cumsum(lens_s)))
                nbytes = int(newoffs[-1])
                idxbytes = np.repeat(pstart[order], lens_s) + (
                    np.arange(nbytes, dtype=np.int64) - np.repeat(newoffs[:-1], lens_s)
                )
                newbuf = pdata[idxbytes].tobytes()
                pos_b = [newbuf[newoffs[s_] : newoffs[e_]] for s_, e_ in zip(bstarts, bends)]
            # ---- delta-gap doc ids, reset at BLOCK starts; segmented varints ----
            ids_u = i64_to_u64_order(ids_s)
            id_gaps = ids_u.copy()
            if n > 1:
                id_gaps[1:] = ids_u[1:] - ids_u[:-1]
            id_gaps[bstarts] = ids_u[bstarts]
            # python strings materialized ONLY at group starts
            start_terms = tcol.take(pa.array(ch_s[gstarts])).to_pylist()
            return pa.record_batch(
                [
                    pa.array([start_terms[g] for g in gi_rep], pa.string()),
                    pa.array(salt[ch_s[bstarts]].astype(np.int32) if total else [], pa.int32()),
                    pa.array(bidx.astype(np.int32), pa.int32()),
                    pa.array(ids_s[bstarts] if total else [], pa.int64()),
                    pa.array(ids_s[bends - 1] if total else [], pa.int64()),
                    pa.array((bends - bstarts).astype(np.int32), pa.int32()),
                    pa.array(varint_encode_segmented(id_gaps, bstarts, bends), pa.binary()),
                    pa.array(varint_encode_segmented(tfs_s.astype(np.uint64), bstarts, bends), pa.binary()),
                    pa.array(varint_encode_segmented(dls_s.astype(np.uint64), bstarts, bends), pa.binary()),
                    pa.array(pos_b, pa.binary()),
                    pa.array(bmax_tf.astype(np.int32), pa.int32()),
                    pa.array(bmax_wand.astype(np.float64), pa.float64()),
                    pa.array(bmin_wand.astype(np.float64), pa.float64()),
                    pa.array(np.full(total, kind, dtype=np.int32), pa.int32()),
                    pa.array(bucket[ch_s[bstarts]].astype(np.int32) if total else [], pa.int32()),
                ],
                names=names,
            )

        # ---- kind=0: merge-sort postings by doc_id within each (term,salt) group ----
        yield emit(np.lexsort((ids, gid_p)), 0)

        # ---- kind=1: impact order (wand DESC) for flagged groups ----
        if "want_impact" not in tbl.column_names:
            return
        want = tbl["want_impact"].to_numpy(zero_copy_only=False).astype(bool)
        sel = np.flatnonzero(want[chunk_of])
        if len(sel):
            yield emit(sel[np.lexsort((ids[sel], -wand[sel], gid_p[sel]))], 1)

    return mapper


def _block_summary(postings: DataFrame) -> DataFrame:
    """Per-term block summary (term_block_stats) of a postings table:
    n_blocks, n_postings, top_wands (the K_TOP largest block_max_wand),
    impact_ladder and ub_wand = top_wands[0].

    ONE conditional-aggregation pass over BOTH kinds of block meta
    ((term, salt) keys are shared — impact copies reuse their group's
    salt): kind=0 rows feed the df-derived stats (counting both kinds
    would double them), kind=1 rows feed the impact ladder. The scan
    reads only small meta columns (parquet column pruning never touches
    the compressed blobs) and the top-k agg is two-phase over the salt,
    so no task ever collects an unsalted stopword's full block list.

    impact_ladder: per covered salt [n_impact_blocks, max@0, min@0,
    max@1, min@1, max@2, min@2, max@4, min@4, ...] — block_max_wand /
    block_min_wand sampled at power-of-two block_ids. Impact lists are
    wand-DESC, so BOTH stats are non-increasing by block_id: the maxima
    let the query planner bound blocks-kept-under-theta within 2x for
    ANY theta (first sampled max < theta at block_id 2^(j-1) proves
    every later block is cut), and the minima prove ~block_size DISTINCT docs per
    qualifying block (min@b >= v means EVERY posting in blocks 0..b
    scores >= v), which extends tau formation to arbitrary depth k —
    negation's df-aware k_eff on a high-df exclusion needs thousands,
    far past the stored top_wands. Terms without impact copies get NULL
    (the planner falls back to the sound top_wands estimate)."""
    k0 = F.col("kind") == 0
    k1po2 = (F.col("kind") == 1) & (F.col("block_id").bitwiseAND(F.col("block_id") - 1) == 0)
    pts = F.array_sort(
        F.collect_list(
            F.when(
                k1po2,
                F.struct(
                    F.col("block_id").alias("b"),
                    F.col("block_max_wand").alias("mx"),
                    F.col("block_min_wand").alias("mn"),
                ),
            )
        )
    )  # struct sort = by block_id asc
    partial = postings.groupBy("term", "salt").agg(
        F.count(F.when(k0, 1)).cast("long").alias("nb"),
        F.sum(F.when(k0, F.col("n_docs"))).cast("long").alias("np"),
        F.slice(
            F.sort_array(F.collect_list(F.when(k0, F.col("block_max_wand"))), asc=False),
            1, K_TOP,
        ).alias("tw"),
        F.count(F.when(F.col("kind") == 1, 1)).cast("double").alias("nib"),
        pts.alias("pts"),
    ).withColumn(
        "salt_ladder",
        F.when(
            F.col("nib") > 0,
            F.concat(
                F.array(F.col("nib")),
                F.flatten(F.transform(F.col("pts"), lambda s: F.array(s["mx"], s["mn"]))),
            ),
        ),
    )
    return (
        partial.groupBy("term")
        .agg(
            F.sum("nb").alias("n_blocks"),
            F.sum("np").alias("n_postings"),
            F.slice(F.sort_array(F.flatten(F.collect_list("tw")), asc=False), 1, K_TOP).alias("top_wands"),
            F.collect_list("salt_ladder").alias("impact_ladder"),  # skips nulls
        )
        .withColumn("ub_wand", F.col("top_wands")[0])
        .withColumn(
            "impact_ladder",
            F.when(F.size("impact_ladder") > 0, F.col("impact_ladder")),
        )
    )


def _cpu_timed(gen_fn, acc):
    """Wrap a mapInArrow/mapInPandas feed so each task adds its
    process-CPU seconds to `acc` (a SparkContext accumulator, summed on
    task completion). build_metrics stores the stage's task-CPU next to
    its wall so a driver-session bench can attribute a slow stage to
    compute vs transfer/wait without the Spark UI."""
    if acc is None:
        return gen_fn

    def timed(batches):
        t0 = time.process_time()
        try:
            yield from gen_fn(batches)
        finally:
            acc.add(time.process_time() - t0)

    return timed


def _flat_direct_scan(spark: SparkSession, docs_dir: str, block_size: int, cpu_acc=None):
    """Parquet-mode feed for the flat kernel: python tasks open the docs
    parquet files THEMSELVES (pyarrow) instead of being fed the token
    stream over the JVM->Python Arrow socket.

    Why: the flat kernel is pure python/numpy, so with the JVM scan the
    whole (decompressed) token stream — several hundred MB per million
    docs — crosses the local socket once on the way in. Task metrics
    show the JVM side ~idle (executorCpuTime ~10% of executorRunTime);
    the transfer is memory-bandwidth-bound and inherits the machine's
    bandwidth phases, which is exactly the stage-scaling instability
    BENCH_r03/r04 recorded. Reading the parquet bytes python-side costs
    the same disk reads the JVM scan would do (executors stream from
    shared storage either way — the standard mapInPandas-over-splits
    pattern) but moves 10x fewer bytes per doc into the worker.

    Task layout: one unit per docs FILE, assigned round-robin over
    size-descending units to ~4 tasks/core (waves smooth residual skew;
    files within one extract write are near-uniform). When the listing
    has FEWER files than wanted tasks (a re-partitioned or compacted
    docs table can be a handful of multi-GB files), units drop to ROW
    GROUPS — pyarrow reads each file's footer once on the driver (cheap:
    footers only, and only in the starved case) and tasks read
    `row_groups=[i]` slices, restoring full parallelism at any file
    count >= 1. Deterministic for a given docs table, so
    resumed/replayed builds chunk identically.

    Returns None when the layout isn't direct-readable (Iceberg catalog
    owns the table; scheme'd warehouse paths like s3a:// that local
    pyarrow can't open through fsio; empty/missing listing) — the caller
    falls back to the JVM scan feed.
    """
    res = _direct_read_units(spark, docs_dir)
    if res is None:
        return None
    units, ubc = res
    kern = _make_flat_mapper(block_size)

    def feed(batches):
        import pyarrow.parquet as pq

        amap = ubc.value
        for rb in batches:
            for tid in rb["id"].to_pylist():
                for path, rg in amap.get(int(tid), []):
                    pf = pq.ParquetFile(path)
                    it = pf.iter_batches(
                        batch_size=8192,
                        columns=["doc_id", "tokens"],
                        row_groups=None if rg < 0 else [rg],
                    )
                    for b in it:
                        yield from kern([b])

    return units.mapInArrow(_cpu_timed(feed, cpu_acc), FLAT_SCHEMA)


def _direct_read_units(spark: SparkSession, table_dir: str):
    """Deterministic task layout for a python-side parquet read:
    (spark.range(n_tasks) with one partition per task, broadcast of
    {task id -> [(path, rg)]}; rg=-1 = whole file),
    size-descending round-robin over ~4 tasks/core. When the listing has
    FEWER files than wanted tasks (re-partitioned / compacted layouts),
    units drop to ROW GROUPS (footers read once, driver-side, only in
    the starved case) so parallelism never collapses. None when the dir
    isn't direct-readable (Iceberg catalog owns it, scheme'd path local
    pyarrow can't open, empty/missing listing)."""
    if catalog.iceberg_catalog(spark) is not None or fsio.has_scheme(table_dir):
        return None
    try:
        sizes = fsio.file_sizes(os.path.join(table_dir, "*.parquet"))
    except Exception:
        return None
    if not sizes:
        return None
    par = spark.sparkContext.defaultParallelism
    want = 4 * par
    if len(sizes) < want:
        import pyarrow.parquet as pq

        units = []
        for path, sz in sizes:
            try:
                nrg = pq.ParquetFile(path).metadata.num_row_groups
            except Exception:
                return None
            # nrg == 0: an empty part file (a writer task with no rows)
            # contributes no units — requesting row group 0 of it throws
            units += [(path, rg, sz / nrg) for rg in range(nrg)]
    else:
        units = [(path, -1, sz) for path, sz in sizes]
    n_tasks = max(1, min(len(units), want))
    # one spark.range partition per task + a broadcast of the unit
    # assignment: ZERO exchanges (the old createDataFrame + repartition
    # paid an RDD scan and a tiny AQE-materialized shuffle — ~150-200ms
    # of the stage wall at bench scale — just to co-locate driver-known
    # rows). The feed looks its units up by task id; round-robin over
    # size-descending units is unchanged, so builds chunk identically.
    assign: dict[int, list[tuple[str, int]]] = {}
    for i, (path, rg, _) in enumerate(sorted(units, key=lambda u: -u[2])):
        assign.setdefault(i % n_tasks, []).append((path, rg))
    bc = spark.sparkContext.broadcast(assign)
    return spark.range(0, n_tasks, 1, n_tasks), bc


DOCS_SCHEMA = "doc_id long, url string, warc_ts timestamp, lang string, tokens array<string>"


def _extract_direct_scan(
    spark: SparkSession, pages_dir: str, from_html: bool, cpu_acc=None
) -> DataFrame | None:
    """Direct-read feed for the EXTRACT stage (build_index called with a
    parquet PATH instead of a DataFrame — the opt-in that guarantees the
    input really is a bare scan): python tasks open the pages parquet
    splits themselves and run the whole html-strip + tokenize kernel in
    one pandas pass, so the fat input columns (html bytes, raw text)
    never cross the JVM->Python Arrow socket — only the tokenized docs
    rows cross once, on the way OUT to the writer. Same units/layout as
    the flat feed (_direct_read_units).

    Semantics are the byte-identical twins the oracle already uses:
    extract_text_series IS the same function the Arrow UDF wraps,
    py_tokenize/tokens_col parity and codec.xxhash64/F.xxhash64 parity
    are test-pinned (test_tokenize, test_codec). doc_id: existing column
    cast to long, else XXH64(url) — exactly the JVM path."""
    res = _direct_read_units(spark, pages_dir)
    if res is None:
        return None
    units, ubc = res
    try:
        import pyarrow.parquet as pq

        first = fsio.file_sizes(os.path.join(pages_dir, "*.parquet"))[0][0]
        names = set(pq.ParquetFile(first).schema_arrow.names)
    except Exception:
        return None
    need = {"url", "warc_ts", "lang"} | ({"html", "text"} if from_html else {"text"})
    if not need <= names:  # the JVM path would need these same columns
        return None
    has_doc_id = "doc_id" in names
    cols = ["url", "warc_ts", "lang"]
    cols += ["doc_id"] if has_doc_id else []
    # `need` guaranteed these exist; never read html when not extracting
    # from it — skipping the fat column IS the point of this path
    cols += ["html", "text"] if from_html else ["text"]

    def feed(batches: "object"):
        import numpy as np
        import pyarrow.parquet as pq

        from .codec import xxhash64 as _xxh
        from .extract import extract_text_series
        from .tokenize import arrow_tokenize, py_tokenize

        amap = ubc.value
        for task_pdf in batches:
            for path, rg in (
                u for tid in task_pdf["id"] for u in amap.get(int(tid), [])
            ):
                pf = pq.ParquetFile(path)
                it = pf.iter_batches(
                    batch_size=2048, columns=cols, row_groups=None if rg < 0 else [int(rg)]
                )
                for b in it:
                    pdf = b.to_pandas()
                    n = len(pdf)
                    if not n:
                        continue
                    if from_html:
                        # extracted_text_col semantics: html non-null ->
                        # extract, else fall through to the text column
                        text = extract_text_series(pdf["html"])
                        mask = pdf["html"].isna().to_numpy()
                        if mask.any():
                            fallback = (
                                pdf["text"] if "text" in pdf else pd.Series([None] * n)
                            )
                            text = text.where(~mask, fallback)
                    else:
                        text = pdf["text"]
                    try:
                        # vectorized Arrow kernel (byte-identical twin,
                        # property-tested); tokenization is ~half this
                        # feed's CPU
                        tokens = arrow_tokenize(text)
                    except Exception:
                        tokens = [py_tokenize(t) if isinstance(t, str) else [] for t in text]
                    if has_doc_id:
                        doc_id = pdf["doc_id"].to_numpy(np.int64)
                    else:
                        # F.xxhash64(NULL) leaves the hash at its seed
                        doc_id = np.fromiter(
                            (_xxh(u) if isinstance(u, str) else 42 for u in pdf["url"]),
                            np.int64,
                            count=n,
                        )
                    yield pd.DataFrame(
                        {
                            "doc_id": doc_id,
                            "url": pdf["url"],
                            "warc_ts": pdf["warc_ts"],
                            "lang": pdf["lang"],
                            "tokens": tokens,
                        }
                    )

    return units.mapInPandas(_cpu_timed(feed, cpu_acc), DOCS_SCHEMA)


def _extracted_docs(
    spark: SparkSession, pages: DataFrame | str, from_html: bool, cpu_acc=None
) -> tuple[DataFrame, str]:
    """The docs projection (doc_id, url, warc_ts, lang, tokens) from a
    pages input, plus the feed that served it ("direct" | "jvm-socket").
    A bare parquet DIRECTORY takes the python direct-read feed (fat
    html/text columns never transit the Arrow socket); a DataFrame — or
    a path the feed can't serve — takes the JVM Arrow-UDF plan.
    Byte-identical either way (test-pinned:
    test_build_from_path_equals_build_from_dataframe)."""
    if isinstance(pages, str):
        dt = _extract_direct_scan(spark, pages, from_html, cpu_acc=cpu_acc)
        if dt is not None:
            return dt, "direct"
        pages = spark.read.parquet(pages)
    has_doc_id = "doc_id" in pages.columns
    base = pages.withColumn(
        "doc_id", F.col("doc_id").cast("long") if has_doc_id else F.xxhash64(F.col("url"))
    )
    # A few giant input files would serialize the extraction UDF; make
    # sure the scan fans out to every core (at cluster scale the input
    # is already thousands of files and this is a no-op).
    target = spark.sparkContext.defaultParallelism * 2
    if base.rdd.getNumPartitions() < target:
        base = base.repartition(target)
    text = extracted_text_col() if from_html else F.col("text")
    return (
        base.select("doc_id", "url", "warc_ts", "lang", tokens_col(text).alias("tokens")),
        "jvm-socket",
    )


# Driver-side gates of the term_stats and blocks stages: below these
# sizes the aggregate / hot-set read runs in pyarrow on the driver instead
# of as Spark jobs (r8: ~0.5s and ~0.2s of scheduler floor at bench
# scale). test_build_gates_forced_both_ways forces both sides.
_LOCAL_STATS_MAX_BYTES = 32 << 20
_LOCAL_HOT_MAX_TERMS = 65_536


def _term_stats_local(spark: SparkSession, wh: Warehouse) -> int | None:
    """Driver-side term_stats aggregation for small local flat tables:
    reads ONLY (term, n_docs, cf) via pyarrow column pruning, does the
    exact integer groupby-sum in pandas, writes the table through the
    fsio seam. Returns the term count, or None when not eligible
    (Iceberg/scheme'd warehouse, or the pruned stats columns exceed
    _LOCAL_STATS_MAX_BYTES compressed — the cluster-scale case)."""
    if catalog.iceberg_catalog(spark) is not None or fsio.has_scheme(wh.root):
        return None
    try:
        files = [p for p, _ in fsio.file_sizes(os.path.join(wh.path("postings_flat"), "*.parquet"))]
        if not files:
            return None
        import pyarrow as pa
        import pyarrow.parquet as pq

        want = {"term", "n_docs", "cf"}
        col_bytes = 0
        for p in files:
            md = pq.ParquetFile(p).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for c in range(g.num_columns):
                    col = g.column(c)
                    if col.path_in_schema in want:
                        col_bytes += col.total_compressed_size
            if col_bytes > _LOCAL_STATS_MAX_BYTES:
                return None
        parts = [pq.read_table(p, columns=["term", "n_docs", "cf"]) for p in files]
        pdf = pa.concat_tables(parts).to_pandas()
        agg = pdf.groupby("term", sort=False, as_index=False).agg(
            df=("n_docs", "sum"), cf=("cf", "sum")
        )
        table = pa.table(
            {
                "term": pa.array(agg["term"], pa.string()),
                "df": pa.array(agg["df"].astype("int64"), pa.int64()),
                "cf": pa.array(agg["cf"].astype("int64"), pa.int64()),
            }
        )
        path = wh.path("term_stats")
        fsio.remove(path, recursive=True)
        fsio.write_parquet_bytes(os.path.join(path, "part-0.parquet"), table)
        return len(agg)
    except Exception:
        return None  # any surprise falls back to the Spark aggregation


def _hot_terms_local(spark: SparkSession, ts_path: str, hot_df: int) -> list[str] | None:
    """Driver-side read of the hot-term set (df >= hot_df) of the
    term_stats parquet at `ts_path` when it is local and small: the
    blocks stage then skips three small Spark jobs (term_stats scan,
    broadcast build, impact_terms write — ~0.2s of pure scheduler floor
    at bench scale) by folding the hot set into the plan as an InSet
    literal. None when not eligible (Iceberg catalog, scheme'd or missing
    path, or a vocabulary too big for a literal plan — the cluster-scale
    case, which keeps the broadcast-join path)."""
    if catalog.iceberg_catalog(spark) is not None or fsio.has_scheme(ts_path):
        return None
    try:
        files = fsio.file_sizes(os.path.join(ts_path, "*.parquet"))
    except Exception:
        return None
    if not files or sum(sz for _, sz in files) > _LOCAL_STATS_MAX_BYTES:
        return None
    try:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        hot: list[str] = []
        for f, _ in files:
            t = pq.read_table(f, columns=["term", "df"])
            hot.extend(t.filter(pc.greater_equal(t["df"], hot_df))["term"].to_pylist())
            if len(hot) > _LOCAL_HOT_MAX_TERMS:
                return None
        return sorted(hot)
    except Exception:
        return None


def _write_impact_terms_local(wh: Warehouse, terms: list[str]) -> None:
    """Driver-side impact_terms write (single tiny column), the twin of
    the catalog.write_table path for the _hot_terms_local case."""
    import pyarrow as pa

    path = wh.path("impact_terms")
    fsio.remove(path, recursive=True)
    fsio.write_parquet_bytes(
        os.path.join(path, "part-0.parquet"),
        pa.table({"term": pa.array(sorted(terms), pa.string())}),
    )


def _salt_chunks(
    spark: SparkSession, chunks: DataFrame, ts_path: str, read_ts, hot_df: int, n_salts: int,
    *, salt_base: int = 0, covered: DataFrame | None = None,
):
    """Chunk-level salting for the (term, salt) merge, shared by the
    build's blocks stage and append_index. A hot term's postings arrive
    pre-split into <=4*block_size-doc chunks (flat kernel), so spreading
    its CHUNKS over n_salts reduce tasks bounds any single task's share
    of a stopword posting list. salt = salt_base + (hot ?
    pmod(xxhash64(doc_ids), n_salts) : 0) — the chunk's encoded doc_ids
    blob is unique per chunk, so its hash spreads a hot term's chunks
    regardless of input partitioning; appends pass a fresh salt_base so
    (term, salt, block_id) stays globally unique.

    The hot set (df >= hot_df in the term_stats at `ts_path`) comes
    driver-side as an InSet literal when that table is local and small
    (_hot_terms_local), else from `read_ts()` via a broadcast join.
    want_impact flags the groups that also emit impact-ordered blocks:
    the hot set itself, or — when `covered` (a term column) is given —
    exactly those terms (append follows the build-time impact_terms).

    Returns (salted, hot): hot is the driver-side hot list, or the
    (term, is_hot) DataFrame of the broadcast-join path."""
    hot = _hot_terms_local(spark, ts_path, hot_df)
    if hot is not None:
        is_hot = F.col("term").isin(hot) if hot else F.lit(False)
    else:
        hot = read_ts().filter(F.col("df") >= hot_df).select("term", F.lit(True).alias("is_hot"))
        chunks = chunks.join(F.broadcast(hot), "term", "left")
        is_hot = F.coalesce(F.col("is_hot"), F.lit(False))
    want = is_hot
    if covered is not None:
        chunks = chunks.join(F.broadcast(covered.select("term", F.lit(True).alias("_cov"))), "term", "left")
        want = F.coalesce(F.col("_cov"), F.lit(False))
    salt = F.when(is_hot, F.pmod(F.xxhash64("doc_ids"), F.lit(n_salts))).otherwise(F.lit(0))
    salted = (
        chunks.withColumn("salt", (F.lit(salt_base) + salt).cast("int"))
        .withColumn("want_impact", want)
        .drop("is_hot", "_cov")
    )
    return salted, hot


def _write_blocks(
    spark: SparkSession, salted: DataFrame, root: str, *, nparts: int, n_buckets: int,
    block_size: int, avgdl: float, staged: bool = False,
) -> int:
    """The global merge and the postings write, shared by the build's
    blocks stage and append_index; returns the number of blocks written.

    repartition(nparts, term, salt) co-locates each (term, salt) group;
    the kernel (_make_block_mapper) sorts its partition columnar-side,
    so there is no JVM sortWithinPartitions before it. The partition
    count is PINNED: a bare repartition(cols) is AQE-coalescible down to
    ~advisory-size (64MB) partitions, which would cap the codec
    parallelism at a handful of tasks regardless of cores. A second
    repartition(n_buckets, bucket) then writes ONE file per bucket dir:
    it moves the compressed posting volume again, but buys the lowest
    per-query file-open cost (r7 A/B against a single bucket-aligned
    shuffle at 600k docs, 16 cores: build 19.8s vs 24.5s, pruned 'the'
    328ms vs 411ms).

    Files are sorted by (term, salt, block_id) with 8MB row groups: the
    query side's isin(term) and block_max_wand predicates then SKIP row
    groups (a single default 128MB group per file made every per-term
    scan read the whole bucket's blobs — measured 0.4s for a 4-block
    query). kind leads the partitioning, so each query path reads only
    its own layout's directories. The table is `postings` under `root`:
    the build writes it through catalog.write_table; an append
    (staged=True, root = its segment dir) stages plain parquet and
    commits separately."""
    blocks = salted.repartition(nparts, F.col("term"), F.col("salt")).mapInArrow(
        _make_block_mapper(block_size, avgdl), BLOCK_SCHEMA
    )
    blocks, obs = _observed(blocks, "blocks")
    blocks = blocks.repartition(n_buckets, "bucket")
    layout = dict(partition_by=["kind", "bucket"], sort_by=["term", "salt", "block_id"], row_group_bytes=8 << 20)
    if not staged:
        catalog.write_table(spark, blocks, root, "postings", **layout)
    else:
        (
            blocks.sortWithinPartitions(*layout["sort_by"])
            .write.mode("overwrite").option("parquet.block.size", layout["row_group_bytes"])
            .partitionBy(*layout["partition_by"]).parquet(os.path.join(root, "postings"))
        )
    return int(obs.get["n_rows"])


def _merge_parts_default(spark: SparkSession, wh: Warehouse, flat_dir: str | None = None) -> int:
    """Partition count for the (term, salt) merge shuffle.

    Two constraints, take the max:
    - >= 8 tasks per core: hot (term, salt) groups do ~2x work (impact
      copy emission) and land wherever the hash puts them — many small
      waves smooth that skew (measured at 600k docs/local[16]: 37
      partitions -> blocks 14.6s best-of-3, 128 partitions -> 6.3s).
    - bounded per-task bytes: each task buffers its partition's chunk
      blobs columnar-side before the merge; ~32MB compressed (~10x
      decoded) keeps that well under executor task memory at any corpus
      size. The flat table is already on disk here, so its size is free
      driver-side metadata (no job).
    """
    par = spark.sparkContext.defaultParallelism
    base = max(8 * par, int(spark.conf.get("spark.sql.shuffle.partitions", "200")))
    try:
        d = flat_dir or wh.path("postings_flat")
        flat_bytes = sum(sz for _, sz in fsio.file_sizes(os.path.join(d, "*.parquet")))
    except Exception:
        flat_bytes = 0
    if flat_bytes:
        # SCALE-ADAPTIVE, not core-count-constant (r8): below ~1MB of
        # compressed chunk volume per merge task the extra waves are pure
        # scheduler + Arrow round-trip overhead — measured at 50k docs /
        # local[16]: 128 parts -> blocks 2.8s vs 32 parts -> 1.6s — while
        # at real volume many small waves smooth hot-group skew (measured
        # at 600k docs: 37 parts -> 14.6s vs 128 -> 6.3s; the cap stops
        # binding at ~128MB of flat bytes and the formula reduces to the
        # r7 behavior, so cluster-scale plans are unchanged).
        base = min(base, max(2 * par, int(flat_bytes // (1 << 20))))
    return max(base, int(flat_bytes // (32 << 20)))


DOCS_PER_BUCKET = 37_500  # 600k docs -> 16 buckets, the measured-good
# sf0.1 layout (r6); growing the corpus grows buckets proportionally so
# per-bucket postings bytes — and therefore per-query bucket-scan cost —
# stay ~constant. At a FIXED bucket count, per-bucket parquet
# metadata/row-group volume grows linearly with the corpus and pruned
# query latency degrades linearly with data (measured: "the" 0.45s at
# 600k/16 buckets -> 1.33s at 2.4M/16 buckets).


def auto_buckets(n_docs: int, docs_per_bucket: int = DOCS_PER_BUCKET) -> int:
    """Corpus-proportional bucket count: ceil(n_docs / docs_per_bucket),
    floor 8. Keeps per-bucket bytes ~constant as the corpus grows —
    the property that makes term-bucket pruning O(term's postings), not
    O(corpus), at any scale (10^12 docs -> tens of thousands of
    buckets; raise docs_per_bucket if file-count ever dominates —
    per-bucket BYTES is the invariant that matters)."""
    return max(8, -(-int(n_docs) // int(docs_per_bucket)))


def _fingerprint(
    input_id: str, n_buckets: int, block_size: int, hot_df: int, n_salts: int, from_html: bool,
    input_files: tuple[int, int] | None = None,
) -> str:
    """Stage fingerprint: a completed stage is reused only under the same
    string. It folds in input_id and every field that changes produced
    bytes — the config (query-side bucket math would silently diverge
    from a layout built under another one), from_html (extract source),
    K_TOP (the block_stats table) and INDEX_FORMAT. For a local parquet
    path input, input_files = (footer row count, total file bytes), so
    files added to or rewritten in that directory rebuild instead of
    resuming stale under the same input_id."""
    fp = (
        f"{input_id}|v{INDEX_FORMAT}|cfg:b{n_buckets}.bs{block_size}.h{hot_df}.s{n_salts}"
        f".fh{int(bool(from_html))}.kt{K_TOP}"
    )
    if input_files is not None:
        fp += f"|in:r{input_files[0]}.b{input_files[1]}"
    return fp


def _resolved_buckets_from_manifest(wh: Warehouse, fingerprint_at) -> int | None:
    """n_buckets a previous completed run resolved for the SAME
    (input_id, config), else None. Sound because the extract manifest's
    fingerprint folds in input_id and every config field: a match means
    stage resume would treat the inputs as identical anyway.
    fingerprint_at(n_buckets) -> the fingerprint under that count."""
    nb = (wh.read_manifest("config") or {}).get("n_buckets")
    if not nb:
        return None
    m = wh.read_manifest("extract") or {}
    if m.get("ok") and m.get("fingerprint") == fingerprint_at(int(nb)):
        return int(nb)
    return None


def _input_files(pages: DataFrame | str) -> tuple[int, int] | None:
    """(row count, total bytes) of a local parquet path input from its
    pyarrow footers (no Spark job, no data read); None for DataFrames,
    scheme'd paths or an unreadable listing."""
    if not isinstance(pages, str) or fsio.has_scheme(pages):
        return None
    try:
        import pyarrow.parquet as pq

        pat = pages if pages.endswith(".parquet") else os.path.join(pages, "*.parquet")
        sizes = fsio.file_sizes(pat)
        if sizes:
            rows = sum(pq.ParquetFile(p).metadata.num_rows for p, _ in sizes)
            return rows, sum(sz for _, sz in sizes)
    except Exception:
        pass
    return None


def build_index(
    spark: SparkSession,
    pages: DataFrame | str,
    warehouse: str | Warehouse,
    *,
    n_buckets: int | str = "auto",
    block_size: int = BLOCK_SIZE,
    hot_df: int = 4096,
    n_salts: int = 8,
    run_id: str = "run0",
    input_id: str = "default",
    resume: bool = True,
    from_html: bool = True,
    merge_parts: int | None = None,
) -> Warehouse:
    """Build the full index under `warehouse`. Idempotent per (stage,
    input_id): completed stages are skipped on rerun (resume=True). A
    local parquet path input also folds its files' row count and bytes
    into the resume fingerprint, so a changed directory rebuilds.

    n_buckets="auto" (default) sizes the term-bucket count to the
    corpus — auto_buckets(n_docs) = max(8, ceil(n_docs/37_500)) — so
    per-bucket bytes stay ~constant as data grows and pruned query
    latency stays O(term's postings) instead of degrading linearly
    with corpus size (the r6-measured failure mode at a fixed count).
    Pass an int to pin the layout.

    merge_parts pins the (term, salt) merge-shuffle partition count
    (default _merge_parts_default: max(8*defaultParallelism,
    spark.sql.shuffle.partitions, flat_bytes/32MB) — many small waves
    smooth hot-group skew and bound per-task columnar buffers). Tune up
    further on memory-constrained executors.

    pages must carry (url, warc_ts, html, text, lang) and optionally
    doc_id; without doc_id a stable xxhash64(url) id is assigned
    (deterministic under resume and cluster size — SURVEY.md §2.8).
    pages may also be a local parquet DIRECTORY path: same semantics
    (byte-identical docs table, test-pinned), but the extract stage then
    direct-reads the splits python-side so the fat html/text columns
    never cross the JVM->Python Arrow socket (falls back to
    spark.read.parquet + the Arrow-UDF plan for Iceberg/scheme'd paths).
    """
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    fsio.mkdirs(wh.root)
    files = _input_files(pages)

    def fingerprint_at(nb: int) -> str:
        return _fingerprint(input_id, nb, block_size, hot_df, n_salts, from_html, files)

    if n_buckets in (None, "auto"):
        # corpus-proportional layout (see auto_buckets): resolved to a
        # concrete int BEFORE the fingerprint so resume stays sound —
        # the same input deterministically yields the same count, hence
        # the same fingerprint; a grown input changes it and rebuilds.
        # Resume fast path (ADVICE r7): a resumed rerun with the SAME
        # input_id and config reuses the manifest's resolved n_buckets
        # instead of re-counting — for DataFrame inputs the count()
        # re-executed the whole upstream plan on every no-op rerun.
        # (input_id is the caller's contract that the input is the same
        # data — exactly what stage resume already relies on.)
        n_buckets = _resolved_buckets_from_manifest(wh, fingerprint_at) if resume else None
        if n_buckets is None:
            n_rows = files[0] if files else (
                spark.read.parquet(pages) if isinstance(pages, str) else pages
            ).count()
            n_buckets = auto_buckets(n_rows)
    n_buckets = int(n_buckets)
    cfg = {
        "n_buckets": n_buckets, "block_size": block_size, "hot_df": hot_df,
        "n_salts": n_salts, "k1": K1, "b": B,
    }
    fingerprint = fingerprint_at(n_buckets)
    prev_cfg = wh.read_manifest("config") or {}
    for key in ("wand_avgdl", "n_appends"):  # survive resume no-ops; reset
        if key in prev_cfg:  # happens in the blocks stage on real reruns
            cfg[key] = prev_cfg[key]
    # Any stage rerun invalidates the append lineage — and it must reset
    # BEFORE any read_table call, or table resolution would union stale
    # segment dirs into the rebuilt stages' inputs.
    if int(cfg.get("n_appends", 0) or 0) and any(
        not _stage_done(wh, s, fingerprint, resume) for s in STAGES
    ):
        cfg["n_appends"] = 0
        fsio.remove(wh.path("_segments"), recursive=True)
    wh.write_manifest("config", cfg)

    def stage_runs(stage: str) -> bool:
        """True if `stage` must (re)run; a rerun invalidates every
        downstream stage's manifest — stale derived tables must never be
        served after an upstream rebuild."""
        if _stage_done(wh, stage, fingerprint, resume):
            return False
        for later in STAGES[STAGES.index(stage) + 1 :]:
            fsio.remove(wh.manifest_path(later))
        return True

    def begin(stage: str) -> float:
        # label every job of the stage in the UI / REST API (guide §1.5);
        # thread-local, reset in finish()
        spark.sparkContext.setJobDescription(f"build:{stage}")
        return time.time()

    def finish(stage, t0, rows, **extra):
        spark.sparkContext.setJobDescription(None)
        # extra (feed kind, summed task-CPU seconds, ...) rides in the
        # stage manifest — a json file, so new evidence fields never
        # perturb the parquet build_metrics schema older rounds wrote
        wall = (time.time() - t0) * 1000
        _write_metrics(spark, wh, run_id, stage, rows, wall, input_id)
        wh.write_manifest(
            stage,
            {"run_id": run_id, "stage": stage, "input_id": input_id, "fingerprint": fingerprint,
             "ok": True, "wall_ms": wall, "n_rows": sum(r[1] for r in rows), **extra},
        )

    # ---- stage: extract ----------------------------------------------------
    # one pass writes the whole docs table: identity columns + the token
    # stream (a forward index). Tokenization (translate + regexp split)
    # runs exactly once per document, HERE; every later stage reads the
    # stored tokens. Corpus stats (n_docs, total tokens) fall out of an
    # Observation over the write — no extra job, no re-evaluation of the
    # projection (observe aggregates run over the produced rows).
    if stage_runs("extract"):
        t0 = begin("extract")
        extract_cpu = spark.sparkContext.accumulator(0.0)
        dt, extract_feed = _extracted_docs(spark, pages, from_html, cpu_acc=extract_cpu)
        dt, obs = _observed(dt, "extract", F.sum(F.size("tokens")).alias("total_tokens"))
        catalog.write_table(spark, dt, wh.root, "docs")
        # corpus stats fall out of the same observation — no extra job
        n_docs = int(obs.get["n_rows"])
        total_tokens = int(obs.get["total_tokens"] or 0)
        _write_corpus_stats(wh, n_docs, total_tokens)
        finish(
            "extract", t0, [(-1, n_docs, None)],
            feed=extract_feed, task_cpu_s=round(extract_cpu.value, 3),
        )

    docs_text = catalog.read_table(spark, wh.root, "docs")

    # ---- stage: flat postings ----------------------------------------------
    if stage_runs("flat"):
        t0 = begin("flat")
        # NARROW stage (no shuffle): local partial posting chunks per
        # partition (see _make_flat_mapper). doc_len rides along inside
        # each chunk so scoring never needs a join against the (huge)
        # docs table — the alternative big-big join on doc_id is the
        # shuffle that would dominate at 100 TB. bucket is added
        # JVM-side after the kernel.
        #
        # Parquet-mode fast path: python tasks read the docs parquet
        # SPLITS directly (_flat_direct_scan) instead of receiving the
        # token stream over the JVM->Python Arrow socket. The kernel is
        # identical; only the feed changes. Measured (600k docs, 16
        # cores, 3 interleaved reps): socket-fed 14-30s wall and
        # phase-hostage (the transfer collapses with the machine's
        # memory-bandwidth phases; JVM task CPU is ~10% of task wall,
        # the rest is waiting on the pipe), direct-read 5.8-7.5s and
        # stable, within ~25% of the Spark-free kernel floor. Falls
        # back to the JVM scan for Iceberg catalogs / scheme'd paths.
        #
        # The docs token table compresses ~10x vs the raw pages, so the
        # default split size leaves this CPU-bound kernel with barely one
        # task per core (measured: 22 partitions at 16 cores -> straggler
        # tail). Scope the split size down for THIS scan only — but size
        # it ADAPTIVELY: each mapInArrow split pays a fixed Arrow
        # round-trip + task cost, so a hard 4MB floor at low core counts
        # ran 6 waves of undersized tasks (measured at 600k docs/local[4]:
        # 24x4MB splits 15.9s vs 8x16MB 8.1s; at local[16] more, smaller
        # waves smooth skew: 48x2MB 7.3s consistent). Target ~3 tasks
        # per core, bounded [2MB, 32MB].
        old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        flat_cpu = spark.sparkContext.accumulator(0.0)
        try:
            flat_raw = _flat_direct_scan(spark, wh.path("docs"), block_size, cpu_acc=flat_cpu)
            flat_feed = "direct" if flat_raw is not None else "jvm-socket"
            if flat_raw is None:  # Iceberg / scheme'd path / no listing
                try:
                    docs_bytes = sum(
                        sz for _, sz in fsio.file_sizes(os.path.join(wh.path("docs"), "*.parquet"))
                    )
                except Exception:
                    docs_bytes = 0
                par = spark.sparkContext.defaultParallelism
                mpb = min(32 << 20, max(2 << 20, docs_bytes // (3 * par))) if docs_bytes else 4 << 20
                spark.conf.set("spark.sql.files.maxPartitionBytes", str(int(mpb)))
                docs_in = catalog.read_table(spark, wh.root, "docs").select("doc_id", "tokens")
                flat_raw = docs_in.mapInArrow(
                    _cpu_timed(_make_flat_mapper(block_size), flat_cpu), FLAT_SCHEMA
                )
            flat = flat_raw.withColumn(
                "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
            )
            flat, obs = _observed(flat, "flat")
            # NOT partitionBy(bucket): every consumer (term_stats, blocks)
            # is a full scan, and Hive-partitioning here would fan out into
            # shuffle_partitions x n_buckets tiny files.
            catalog.write_table(spark, flat, wh.root, "postings_flat")
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        finish(
            "flat", t0, [(-1, obs.get["n_rows"], None)],
            feed=flat_feed, task_cpu_s=round(flat_cpu.value, 3),
        )

    flat = catalog.read_table(spark, wh.root, "postings_flat")

    # ---- stage: term_stats + corpus_stats ----------------------------------
    if stage_runs("term_stats"):
        t0 = begin("term_stats")
        # chunk rows carry per-chunk (n_docs, cf): term stats aggregate
        # ~1000x fewer rows than per-(term, doc) postings would.
        # Driver fast path (r8): when the three stats columns of the
        # local flat table are tiny (<=32MB compressed), the aggregate
        # is a pyarrow column read + pandas groupby-sum — exact integer
        # sums, identical table — instead of two Spark job floors
        # (~0.5s at bench scale); larger/remote/Iceberg inputs keep the
        # distributed aggregation.
        n_terms = _term_stats_local(spark, wh)
        side = "local" if n_terms is not None else "spark"
        if n_terms is None:
            ts = flat.groupBy("term").agg(
                F.sum("n_docs").cast("long").alias("df"),
                F.sum("cf").cast("long").alias("cf"),
            )
            ts, obs = _observed(ts, "term_stats")
            catalog.write_table(spark, ts, wh.root, "term_stats")
            n_terms = obs.get["n_rows"]
        finish("term_stats", t0, [(-1, n_terms, None)], side=side)

    # ---- stage: compressed blocks ------------------------------------------
    if stage_runs("blocks"):
        t0 = begin("blocks")
        stats = wh.corpus_stats(spark)
        avgdl = float(stats["avgdl"])
        # pin the WAND basis: stored block_max/min_wand are computed with
        # THIS avgdl; later appends keep the same basis and the query
        # planner corrects bounds for avgdl drift (query.py ratio math).
        c = wh.read_manifest("config") or {}
        c["wand_avgdl"] = avgdl
        c["n_appends"] = 0  # a (re)build resets the append lineage
        wh.write_manifest("config", c)
        fsio.remove(wh.path("_segments"), recursive=True)  # orphaned epochs
        salted, hot = _salt_chunks(
            spark, flat, wh.path("term_stats"),
            lambda: catalog.read_table(spark, wh.root, "term_stats"), hot_df, n_salts,
        )
        # hot groups also emit the impact-ordered copy (kind=1);
        # impact_terms records this coverage for queries
        hot_set = "local" if isinstance(hot, list) else "join"
        if hot_set == "local":
            _write_impact_terms_local(wh, hot)
        else:
            catalog.write_table(spark, hot.select("term").coalesce(1), wh.root, "impact_terms")
        n_blocks = _write_blocks(
            spark, salted, wh.root, nparts=merge_parts or _merge_parts_default(spark, wh),
            n_buckets=n_buckets, block_size=block_size, avgdl=avgdl,
        )
        per_bucket = []
        if catalog.iceberg_catalog(spark) is not None:
            pass  # Iceberg keeps its own per-file lineage in table metadata
        elif not fsio.has_scheme(wh.root):
            # per-bucket lineage rows from parquet FOOTERS (driver-side
            # pyarrow metadata walk — no Spark job)
            import pyarrow.parquet as _pq

            for bdir in fsio.list_glob(os.path.join(wh.path("postings"), "kind=0", "bucket=*")):
                bid = int(os.path.basename(bdir).split("=")[1])
                files = fsio.file_sizes(os.path.join(bdir, "*.parquet"))
                n = sum(_pq.ParquetFile(f).metadata.num_rows for f, _ in files)
                per_bucket.append((bid, n, sum(sz for _, sz in files)))
        else:
            # remote warehouse: one cheap partition-column-only agg
            counts = {
                int(r["bucket"]): int(r["n"])
                for r in spark.read.parquet(wh.path("postings"))
                .filter(F.col("kind") == 0)
                .groupBy("bucket").agg(F.count("*").alias("n")).collect()
            }
            for bdir in fsio.list_glob(os.path.join(wh.path("postings"), "kind=0", "bucket=*")):
                bid = int(bdir.rsplit("=", 1)[1])
                nb = sum(sz for _, sz in fsio.file_sizes(bdir + "/*.parquet"))
                per_bucket.append((bid, counts.get(bid, 0), nb))
        finish("blocks", t0, per_bucket or [(-1, n_blocks, None)], hot_set=hot_set)

    # ---- stage: per-term block summary (query-side pruning metadata) --------
    # One tiny row per term: enough for the query planner to compute WAND
    # upper bounds AND a valid top-k lower bound tau entirely driver-side,
    # with zero extra Spark jobs per query (the round-1 pruned path ran 3).
    #
    # top_wands = the K_TOP largest block_max_wand values of the term.
    # Every block max is ACHIEVED by a real doc in that block, and the
    # achieving docs of distinct blocks are distinct — so the k-th entry
    # is a valid (and tight) lower bound on the k-th best single-term
    # score: for a stopword query the pruned scan keeps ~k blocks instead
    # of the whole salted posting list. See _block_summary for the
    # impact ladder and the skew bound.
    if stage_runs("block_stats"):
        t0 = begin("block_stats")
        bs = _block_summary(catalog.read_table(spark, wh.root, "postings"))
        bs, obs = _observed(bs, "block_stats")
        catalog.write_table(spark, bs, wh.root, "term_block_stats")
        finish("block_stats", t0, [(-1, obs.get["n_rows"], None)])

    from .query import invalidate_cache  # lazy: query imports Warehouse from here

    invalidate_cache(wh.root)
    return wh


def append_index(
    spark: SparkSession,
    pages: DataFrame | str,
    warehouse: str | Warehouse,
    *,
    run_id: str = "append",
    from_html: bool = True,
    commit_extra: dict | None = None,
) -> Warehouse:
    """Incremental SEGMENT append (Lucene-style): index new pages into an
    existing warehouse without touching existing posting blocks.

    ATOMIC, IDEMPOTENT, and O(segment):
    - Every output stages under _segments/seg{n}/<table>: the segment's
      docs, postings_flat chunks, posting blocks (fresh salt range =
      n * n_salts + sub-salt, so (term, salt, block_id) stays globally
      unique), impact blocks for covered terms, plus MERGED term_stats /
      term_block_stats / corpus_stats. Nothing outside the segment dir
      mutates until the single commit: the config-manifest n_appends
      flip (one atomic control-file write), after which
      catalog.read_table resolves every table to include the segment.
      A crash before the flip leaves the warehouse byte-identical on
      the read path; a retried append overwrites the orphan segment.
    - The merges are ADDITIVE, never a corpus rescan: term_stats = old
      table + segment-chunk aggregate (O(vocab + segment));
      term_block_stats = old summary + _block_summary of the segment's
      blocks (both are commutative merges — df/cf/counts sum,
      top_wands = top-K of the two sorted lists' union, impact ladders
      concatenate their per-salt entries).
    - Stored WAND stats keep the ORIGINAL build's avgdl basis
      (config.wand_avgdl); scoring always uses the current corpus avgdl,
      and the query planner corrects pruning bounds for the drift
      (query._wand_thetas / plan_query ratio math), so post-append results
      are IDENTICAL to a fresh build over the union corpus.

    In Iceberg mode the staged segment commits via per-table snapshots
    (append/createOrReplace) before the manifest flip — atomic per
    table, not across tables (multi-table transactions are not in OSS
    Iceberg); the parquet fallback's manifest flip IS cross-table
    atomic. A later full build_index(resume=False) resets the lineage.
    """
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    cfg = wh.read_manifest("config")
    blocks_m = wh.read_manifest("blocks")
    if not cfg or not blocks_m or not blocks_m.get("ok") or "wand_avgdl" not in cfg:
        raise ValueError(f"append_index needs a completed build under {wh.root}")
    # Format guard: a segment written by THIS code carries the current
    # layout (kind partition column, impact ladders). Committing it onto
    # an older-format warehouse would poison read_table's unionByName
    # with a schema mismatch AFTER the commit — refuse up front instead.
    # The stage fingerprint embeds the builder's INDEX_FORMAT verbatim.
    fp = str(blocks_m.get("fingerprint") or "")
    if f"|v{INDEX_FORMAT}|" not in fp:
        raise ValueError(
            f"append_index: warehouse {wh.root} was built with an older index "
            f"format (fingerprint {fp!r}, current v{INDEX_FORMAT}); appending "
            "would commit a segment with an incompatible postings schema. "
            "Rebuild with build_index(resume=False) first."
        )
    n_buckets, block_size = int(cfg["n_buckets"]), int(cfg["block_size"])
    hot_df, n_salts = int(cfg["hot_df"]), int(cfg["n_salts"])
    wand_avgdl = float(cfg["wand_avgdl"])
    append_no = int(cfg.get("n_appends", 0)) + 1
    salt_base = append_no * n_salts
    ice = catalog.iceberg_catalog(spark) is not None
    t0 = time.time()

    seg = wh.path(os.path.join("_segments", f"seg{append_no}"))
    fsio.remove(seg, recursive=True)  # clean any crashed prior attempt

    def segp(name: str) -> str:
        return os.path.join(seg, name)

    # ---- stage: segment docs (extract+tokenize the new pages once) ----
    # pages may be a parquet dir: same direct-read feed as build_index
    dt, _ = _extracted_docs(spark, pages, from_html)
    dt, obs = _observed(dt, f"append{append_no}", F.sum(F.size("tokens")).alias("total_tokens"))
    dt.write.mode("overwrite").parquet(segp("docs"))
    n_new, tok_new = int(obs.get["n_rows"]), int(obs.get["total_tokens"] or 0)
    seg_docs = spark.read.parquet(segp("docs"))
    stats_old = wh.corpus_stats(spark)  # pre-flip: resolves the current epoch

    # ---- stage: segment partial chunks ----
    # same direct-read feed as the base build's flat stage (the segment
    # docs were just written to segp("docs"), a plain parquet dir)
    chunks_raw = _flat_direct_scan(spark, segp("docs"), block_size)
    if chunks_raw is None:
        chunks_raw = seg_docs.select("doc_id", "tokens").mapInArrow(
            _make_flat_mapper(block_size), FLAT_SCHEMA
        )
    chunks = chunks_raw.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    chunks.write.mode("overwrite").parquet(segp("postings_flat"))
    seg_chunks = spark.read.parquet(segp("postings_flat"))

    # ---- stage: merged term_stats = old + segment aggregate ----
    seg_ts = seg_chunks.groupBy("term").agg(
        F.sum("n_docs").cast("long").alias("df_new"),
        F.sum("cf").cast("long").alias("cf_new"),
    )
    old_ts = catalog.read_table(spark, wh.root, "term_stats")

    def added(c):  # old + segment value of a full-outer-joined column
        return F.coalesce(F.col(c), F.lit(0)) + F.coalesce(F.col(c + "_new"), F.lit(0))

    merged_ts = old_ts.join(seg_ts, "term", "full_outer").select(
        "term", added("df").alias("df"), added("cf").alias("cf")
    )
    merged_ts.write.mode("overwrite").parquet(segp("term_stats"))

    # ---- stage: segment blocks in the fresh salt range (original basis) ----
    # impact coverage (kind=1 emission) follows the build-time
    # impact_terms list, NOT the merged hot set: a term crossing hot_df
    # after the build stays regular-routed until the next full rebuild
    # (the query side consults impact_terms, so this is always correct).
    try:
        covered = catalog.read_table(spark, wh.root, "impact_terms")
    except Exception:  # pre-v6 warehouse: no impact coverage
        covered = spark.createDataFrame([], "term string")
    salted, _ = _salt_chunks(
        spark, seg_chunks, segp("term_stats"), lambda: spark.read.parquet(segp("term_stats")),
        hot_df, n_salts, salt_base=salt_base, covered=covered,
    )
    _write_blocks(
        spark, salted, seg, nparts=_merge_parts_default(spark, wh, flat_dir=segp("postings_flat")),
        n_buckets=n_buckets, block_size=block_size, avgdl=wand_avgdl, staged=True,
    )
    seg_blocks = spark.read.parquet(segp("postings"))

    # ---- stage: merged term_block_stats = old summary + segment summary ----
    # segment blocks live in a FRESH salt range, so every merge is
    # commutative: counts sum, top_wands = top-K of the union, ladders
    # concatenate their per-salt entries
    new_bs = _block_summary(seg_blocks).select(
        "term", *[F.col(c).alias(c + "_new") for c in ("n_blocks", "n_postings", "top_wands", "impact_ladder")]
    )
    old_bs = catalog.read_table(spark, wh.root, "term_block_stats")
    if "impact_ladder" not in old_bs.columns:  # pre-ladder warehouse
        old_bs = old_bs.withColumn("impact_ladder", F.lit(None).cast("array<array<double>>"))

    def concat(c, empty):
        return F.concat(F.coalesce(F.col(c), empty), F.coalesce(F.col(c + "_new"), empty))

    merged_bs = (
        old_bs.join(new_bs, "term", "full_outer")
        .select(
            "term",
            added("n_blocks").alias("n_blocks"),
            added("n_postings").alias("n_postings"),
            F.slice(
                F.sort_array(concat("top_wands", F.array().cast("array<double>")), asc=False), 1, K_TOP
            ).alias("top_wands"),
            F.when(F.col("impact_ladder").isNull() & F.col("impact_ladder_new").isNull(), F.lit(None))
            .otherwise(concat("impact_ladder", F.array().cast("array<array<double>>")))
            .alias("impact_ladder"),
        )
        .withColumn("ub_wand", F.col("top_wands")[0])
    )
    merged_bs.write.mode("overwrite").parquet(segp("term_block_stats"))

    # ---- stage: merged corpus stats (driver-side, staged) ----
    _write_corpus_stats_at(
        segp("corpus_stats"),
        int(stats_old["n_docs"]) + n_new,
        int(stats_old["total_tokens"]) + tok_new,
    )

    # ---- Iceberg commit: per-table snapshots from the staged segment ----
    if ice:
        catalog.append_table(spark, seg_docs, wh.root, "docs")
        if wh.read_manifest("flat"):  # skip parity append on vacuumed warehouses
            catalog.append_table(spark, seg_chunks, wh.root, "postings_flat")
        catalog.append_table(
            spark, seg_blocks, wh.root, "postings", partition_by=["kind", "bucket"]
        )
        catalog.write_table(spark, spark.read.parquet(segp("term_stats")), wh.root, "term_stats")
        catalog.write_table(
            spark, spark.read.parquet(segp("term_block_stats")), wh.root, "term_block_stats"
        )

    # ---- ATOMIC COMMIT: the n_appends flip publishes the segment ----
    cfg = wh.read_manifest("config")
    cfg["n_appends"] = append_no
    if commit_extra:
        # caller metadata that must commit atomically WITH the segment
        # (e.g. streaming's last_stream_batch exactly-once marker)
        cfg.update(commit_extra)
    wh.write_manifest("config", cfg)
    wall = (time.time() - t0) * 1000
    _write_metrics(spark, wh, run_id, f"append{append_no}", [(-1, n_new, None)], wall, run_id)
    wh.write_manifest(
        f"append{append_no}",
        {"run_id": run_id, "ok": True, "n_docs": n_new, "wall_ms": wall, "salt_base": salt_base},
    )

    from .query import invalidate_cache

    invalidate_cache(wh.root)
    return wh


def vacuum_flat(warehouse: str | Warehouse, spark: SparkSession | None = None) -> None:
    """Drop the postings_flat intermediate — the storage-lifecycle step
    for FINAL indexes. Measured at 600k docs: 130 MB of flat chunks
    beside 187 MB of compressed blocks (~40% of warehouse bytes; tens
    of TB at 10^12 docs). postings_flat exists so resume and
    config-change rebuilds re-run the blocks stage without
    re-extracting/tokenizing; queries never read it, and appends stage
    their own segment chunks. Removes the table and its stage manifest,
    so a LATER build_index(resume=True) on the same warehouse
    transparently recomputes flat (and its downstream stages) from the
    stored docs table; Iceberg-mode appends skip their flat parity
    append while vacuumed (gated on the flat manifest).

    In Iceberg mode postings_flat lives under the catalog ident, not
    wh.path('postings_flat') — pass the SparkSession so the table is
    DROPped through the catalog (removing the path alone would reclaim
    nothing while leaving a live-but-stale table external readers could
    still query). Raises if an Iceberg catalog is configured on the
    passed session and the drop can't be issued; with spark=None only
    the parquet layout is vacuumed (correct for parquet-mode
    warehouses, the default)."""
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    if spark is not None and catalog.iceberg_catalog(spark) is not None:
        cat = catalog.iceberg_catalog(spark)
        spark.sql(f"DROP TABLE IF EXISTS {catalog._ident(cat, wh.root, 'postings_flat')}")
    fsio.remove(wh.path("postings_flat"), recursive=True)
    fsio.remove(wh.manifest_path("flat"))


def compact_index(
    spark: SparkSession,
    warehouse: str | Warehouse,
    dest: str | None = None,
    *,
    run_id: str = "compact",
    merge_parts: int | None = None,
) -> Warehouse:
    """Fold a warehouse's appended segments into a fresh single-epoch
    warehouse at `dest` (default <root>__compact) — WITHOUT re-extracting
    or re-tokenizing the corpus.

    Append/stream-heavy warehouses accumulate one `_segments/seg{n}` dir
    per commit; the read path unions them, which is exact but adds one
    scan leg per segment (streaming.stream_index's docstring bounds
    this). Compaction re-runs only the post-extract build stages over
    the UNIONED docs table: the stored token streams are the forward
    index, so the expensive extract+tokenize pass (HTML strip, ~40% of
    build wall) is skipped entirely — the merged docs are written into
    `dest` along with an extract-stage manifest whose fingerprint
    matches, and build_index(resume=True) takes it from `flat`.

    Results are identical to a from-scratch build over the union corpus
    (same doc_ids — they are stored, not recomputed; same stats; fresh
    single-epoch WAND basis). The source warehouse is untouched; callers
    swap paths (or point readers at `dest`) when it returns.
    """
    src = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    cfg = src.read_manifest("config")
    if not cfg:
        raise ValueError(f"no config manifest under {src.root} — nothing to compact")
    n_buckets, block_size = int(cfg["n_buckets"]), int(cfg["block_size"])
    hot_df, n_salts = int(cfg["hot_df"]), int(cfg["n_salts"])
    epoch = int(cfg.get("n_appends", 0) or 0)
    dst = Warehouse(dest or src.root.rstrip("/") + "__compact")
    fsio.remove(dst.root, recursive=True)
    fsio.mkdirs(dst.root)

    t0 = time.time()
    docs = catalog.read_table(spark, src.root, "docs")  # base + all segments
    dt, obs = _observed(docs, "compact", F.sum(F.size("tokens")).alias("total_tokens"))
    catalog.write_table(spark, dt, dst.root, "docs")
    n_docs, total_tokens = int(obs.get["n_rows"]), int(obs.get["total_tokens"] or 0)
    _write_corpus_stats(dst, n_docs, total_tokens)

    # mark extract done under the SAME fingerprint build_index will
    # compute for this (input_id, config), so resume starts at 'flat'
    input_id = f"compact:{os.path.normpath(src.root)}:e{epoch}"
    fingerprint = _fingerprint(input_id, n_buckets, block_size, hot_df, n_salts, from_html=False)
    dst.write_manifest("config", {
        "n_buckets": n_buckets, "block_size": block_size, "hot_df": hot_df,
        "n_salts": n_salts, "k1": K1, "b": B,
    })
    dst.write_manifest("extract", {
        "run_id": run_id, "stage": "extract", "input_id": input_id,
        "fingerprint": fingerprint, "ok": True,
        "wall_ms": (time.time() - t0) * 1000, "n_rows": n_docs,
    })
    return build_index(
        spark, docs.limit(0), dst,
        n_buckets=n_buckets, block_size=block_size, hot_df=hot_df, n_salts=n_salts,
        run_id=run_id, input_id=input_id, resume=True, from_html=False,
        merge_parts=merge_parts,
    )
