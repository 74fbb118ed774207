"""One benchmark run: set up, measure, check, report.

Started by run.py as a child process (its own process group, its own
scratch directory); it writes its result as JSON to --out. It drives
only the program's public API and times each layer from outside, by
timing the calls the benchmark makes into it.

Workloads (see BENCHMARK.json for the one-line reasons):

serve   set-up builds a single-segment index and pins it with
        warm_postings. Timed: a closed loop of single queries drawn with
        Zipf popularity from a pool of unique strings (first use = cold,
        plan-memo miss; later uses = warm, memo hit), then fresh
        batch_search batches. Afterwards one append, so every end-to-end
        metric is measured.
ingest  set-up is the session and a warm-up build. Timed: a full build,
        then a fixed schedule of appends; after the build and after each
        append a probe of fresh (cold) queries and repeats of some of
        them (warm), against the unpinned, growing index; one batch on
        the fresh index and one after the last append.

Both run the curation pass right after the warm-up, on a fresh heap and
without an index: curate().count() and curation_report over a fixed
prefix of the corpus, find_contamination over a shorter prefix with
planted probes.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time

import numpy as np

import gen
import stats
import trace

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# workload sizes (docs)
SIZES = {
    "serve": {"docs": 10000, "appends": 1},
    "ingest": {"docs": 10000, "appends": 2},
}
SEGMENT_DOCS = 1000
WARMUP_DOCS = 300
CURATE_DOCS = 6000  # curate() and curation_report() scan this prefix
DECONTAM_DOCS = 2000  # find_contamination() scans this prefix
N_PROBES = 24  # contamination probes, exact copies of slice docs
BATCH = 16  # queries per batch_search call
K = 10
DRIVER_HEAP = "2g"
PLAN_KINDS = ("exhaustive", "routed", "routed_probe", "and_candidate", "and_probe")
NEG_KINDS = ("docset_kernel", "range_anti", "anti_join")
BUILD_STAGES = ("extract", "flat", "term_stats", "blocks", "block_stats")


def _rules():
    from lsearch_spark.pipeline import CurationRules

    return CurationRules(min_tokens=5, max_tokens=5000, max_dup3=0.5, max_top2=0.5)


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.size = SIZES[args.workload]
        self.seed = args.seed
        self.tr = trace.Tracer() if args.trace else trace.NullTracer()
        self.scratch = os.path.abspath(args.scratch)
        self.spark = None
        self.ops: list = []  # (kind, ok)
        self.notes: list = []  # failure messages
        self.m: dict = {}  # end-to-end metrics
        self.layer: dict = {}  # per-layer metrics
        self.qlog: list = []  # executed single queries
        self.blog: list = []  # executed batches
        self.states: dict = {}  # index state -> corpus it should answer over
        self.state = 0
        self.jobs = None
        self.reopens: list = []

    # ------------------------------------------------------------ helpers
    def op(self, kind: str, fn, *a, **kw):
        """Run one operation; an exception is a failed op, not a crash."""
        try:
            out = fn(*a, **kw)
        except Exception as e:  # the run goes on and reports the failure
            self.ops.append((kind, False))
            self.notes.append(f"{kind}: {type(e).__name__}: {e}"[:400])
            return None
        self.ops.append((kind, True))
        return out

    def path(self, *p) -> str:
        return os.path.join(self.scratch, *p)

    def write_pages(self, corpus, name: str) -> str:
        import pyarrow.parquet as pq

        d = self.path("pages", name)
        os.makedirs(d, exist_ok=True)
        pq.write_table(corpus.to_arrow(), os.path.join(d, "part-0.parquet"))
        return d

    # -------------------------------------------------------------- setup
    def start_session(self):
        with self.tr.span("session.start"):
            t0 = time.perf_counter()
            from lsearch_spark.session import get_spark

            os.makedirs(self.path("tmp"), exist_ok=True)
            os.makedirs(self.path("uds"), exist_ok=True)
            cores = len(os.sched_getaffinity(0))
            self.spark = get_spark(
                app=f"perfbench-{self.workload}",
                cores=cores,
                driver_memory=DRIVER_HEAP,
                extra_confs={
                    "spark.local.dir": self.path("local"),
                    "spark.sql.warehouse.dir": self.path("spark-warehouse"),
                    "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}",
                    # relative to the working directory: a socket path
                    # (sun_path) is limited to 108 bytes, which a deep
                    # checkout path would exceed
                    "spark.python.unix.domain.socket.dir": os.path.relpath(self.path("uds")),
                    "spark.executorEnv.PYTHONPATH": os.environ.get("PYTHONPATH", REPO),
                },
            )
            self.layer["session.start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tr.enabled:
            self.jobs = trace.JobCounter(self.spark.sparkContext)

    def make_inputs(self):
        n = self.size["docs"]
        with self.tr.span("bench.generate"):
            self.base = gen.make_corpus(self.seed, n)
            self.segments = [
                gen.make_corpus(self.seed, SEGMENT_DOCS, id_base=len(self.base) + i * SEGMENT_DOCS,
                                stream=1 + i, edges=False, vocab=self.base.vocab)
                for i in range(self.size["appends"])
            ]
            self.warm_corpus = gen.make_corpus(self.seed, WARMUP_DOCS, id_base=10**9, stream=99, edges=False,
                                               vocab=list(self.base.vocab))
            self.qgen = gen.QueryGen(self.base, self.seed)
            self.base_dir = self.write_pages(self.base, "base")
            self.seg_dirs = [self.write_pages(s, f"seg{i + 1}") for i, s in enumerate(self.segments)]
            self.warm_dir = self.write_pages(self.warm_corpus, "warmup")
            self.input_bytes = _dir_bytes(self.base_dir)
            self.make_probes()

    def make_probes(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng([self.seed, 21])
        lens = self.base.doc_lens()[:DECONTAM_DOCS]
        cand = np.flatnonzero(lens >= 30)
        pick = np.sort(rng.choice(cand, size=N_PROBES, replace=False))
        self.probe_src = {i: int(self.base.doc_ids[j]) for i, j in enumerate(pick)}
        d = self.path("pages", "probes")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.table({"probe_id": pa.array(range(N_PROBES), pa.int64()),
                      "text": pa.array([self.base.texts[j] for j in pick], pa.string())}),
            os.path.join(d, "part-0.parquet"),
        )
        self.probe_dir = d

    def warmup(self):
        """JIT and Python-worker warm-up on a separate small corpus and
        warehouse; none of its query strings is ever reused."""
        from pyspark.sql import functions as F

        from lsearch_spark.build import build_index
        from lsearch_spark.pipeline import curate
        from lsearch_spark.query import search

        with self.tr.span("bench.warmup"):
            wh = self.path("wh_warmup")
            with self.tr.span("build.build_index"):
                build_index(self.spark, self.warm_dir, wh, resume=False)
            wq = gen.QueryGen(self.warm_corpus, self.seed, stream=98)
            for q in wq.take(2):
                with self.tr.span("query.search"):
                    search(self.spark, wh, q.text, k=K, mode=q.mode).collect()
            docs = self.curation_input(self.warm_dir)
            with self.tr.span("pipeline.curate"):
                curate(docs, _rules()).count()
            with self.tr.span("dedup.find_contamination"):
                self._contamination(docs, docs.select(F.col("doc_id").alias("probe_id"), "text").limit(2))

    # -------------------------------------------------------------- layers
    def build(self, pages_dir: str, wh: str):
        from lsearch_spark.build import build_index

        with self.tr.span("build.build_index"), self._jobs() as jobs:
            t0 = time.perf_counter()
            out = self.op("build", build_index, self.spark, pages_dir, wh, resume=False)
            wall = time.perf_counter() - t0
        if jobs is not None:
            self.layer["build.jobs"] = jobs["jobs"]
        if out is None:
            raise RuntimeError("build failed: " + self.notes[-1])
        self.wh = wh
        self.state += 1
        self.states[self.state] = self.base
        self.m["build_docs_per_s"] = stats.rate(len(self.base), wall)
        self.m["index_bytes_per_input_byte"] = _dir_bytes(wh) / self.input_bytes
        self.build_layers(wh)

    def build_layers(self, wh):
        from lsearch_spark.build import Warehouse

        w = Warehouse(wh)
        for s in BUILD_STAGES:
            man = w.read_manifest(s) or {}
            self.layer[f"build.{s}_s"] = float(man.get("wall_ms", 0.0)) / 1000.0
            if s in ("extract", "flat"):
                self.layer[f"build.{s}_cpu_s"] = float(man.get("task_cpu_s", 0.0))

    def append(self, i: int):
        from lsearch_spark.build import append_index

        with self.tr.span("build.append_index"):
            t0 = time.perf_counter()
            out = self.op("append", append_index, self.spark, self.seg_dirs[i], self.wh)
            wall = time.perf_counter() - t0
        self.state += 1
        self.states[self.state] = gen.concat([self.base] + self.segments[: i + 1])
        return wall if out is not None else None

    def query(self, q, seen: set, request: str, tag: str | None = None):
        """One closed-loop request: search() then collect(). A string's
        first use in an index state is cold (plan-memo miss)."""
        from lsearch_spark.query import search

        key = (self.state, q.text, q.mode)
        cold = key not in seen
        seen.add(key)
        t = {}

        def request_fn():
            t[0] = time.perf_counter()
            with self.tr.span("query.search"):
                df = search(self.spark, self.wh, q.text, k=K, mode=q.mode)
            t[1] = time.perf_counter()
            with self.tr.span("query.collect"):
                rows = df.collect()
            t[2] = time.perf_counter()
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]

        with self.tr.span("bench.request", request=request, cold=cold), self._jobs() as jobs:
            rows = self.op("query", request_fn)
        ok = rows is not None
        self.qlog.append({
            "state": self.state, "q": q, "cold": cold, "tag": tag, "rows": rows, "jobs": jobs,
            "ms": (t[2] - t[0]) * 1000.0 if ok else None,
            "plan_ms": (t[1] - t[0]) * 1000.0 if ok else None,
            "exec_ms": (t[2] - t[1]) * 1000.0 if ok else None,
            "op": len(self.ops) - 1,
        })
        return rows

    def reopen(self, seen: set, request: str) -> None:
        """The first query after a build or append re-resolves the
        segment union and the corpus stats; it is timed on its own
        (catalog.reopen_ms) and kept out of the latency figures."""
        self.query(self.qgen.take(1)[0], seen, request, tag="reopen")
        if self.qlog[-1]["ms"] is not None:
            self.reopens.append(self.qlog[-1]["ms"])

    def batch(self, qs, request: str) -> float:
        from lsearch_spark.query import batch_search

        qmap = {f"b{i}": q.text for i, q in enumerate(qs)}
        t = {}

        def batch_fn():
            t[0] = time.perf_counter()
            with self.tr.span("batch.batch_search"):
                df = batch_search(self.spark, self.wh, qmap, k=K)
            t[1] = time.perf_counter()
            with self.tr.span("batch.collect"):
                rows = df.collect()
            t[2] = time.perf_counter()
            per_q: dict = {k: [] for k in qmap}
            for r in rows:
                per_q.setdefault(r["query_id"], []).append((int(r["doc_id"]), float(r["score"])))
            return per_q

        with self.tr.span("bench.batch", request=request), self._jobs() as jobs:
            rows = self.op("batch", batch_fn)
        ok = rows is not None
        self.blog.append({
            "state": self.state, "qs": qs, "rows": rows, "jobs": jobs,
            "s": t[2] - t[0] if ok else None,
            "plan_ms": (t[1] - t[0]) * 1000.0 if ok else None,
            "exec_ms": (t[2] - t[1]) * 1000.0 if ok else None,
            "op": len(self.ops) - 1,
        })
        return t[2] - t[0] if ok else 0.0

    def _jobs(self):
        return contextlib.nullcontext() if self.jobs is None else self.jobs.group()

    # ---------------------------------------------------------- workloads
    def run_serve(self, seconds: float):
        from lsearch_spark.query import warm_postings

        t0 = time.perf_counter()
        self.build(self.base_dir, self.path("wh"))
        with self.tr.span("query.warm_postings"):
            self.op("warm_postings", warm_postings, self.spark, self.wh)
        seen: set = set()
        for i, q in enumerate(self.qgen.take(3)):  # warm-up, never reused
            self.query(q, seen, f"warmup{i}", tag="warmup")
        self.m["setup_s"] = self.setup_s + time.perf_counter() - t0
        pool = self.qgen.take(600)
        stream = gen.serve_stream(len(pool), self.seed)
        t_end = time.perf_counter() + 0.8 * seconds
        i = 0
        while time.perf_counter() < t_end:
            self.query(pool[stream[i]], seen, f"s{i}")
            i += 1
        t_end = time.perf_counter() + 0.2 * seconds
        spent, n_q, j = 0.0, 0, 0
        while j < 2 or time.perf_counter() < t_end:
            spent += self.batch(self.qgen.take(BATCH, gen.BATCH_CYCLE), f"batch{j}")
            n_q += BATCH
            j += 1
        self.m["batch_qps"] = stats.rate(n_q, spent)
        self.latency_metrics()
        self.query_counters()
        # read-only serving ends here; one append (a new index state)
        # measures append throughput, and one probe checks its answers
        wall = self.append(0)
        if wall is not None:
            self.m["append_docs_per_s"] = stats.rate(SEGMENT_DOCS, wall)
            self.layer["build.append_s"] = wall
            self.reopen(seen, "post-append")

    def run_ingest(self, seconds: float):
        self.m["setup_s"] = self.setup_s
        self.build(self.base_dir, self.path("wh"))
        seen: set = set()
        n_points = 1 + self.size["appends"]
        per_point = seconds / n_points
        walls = []
        batch_s, batch_n = 0.0, 0
        for p in range(n_points):
            if p:
                wall = self.append(p - 1)
                if wall is not None:
                    walls.append(wall)
            self.reopen(seen, f"reopen{p}")
            t_end = time.perf_counter() + 0.5 * per_point
            fresh = self.qgen.take(60)
            probe = []
            while len(probe) < 4 or time.perf_counter() < t_end:
                probe.append(fresh[len(probe)])
                self.query(probe[-1], seen, f"p{p}c{len(probe)}")
            for j, q in enumerate(probe[:4] * 2):
                self.query(q, seen, f"p{p}w{j}")
            if p in (0, n_points - 1):  # on the fresh and on the most segmented index
                batch_s += self.batch(self.qgen.take(BATCH, gen.BATCH_CYCLE), f"p{p}batch")
                batch_n += BATCH
        self.m["batch_qps"] = stats.rate(batch_n, batch_s)
        if walls:
            self.m["append_docs_per_s"] = stats.rate(SEGMENT_DOCS, statistics.median(walls))
            self.layer["build.append_s"] = statistics.median(walls)
        self.latency_metrics()
        self.query_counters()

    def latency_metrics(self):
        timed = [e for e in self.qlog if e["tag"] is None and e["ms"] is not None]
        cold = [e["ms"] for e in timed if e["cold"]]
        warm = [e["ms"] for e in timed if not e["cold"]]
        self.n_cold, self.n_warm = len(cold), len(warm)
        if cold:
            self.m["query_cold_p50_ms"] = stats.percentile(cold, 50)
            self.m["query_cold_p90_ms"] = stats.percentile(cold, 90)
        if warm:
            self.m["query_warm_p50_ms"] = stats.percentile(warm, 50)
            self.m["query_warm_p90_ms"] = stats.percentile(warm, 90)

    def by_shape(self, cold: bool) -> dict:
        """Sample count and median latency per query shape."""
        out = {}
        for shape in gen.SHAPES:
            xs = [e["ms"] for e in self.qlog
                  if e["tag"] is None and e["ms"] is not None and e["cold"] == cold and e["q"].shape == shape]
            if xs:
                out[shape] = [len(xs), round(statistics.median(xs), 1)]
        return out

    def curation(self):
        from pyspark.sql import functions as F

        from lsearch_spark.pipeline import curate, curation_report

        spark = self.spark
        base = self.curation_input(self.base_dir)
        docs = base.filter(F.col("doc_id") < int(self.base.doc_ids[CURATE_DOCS]))
        rules = _rules()
        walls = []
        for _ in range(2):
            with self.tr.span("pipeline.curate"):
                t0 = time.perf_counter()
                kept = self.op("curate", lambda: curate(docs, rules).count())
                walls.append(time.perf_counter() - t0)
        wall = statistics.median(walls)
        with self.tr.span("pipeline.curation_report"):
            t0 = time.perf_counter()
            rep = self.op("curation_report", lambda: curation_report(docs, rules).collect())
            self.layer["pipeline.report_s"] = time.perf_counter() - t0
        self.layer["pipeline.curate_s"] = wall
        self.m["curate_docs_per_s"] = stats.rate(CURATE_DOCS, wall)
        if rep is not None and kept is not None:
            rep_kept = {r["stage"]: r["n"] for r in rep}.get("kept")
            if rep_kept != kept:
                self._fail_op(len(self.ops) - 1, f"curate().count()={kept} but report kept={rep_kept}")

        corpus = base.filter(F.col("doc_id") < int(self.base.doc_ids[DECONTAM_DOCS]))
        probes = spark.read.parquet(self.probe_dir)
        with self.tr.span("dedup.find_contamination"):
            t0 = time.perf_counter()
            rows = self.op("decontam", self._contamination, corpus, probes)
            wall = time.perf_counter() - t0
        self.layer["dedup.contamination_s"] = wall
        self.m["decontam_docs_per_s"] = stats.rate(DECONTAM_DOCS, wall)
        if rows is not None:
            self.layer["dedup.pairs"] = len(rows)
            found = {(int(r["probe_id"]), int(r["doc_id"])) for r in rows}
            missing = [p for p, d in self.probe_src.items() if (p, d) not in found]
            if missing:
                self._fail_op(len(self.ops) - 1, f"probes not found: {missing[:8]}")

    def curation_input(self, pages_dir: str):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(pages_dir).withColumn(
            "source", F.regexp_extract("url", "^https://([^/]+)/", 1))

    @staticmethod
    def _contamination(corpus, probes):
        from lsearch_spark.functions.dedup import find_contamination

        out = find_contamination(corpus, probes)
        try:
            return out.collect()
        finally:
            out._lsearch_persisted.unpersist()

    # --------------------------------------------------------- correctness
    def check(self):
        """Outside the timed region: every distinct query against the
        oracle over the corpus of its index state; every repeat against
        its first run."""
        from lsearch_spark.oracle import bm25_topk

        with self.tr.span("bench.check"):
            need: dict = {}
            for e in self.qlog:
                need.setdefault(e["state"], set()).add((e["q"].text, e["q"].mode))
            for b in self.blog:
                for q in b["qs"]:
                    need.setdefault(b["state"], set()).add((q.text, "or"))
            expect: dict = {}
            for state, qs in need.items():
                idx = oracle_index(self.states[state], [t for t, _ in qs])
                for text, mode in qs:
                    expect[(state, text, mode)] = bm25_topk(idx, text, k=K, mode=mode)
            first: dict = {}
            for e in self.qlog:
                if e["rows"] is None:
                    continue
                key = (e["state"], e["q"].text, e["q"].mode)
                msg = compare(e["rows"], expect[key])
                if msg is None and key in first and first[key] != e["rows"]:
                    msg = "repeat differs from first run"
                first.setdefault(key, e["rows"])
                if msg:
                    self._fail_op(e["op"], f"query {e['q'].text!r} ({e['q'].mode}): {msg}")
            for b in self.blog:
                if b["rows"] is None:
                    continue
                for i, q in enumerate(b["qs"]):
                    got = sorted(b["rows"].get(f"b{i}", []), key=lambda r: (-r[1], r[0]))
                    msg = compare(got, expect[(b["state"], q.text, "or")])
                    if msg:
                        self._fail_op(b["op"], f"batch query {q.text!r}: {msg}")
                        break

    def _fail_op(self, i: int, msg: str) -> None:
        kind, _ = self.ops[i]
        self.ops[i] = (kind, False)
        self.notes.append(f"{kind}: {msg}"[:400])

    # ------------------------------------------------------ traced extras
    def query_counters(self):
        """Traced runs: per-query work counters from the instrumented
        entry point (search_with_stats), over up to 14 distinct strings
        of the current index state, and the batch route-out count."""
        from lsearch_spark.query import batch_search_with_stats, search_with_stats

        if not self.tr.enabled:
            return
        spark, wh, L = self.spark, self.wh, self.layer
        with self.tr.span("bench.query_counters"):
            _, binfo = batch_search_with_stats(
                spark, wh, {f"t{i}": q.text for i, q in enumerate(self.qgen.take(BATCH, gen.BATCH_CYCLE))}, k=K)
            L["batch.routed_out"] = len(binfo.get("routed_out") or [])
            seen, infos = set(), []
            for e in self.qlog:
                key = (e["q"].text, e["q"].mode)
                if e["state"] != self.state or key in seen:
                    continue
                seen.add(key)
                rows, info = search_with_stats(spark, wh, e["q"].text, k=K, mode=e["q"].mode)
                infos.append((len(rows), info))
                if len(infos) == 14:
                    break
            tot = lambda f: float(sum(i.get(f) or 0 for _, i in infos))
            L["query.blocks_decoded"] = tot("blocks_decoded")
            L["query.blocks_total"] = tot("blocks_total")
            L["query.postings_decoded"] = tot("postings_decoded")
            L["query.postings_per_result"] = tot("postings_decoded") / max(1, sum(n for n, _ in infos))
            L["query.verify_fallbacks"] = float(sum(bool(i.get("prune_fallback")) for _, i in infos))
            for kind in PLAN_KINDS + ("other",):
                L[f"query.plan.{kind}"] = 0.0
            for kind in NEG_KINDS:
                L[f"query.neg.{kind}"] = 0.0
            for _, i in infos:
                base, kind = plan_kind(str(i.get("plan") or "exhaustive"))
                L[f"query.plan.{base}"] += 1
                if kind:
                    L[f"query.neg.{kind}"] += 1

    def trace_layers(self):
        """Per-layer figures that need extra calls; traced runs only."""
        from lsearch_spark import catalog
        from lsearch_spark.build import Warehouse

        spark, wh = self.spark, self.wh
        L = self.layer
        with self.tr.span("bench.trace_layers"):
            L["session.jvm_job_floor_ms"] = _median_ms(lambda: spark.range(0, 1, 1, 1).collect(), 7)

            def ident(it):
                yield from it

            L["session.py_task_floor_ms"] = _median_ms(
                lambda: spark.range(0, 1, 1, 1).mapInPandas(ident, "id long").collect(), 7)
            # query layer split, cold vs warm
            for cls in ("cold", "warm"):
                es = [e for e in self.qlog if e["tag"] is None and e["ms"] is not None
                      and e["cold"] == (cls == "cold")]
                for f in ("plan_ms", "exec_ms"):
                    L[f"query.{f}.{cls}"] = _med([e[f] for e in es])
                L[f"query.jobs.{cls}"] = _med([e["jobs"]["jobs"] for e in es])
                L[f"query.tasks.{cls}"] = _med([e["jobs"]["tasks"] for e in es])
            bs = [b for b in self.blog if b["rows"] is not None]
            L["batch.plan_ms"] = _med([b["plan_ms"] for b in bs])
            L["batch.exec_ms"] = _med([b["exec_ms"] for b in bs])
            L["batch.jobs"] = _med([b["jobs"]["jobs"] for b in bs])
            # catalog / fsio
            cfg = Warehouse(wh).read_manifest("config") or {}
            L["catalog.segments"] = 1 + int(cfg.get("n_appends", 0) or 0)
            L["catalog.postings_files"] = float(_count_files(wh, "postings"))
            L["catalog.read_table_ms"] = _median_ms(lambda: catalog.read_table(spark, wh, "postings").schema, 5)
            for name, tables in (("postings", ("postings",)), ("postings_flat", ("postings_flat",)),
                                 ("docs", ("docs",)),
                                 ("stats", ("term_stats", "term_block_stats", "corpus_stats"))):
                L[f"catalog.bytes.{name}"] = float(sum(_table_bytes(wh, t) for t in tables))
            L["catalog.reopen_ms"] = _med(self.reopens)
            self.replay_layers()
            gc = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
            L["session.gc_ms"] = float(sum(b.getCollectionTime() for b in gc))

    def replay_layers(self):
        """Spark-free replays of extract, tokenize and codec."""
        import pandas as pd
        import pyarrow.parquet as pq

        from lsearch_spark.codec import decode_ids_signed, encode_ids_signed
        from lsearch_spark.extract import extract_text_series
        from lsearch_spark.tokenize import arrow_tokenize

        L = self.layer
        n = min(len(self.base), 4000)
        html = pd.Series(self.base.html[:n], dtype=object)
        t0 = time.perf_counter()
        texts = extract_text_series(html)
        L["extract.docs_per_s"] = stats.rate(n, time.perf_counter() - t0)
        t0 = time.perf_counter()
        arrow_tokenize(texts.tolist())
        L["tokenize.docs_per_s"] = stats.rate(n, time.perf_counter() - t0)
        files = [os.path.join(dp, f) for dp, _, fs in os.walk(os.path.join(self.wh, "postings"))
                 for f in fs if f.endswith(".parquet")]
        blobs = [b for f in sorted(files) for b in pq.read_table(f, columns=["doc_ids"]).column(0).to_pylist()]
        nbytes = sum(len(b) for b in blobs)
        t0 = time.perf_counter()
        ids = [decode_ids_signed(b) for b in blobs]
        L["codec.decode_mb_per_s"] = stats.rate(nbytes / 1e6, time.perf_counter() - t0)
        t0 = time.perf_counter()
        out = sum(len(encode_ids_signed(a)) for a in ids)
        L["codec.encode_mb_per_s"] = stats.rate(out / 1e6, time.perf_counter() - t0)

    # ---------------------------------------------------------------- run
    def run(self) -> dict:
        t0 = time.perf_counter()
        with trace.RssSampler(os.getpid()) as rss:
            self.start_session()
            self.make_inputs()
            self.warmup()
            self.setup_s = time.perf_counter() - t0
            # independent of the index; run on a fresh heap, before the
            # index phases, so its figures do not depend on them
            self.curation()
            with self.tr.span(f"bench.{self.workload}"):
                getattr(self, f"run_{self.workload}")(self.args.seconds)
            self.check()
            if self.tr.enabled:
                self.trace_layers()
        self.m["peak_rss_mb"] = rss.peak_mb()
        for part, mb in rss.parts_mb().items():
            self.layer[f"session.rss_{part}_mb"] = mb
        print(f"perfbench: peak rss by part (MB): {rss.parts_mb()} children={sorted(rss.hwm)}", file=sys.stderr)
        attempted = len(self.ops)
        failed = sum(1 for _, ok in self.ops if not ok)
        self.m["ok_rate"] = stats.ok_rate(attempted, failed)
        return self.result(attempted, failed)

    def result(self, attempted: int, failed: int) -> dict:
        units = {
            "setup_s": "s", "query_cold_p50_ms": "ms", "query_cold_p90_ms": "ms",
            "query_warm_p50_ms": "ms", "query_warm_p90_ms": "ms", "batch_qps": "queries/s",
            "build_docs_per_s": "docs/s", "append_docs_per_s": "docs/s",
            "index_bytes_per_input_byte": "ratio", "curate_docs_per_s": "docs/s",
            "decontam_docs_per_s": "docs/s", "ok_rate": "fraction", "peak_rss_mb": "MB",
        }
        info = {
            "n_cold": getattr(self, "n_cold", 0), "n_warm": getattr(self, "n_warm", 0),
            "n_batches": len(self.blog), "failures": self.notes[:20],
            "cold_ms_by_shape": self.by_shape(True), "warm_ms_by_shape": self.by_shape(False),
        }
        out = {"correct": failed == 0 and not self.notes, "attempted": attempted, "failed": failed, "info": info}
        if self.tr.enabled:
            L = dict(self.layer)
            L.update(self_time_metrics(self.tr))
            L["trace.spans"] = float(len(self.tr.spans))
            L["trace.record_us"] = trace.record_cost_us()
            for k in ("setup_s", "query_cold_p50_ms", "query_warm_p50_ms", "batch_qps"):
                if k in self.m:
                    L[f"traced.{k}"] = self.m[k]
            out["metrics"] = {k: {"value": float(v), "unit": _layer_unit(k)} for k, v in sorted(L.items())}
            out["spans"] = self.tr
        else:
            out["metrics"] = {k: {"value": float(self.m[k]), "unit": u} for k, u in units.items() if k in self.m}
        return out

    def close(self):
        if self.spark is not None:
            from lsearch_spark.query import invalidate_cache

            try:
                invalidate_cache()
            finally:
                self.spark.stop()
                stop_gateway()


def stop_gateway() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # already gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def plan_kind(plan: str) -> tuple:
    """search_with_stats' plan string -> (base plan kind, exclusion
    plan kind or None), e.g. "routed+probe+docset-kernel" ->
    ("routed_probe", "docset_kernel")."""
    parts = plan.split("+")
    base = parts[0].replace("-", "_")
    if base == "routed" and "probe" in parts:
        base = "routed_probe"
    neg = next((p.replace("-", "_") for p in parts if p.replace("-", "_") in NEG_KINDS), None)
    return (base if base in PLAN_KINDS else "other"), neg


def oracle_index(corpus, query_texts):
    """The oracle's PyIndex restricted to the terms the queries touch:
    bm25_topk reads only those postings plus n_docs, avgdl and the
    matching docs' lengths. Built from generator ground truth."""
    from lsearch_spark.oracle import PyIndex, parse_query

    tid = {t: i for i, t in enumerate(corpus.vocab)}
    terms = set()
    for text in query_texts:
        for part in parse_query(text):
            terms.update(part)
    post = gen.postings(corpus, [tid[t] for t in terms if t in tid])
    lens = corpus.doc_lens()
    idx = PyIndex()
    idx.n_docs = len(corpus)
    idx.avgdl = float(lens.sum()) / len(corpus)
    idx.doc_len = dict(zip(corpus.doc_ids.tolist(), lens.tolist()))
    idx.postings = {corpus.vocab[t]: p for t, p in post.items() if p}
    return idx


def compare(got, want, tol: float = 1e-9) -> str | None:
    """None when `got` equals the oracle top-k: same doc_ids in rank
    order (ties by doc_id ascending) and scores within tol."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    for r, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if gd != wd:
            return f"rank {r}: doc {gd} (score {gs!r}), oracle doc {wd} (score {ws!r})"
        if abs(gs - ws) > tol:
            return f"rank {r}: score {gs!r}, oracle {ws!r}"
    return None


def self_time_metrics(tr) -> dict:
    """Self time per layer (span-name prefix) in seconds."""
    out: dict = {}
    for name, s in tr.self_times().items():
        layer = name.split(".")[0]
        out[f"self.{layer}_s"] = out.get(f"self.{layer}_s", 0.0) + s
    for layer in ("session", "build", "query", "batch", "pipeline", "dedup", "bench"):
        out.setdefault(f"self.{layer}_s", 0.0)
    return out


def _layer_unit(name: str) -> str:
    if name.endswith("docs_per_s"):
        return "docs/s"
    if name.endswith("mb_per_s"):
        return "MB/s"
    if name == "traced.batch_qps":
        return "queries/s"
    if name.endswith("_ms") or ".plan_ms." in name or ".exec_ms." in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.startswith("catalog.bytes."):
        return "bytes"
    if name == "trace.record_us":
        return "us"
    if name == "query.postings_per_result":
        return "ratio"
    return "count"


def _median_ms(fn, n: int) -> float:
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        ts.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(ts)


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(d) for f in fs)


def _table_dirs(wh: str, name: str) -> list:
    dirs = [os.path.join(wh, name)]
    seg = os.path.join(wh, "_segments")
    if os.path.isdir(seg):
        dirs += [os.path.join(seg, s, name) for s in sorted(os.listdir(seg))]
    return [d for d in dirs if os.path.isdir(d)]


def _table_bytes(wh: str, name: str) -> int:
    return sum(_dir_bytes(d) for d in _table_dirs(wh, name))


def _count_files(wh: str, name: str) -> int:
    return sum(1 for d in _table_dirs(wh, name) for _, _, fs in os.walk(d) for f in fs if f.endswith(".parquet"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args(argv)
    sys.path.insert(0, REPO)
    bench = Bench(args)
    try:
        res = bench.run()
    finally:
        bench.close()
    tr = res.pop("spans", None)
    if tr is not None and args.spans:
        tr.write(args.spans)
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
