"""Seeded, vectorized corpus and query generator for the benchmark.

Deliberately independent of the program under test: nothing here
imports ``lsearch_spark``, so a change to the program cannot change the
workload. The corpus has the ``pages`` shape of FIXTURES.md §1 (doc_id,
url, warc_ts, html, text, lang): a Zipf vocabulary of ~5k terms, hot
stopword-like terms in >80% of docs, planted terms with controlled df,
rare terms planted in 1-3 docs, mixed case and punctuation, HTML with
script/style/comment junk, and the FIXTURES edge rows. Queries follow
FIXTURES.md §2 (rare, hot, OR, ``-neg``, ``mode="and"``, absent term,
mixed case).

Every generated doc also carries its ground-truth token ids, so the
correctness gate can score queries without re-tokenizing the corpus.
Ground truth follows the tokenizer contract in the repo's docs: ASCII
lowercase, separators are ASCII non-alphanumerics, every non-ASCII
codepoint is a token character.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

HOT = ("the", "and", "of")
PLANTED = (
    "biology", "chemistry", "physics", "quantum", "neural",
    "spark", "index", "query", "tokyo", "glacier",
)
N_TAIL = 5000 - len(HOT) - len(PLANTED)
N_RARE = 600  # r0000.. each planted into 1-3 docs of the base corpus
RARE_TERM = "zyzzyva"  # one regular doc, plus the all-terms edge row
LANGS = np.array(["en"] * 8 + ["de", "fr", ""])
CATEGORIES = np.array(["news", "blog", "docs", "shop", "wiki"])
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

_SEP = re.compile("[\x00-\x2f\x3a-\x60\x7b-\x7f]+")
_LOWER = str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")

# FIXTURES.md §1 edge rows, appended to every base corpus
EDGE_TEXTS = (
    "",
    " ".join(["spark"] * 1000),
    " ".join(PLANTED + HOT + (RARE_TERM,)),
    "Café Müller 中文 résumé biology Über É",
    "tiebreak quantum flux common signal",
    "tiebreak quantum flux common signal",
)

_JUNK = (
    "<script type='text/javascript'>var x = 1 && 2; document.write('<p>junk</p>');</script>",
    "<style>p { color: red; }\n.hidden { display:none }</style>",
    "<!-- comment\n spanning lines -->",
    "<img src='x.png' alt='pic'>",
    "<br/>",
    "<div class='a b'>",
    "</div>",
)


def ref_tokenize(text: str) -> list[str]:
    """Reference tokenizer written from the contract (not imported)."""
    return [t for t in _SEP.split(text.translate(_LOWER)) if t]


def base_vocab() -> list[str]:
    """Zipf ranks first (hot terms, then the tail), then the terms whose
    df the generator controls: planted, rare, and the one-doc term."""
    return list(HOT) + [f"w{i:04d}" for i in range(N_TAIL)] + list(PLANTED) + [
        f"r{i:04d}" for i in range(N_RARE)
    ] + [RARE_TERM]


@dataclass
class Corpus:
    """Generated pages plus their ground-truth token ids (CSR layout)."""

    doc_ids: np.ndarray  # int64
    texts: list
    html: list
    langs: np.ndarray
    tok_ids: np.ndarray  # int32, concatenated per doc
    offsets: np.ndarray  # int64, len n + 1
    vocab: list  # id -> term; shared by every segment of one run

    def __len__(self) -> int:
        return len(self.doc_ids)

    def doc_lens(self) -> np.ndarray:
        return np.diff(self.offsets)

    def to_arrow(self):
        import pyarrow as pa

        ids = self.doc_ids
        n = len(ids)
        cats = CATEGORIES[ids % len(CATEGORIES)]
        urls = [f"https://site{i % 97}.example/{c}/page-{i}.html" for i, c in zip(ids.tolist(), cats.tolist())]
        return pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "url": pa.array(urls, pa.string()),
                "warc_ts": pa.array(EPOCH_US + ids * 37_000_000, pa.timestamp("us", tz="UTC")),
                "html": pa.array(self.html, pa.binary()),
                "text": pa.array(self.texts, pa.string()),
                "lang": pa.array(self.langs[:n].tolist(), pa.string()),
            }
        )


def concat(parts: list) -> Corpus:
    offs, base = [np.zeros(1, np.int64)], 0
    for p in parts:
        offs.append(p.offsets[1:] + base)
        base += int(p.offsets[-1])
    return Corpus(
        np.concatenate([p.doc_ids for p in parts]),
        [t for p in parts for t in p.texts],
        [h for p in parts for h in p.html],
        np.concatenate([p.langs for p in parts]),
        np.concatenate([p.tok_ids for p in parts]),
        np.concatenate(offs),
        parts[0].vocab,
    )


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _html_of(words: list, rng: np.random.Generator, malformed: bool) -> bytes:
    title = _escape(" ".join(words[:3]))
    body, pos = [], min(3, len(words))
    steps = rng.integers(5, 40, size=len(words) // 5 + 2)
    junk = rng.integers(0, len(_JUNK), size=len(steps))
    coin = rng.random(len(steps))
    j = 0
    while pos < len(words):
        body.append(f"<p id='c{j}'>{_escape(' '.join(words[pos:pos + int(steps[j])]))}</p>")
        if coin[j] < 0.4:
            body.append(_JUNK[junk[j]])
        pos += int(steps[j])
        j += 1
    if malformed:
        body.append("<malformed attr=>")
    return (
        "<html>\n<head><title>" + title + "</title>\n<script>if (a < b) { go(); }</script></head>\n<body>\n"
        + "\n  ".join(body) + "\n</body></html>"
    ).encode("utf-8")


def make_corpus(seed: int, n: int, id_base: int = 0, stream: int = 0, edges: bool = True,
                vocab: list | None = None) -> Corpus:
    """n regular docs (ids id_base..) plus, with edges=True, the six
    FIXTURES edge rows. `stream` separates independent draws of one
    seed (base corpus, append segments, warm-up corpus)."""
    rng = np.random.default_rng([seed, stream])
    vocab = base_vocab() if vocab is None else vocab
    n_zipf = len(HOT) + N_TAIL
    lens = np.clip(rng.lognormal(4.2, 0.7, size=n), 10, 800).astype(np.int64)
    total = int(lens.sum())
    ranks = rng.zipf(1.25, size=total) - 1
    over = ranks >= n_zipf
    ranks[over] = rng.integers(0, n_zipf, size=int(over.sum()))
    gidx = np.arange(id_base, id_base + n)
    # planted terms: term j lands in docs with global index % 8(j+1) == j
    plant_doc, plant_term = [], []
    for j in range(len(PLANTED)):
        d = np.flatnonzero(gidx % (8 * (j + 1)) == j)
        plant_doc.append(d)
        plant_term.append(np.full(len(d), n_zipf + j))
    if stream == 0 and edges:
        # rare terms: r{i} in 1 + i % 3 docs; zyzzyva in exactly doc 7
        r = np.arange(N_RARE)
        reps = 1 + r % 3
        plant_doc.append(rng.integers(0, n, size=int(reps.sum())))
        plant_term.append(np.repeat(n_zipf + len(PLANTED) + r, reps))
        plant_doc.append(np.array([min(7, n - 1)]))
        plant_term.append(np.array([n_zipf + len(PLANTED) + N_RARE]))
    pd_ = np.concatenate(plant_doc)
    pt = np.concatenate(plant_term)
    # splice planted tokens into each doc at a random position
    order = np.argsort(pd_, kind="stable")
    pd_, pt = pd_[order], pt[order]
    extra = np.bincount(pd_, minlength=n)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(lens + extra, out=offsets[1:])
    tok = np.empty(int(offsets[-1]), np.int32)
    src_off = np.concatenate([[0], np.cumsum(lens)])
    ins_pos = (rng.random(len(pd_)) * (lens[pd_] + 1)).astype(np.int64)
    p_start = np.searchsorted(pd_, np.arange(n + 1))
    for i in range(n):
        seg = ranks[src_off[i]:src_off[i + 1]]
        a, b = p_start[i], p_start[i + 1]
        if a == b:
            tok[offsets[i]:offsets[i + 1]] = seg
        else:
            tok[offsets[i]:offsets[i + 1]] = np.insert(seg, ins_pos[a:b], pt[a:b])
    # surface forms: case variants, trailing punctuation, separator junk
    vocab_arr = np.array(vocab, dtype=object)
    words = vocab_arr[tok]
    u = rng.random(len(tok))
    cap = u < 0.06
    upper = (u >= 0.06) & (u < 0.08)
    words[cap] = [w.capitalize() for w in words[cap]]
    words[upper] = [w.upper() for w in words[upper]]
    u = rng.random(len(tok))
    words[u < 0.024] = words[u < 0.024] + ","
    punct = (u >= 0.024) & (u < 0.04)
    words[punct] = words[punct] + "."
    junk = rng.random(len(tok)) < 0.01
    words[junk] = words[junk] + np.where(rng.random(int(junk.sum())) < 0.5, " &", " ->")
    texts = [" ".join(words[offsets[i]:offsets[i + 1]]) for i in range(n)]
    hrng = np.random.default_rng([seed, stream, 1])
    html = [_html_of(t.split(" "), hrng, (id_base + i) % 13 == 0) for i, t in enumerate(texts)]
    corpus = Corpus(
        np.arange(id_base, id_base + n, dtype=np.int64), texts, html,
        LANGS[(id_base + np.arange(n)) % len(LANGS)], tok, offsets, vocab,
    )
    if edges:
        corpus = concat([corpus, _edge_rows(id_base + n, vocab, hrng)])
    return corpus


def _edge_rows(id_base: int, vocab: list, rng: np.random.Generator) -> Corpus:
    index = {t: i for i, t in enumerate(vocab)}
    ids, offs = [], [0]
    for text in EDGE_TEXTS:
        for t in ref_tokenize(text):
            if t not in index:
                index[t] = len(vocab)
                vocab.append(t)
            ids.append(index[t])
        offs.append(len(ids))
    n = len(EDGE_TEXTS)
    return Corpus(
        np.arange(id_base, id_base + n, dtype=np.int64), list(EDGE_TEXTS),
        [_html_of(t.split(" ") if t else [], rng, False) for t in EDGE_TEXTS],
        LANGS[(id_base + np.arange(n)) % len(LANGS)],
        np.array(ids, np.int32), np.array(offs, np.int64), vocab,
    )


def postings(corpus: Corpus, term_ids) -> dict:
    """term id -> {doc_id: tf} for the given terms (ground truth)."""
    term_ids = np.asarray(sorted(set(term_ids)), np.int32)
    out = {int(t): {} for t in term_ids}
    if not len(term_ids):
        return out
    hit = np.flatnonzero(np.isin(corpus.tok_ids, term_ids))
    if not len(hit):
        return out
    doc_idx = np.searchsorted(corpus.offsets, hit, side="right") - 1
    key = doc_idx.astype(np.int64) * (len(corpus.vocab) + 1) + corpus.tok_ids[hit]
    uk, cnt = np.unique(key, return_counts=True)
    docs = corpus.doc_ids[uk // (len(corpus.vocab) + 1)]
    for d, t, c in zip(docs.tolist(), (uk % (len(corpus.vocab) + 1)).tolist(), cnt.tolist()):
        out[t][d] = c
    return out


def doc_freqs(corpus: Corpus) -> np.ndarray:
    doc_idx = np.repeat(np.arange(len(corpus)), corpus.doc_lens())
    key = np.unique(doc_idx.astype(np.int64) * (len(corpus.vocab) + 1) + corpus.tok_ids)
    return np.bincount(key % (len(corpus.vocab) + 1), minlength=len(corpus.vocab))


# ------------------------------------------------------------------ queries
SHAPES = ("rare", "hot", "or", "neg", "and", "absent", "mixed")
# Fixed shape order: every consumer (warm-up, serving pool, probes,
# batches) restarts it, so the mix is the same whatever the seed or run
# length. The seed picks only the terms.
CYCLE = ("or", "rare", "neg", "hot", "and", "mixed", "or", "absent", "neg", "rare")
BATCH_CYCLE = tuple(s for s in CYCLE if s != "and")


@dataclass(frozen=True)
class Query:
    text: str
    mode: str  # "or" | "and"
    shape: str


class QueryGen:
    """Unique query strings by shape. Every string it ever returns is
    distinct, so a string's first use in a session is a plan-memo miss."""

    def __init__(self, corpus: Corpus, seed: int, stream: int = 7):
        self.rng = np.random.default_rng([seed, stream])
        df = doc_freqs(corpus)
        n = len(corpus)
        terms = np.array(corpus.vocab, dtype=object)
        ascii_ = np.array([t.isascii() for t in corpus.vocab])
        self.mid = terms[ascii_ & (df >= max(2, n // 200)) & (df <= n // 20)]
        self.rare = terms[ascii_ & (df >= 1) & (df <= 3)]
        self.hot = np.array(HOT, dtype=object)
        self.seen: set = set()

    def _pick(self, arr, k=1):
        return [str(x) for x in arr[self.rng.integers(0, len(arr), size=k)]]

    def _mixcase(self, term: str) -> str:
        flips = self.rng.random(len(term)) < 0.5
        out = "".join(c.upper() if f else c for c, f in zip(term, flips))
        return out if out != term else term.upper()

    def _one(self, shape: str) -> Query:
        if shape == "rare":
            return Query(self._pick(self.rare)[0], "or", shape)
        if shape == "hot":
            return Query(f"{self._mixcase(self._pick(self.hot)[0])} {self._pick(self.rare)[0]}", "or", shape)
        if shape == "or":
            k = 2 + int(self.rng.integers(0, 2))
            return Query(" ".join(self._pick(self.mid, k)), "or", shape)
        if shape == "neg":
            a, b = self._pick(self.mid, 2)
            return Query(f"{a} -{b}", "or", shape)
        if shape == "and":
            return Query(" ".join(self._pick(self.mid, 2)), "and", shape)
        if shape == "absent":
            letters = self.rng.integers(0, 26, size=7)
            return Query("xq" + "".join(chr(97 + int(c)) for c in letters), "or", shape)
        if shape == "mixed":
            return Query(self._mixcase(self._pick(self.mid)[0]), "or", shape)
        raise ValueError(shape)

    def take(self, n: int, cycle: tuple = CYCLE) -> list:
        out = []
        i = 0
        while len(out) < n:
            q = self._one(cycle[i % len(cycle)])
            i += 1
            key = (q.text, q.mode)
            if key in self.seen:
                continue
            self.seen.add(key)
            out.append(q)
        return out


def serve_stream(length: int, seed: int, n_shapes: int = len(CYCLE), s: float = 1.0) -> np.ndarray:
    """Pool indices for the serving loop, pool[i] having shape
    CYCLE[i % n_shapes]. Even steps take the next unused entry (its first
    use: a cold query). Odd steps repeat a used entry (warm): the shape
    comes from the fixed cycle, and among used entries of that shape the
    pick has Zipf popularity by first-use rank. So cold and warm samples
    both keep the cycle's shape mix whatever the seed."""
    rng = np.random.default_rng([seed, 11])
    out = np.empty(length, np.int64)
    used = 0
    for step in range(length):
        if step % 2 == 0 or used == 0:
            out[step] = used
            used += 1
            continue
        c = (step // 2) % n_shapes
        m = (used - c + n_shapes - 1) // n_shapes  # used entries of shape c
        if m <= 0:
            c, m, stride = 0, used, 1
        else:
            stride = n_shapes
        p = 1.0 / np.arange(1, m + 1) ** s
        out[step] = c + stride * int(rng.choice(m, p=p / p.sum()))
    return out
