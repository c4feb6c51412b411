"""Seeded input generators for the benchmark: corpus and query streams.

Everything here is a pure function of the seed (numpy ``default_rng``),
so the same seed gives byte-identical corpora and query streams.  The
seed makes the corpus: its vocabulary words and its documents.  The
shape of the traffic -- the class of every request, the vocabulary rank
of every term, k, offset, the popularity rank of every head request --
is the same for every seed, and the seed's corpus supplies the words.
Two seeds then differ in content, not in how much work their traffic
asks for, which keeps one workload's figures comparable across seeds.

Corpus rows have the shape of ``katta_spark.corpus.synthetic_corpus``
``(repo, path, commit, lang, content)``.  The stock generator draws its
content from ~60 fixed terms; this one draws identifiers from a seeded
long-tail vocabulary with a Zipf law, so document frequency spans hot
terms (in more than half the docs), a mid band and a rare tail (in under
0.1% of docs) — the spread WAND pruning and posting sizes depend on.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np

from katta_spark.corpus import EXT, LANGS

#: tokens per assignment line: ``a = b(c, d)``
WORDS_PER_LINE = 4
#: identifier vocabulary size and mean assignment lines per document.
#: Assumed, not measured: 5,000 words over 2,048 documents give a rare
#: tail (df < 0.1%) of thousands of terms next to a few hot ones.
VOCAB = 5000
MEAN_LINES = 14.0
#: Zipf exponent of term frequency.  Assumed: ~1, Zipf's law for word
#: frequencies; 1.07 puts a few terms in more than half the documents.
VOCAB_ZIPF_S = 1.07
#: popularity law of the head stream (s ~ 1.1, as specified)
HEAD_ZIPF_S = 1.1
#: seed of the traffic's shape (see the module doc)
SHAPE_SEED = 4

_CONS = "bdfgklmnprstvzhjcwxyq"
_VOWELS = "aeiou"

#: query classes.  No source gives their shares, so each class takes
#: an equal share: requests cycle through them in this order, and every
#: stream and every head-pool rank range holds the exact mix.
CLASSES = ("topk_or", "topk_and", "count", "query", "phrase", "facet",
           "sorted")
#: page size and page offset, drawn uniformly.  Assumed: a first page
#: of the usual 10 or 20 hits, or a deeper one.
K_CHOICES = (5, 10, 20, 50)
OFFSET_CHOICES = (0, 10, 20)


def vocabulary(seed: int, size: int) -> list[str]:
    """``size`` distinct lowercase consonant-vowel words, most frequent
    first.  Letters only, no camelCase, no ``_``: the code tokenizer
    emits each one as exactly one term, so generated frequencies are the
    index's frequencies.  The syllable count of the word at each rank is
    the same for every seed (a hot word's length sets much of the
    content's size); the seed picks the syllables."""
    lengths = np.random.default_rng(1).integers(2, 5, size)
    rng = np.random.default_rng([seed, 1])
    sylls = [c + v for c in _CONS for v in _VOWELS]
    out: list[str] = []
    seen: set[str] = set()
    for n in lengths:
        w = ""
        while not w or w in seen:
            w = "".join(sylls[i] for i in rng.integers(0, len(sylls), n))
        seen.add(w)
        out.append(w)
    return out


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


@dataclass
class Corpus:
    seed: int
    vocab: list[str]
    #: per-doc columns, doc i has global doc_id i
    repo: list[str]
    path: list[str]
    commit: list[str]
    lang: list[str]
    content: list[str]
    #: per-doc assignment lines as word-index arrays (phrase sources)
    lines: list[np.ndarray] = field(repr=False)

    @property
    def n_docs(self) -> int:
        return len(self.content)

    def frame(self, lo: int = 0, hi: int | None = None):
        """pandas frame of docs [lo, hi), doc i carrying the
        caller-assigned id ``i - lo``."""
        import pandas as pd

        hi = self.n_docs if hi is None else hi
        return pd.DataFrame({
            "doc_id": np.arange(hi - lo, dtype=np.int64),
            "repo": self.repo[lo:hi], "path": self.path[lo:hi],
            "commit": self.commit[lo:hi], "lang": self.lang[lo:hi],
            "content": self.content[lo:hi],
        })

    def digest(self) -> str:
        h = hashlib.sha256()
        for cols in zip(self.repo, self.path, self.commit, self.lang,
                        self.content):
            h.update("\x1f".join(cols).encode())
            h.update(b"\x1e")
        return h.hexdigest()


def _body(vocab: list[str], words: np.ndarray, has_import: bool,
          ret_word: int | None) -> str:
    parts = ["import os\nimport sys\n"] if has_import else []
    parts.append(f"def {vocab[words[0]]}({vocab[words[1]]}):\n")
    w = words[2:]
    for j in range(0, len(w) - WORDS_PER_LINE + 1, WORDS_PER_LINE):
        a, b, c, d = (vocab[x] for x in w[j:j + WORDS_PER_LINE])
        parts.append(f"    {a} = {b}({c}, {d})\n")
    if ret_word is not None:
        parts.append(f"    return {vocab[ret_word]}\n")
    return "".join(parts)


def make_corpus(seed: int, n_docs: int) -> Corpus:
    vocab = vocabulary(seed, VOCAB)
    rng = np.random.default_rng([seed, 2])
    n_lines = np.clip(
        rng.lognormal(np.log(MEAN_LINES), 0.5, n_docs).astype(int), 2, 80)
    n_words = 2 + n_lines * WORDS_PER_LINE
    p = zipf_weights(VOCAB, VOCAB_ZIPF_S)
    draws = rng.choice(VOCAB, int(n_words.sum()), p=p)
    has_import = rng.random(n_docs) < 0.6
    has_return = rng.random(n_docs) < 0.7
    ret_words = rng.choice(VOCAB, n_docs, p=p)
    lang_ix = rng.integers(0, len(LANGS), n_docs)
    repo_ix = rng.integers(0, 400, n_docs)
    repo, path, commit, lang, content, lines = [], [], [], [], [], []
    off = 0
    for i in range(n_docs):
        w = draws[off:off + n_words[i]]
        off += n_words[i]
        lg = LANGS[lang_ix[i]]
        r = f"org{repo_ix[i] % 17}/repo{repo_ix[i]}"
        p = f"src/pkg{i % 31}/mod{i}.{EXT[lg]}"
        repo.append(r)
        path.append(p)
        commit.append(hashlib.sha1(f"{seed}:{r}:{p}".encode()).hexdigest())
        lang.append(lg)
        content.append(_body(vocab, w, bool(has_import[i]),
                             int(ret_words[i]) if has_return[i] else None))
        lines.append(w[2:].reshape(-1, WORDS_PER_LINE))
    return Corpus(seed, vocab, repo, path, commit, lang, content, lines)


# ------------------------------------------------------------ queries


@dataclass(frozen=True)
class Query:
    cls: str
    terms: tuple[str, ...]
    k: int = 10
    offset: int = 0
    #: Lucene string for the ``query`` and ``phrase`` classes
    q: str = ""

    @property
    def key(self) -> tuple:
        return (self.cls, self.terms, self.k, self.offset, self.q)


class QueryGen:
    """Draws queries of the fixed class mix.  Terms are df-weighted:
    drawn with the corpus's own Zipf law, so hot terms dominate queries
    the way they dominate the index."""

    def __init__(self, corpus: Corpus, rng: np.random.Generator):
        self.c = corpus
        self.rng = rng
        self.p = zipf_weights(len(corpus.vocab), VOCAB_ZIPF_S)
        self.i = 0

    def _terms(self, n: int) -> tuple[str, ...]:
        ix = self.rng.choice(len(self.p), n, p=self.p)
        return tuple(sorted({self.c.vocab[i] for i in ix}))

    def one(self) -> Query:
        rng = self.rng
        cls = CLASSES[self.i % len(CLASSES)]
        self.i += 1
        k = int(K_CHOICES[rng.integers(len(K_CHOICES))])
        off = int(OFFSET_CHOICES[rng.integers(len(OFFSET_CHOICES))])
        if cls == "phrase":
            d = int(rng.integers(self.c.n_docs))
            ln = self.c.lines[d]
            # one draw whatever len(ln) is, so the draws after it stay
            # aligned across corpora
            row = ln[int(rng.random() * len(ln))]
            j = int(rng.integers(WORDS_PER_LINE - 1))
            a, b = self.c.vocab[row[j]], self.c.vocab[row[j + 1]]
            return Query(cls, (a, b), k, 0, f'"{a} {b}"')
        if cls == "query":
            t = self._terms(3)
            while len(t) < 3:
                t = self._terms(3)
            a, b, c = (t[i] for i in rng.permutation(3))
            form = int(rng.integers(3))
            q = (f"({a} OR {b}) AND {c}", f"{a} AND ({b} OR {c})",
                 f"({a} OR {b}) -{c}")[form]
            return Query(cls, t, k, off, q)
        n = int(rng.integers(1, 4))
        t = self._terms(n)
        if cls in ("count", "facet"):
            return Query(cls, t, 0, 0)
        return Query(cls, t, k, off)


def tail_stream(corpus: Corpus, salt: int = 0):
    """Endless stream from a space far larger than any run draws;
    ``salt`` selects an independent stream over the same corpus."""
    g = QueryGen(corpus, np.random.default_rng([SHAPE_SEED, 3, salt]))
    while True:
        yield g.one()


def head_pool(corpus: Corpus, size: int) -> list[Query]:
    """Fixed pool of distinct queries, most popular first."""
    g = QueryGen(corpus, np.random.default_rng([SHAPE_SEED, 4]))
    seen: set = set()
    pool: list[Query] = []
    while len(pool) < size:
        q = g.one()
        while q.key in seen:  # redraw within the same class slot
            g.i -= 1
            q = g.one()
        seen.add(q.key)
        pool.append(q)
    return pool


def head_stream(pool: list[Query], salt: int = 0):
    """Endless Zipf stream over ``pool`` (rank 1 = pool[0])."""
    rng = np.random.default_rng([SHAPE_SEED, 5, salt])
    p = zipf_weights(len(pool), HEAD_ZIPF_S)
    while True:
        for i in rng.choice(len(pool), 4096, p=p):
            yield pool[i]


def head_share(pool_size: int, top: int) -> float:
    """Analytic share of requests that go to the ``top`` most popular
    pool entries."""
    return float(zipf_weights(pool_size, HEAD_ZIPF_S)[:top].sum())
