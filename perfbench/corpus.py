"""Seeded Zipf web-text corpus and query sets for the benchmark.

Everything here is a pure function of ``(seed, n_docs, vocab)``: the
engine only ever sees the generated rows.

Doc ``d`` has ``dl = 8 + floor(112 * (d mod run) / run) + (h(d) mod 8)``
tokens with ``run = n_docs / 16``, so doc length ramps inside 16
contiguous doc-id runs (the length/quality-ordered docID layout of web
indexes). Each drawn term repeats ``r(d)`` in {1, 1, 2, 3} times
(bursty tf). Token ``j`` is ``"w" + floor(V ** u)`` with
``u = h(d, floor(j / r), seed) / 2**30``: a log-uniform, roughly Zipf
vocabulary.

``layout="scattered"`` keeps the term draws but takes the length ramp
from a hashed position instead of the doc id, so every posting block
mixes short and long docs and block maxima carry no doc-id locality.
"""

from __future__ import annotations

import numpy as np

from splade_spark.synth import QID_STRIDE

N_RUNS = 16
SERVE_QUERIES = 100
SERVE_TERM_COUNTS = (1, 2, 2, 3, 3, 3, 4, 4, 5)
HEAD_QUERY_EVERY, HEAD_QUERY_TERMS = 50, 5
SPARSE_QUERIES = 512
DENSE_QUERIES = 192
DENSE_TOP_TERMS = 50
PROBE_QUERIES = 20
# salts that keep the independent hash streams apart
_DL, _REP, _TOK, _QRY, _POS = 1, 2, 3, 4, 5
LAYOUTS = ("clustered", "scattered")


def mix(*parts) -> np.ndarray:
    """splitmix64 finalizer over a combination of integer arrays."""
    with np.errstate(over="ignore"):
        h = np.uint64(0x9E3779B97F4A7C15)
        for p in parts:
            h = (h ^ np.asarray(p).astype(np.uint64)) * np.uint64(0xBF58476D1CE4E5B9)
            h = h ^ (h >> np.uint64(31))
        h = (h ^ (h >> np.uint64(30))) * np.uint64(0x94D049BB133111EB)
        h = (h ^ (h >> np.uint64(27))) * np.uint64(0xBF58476D1CE4E5B9)
        return h ^ (h >> np.uint64(31))


def h30(*parts) -> np.ndarray:
    """30-bit hash as int64."""
    return (mix(*parts) >> np.uint64(34)).astype(np.int64)


class Corpus:
    """Token ids per doc plus the derived statistics the query sets use."""

    def __init__(self, seed: int, n_docs: int, vocab: int, layout: str = "clustered"):
        if layout not in LAYOUTS:
            raise ValueError(f"unknown layout {layout!r}")
        self.seed, self.n_docs, self.vocab = seed, n_docs, vocab
        d = np.arange(n_docs, dtype=np.int64)
        pos = d if layout == "clustered" else h30(d, _POS, seed) % n_docs
        run = max(n_docs // N_RUNS, 1)
        dl = 8 + (112 * (pos % run)) // run + h30(d, _DL, seed) % 8
        rep = np.array([1, 1, 2, 3], dtype=np.int64)[h30(d, _REP, seed) % 4]
        self.offsets = np.concatenate([[0], np.cumsum(dl)])
        doc_of = np.repeat(d, dl)
        j = np.arange(len(doc_of), dtype=np.int64) - self.offsets[doc_of]
        u = h30(doc_of, j // rep[doc_of], _TOK, seed) / float(1 << 30)
        self.tokens = np.floor(np.power(float(vocab), u)).astype(np.int64)
        self.dl = dl
        # distinct (doc, term) pairs = postings; df per term id
        pair = np.unique(doc_of * (vocab + 1) + self.tokens)
        self.post_doc, self.post_term = pair // (vocab + 1), pair % (vocab + 1)
        self.df = np.bincount(self.post_term, minlength=vocab + 1)

    def texts(self) -> list[str]:
        words = np.array([f"w{i}" for i in range(self.vocab + 1)], dtype=object)
        toks = words[self.tokens]
        o = self.offsets
        return [" ".join(toks[o[i] : o[i + 1]]) for i in range(self.n_docs)]

    def doc_terms(self, d: int) -> np.ndarray:
        return np.unique(self.tokens[self.offsets[d] : self.offsets[d + 1]])

    def shape(self, texts: list[str]) -> dict:
        present = self.df[self.df > 0]
        return {
            "docs": self.n_docs,
            "text_bytes": sum(len(t) for t in texts),
            "vocabulary": int(len(present)),
            "median_df": float(np.median(present)),
            "top_df": int(present.max()),
            "postings": int(len(self.post_doc)),
        }


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, _QRY, stream])


def _text(term_ids) -> str:
    return " ".join(f"w{int(t)}" for t in term_ids)


def serve_queries(c: Corpus, n: int = SERVE_QUERIES) -> list[tuple[int, str]]:
    """(qid, text): 1-5 distinct terms drawn from a QID_STRIDE-th source
    doc; qid is the source doc id. Term counts cycle through
    SERVE_TERM_COUNTS, so every seed serves the same mix of query
    lengths. Every HEAD_QUERY_EVERY-th query is instead the doc's
    HEAD_QUERY_TERMS highest-df terms: too many blocks for MaxScore's
    driver-side answer at this corpus size, so each run also exercises
    its cluster path."""
    rng = _rng(c.seed, 1)
    sources = np.arange(0, c.n_docs, QID_STRIDE)
    picked = np.sort(rng.choice(sources, size=min(n, len(sources)), replace=False))
    out = []
    for i, d in enumerate(picked.tolist()):
        terms = c.doc_terms(d)
        m = min(SERVE_TERM_COUNTS[i % len(SERVE_TERM_COUNTS)], len(terms))
        drawn = rng.choice(terms, size=m, replace=False)
        if i % HEAD_QUERY_EVERY == HEAD_QUERY_EVERY // 2:
            drawn = terms[np.argsort(-c.df[terms], kind="stable")[:HEAD_QUERY_TERMS]]
        out.append((d, _text(drawn)))
    return out


def sparse_queries(c: Corpus, n: int = SPARSE_QUERIES) -> list[tuple[int, str]]:
    """2 terms with df in (0.2%, 5%] of N plus 2 with df in (5, 0.2% N]."""
    rng = _rng(c.seed, 2)
    lo_cut, hi_cut = 0.002 * c.n_docs, 0.05 * c.n_docs
    mid = np.nonzero((c.df > lo_cut) & (c.df <= hi_cut))[0]
    rare = np.nonzero((c.df > 5) & (c.df <= lo_cut))[0]
    if len(mid) < 2 or len(rare) < 2:
        raise ValueError("corpus has fewer than two terms in a sparse df band")
    return [
        (
            q,
            _text(
                np.concatenate(
                    [
                        rng.choice(mid, size=2, replace=False),
                        rng.choice(rare, size=2, replace=False),
                    ]
                )
            ),
        )
        for q in range(n)
    ]


def dense_queries(c: Corpus, n: int = DENSE_QUERIES) -> list[tuple[int, str]]:
    """3 of the DENSE_TOP_TERMS highest-df terms per query."""
    rng = _rng(c.seed, 3)
    top = np.argsort(-c.df, kind="stable")[:DENSE_TOP_TERMS]
    return [(q, _text(rng.choice(top, size=3, replace=False))) for q in range(n)]


def probe_queries(c: Corpus, n: int = PROBE_QUERIES) -> list[tuple[int, str]]:
    """Fixed post-build probes: the first n serve queries."""
    return serve_queries(c)[:n]


def query_shape(c: Corpus, queries: list[tuple[int, str]]) -> dict:
    """Terms per query and candidate pairs (sum of df over query terms)."""
    n_terms = [len(t.split()) for _, t in queries]
    pairs = sum(int(c.df[int(w[1:])]) for _, t in queries for w in t.split())
    return {
        "queries": len(queries),
        "terms_per_query": float(np.mean(n_terms)),
        "candidate_pairs": pairs,
    }
