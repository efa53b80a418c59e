"""Seeded benchmark inputs: corpora, query mixes and their digest.

Everything here is a pure function of the workload seed and the sizes in
:class:`Sizes`; the engine only ever sees the files and query strings this
module produces. The generator is the benchmark's own (not
``sources.corpus``), so a change to the package cannot change its inputs.

Two corpora per run:

* the *base* corpus — source-code-like documents: 35% of tokens from 30
  high-frequency keywords, the rest from a 50 k-identifier Zipf vocabulary,
  lognormal lengths (median 80 tokens, clipped to 5..5000). It is served
  and searched.
* the *ingest* stream — short documents over a 14-term vocabulary (10
  keywords and 4 identifiers). It is built, appended to and compacted.
  Its vocabulary is narrow on purpose: a tiered merge costs ~5-10 ms per
  (term, salt) group on a 4-CPU host, so one merge over a 50 k-term
  vocabulary takes minutes (see NOTES.md).

Terms are ranked by (document frequency desc, term asc), so ties never
reorder between runs.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

KEYWORDS = ("def return import for if else while class struct fn func let "
            "const static void int select from where join public private "
            "match impl type var range len print true false null").split()
VOCAB_SIZE = 50_000
INGEST_KEYWORDS = 10
INGEST_IDENTS = 4


@dataclass(frozen=True)
class Sizes:
    base_docs: int = 6_000
    base_segments: int = 4
    ingest_docs: int = 600          # initial ingest-index build
    ingest_segments: int = 6        # + 2 appends == 8 L0 -> 1 merge
    rounds: int = 4                 # one append each; the 2nd merges
    append_docs: int = 100
    reload_readers: int = 24        # fresh reads after each commit
    hot_ranks: tuple = (30, 1000)   # df-rank window of the hot term pool
    cold_min_rank: int = 4096       # cold pool: df rank >= this, df >= 1
    serve_queries: int = 6000
    batch_size: int = 512
    serve_batches: int = 4
    spark_searches: int = 12        # first `gate_queries` double as gate
    spark_warmup: int = 1
    spark_warm_batch: int = 64      # untimed, before the first round
    gate_queries: int = 3
    ingest_gate_queries: int = 1


SMOKE = Sizes(base_docs=600, ingest_docs=120, append_docs=20,
              reload_readers=2, hot_ranks=(5, 60), cold_min_rank=200,
              serve_queries=300, batch_size=32, serve_batches=2,
              spark_searches=3, spark_warmup=1, spark_warm_batch=8,
              gate_queries=2, ingest_gate_queries=1)


def _tokens(rng, n_docs: int, median_len: float, n_idents: int,
            n_keywords: int = len(KEYWORDS)):
    """(token ids per position, per-doc offsets); ids < n_idents are
    identifiers ``ident_<id>``, ids >= VOCAB_SIZE are the first
    ``n_keywords`` keywords."""
    lens = np.clip(rng.lognormal(np.log(median_len), 1.0, n_docs),
                   5, 5000).astype(np.int64)
    total = int(lens.sum())
    ranks = np.arange(1, n_idents + 1, dtype=np.float64)
    cum = np.cumsum(1.0 / ranks)
    cum /= cum[-1]
    idents = np.minimum(np.searchsorted(cum, rng.random_sample(total)),
                        n_idents - 1)
    kws = rng.randint(0, n_keywords, total) + VOCAB_SIZE
    off = np.r_[0, np.cumsum(lens)]
    doc = np.repeat(np.arange(n_docs), lens)
    pos = np.arange(total) - off[doc]
    n_kw = np.maximum(1, (lens * 0.35).astype(np.int64))
    tok = np.where(pos < n_kw[doc], kws, idents)
    tok = tok[np.lexsort((rng.random_sample(total), doc))]   # shuffle in doc
    return tok, off


_NAMES = np.array([f"ident_{i}" for i in range(VOCAB_SIZE)] + KEYWORDS,
                  dtype=object)


def _texts(tok: np.ndarray, off: np.ndarray) -> list[str]:
    words = _NAMES[tok]
    return [" ".join(words[off[i]:off[i + 1]]) for i in range(len(off) - 1)]


def _ranked_terms(tok: np.ndarray, off: np.ndarray):
    """Terms with df >= 1 ordered by (df desc, term asc), and their dfs."""
    doc = np.repeat(np.arange(len(off) - 1), np.diff(off))
    pairs = np.unique(doc.astype(np.int64) * (VOCAB_SIZE + 64) + tok)
    df = np.bincount(pairs % (VOCAB_SIZE + 64), minlength=len(_NAMES))
    present = np.flatnonzero(df)
    names = _NAMES[present].astype(str)
    order = np.lexsort((names, -df[present]))
    return names[order], df[present][order]


def _queries(rng, pool: np.ndarray, n: int) -> list[str]:
    """n queries of 1-3 terms drawn uniformly from ``pool`` (a repeated
    draw is dropped, so a query's terms are distinct)."""
    sizes = rng.randint(1, 4, n)
    picks = rng.randint(0, len(pool), (n, 3))
    return [" ".join(pool[list(dict.fromkeys(row[:k]))])
            for row, k in zip(picks, sizes)]


@dataclass
class Inputs:
    base_keys: np.ndarray
    base_texts: list[str]
    base_tokens: int
    ingest_ids: np.ndarray
    ingest_texts: list[str]         # initial build, then appends in order
    serve_warmup: list[str]
    serve_queries: list[str]
    serve_batches: list[list[str]]
    spark_queries: list[str]
    spark_batches: list[list[str]]  # one per round
    fresh_queries: list[list[str]]  # per append commit, per reader
    ingest_gate: list[str]
    spark_warm_batch: list[str]
    hot_pool: int
    cold_pool: int

    def digest(self) -> str:
        h = hashlib.sha256()
        for part in (self.base_texts, self.ingest_texts, self.serve_warmup,
                     self.serve_queries, self.spark_queries,
                     self.ingest_gate, self.spark_warm_batch,
                     *self.serve_batches,
                     *self.spark_batches, *self.fresh_queries):
            h.update("\x1e".join(part).encode())
            h.update(b"\x1d")
        h.update(self.base_keys.tobytes())
        h.update(self.ingest_ids.tobytes())
        return h.hexdigest()


def make_inputs(seed: int, workload: str, sizes: Sizes) -> Inputs:
    """Inputs of one run. The corpora depend on the seed only; the query
    mixes on the seed and the workload (hot or cold term pool)."""
    rng = np.random.RandomState(seed)
    tok, off = _tokens(rng, sizes.base_docs, 80.0, VOCAB_SIZE)
    base_texts = _texts(tok, off)
    itok, ioff = _tokens(rng, sizes.ingest_docs
                         + sizes.rounds * sizes.append_docs, 30.0,
                         INGEST_IDENTS, INGEST_KEYWORDS)
    ingest_texts = _texts(itok, ioff)

    terms, _ = _ranked_terms(tok, off)
    hot = terms[sizes.hot_ranks[0]:sizes.hot_ranks[1]]
    cold = terms[sizes.cold_min_rank:]
    pool = hot if workload == "serve-hot" else cold
    qrng = np.random.RandomState([seed, 1 if workload == "serve-hot" else 2])
    if workload == "serve-hot":
        # every hot term once, so the measured loop runs on a warm LRU
        warm = [" ".join(hot[i:i + 3]) for i in range(0, len(hot), 3)]
    else:
        warm = _queries(qrng, pool, sizes.batch_size // 16)
    iterms, _ = _ranked_terms(itok, ioff)
    frng = np.random.RandomState([seed, 3])
    return Inputs(
        base_keys=np.arange(sizes.base_docs, dtype=np.int64),
        base_texts=base_texts,
        base_tokens=int(off[-1]),
        ingest_ids=np.arange(len(ingest_texts), dtype=np.int64),
        ingest_texts=ingest_texts,
        serve_warmup=warm,
        serve_queries=_queries(qrng, pool, sizes.serve_queries),
        serve_batches=[_queries(qrng, pool, sizes.batch_size)
                       for _ in range(sizes.serve_batches)],
        spark_queries=_queries(qrng, pool, sizes.spark_warmup
                               + sizes.spark_searches),
        spark_batches=[_queries(qrng, pool, sizes.batch_size)
                       for _ in range(sizes.rounds)],
        fresh_queries=[_queries(frng, iterms, sizes.reload_readers)
                       for _ in range(sizes.rounds)],
        ingest_gate=_queries(frng, iterms, sizes.ingest_gate_queries),
        spark_warm_batch=_queries(qrng, pool, sizes.spark_warm_batch),
        hot_pool=len(hot),
        cold_pool=len(cold),
    )
