"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``(workload, seed)``: the corpus
(Zipf-distributed vocabulary, lognormal document lengths, ``lang``/``source``
or transcript metadata) and the query streams the client replays. The
program under test only ever sees the generated rows and query strings.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Shape:
    """Sizes and distributions of one workload's inputs."""

    n_docs: int
    vocab: int
    zipf_s: float  # corpus term-rank exponent
    doc_len: float  # median tokens per doc (lognormal, sigma 0.6)
    shard_size: int
    transcript: bool  # transcript rows (docids assignment) vs doc_id rows
    query_terms: tuple[int, int]  # terms per single query, inclusive range
    head_share: float  # share of single-query terms drawn from ranks < head
    head: int
    filter_share: float  # share of single queries with a metadata filter
    warmup: int  # untimed single queries (after one batch) before timing
    batch_size: int
    batch_terms: tuple[int, int]
    batch_rank_cap: int  # batch-query terms drawn from ranks < cap
    batch_share: float  # share of the measuring window spent on batches
    warm: bool  # the client calls warm_query_caches before serving
    check_singles: int  # single queries checked against the oracle
    check_batch_queries: int  # batch queries checked against the oracle
    # BM25_DRIVER_PATH_MAX_WORK for the run (None: the program's default).
    # Batches whose scoring work exceeds it take the cluster path.
    driver_work_limit: int | None = None


# Why each workload exists (BENCHMARK.json carries the one-line version).
SHAPES = {
    # Fits the driver cache: warm_query_caches preloads the whole index, so
    # single queries run on the driver path (driver top-k, the result frame
    # and its Spark jobs). Transcript rows get doc ids from docids, and the
    # vocabulary is small, so the build's work is mostly per token. Batches
    # of hot and mid-frequency queries do about twice driver_work_limit in
    # scoring work (sum of df over each query's terms), so search_batch
    # takes the cluster path; a single query stays far below it. The
    # program's default limit (1e8) would need batches that take tens of
    # seconds each on a 4-core host.
    "warm_head": Shape(
        n_docs=8_000, vocab=6_000, zipf_s=1.0, doc_len=35.0,
        shard_size=2_048, transcript=True, query_terms=(1, 6),
        head_share=0.0, head=0, filter_share=0.2, warmup=24,
        batch_size=200, batch_terms=(4, 8), batch_rank_cap=30,
        batch_share=0.35, warm=True, check_singles=16, check_batch_queries=24,
        driver_work_limit=2_000_000,
    ),
    # Larger than the driver cache: ~106k distinct terms (>100k), so
    # warm_query_caches declines and every query probes the dictionary,
    # shard metadata and blobs lazily through Spark; the build is
    # merge-bound. A share of query terms comes from the head of the
    # vocabulary, so terms sometimes hit the lazy caches and sometimes miss.
    # Batches stay small and on the driver path.
    "longtail": Shape(
        n_docs=5_000, vocab=220_000, zipf_s=0.45, doc_len=28.0,
        shard_size=16_384, transcript=False, query_terms=(2, 3),
        head_share=0.3, head=100, filter_share=0.1, warmup=10, batch_size=8,
        batch_terms=(2, 3), batch_rank_cap=220_000, batch_share=0.3,
        warm=False, check_singles=8, check_batch_queries=8,
    ),
}

# a few filters, repeated, as tenants and sources scope their queries
FILTERS = {
    True: (  # transcript rows
        {"role": "user"},
        {"tool": ["search", "code"]},
        {"role": ["assistant", "tool"]},
        {"role": "tool", "tool": "browser"},
    ),
    False: (
        {"lang": "en"},
        {"source": ["web", "chat"]},
        {"lang": ["fr", "de"], "source": "code"},
        {"lang": "es"},
    ),
}
_LANGS = np.array(["en", "fr", "de", "es"], dtype=object)
_LANG_P = np.array([0.55, 0.2, 0.15, 0.1])
_SOURCES = np.array(["web", "chat", "code"], dtype=object)
_ROLES = np.array(["user", "assistant", "tool"], dtype=object)
_TOOLS = np.array(["search", "code", "browser"], dtype=object)


def vocabulary(n: int) -> np.ndarray:
    """n distinct lowercase words, rank order (shortest first)."""
    words = []
    for r in range(n):
        r += 26 * 27  # at least three letters
        w = ""
        while r:
            w = chr(97 + r % 26) + w
            r //= 26
        words.append(w)
    return np.array(words, dtype=object)


class Zipf:
    """Term ranks drawn with P(rank r) proportional to 1 / (r + 2.7)^s."""

    def __init__(self, n: int, s: float):
        p = 1.0 / np.power(np.arange(n) + 2.7, s)
        self.cdf = np.cumsum(p) / p.sum()

    def draw(self, rng: np.random.Generator, size, cap: int | None = None):
        u = rng.random(size)
        if cap is not None:
            u *= self.cdf[cap - 1]
        return np.minimum(np.searchsorted(self.cdf, u), len(self.cdf) - 1)


@dataclass
class Inputs:
    """One run's corpus and its endless, seeded query streams."""

    shape: Shape
    corpus: pd.DataFrame
    text_bytes: int
    distinct_terms: int
    probe: str  # the first query served after the index is reopened
    singles: Iterator[tuple[str, int, dict | None]]  # (text, limit, filter)
    batches: Iterator[list[tuple[int, str]]]  # lists of (query_id, text)
    meta_fields: tuple[str, ...]  # indexed metadata columns


def _texts(rng, words, zipf, shape):
    lens = np.clip(
        np.rint(rng.lognormal(np.log(shape.doc_len), 0.6, shape.n_docs)), 1, 600
    ).astype(np.int64)
    ranks = zipf.draw(rng, int(lens.sum()))
    toks = words[ranks]
    texts = [" ".join(t) for t in np.split(toks, np.cumsum(lens)[:-1])]
    return texts, len(np.unique(ranks))


def _query(rng, words, zipf, terms, cap=None, head_share=0.0, head=0):
    n = int(rng.integers(terms[0], terms[1] + 1))
    ranks = zipf.draw(rng, n, cap)
    if head_share:
        ranks = np.where(rng.random(n) < head_share,
                         zipf.draw(rng, n, head), ranks)
    return " ".join(words[ranks])


def make_inputs(workload: str, seed: int) -> Inputs:
    shape = SHAPES[workload]
    rng = np.random.default_rng([seed, _wid(workload), 0])
    words = vocabulary(shape.vocab)
    zipf = Zipf(shape.vocab, shape.zipf_s)
    texts, distinct = _texts(rng, words, zipf, shape)
    n = shape.n_docs
    if shape.transcript:
        # conversations of 1..12 turns; rows sorted by (conv_id, turn_idx),
        # which is the order docids assigns dense doc_ids in
        turns = rng.integers(1, 13, size=n)
        conv = np.repeat(np.arange(n), turns)[:n]
        turn_idx = np.concatenate([np.arange(t) for t in turns])[:n]
        role = _ROLES[turn_idx % 3]
        tool = np.where(role == "tool", _TOOLS[rng.integers(0, 3, n)], None)
        base = dt.datetime(2026, 1, 1)
        corpus = pd.DataFrame({
            "conv_id": [f"c{c:07d}" for c in conv],
            "turn_idx": turn_idx.astype(np.int32),
            "role": role,
            "text": texts,
            "tool": tool,
            "ts": [base + dt.timedelta(seconds=int(s))
                   for s in np.cumsum(rng.integers(1, 60, n))],
        })
        meta_fields = ("role", "tool", "conv_id")
    else:
        corpus = pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": rng.choice(_SOURCES, n),
        })
        meta_fields = ("lang", "source")

    return Inputs(
        shape=shape,
        corpus=corpus,
        text_bytes=sum(len(t.encode()) for t in texts),
        distinct_terms=distinct,
        probe=" ".join(words[:2]),
        singles=_singles(seed, workload, shape, words, zipf),
        batches=_batches(seed, workload, shape, words, zipf),
        meta_fields=meta_fields,
    )


def _singles(seed, workload, shape, words, zipf):
    """Endless single-query stream: (text, limit, filter). Each block of 20
    queries holds a fixed mix (term counts spread evenly over the range,
    three with limit 100, ``filter_share`` of them filtered) in seeded
    order, so the mix does not vary between seeds. The first block carries
    every repeated filter, so warm-up sees them all."""
    rng = np.random.default_rng([seed, _wid(workload), 1])
    filters = FILTERS[shape.transcript]
    lo, hi = shape.query_terms
    n_flt = round(20 * shape.filter_share)
    first = True
    while True:
        n_terms = rng.permutation(np.resize(np.arange(lo, hi + 1), 20))
        limits = rng.permutation([100] * 3 + [10] * 17)
        if first:
            flts = list(filters) if n_flt else []
        else:
            flts = [filters[int(rng.integers(0, len(filters)))]
                    for _ in range(n_flt)]
        flts += [None] * (20 - len(flts))
        if not first:
            flts = [flts[i] for i in rng.permutation(20)]
        first = False
        for n, limit, flt in zip(n_terms, limits, flts):
            q = _query(rng, words, zipf, (n, n), head_share=shape.head_share,
                       head=shape.head)
            yield q, int(limit), flt


def _batches(seed, workload, shape, words, zipf):
    """Endless stream of query batches: lists of (query_id, text)."""
    rng = np.random.default_rng([seed, _wid(workload), 2])
    while True:
        yield [
            (i, _query(rng, words, zipf, shape.batch_terms,
                       shape.batch_rank_cap))
            for i in range(shape.batch_size)
        ]


def _wid(workload: str) -> int:
    return sorted(SHAPES).index(workload)
