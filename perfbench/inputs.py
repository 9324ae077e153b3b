"""Seeded benchmark inputs: corpus, query pools, batches and update deltas.

Everything here is a pure function of the seed, so the same seed gives the
same inputs in any process. The engine under test only ever sees what these
functions return.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, replace

from information_retrieval_spark.fixtures import (
    HEAD_TERMS,
    SPELLABLE,
    VOCAB,
    CorpusRow,
    make_row,
)

#: corpus size; sized so that one run (cold Spark start + base build +
#: measured loop + oracle check) fits the benchmark's time budget
N_DOCS = 1000
BROAD_POOL = 64
BROAD_BATCH = 16
#: queries in an ingest-mixed read: the broad shape, a smaller batch
INGEST_BATCH = 8
SELECTIVE_POOL = 64
SELECTIVE_OKAPI = 5
SELECTIVE_TFIDF = 3
DELTA_DOCS = 200
#: doc-id space the seed picks the corpus offset from
OFFSET_SPACE = 1_000_000
#: fixture row index where the content of re-crawled docs is drawn from;
#: above OFFSET_SPACE + N_DOCS, so it never repeats a corpus row
DELTA_CONTENT_BASE = 2_000_000

# content words only: a query of head (stop) terms alone is empty after
# stop filtering and would measure nothing
_QUERY_VOCAB = [t for t in VOCAB if t not in HEAD_TERMS]


def _rng(seed: int, stream: str) -> random.Random:
    """Independent deterministic stream per purpose (str seeds hash stably)."""
    return random.Random(f"perfbench:{seed}:{stream}")


def typo(word: str, rng: random.Random) -> str:
    """Swap two adjacent inner characters (the fixture's typo shape)."""
    if len(word) < 4:
        return word + "e"
    p = rng.randrange(1, len(word) - 2)
    return word[:p] + word[p + 1] + word[p] + word[p + 2:]


@dataclass(frozen=True)
class Query:
    text: str
    method: str = "okapi25"


class Inputs:
    """All inputs of one run, derived from ``seed``."""

    def __init__(self, seed: int, n_docs: int = N_DOCS):
        self.seed = seed
        self.offset = _rng(seed, "corpus").randrange(OFFSET_SPACE)
        self.rows: list[CorpusRow] = [
            make_row(self.offset + i) for i in range(n_docs)
        ]
        self.doc_ids = [r.doc_id for r in self.rows]
        self.broad_pool = self._broad_pool()
        self.selective_pool = self._selective_pool()

    def _broad_pool(self) -> list[Query]:
        """1-5 vocabulary terms per query, with repeated terms, absent
        terms and typos (the shape of ``fixtures.make_queries``)."""
        rng = _rng(self.seed, "broad")
        out = []
        for _ in range(BROAD_POOL):
            terms = [rng.choice(_QUERY_VOCAB) for _ in range(rng.randint(1, 5))]
            if len(terms) > 1 and rng.random() < 0.15:
                terms[1] = terms[0]
            if rng.random() < 0.1:
                terms.append("zzznotfound")
            if rng.random() < 0.2:
                terms[0] = typo(rng.choice(SPELLABLE), rng)
            out.append(Query(" ".join(terms)))
        return out

    def _selective_pool(self) -> list[Query]:
        """Rare path tokens: ``file{id}`` (df = 1) and ``mod{j}``; every
        fourth query carries a typo of its file token. Methods rotate so
        every batch can draw okapi25 and tf-idf queries."""
        rng = _rng(self.seed, "selective")
        out = []
        for q in range(SELECTIVE_POOL):
            terms = [f"file{rng.choice(self.doc_ids)}"]
            if rng.random() < 0.6:
                terms.append(f"mod{rng.randrange(41)}")
            if q % 4 == 0:
                terms[0] = typo(terms[0], rng)
            rng.shuffle(terms)
            method = ("okapi25", "okapi25", "ltn-lnn", "ltc-lnc")[q % 4]
            out.append(Query(" ".join(terms), method))
        return out

    def broad_batches(self, k: int = BROAD_BATCH, stream: str = "broad-order"):
        """Endless stream of batches of ``k`` broad-pool indices, drawn with
        replacement."""
        rng = _rng(self.seed, stream)
        while True:
            yield rng.choices(range(BROAD_POOL), k=k)

    def ingest_batches(self):
        """The read batches of ``ingest-mixed``: broad queries, 8 a batch."""
        return self.broad_batches(INGEST_BATCH, "ingest-order")

    def selective_batches(self):
        """Endless stream of (okapi25 pool indices, tf-idf pool indices)."""
        rng = _rng(self.seed, "selective-order")
        okapi = [i for i, q in enumerate(self.selective_pool) if q.method == "okapi25"]
        tfidf = [i for i, q in enumerate(self.selective_pool) if q.method != "okapi25"]
        while True:
            yield (rng.sample(okapi, SELECTIVE_OKAPI),
                   rng.sample(tfidf, SELECTIVE_TFIDF))

    def deltas(self):
        """Endless stream of re-crawl deltas: ``DELTA_DOCS`` existing doc
        ids (distinct within a delta) with newly generated content; path,
        repo and language stay those of the doc."""
        rng = _rng(self.seed, "deltas")
        by_id = {r.doc_id: r for r in self.rows}
        k = 0
        while True:
            ids = sorted(rng.sample(self.doc_ids, DELTA_DOCS))
            out = []
            for j, d in enumerate(ids):
                fresh = make_row(DELTA_CONTENT_BASE + k * DELTA_DOCS + j)
                out.append(replace(by_id[d], content=fresh.content))
            k += 1
            yield out
