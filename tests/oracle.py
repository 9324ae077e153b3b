"""Pure-Python single-node oracle engine — the unit of truth for rank-identity.

Independently re-implements the reference's query semantics
(`ui/backend/mir/search/search/common.py` + `search/phase1.py` +
`trie/phase1.py` + `bigram_index/phase1.py`) over an arbitrary sectioned
corpus, including every quirk in SURVEY.md §2.11:

* Q1 — tf-idf idf uses full-corpus N (`common.py:67`); BM25 idf uses the
  per-query candidate-set size (`common.py:126`).
* Q2 — BM25 dl/avgdl over candidate docs only (`common.py:136-143`);
  docs missing a section contribute dl=0 to the mean.
* Q3 — BM25 sums over query tokens WITH duplicates (`common.py:147-154`).
* Q4 — tf = number of unique char offsets (`trie/phase1.py:25` stores sets).
* Q5 — per-section scores fused `w·abstract + (1−w)·title`, missing → 0
  (`phase1.py:68-71`).
* Q6 — stop set = top-K corpus-frequency terms over the cleaned corpus
  (`preprocess.py:58-76`); ties pinned to (count desc, term asc).
* Q7 — spell correction precedes tokenization, `str.replace`-all on the raw
  query (`bigram_index/phase1.py:102`); shared module `query/spell.py`.
* Q8 — candidate set = OR of query-term postings (`common.py:73-75,120-122`).
* PREFIX artifact — the reference trie adds every doc to every *prefix* node
  of each inserted token (`trie/phase1.py:17-26`), and `search()` returns at
  any node flagged `is_end` (`:28-36`). Net semantics: postings(t) = all docs
  containing any token with prefix t, PROVIDED t itself occurs as a complete
  token somewhere in the (non-stop) corpus. We replicate this as
  ``match_mode='prefix'`` (default, reference parity); ``'exact'`` is the
  sane mode used by the DuckDB-verified driver queries.

Documented deviations (the reference would crash or be nondeterministic):
* query terms with zero postings are dropped from the lookup table (the
  reference's ltn-lnn path divides by df=0, `common.py:67`);
* all ties are broken deterministically: final ranking (-score, doc_id).
"""

from __future__ import annotations

import math
from collections import Counter

from information_retrieval_spark.query.spell import build_bigram_dict, correct_text
from information_retrieval_spark.tokenize import code_tokens, simple_tokens


def _tokenize(text: str, tokenizer: str) -> list[tuple[str, int]]:
    if tokenizer == "code":
        return code_tokens(text)
    # simple: positions = token ordinal (offsets unused by the simple corpus)
    return [(t, i) for i, t in enumerate(simple_tokens(text))]


class Oracle:
    def __init__(
        self,
        docs: dict[int, dict[str, str]],
        sections: tuple[str, ...] = ("title", "abstract"),
        tokenizer: str = "code",
        stop_k: int = 20,
        stop_terms=None,
    ):
        """``stop_terms`` pins the stop list (an index's, say, when the
        oracle covers a sub-corpus or a maintained index's live docs);
        otherwise it is the top ``stop_k`` terms of ``docs`` (quirk Q6)."""
        self.sections = sections
        # cleaned: doc -> section -> [(term, pos)]
        self.cleaned = {
            d: {s: _tokenize(texts.get(s, ""), tokenizer) for s in sections}
            for d, texts in docs.items()
        }
        counts = Counter(
            t for doc in self.cleaned.values() for toks in doc.values() for t, _ in toks
        )
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        self.stop_tokens = (
            {t for t, _ in ranked[:stop_k]} if stop_terms is None
            else set(stop_terms)
        )
        self.non_stop = {
            d: {
                s: [(t, p) for t, p in toks if t not in self.stop_tokens]
                for s, toks in doc.items()
            }
            for d, doc in self.cleaned.items()
        }
        # postings: term -> doc -> section -> set(pos)   (exact terms)
        self.postings: dict[str, dict[int, dict[str, set[int]]]] = {}
        for d, doc in self.non_stop.items():
            for s, toks in doc.items():
                for t, p in toks:
                    self.postings.setdefault(t, {}).setdefault(
                        d, {sec: set() for sec in sections}
                    )[s].add(p)
        self.terms_sorted = sorted(self.postings)
        self.doclen = {
            d: {s: len(toks) for s, toks in doc.items()}
            for d, doc in self.non_stop.items()
        }
        self.n_docs = len(docs)
        self.bigram_dict = build_bigram_dict(
            t for doc in self.cleaned.values() for toks in doc.values() for t, _ in toks
        )

    # ------------------------------------------------------------- postings

    def term_postings(
        self, term: str, match_mode: str = "prefix"
    ) -> dict[int, dict[str, set[int]]]:
        if match_mode == "exact" or term not in self.postings:
            # prefix mode still requires the exact term to exist (is_end gate)
            return self.postings.get(term, {})
        merged: dict[int, dict[str, set[int]]] = {}
        import bisect

        i = bisect.bisect_left(self.terms_sorted, term)
        while i < len(self.terms_sorted) and self.terms_sorted[i].startswith(term):
            for d, secs in self.postings[self.terms_sorted[i]].items():
                tgt = merged.setdefault(d, {s: set() for s in self.sections})
                for s, ps in secs.items():
                    tgt[s] |= ps
            i += 1
        return merged

    # -------------------------------------------------------------- scoring

    def _okapi25(self, section, tsr, query_tokens, k1=1.2, b=0.75):
        all_docs = set()
        for res in tsr.values():
            all_docs.update(res.keys())
        if not all_docs:
            return {}
        idf = {
            t: math.log((len(all_docs) - len(res) + 0.5) / (len(res) + 0.5) + 1)
            for t, res in tsr.items()
        }
        f = {
            t: {d: len(doc[section]) for d, doc in res.items()}
            for t, res in tsr.items()
        }
        dl = {d: self.doclen[d][section] for d in all_docs}
        avgdl = sum(dl.values()) / len(all_docs)
        scores = {}
        for d in all_docs:
            scores[d] = sum(
                idf[t]
                * (f[t].get(d, 0.0) * (k1 + 1))
                / (f[t].get(d, 0.0) + k1 * (1 - b + b * dl[d] / avgdl))
                for t in query_tokens
                if t in tsr and (f[t].get(d, 0.0) > 0)
            )
        return scores

    def _tf_idf(self, section, tsr, query_tokens, score_type):
        doc_type, query_type = score_type.split("-")
        # query weights (query_tf_idf, common.py:26-56)
        qtf = {t: float(query_tokens.count(t)) for t in tsr}
        q_wtf = {
            t: (1 + math.log(v) if v > 0 else 0.0) if query_type[0] == "l" else v
            for t, v in qtf.items()
        }
        qnorm = (
            math.sqrt(sum(w * w for w in q_wtf.values())) if query_type[2] == "c" else 1.0
        )
        q_w = {t: (w / qnorm if qnorm > 0 else 0.0) for t, w in q_wtf.items()}
        # doc weights (doc_tf_idf, common.py:59-106)
        idf = {t: math.log(self.n_docs / len(res)) for t, res in tsr.items()}
        all_docs = set()
        for res in tsr.values():
            all_docs.update(res.keys())
        scores = {}
        for d in all_docs:
            d_tf = {
                t: float(len(res[d][section])) for t, res in tsr.items() if d in res
            }
            d_wtf = {t: (1 + math.log(v) if v > 0 else 0.0) for t, v in d_tf.items()}
            dnorm = (
                math.sqrt(sum(w * w for w in d_wtf.values()))
                if doc_type[2] == "c"
                else 1.0
            )
            if dnorm > 0:
                d_w = {t: w * idf[t] / dnorm for t, w in d_wtf.items()}
            else:
                d_w = {}
            scores[d] = sum(q_w[t] * d_w[t] for t in q_w if t in d_w)
        return scores

    # --------------------------------------------------------------- search

    def query_tokens(self, query: str, tokenizer: str = "code", spell: bool = True):
        text = correct_text(self.bigram_dict, query) if spell else query
        toks = [t for t, _ in _tokenize(text, tokenizer)]
        return [t for t in toks if t not in self.stop_tokens]

    def search(
        self,
        query: str,
        method: str = "okapi25",
        weight: float = 0.5,
        k: int = 10,
        tokenizer: str = "code",
        match_mode: str = "prefix",
        spell: bool = True,
        section_weights: dict[str, float] | None = None,
    ) -> list[tuple[int, float]]:
        """Top-k (doc_id, fused_score), tie-break (-score, doc_id)."""
        qt = self.query_tokens(query, tokenizer, spell)
        tsr = {}
        for t in qt:
            if t in tsr:
                continue
            res = self.term_postings(t, match_mode)
            if res:  # deviation: drop df=0 terms (reference crashes on them)
                tsr[t] = res
        if not tsr:
            return []
        if section_weights is None:
            section_weights = (
                {"abstract": weight, "title": 1 - weight}
                if set(self.sections) == {"title", "abstract"}
                else {self.sections[0]: 1.0}
            )
        fused: dict[int, float] = {}
        for s in self.sections:
            w_s = section_weights.get(s, 0.0)
            if method == "okapi25":
                sc = self._okapi25(s, tsr, qt)
            else:
                sc = self._tf_idf(s, tsr, qt, method)
            for d, v in sc.items():
                fused[d] = fused.get(d, 0.0) + w_s * v
        # tie-break pinned to (-round(score, 9), doc_id) — identical to the
        # engine: raw-double ordering of exact ties is FP-sum-order noise
        ranked = sorted(fused.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))
        return ranked[: k if k >= 0 else len(ranked)]

    def answer(self, spec, tokenizer: str = "code") -> list[tuple]:
        """A ``QuerySpec`` answered as the engine answers it, as [(rank,
        doc_id, score)]; no section weights means the engine's defaults
        (0.8 title / 0.2 abstract, else all on the first section)."""
        ranked = self.search(
            spec.text, spec.method, weight=0.2, k=spec.k, tokenizer=tokenizer,
            match_mode=spec.match_mode, spell=spec.spell,
            section_weights=spec.section_weights or None,
        )
        return [(rank, d, s) for rank, (d, s) in enumerate(ranked, 1)]


def ranked_rows(df) -> dict[int, list[tuple]]:
    """An engine result frame as {query_id: [(rank, doc_id, score)]}."""
    out: dict[int, list[tuple]] = {}
    for r in df.collect():
        out.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    return {q: sorted(v) for q, v in out.items()}


def assert_ranked_equal(got: list[tuple], want: list[tuple], what="") -> None:
    """Same (rank, doc_id) sequence, scores equal to rel 1e-9."""
    import pytest

    assert [r[:2] for r in got] == [r[:2] for r in want], (
        f"{what}: doc order mismatch\n got {got}\n exp {want}"
    )
    for g, w in zip(got, want):
        assert g[2] == pytest.approx(w[2], rel=1e-9, abs=1e-12), what
