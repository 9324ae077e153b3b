"""The ranked-query contract: ``QuerySpec``, the BM25 constants and the
batch match mode. ``SearchEngine`` is this module's name for the one ranked
engine, the block-at-a-time scorer in ``query/wand.py``, which answers
okapi25, ltn-lnn and ltc-lnc batches.

The reference's per-query driver loop (`ui/backend/mir/search/search/
phase1.py:19-107`, `common.py:59-154`) becomes one batch per call, and every
scoring constant derives from the per-query candidate set exactly as the
reference does (quirks, SURVEY.md §2.11):
  Q1 BM25 N = |candidates| (`common.py:126`), tf-idf N = the live corpus
     (`common.py:67`);
  Q2 avgdl over candidates only, missing section ⇒ dl = 0 (`common.py:136-143`);
  Q3 query-term multiplicity multiplies its BM25 contribution
     (`common.py:147-154`);
  Q5 per-section scores fused w·abstract + (1−w)·title (`phase1.py:68-71`);
  Q7 spell-correction on the raw query string, driver-side, from the shared
     module `query/spell.py`;
  Q8 candidate set = OR over query terms (`common.py:73-75,120-122`);
  prefix artifact — `match_mode='prefix'` scores every doc containing any
     token with the query term as prefix, gated on the exact term existing
     (`trie/phase1.py:17-36`).

Ranking ties are pinned to (-round(score, 9), doc_id) in engine AND oracle:
float-sum order across systems differs at ~1 ulp, so raw-double ordering of
exact ties would be nondeterministic (SURVEY.md §1.4-2).
"""

from __future__ import annotations

from dataclasses import dataclass, field

K1 = 1.2
B = 0.75


@dataclass
class QuerySpec:
    query_id: int
    text: str
    method: str = "okapi25"  # okapi25 | ltn-lnn | ltc-lnc
    k: int = 10
    section_weights: dict[str, float] = field(default_factory=dict)
    spell: bool = True
    match_mode: str = "prefix"  # prefix (reference parity) | exact
    # restrict the search to docs whose doc_meta category equals this value
    # (reference phase-2 category search, `search/phase2.py:64-71`); the
    # index must be built with IndexBuilder(category_col=...). All per-query
    # candidate stats (Q1 N, Q2 avgdl, df) recompute over the sub-corpus.
    filter_category: str | None = None
    # boolean constraints (Lucene filter context — they restrict matches
    # but never score): docs must contain ALL filter_terms and NONE of
    # exclude_terms, in any section. Terms are index-basis tokens (already
    # tokenized/lowercased). Candidate stats recompute over the filtered
    # set, same placement as filter_category.
    filter_terms: tuple[str, ...] = ()
    exclude_terms: tuple[str, ...] = ()


def batch_match_mode(queries: list[QuerySpec]) -> str | None:
    """The one match mode a batch is answered in (None for an empty batch).
    A batch mixing modes raises: split it by ``match_mode``."""
    modes = {q.match_mode for q in queries}
    if len(modes) > 1:
        raise ValueError(
            f"mixed match modes {sorted(modes)} in one batch: split the"
            " batch by match_mode"
        )
    return modes.pop() if modes else None


def __getattr__(name: str):
    """``SearchEngine`` is the one ranked engine, ``query/wand.py``'s
    ``WandEngine``, under the name this module has always exported. It is
    resolved lazily because ``query/wand.py`` imports this module."""
    if name == "SearchEngine":
        from information_retrieval_spark.query.wand import WandEngine

        return WandEngine
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
