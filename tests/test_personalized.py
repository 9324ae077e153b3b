"""End-to-end personalized search (reference phase-3, `search/phase3.py:
125-219`): text top-k fused with preference-personalized PageRank. Score
identity is checked against a pure-Python composition of the engine's own
(oracle-checked) text scores, the pure-Python PPR oracle, and phase-3's
÷max fusion — so the API's PPR wiring and normalization are verified
independently of the Spark fusion plan."""

import pytest

from information_retrieval_spark.query.engine import QuerySpec, SearchEngine
from information_retrieval_spark.query.personalized import (
    FUSION_PW,
    search_personalized,
)
from tests.test_graph import _ppr_oracle

N = 150
PREFS = {3: 2.0, 77: 1.0, 140: 1.0}
SPECS = [
    QuerySpec(1, "tokenizer stream", "okapi25", 10, spell=False,
              match_mode="exact"),
    QuerySpec(2, "buffer matrix parser", "okapi25", 10, spell=False,
              match_mode="exact"),
]


def _edges():
    out = set()
    for i in range(N):
        for j in (1, 2, 3):
            d = (i * 7 + j) % N
            if d != i:
                out.add((i, d))
    return sorted(out)


def _oracle_fused(text_rows, edges):
    ppr = _ppr_oracle(edges, N, dict(PREFS))
    prmax = max(ppr.values())
    by_q = {}
    for r in text_rows:
        by_q.setdefault(r.query_id, []).append((r.doc_id, r.score))
    want = {}
    for qid, docs in by_q.items():
        tmax = max(s for _, s in docs)
        fused = [
            (d, (1 - FUSION_PW) * s / tmax + FUSION_PW * ppr[d] / prmax)
            for d, s in docs
        ]
        fused.sort(key=lambda x: (-round(x[1], 9), x[0]))
        want[qid] = [
            (rank + 1, d, s) for rank, (d, s) in enumerate(fused)
        ]
    return want


def test_search_personalized_matches_python_oracle(spark, index_dir):
    engine = SearchEngine(spark, index_dir)
    assert engine.snapshot.doclen.select("doc_id").distinct().count() == N
    edges = _edges()
    e = spark.createDataFrame(edges, "src long, dst long")

    got_rows = search_personalized(engine, e, dict(PREFS), SPECS).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for v in got.values():
        v.sort()

    want = _oracle_fused(engine.search(SPECS).collect(), edges)
    assert set(got) == set(want)
    for qid in want:
        assert [(rk, d) for rk, d, _ in got[qid]] == [
            (rk, d) for rk, d, _ in want[qid]
        ], qid
        for (_, _, gs), (_, _, ws) in zip(got[qid], want[qid]):
            assert gs == pytest.approx(ws, abs=1e-9)


def test_preferences_shift_ranking(spark, index_dir):
    """A strong preference on a doc inside the text top-k must not rank it
    lower than the unpersonalized fusion does (additive teleport only adds
    mass to preferred nodes)."""
    engine = SearchEngine(spark, index_dir)
    e = spark.createDataFrame(_edges(), "src long, dst long")
    base_rows = search_personalized(engine, e, {}, SPECS).collect()
    base = {(r.query_id, r.doc_id): r.rank for r in base_rows}
    # prefer the doc ranked last for query 1 in the base fusion
    q1 = sorted((r.rank, r.doc_id) for r in base_rows if r.query_id == 1)
    target = q1[-1][1]
    pers_rows = search_personalized(
        engine, e, {target: 100.0}, SPECS
    ).collect()
    pers = {(r.query_id, r.doc_id): r.rank for r in pers_rows}
    assert pers[(1, target)] <= base[(1, target)]
