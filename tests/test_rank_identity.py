"""E2E rank- and score-identity: Spark engine vs pure-Python oracle.

The north-rule correctness gate (BASELINE.json:14): top-k docIDs and BM25
scores rank-identical to the reference semantics on the reference query set,
tie-break (-score, doc_id), scores equal to rel 1e-9.
"""

import pytest

from information_retrieval_spark.fixtures import make_queries
from information_retrieval_spark.query.engine import QuerySpec, SearchEngine
from tests.oracle import assert_ranked_equal, ranked_rows

WEIGHTS = {"abstract": 0.2, "title": 0.8}


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    return SearchEngine(spark, index_dir)


def run_batch(engine, specs):
    return ranked_rows(engine.search(specs))


def assert_identical(got_rows, exp, qid, query_text):
    """Engine rows equal the oracle's ranked (doc_id, score) list."""
    assert_ranked_equal(
        got_rows, [(rank, d, s) for rank, (d, s) in enumerate(exp, 1)],
        f"q{qid} '{query_text}'",
    )


def test_reference_query_set_rank_identity(engine, oracle):
    queries = make_queries(30)
    specs = [
        QuerySpec(q.query_id, q.query_text, q.method, q.k, section_weights=WEIGHTS)
        for q in queries
    ]
    by_q = run_batch(engine, specs)
    for q in queries:
        exp = oracle.search(q.query_text, q.method, weight=0.2, k=q.k)
        got = by_q.get(q.query_id, [])
        if not exp:
            assert got == []
            continue
        assert_identical(got, exp, q.query_id, q.query_text)


def test_exact_vs_prefix_mode_differ_when_prefix_collides(engine, oracle):
    # 'scan' is a prefix of nothing else in VOCAB stems? pick 'set' which
    # prefixes 'setbatch' style camel splits — just assert both modes agree
    # with their oracle counterparts.
    q = "store pop"
    for mode in ("exact", "prefix"):
        spec = QuerySpec(900, q, "okapi25", 10, section_weights=WEIGHTS,
                         match_mode=mode)
        got = run_batch(engine, [spec]).get(900, [])
        exp = oracle.search(q, "okapi25", weight=0.2, k=10, match_mode=mode)
        assert_identical(got, exp, 900, f"{q} [{mode}]")


def test_empty_query_returns_nothing(engine):
    # spell=False: correction would map these onto real vocabulary words
    spec = QuerySpec(901, "zzznotfound qqqabsent", "okapi25", 10, spell=False)
    assert run_batch(engine, [spec]).get(901, []) == []


def test_repeated_term_multiplicity(engine, oracle):
    # quirk Q3: duplicated query term doubles its BM25 contribution
    q = "matrix matrix stream"
    spec = QuerySpec(902, q, "okapi25", 10, section_weights=WEIGHTS)
    got = run_batch(engine, [spec]).get(902, [])
    exp = oracle.search(q, "okapi25", weight=0.2, k=10)
    assert_identical(got, exp, 902, q)


def test_zipf_corpus_rank_identity(spark, tmp_path_factory):
    """Rank/score identity on the REALISTIC Zipf-vocabulary corpus
    (fixtures.zipf_vocab: Zipf(s≈1) term ranks, natural word lengths) —
    the ranking analogue of the round-5 Zipf grep re-measurement: the
    uniform fixture puts every content term at similar df, so this is
    the profile where idf spreads, head terms hit the stop list, and
    prefix expansion fans out for real. Exact + prefix modes, okapi25,
    ltn-lnn and ltc-lnc, vs the pure-Python oracle."""
    from information_retrieval_spark.fixtures import (
        zipf_document_text,
        zipf_vocab,
    )
    from information_retrieval_spark.index.build import IndexBuilder
    from tests.oracle import Oracle

    vocab = zipf_vocab(5000)
    n = 2000
    texts = {i: zipf_document_text(i, vocab) for i in range(n)}
    orc = Oracle(
        {i: {"content": t} for i, t in texts.items()},
        sections=("content",), tokenizer="code", stop_k=10,
    )
    idx = str(tmp_path_factory.mktemp("zipfidx"))
    IndexBuilder(
        spark, idx, {"content": "text"}, tokenizer="code", stop_k=10
    ).build(
        spark.createDataFrame(
            [(i, t) for i, t in texts.items()], "doc_id long, text string"
        )
    )
    # same stop list derived from the same corpus
    stop_rows = spark.read.parquet(f"{idx}/stopwords").collect()
    assert {r.term for r in stop_rows} == orc.stop_tokens

    sw = {"content": 1.0}
    queries = [
        vocab[0],                          # head rank — stop-listed
        vocab[15],                         # just past the stop list
        f"{vocab[30]} {vocab[200]}",       # mid-rank pair
        f"{vocab[3]} {vocab[1500]}",       # stop + tail mix
        f"{vocab[4000]} {vocab[4999]}",    # deep tail (df ~ 1)
        f"{vocab[50]} {vocab[50]} {vocab[700]}",  # repeated-term quirk Q3
        "zzznotfound",                     # absent
    ]
    methods = ("okapi25", "ltn-lnn", "ltc-lnc")
    with SearchEngine(spark, idx) as eng:
        for mode in ("exact", "prefix"):
            # one batch per mode, every method in it
            specs = [
                QuerySpec(len(queries) * m + i, q, method, 10,
                          section_weights=sw, spell=False, match_mode=mode)
                for m, method in enumerate(methods)
                for i, q in enumerate(queries)
            ]
            by_q = run_batch(eng, specs)
            for s in specs:
                exp = orc.search(s.text, s.method, k=10, spell=False,
                                 match_mode=mode, section_weights=sw)
                assert_identical(by_q.get(s.query_id, []), exp, s.query_id,
                                 f"{s.text} [{mode}/{s.method}]")
