"""Filtered ranked search (QuerySpec.filter_terms / exclude_terms —
Lucene filter-context semantics): the engine is rank-identical to the
declarative plan (exact mode), to the pure-Python oracle over each query's
filter-passing sub-corpus (prefix mode), and to a fresh build under
deletes, under each placement."""

import pytest
from pyspark.sql import functions as F

from tests.placement import each_placement

SF = "/root/testdata/sf0.001"


def _specs(match_mode="exact"):
    from information_retrieval_spark.ops.ir_direct import (
        BM25_FILTER_SET,
        QUERY_SET,
    )
    from information_retrieval_spark.query.engine import QuerySpec

    out = []
    for qid, text in QUERY_SET:
        m, x = BM25_FILTER_SET.get(qid, ("", ""))
        out.append(
            QuerySpec(
                qid, text, "okapi25", 10, spell=False, match_mode=match_mode,
                filter_terms=tuple(m.split()),
                exclude_terms=tuple(x.split()),
            )
        )
    return out


def _rows(df):
    return {
        (r.query_id, r.rank, r.doc_id, round(r.score, 6))
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def idx(spark):
    from information_retrieval_spark.ops.engine_entry import (
        ensure_documents_index,
    )

    return ensure_documents_index(spark, SF)


def test_filtered_engines_match_declarative(spark, idx):
    from information_retrieval_spark.ops.ir_direct import q_bm25_filtered
    from information_retrieval_spark.query.engine import SearchEngine

    want = {
        (r.query_id, r.rank, r.doc_id, r.score_r)
        for r in q_bm25_filtered(spark, SF).collect()
    }
    assert want, "filter set should produce results"
    eng = SearchEngine(spark, idx)
    assert each_placement(lambda: _rows(eng.search(_specs()))) == want


def test_filtered_prefix_mode_wand_matches_exhaustive(spark, idx):
    """Prefix mode against the oracle over each query's filter-passing
    sub-corpus: docs holding every must term and no excluded term, in the
    index's token basis (stop terms never match)."""
    from information_retrieval_spark.query.engine import SearchEngine
    from tests.oracle import Oracle, assert_ranked_equal, ranked_rows

    specs = _specs("prefix")
    eng = SearchEngine(spark, idx)
    got = each_placement(lambda: ranked_rows(eng.search(specs)))
    assert got
    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    stop = [r.term for r in spark.read.parquet(f"{idx}/stopwords").collect()]
    full = Oracle({d: {"body": t} for d, t in texts.items()},
                  sections=("body",), tokenizer="simple", stop_terms=stop)
    for q in specs:
        keep = [
            d for d, secs in full.non_stop.items()
            if set(q.filter_terms) <= {t for t, _ in secs["body"]}
            and not set(q.exclude_terms) & {t for t, _ in secs["body"]}
        ]
        orc = Oracle({d: {"body": texts[d]} for d in keep},
                     sections=("body",), tokenizer="simple", stop_terms=stop)
        assert_ranked_equal(got.get(q.query_id, []), orc.answer(q, "simple"),
                            f"query {q.query_id}")


def test_filtered_constraints_actually_bite(spark, idx):
    """Same batch without constraints must differ: an exclude query's
    result set changes, and every excluded-term doc is absent."""
    from information_retrieval_spark.ops.ir_direct import BM25_FILTER_SET
    from information_retrieval_spark.query.engine import QuerySpec, SearchEngine

    eng = SearchEngine(spark, idx)
    plain = [
        QuerySpec(q.query_id, q.text, "okapi25", -1, spell=False,
                  match_mode="exact")
        for q in _specs()
    ]
    un = {}
    for r in each_placement(lambda: eng.search(plain).collect()):
        un.setdefault(r.query_id, set()).add(r.doc_id)
    fi = {}
    full = [
        QuerySpec(q.query_id, q.text, "okapi25", -1, spell=False,
                  match_mode="exact", filter_terms=q.filter_terms,
                  exclude_terms=q.exclude_terms)
        for q in _specs()
    ]
    for r in each_placement(lambda: eng.search(full).collect()):
        fi.setdefault(r.query_id, set()).add(r.doc_id)
    # docs with an excluded term must vanish; presence = indexed terms
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for qid, (_, x) in BM25_FILTER_SET.items():
        for t in x.split():
            having = {
                r.doc_id
                for r in docs.filter(
                    F.lower(F.col("text")).rlike(f"(^|[^a-z0-9]){t}([^a-z0-9]|$)")
                ).collect()
            }
            assert not (fi.get(qid, set()) & having), (qid, t)
    # at least one constrained query must differ from its unfiltered run
    # (iterate the CONSTRAINED query ids — a must term that is corpus-stop
    # at this scale factor empties its query, which also counts as biting)
    assert any(
        fi.get(q, set()) != un.get(q, set()) for q in BM25_FILTER_SET
    )


def test_filtered_absent_must_term_empties_query(spark, idx):
    from information_retrieval_spark.query.engine import QuerySpec, SearchEngine

    spec = [
        QuerySpec(0, "hash join", "okapi25", 10, spell=False,
                  match_mode="exact", filter_terms=("zzznotfound",))
    ]
    eng = SearchEngine(spark, idx)
    assert each_placement(lambda: eng.search(spec).collect()) == []


def test_filtered_after_delete_rank_identity(spark, tmp_path):
    """Deleting a doc that satisfied a must constraint: the engine drops
    it, and candidate stats recompute (scores match a fresh index built
    without the doc)."""
    from information_retrieval_spark.index.build import IndexBuilder
    from information_retrieval_spark.index.maintenance import IndexMaintenance
    from information_retrieval_spark.query.engine import QuerySpec, SearchEngine

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # the stop set differs per scale factor — pick NON-stop terms (ranks
    # just below the top-20 cut) so postings exist for query and filter
    import re
    from collections import Counter

    cnt = Counter(
        t
        for r in docs.collect()
        for t in re.split(r"[^a-z0-9]+", r.text.lower())
        if t
    )
    nonstop = [t for t, _ in cnt.most_common()][20:26]
    assert len(nonstop) >= 3
    spec = [
        QuerySpec(0, f"{nonstop[0]} {nonstop[1]}", "okapi25", 10,
                  spell=False, match_mode="exact",
                  filter_terms=(nonstop[2],),
                  exclude_terms=("zzznotfound",))
    ]
    idx = str(tmp_path / "f_idx")
    IndexBuilder(
        spark, idx, sections={"body": "text"}, tokenizer="simple"
    ).build(docs)
    base = SearchEngine(spark, idx).search(spec).collect()
    assert base
    victim = base[0].doc_id
    IndexMaintenance(spark, idx).remove_documents([victim])

    eng = SearchEngine(spark, idx)
    got_e = each_placement(lambda: _rows(eng.search(spec)))
    assert victim not in {d for _, _, d, _ in got_e}

    idx2 = str(tmp_path / "f_idx2")
    IndexBuilder(
        spark, idx2, sections={"body": "text"}, tokenizer="simple"
    ).build(docs.filter(F.col("doc_id") != victim))
    fresh = _rows(SearchEngine(spark, idx2).search(spec))
    assert got_e == fresh
