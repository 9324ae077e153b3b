"""Phrase and proximity search over the persisted positional index vs
their DuckDB oracles (the declarative token-position SQL) and a
pure-Python brute force, plus delete-vector semantics."""

import re

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


def _brute_phrase_counts(docs: dict[int, str], phrase: str) -> dict[int, int]:
    """doc_id -> number of (overlapping) exact occurrences of the phrase's
    token sequence in the doc's token sequence."""
    terms = [w for w in re.split(r"[^a-z0-9]+", phrase.lower()) if w]
    out = {}
    for d, text in docs.items():
        toks = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        n = sum(
            1
            for i in range(len(toks) - len(terms) + 1)
            if toks[i : i + len(terms)] == terms
        )
        if n:
            out[d] = n
    return out


@pytest.fixture(scope="module")
def docs_texts(spark):
    return {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }


def test_phrase_direct_matches_duckdb(spark):
    from information_retrieval_spark.ops.engine_entry import q_phrase_index
    from information_retrieval_spark.ops.ir_direct import SQL_PHRASE_TOPK

    got = {
        (r.query_id, r.rank, r.doc_id, r.n_occ)
        for r in q_phrase_index(spark, SF).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    want = set(map(tuple, con.execute(SQL_PHRASE_TOPK).fetchall()))
    assert got == want


def test_phrase_direct_matches_bruteforce(spark, docs_texts):
    from information_retrieval_spark.ops.engine_entry import q_phrase_index
    from information_retrieval_spark.ops.ir_direct import PHRASE_SET, TOP_K

    rows = q_phrase_index(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.n_occ))
    for qid, phrase in PHRASE_SET:
        counts = _brute_phrase_counts(docs_texts, phrase)
        want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
        got = [(d, n) for _, d, n in sorted(by_q.get(qid, []))]
        assert got == [(d, n) for d, n in want], f"phrase {phrase!r}"


def test_phrase_index_scan_is_term_pruned(spark):
    """The positional scan must reach parquet with a pushed In(term, ...)
    filter — phrase search reads only the phrase terms' postings."""
    from information_retrieval_spark.ops.engine_entry import (
        ensure_documents_posindex,
    )
    from information_retrieval_spark.query.phrase import phrase_search

    idx = ensure_documents_posindex(spark, SF)
    df = phrase_search(spark, idx, [(0, "hash join")], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "In(term" in plan or "EqualTo(term" in plan, plan[:2000]


def test_phrase_respects_delete_vector(spark, docs_texts, tmp_path):
    """After remove_documents, a deleted doc must vanish from phrase hits
    and the survivors' counts must equal brute force over live docs."""
    from information_retrieval_spark.index.build import IndexBuilder
    from information_retrieval_spark.index.maintenance import IndexMaintenance
    from information_retrieval_spark.query.phrase import phrase_search

    idx = str(tmp_path / "phrase_idx")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    IndexBuilder(
        spark, idx, sections={"body": "text"}, tokenizer="simple",
        stop_terms=[],
    ).build(docs)

    phrase = "hash join"
    live_counts = _brute_phrase_counts(docs_texts, phrase)
    assert live_counts, "fixture needs at least one phrase hit"
    victim = max(live_counts)  # delete a doc that currently matches
    IndexMaintenance(spark, idx).remove_documents([victim])

    want = {d: n for d, n in live_counts.items() if d != victim}
    # top-k with a huge k == all matches; compare the full maps
    got_all = {
        r.doc_id: r.n_occ
        for r in phrase_search(
            spark, idx, [(0, phrase)], k=len(docs_texts) + 1
        ).collect()
    }
    assert victim not in got_all
    assert got_all == want


# ---------------------------------------------------------------- proximity

def _brute_prox_counts(
    tok_streams: dict[int, list[tuple[str, int]]],
    terms: list[str],
    window: int,
) -> dict[int, int]:
    """doc_id -> number of anchor occurrences of terms[0] with every other
    term within ±window (positions as given in tok_streams)."""
    out = {}
    for d, toks in tok_streams.items():
        pos = {}
        for t, p in toks:
            pos.setdefault(t, []).append(p)
        anchors = pos.get(terms[0], [])
        n = 0
        for a in anchors:
            if all(
                any(abs(p - a) <= window for p in pos.get(t, []))
                for t in terms[1:]
            ):
                n += 1
        if n:
            out[d] = n
    return out


def test_prox_direct_matches_duckdb(spark):
    from information_retrieval_spark.ops.engine_entry import q_prox_index
    from information_retrieval_spark.ops.ir_direct import SQL_PROX_TOPK

    got = {
        (r.query_id, r.rank, r.doc_id, r.n_win)
        for r in q_prox_index(spark, SF).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    want = set(map(tuple, con.execute(SQL_PROX_TOPK).fetchall()))
    assert got == want


def test_prox_direct_matches_bruteforce(spark, docs_texts):
    from information_retrieval_spark.ops.engine_entry import q_prox_index
    from information_retrieval_spark.ops.ir_direct import (
        PROX_SET,
        PROX_WINDOW,
        TOP_K,
    )

    streams = {
        d: [
            (w, i)
            for i, w in enumerate(re.split(r"[^a-z0-9]+", t.lower()))
            if w
        ]
        for d, t in docs_texts.items()
    }
    rows = q_prox_index(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.n_win))
    for qid, text in PROX_SET:
        terms = list(
            dict.fromkeys(w for w in re.split(r"[^a-z0-9]+", text.lower()) if w)
        )
        counts = _brute_prox_counts(streams, terms, PROX_WINDOW)
        want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
        got = [(d, n) for _, d, n in sorted(by_q.get(qid, []))]
        assert got == want, f"prox query {text!r}"


def test_phrase_refuses_char_offset_index(spark, tmp_path):
    """Exact-phrase adjacency is undefined over the code tokenizer's char
    offsets — phrase_search must refuse, proximity_search must work."""
    from information_retrieval_spark.fixtures import corpus_rows
    from information_retrieval_spark.index.build import IndexBuilder
    from information_retrieval_spark.query.phrase import (
        phrase_search,
        proximity_search,
    )
    from information_retrieval_spark.tokenize import code_tokens

    rows = corpus_rows(60)
    corpus = spark.createDataFrame(
        [(r.doc_id, r.path, r.content) for r in rows],
        "doc_id long, path string, content string",
    )
    idx = str(tmp_path / "code_posidx")
    IndexBuilder(
        spark, idx, sections={"body": "content"}, tokenizer="code",
        stop_terms=[],
    ).build(corpus)

    with pytest.raises(ValueError, match="proximity_search"):
        phrase_search(spark, idx, [(0, "def main")])

    # char-window proximity vs pure-Python brute force over code_tokens
    streams = {r.doc_id: code_tokens(r.content) for r in rows}
    toks = [t for t, _ in streams[rows[0].doc_id]]
    terms = list(dict.fromkeys(toks[:3]))[:2]
    assert len(terms) == 2
    query = " ".join(terms)
    window = 30
    counts = _brute_prox_counts(streams, terms, window)
    got = {
        r.doc_id: r.n_win
        for r in proximity_search(
            spark, idx, [(0, query)], window=window, k=len(rows) + 1
        ).collect()
    }
    assert got == counts
    assert rows[0].doc_id in got


def test_phrase_spans_lsm_segments_after_add(spark, docs_texts, tmp_path):
    """An incremental add commits a NEW postings segment; phrase search
    must see matches in both the base and the delta without a compact."""
    from pyspark.sql import functions as F

    from information_retrieval_spark.index.build import IndexBuilder
    from information_retrieval_spark.index.catalog import table_dirs
    from information_retrieval_spark.index.maintenance import IndexMaintenance
    from information_retrieval_spark.query.phrase import phrase_search

    idx = str(tmp_path / "lsm_phrase_idx")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    base = docs.filter(F.col("doc_id") <= max_id // 2)
    delta = docs.filter(F.col("doc_id") > max_id // 2)
    IndexBuilder(
        spark, idx, sections={"body": "text"}, tokenizer="simple",
        stop_terms=[],
    ).build(base)
    IndexMaintenance(spark, idx).add_documents(delta)
    assert len(table_dirs(idx, "postings_flat")) == 2  # base + delta dirs

    phrase = "hash join"
    want = _brute_phrase_counts(docs_texts, phrase)
    got = {
        r.doc_id: r.n_occ
        for r in phrase_search(
            spark, idx, [(0, phrase)], k=len(docs_texts) + 1
        ).collect()
    }
    assert got == want
    assert any(d <= max_id // 2 for d in got) and any(
        d > max_id // 2 for d in got
    ), "phrase hits must span both segments"
