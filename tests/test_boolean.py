"""Boolean (must / should / must-not) retrieval over the persisted index vs
its DuckDB oracle (the declarative token SQL) and a pure-Python brute
force, plus delete-vector, LSM-segment and code-tokenizer semantics."""

import re

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


def _toks(s: str) -> list[str]:
    return list(dict.fromkeys(w for w in re.split(r"[^a-z0-9]+", s.lower()) if w))


def _brute_bool(
    docs: dict[int, str], must: str, should: str, nots: str
) -> dict[int, int]:
    """doc_id -> n_should for qualifying docs."""
    m, s, n = _toks(must), _toks(should), _toks(nots)
    out = {}
    for d, text in docs.items():
        terms = set(w for w in re.split(r"[^a-z0-9]+", text.lower()) if w)
        if any(t not in terms for t in m):
            continue
        if any(t in terms for t in n):
            continue
        hit = sum(1 for t in s if t in terms)
        if m or hit:
            out[d] = hit
    return out


@pytest.fixture(scope="module")
def docs_texts(spark):
    return {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }


def test_bool_direct_matches_duckdb(spark):
    from information_retrieval_spark.ops.engine_entry import q_bool_index
    from information_retrieval_spark.ops.ir_direct import SQL_BOOL_TOPK

    got = {
        (r.query_id, r.rank, r.doc_id, r.n_should)
        for r in q_bool_index(spark, SF).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    want = set(map(tuple, con.execute(SQL_BOOL_TOPK).fetchall()))
    assert got == want


def test_bool_direct_matches_bruteforce(spark, docs_texts):
    from information_retrieval_spark.ops.engine_entry import q_bool_index
    from information_retrieval_spark.ops.ir_direct import BOOL_QUERY_SET, TOP_K

    rows = q_bool_index(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.n_should))
    for qid, must, should, nots in BOOL_QUERY_SET:
        scores = _brute_bool(docs_texts, must, should, nots)
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
        got = [(d, n) for _, d, n in sorted(by_q.get(qid, []))]
        assert got == want, f"bool query {qid}: {must!r}/{should!r}/{nots!r}"


def test_bool_absent_must_term_matches_nothing(spark):
    from information_retrieval_spark.ops.engine_entry import q_bool_index

    rows = q_bool_index(spark, SF).filter("query_id = 5").collect()
    assert rows == []  # q5's must term is absent from the corpus


def test_bool_index_scan_is_term_pruned(spark):
    """Boolean search must read only the query terms' postings — the scan
    reaches parquet with a pushed In(term, ...) filter (a must_not term
    costs one pruned postings read, never a corpus scan)."""
    from information_retrieval_spark.ops.engine_entry import (
        ensure_documents_posindex,
    )
    from information_retrieval_spark.query.boolean import boolean_search

    idx = ensure_documents_posindex(spark, SF)
    df = boolean_search(spark, idx, [(0, "hash", "join", "merge")], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "In(term" in plan or "EqualTo(term" in plan, plan[:2000]


def test_bool_respects_delete_vector(spark, docs_texts, tmp_path):
    """A deleted doc must vanish from boolean hits; survivors unchanged."""
    from information_retrieval_spark.index.build import IndexBuilder
    from information_retrieval_spark.index.maintenance import IndexMaintenance
    from information_retrieval_spark.query.boolean import boolean_search

    idx = str(tmp_path / "bool_idx")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    IndexBuilder(
        spark, idx, sections={"body": "text"}, tokenizer="simple",
        stop_terms=[],
    ).build(docs)

    q = (0, "hash", "join merge", "zzznotfound")
    want_all = _brute_bool(docs_texts, q[1], q[2], q[3])
    assert want_all, "fixture needs at least one boolean hit"
    victim = max(want_all)
    IndexMaintenance(spark, idx).remove_documents([victim])

    want = {d: n for d, n in want_all.items() if d != victim}
    got = {
        r.doc_id: r.n_should
        for r in boolean_search(
            spark, idx, [q], k=len(docs_texts) + 1
        ).collect()
    }
    assert victim not in got
    assert got == want


def test_bool_spans_lsm_segments_after_add(spark, docs_texts, tmp_path):
    """An incremental add commits a NEW postings segment; the distinct
    (doc_id, term) collapse must merge duplicate postings across segments
    so must-counts stay exact."""
    from pyspark.sql import functions as F

    from information_retrieval_spark.index.build import IndexBuilder
    from information_retrieval_spark.index.catalog import table_dirs
    from information_retrieval_spark.index.maintenance import IndexMaintenance
    from information_retrieval_spark.query.boolean import boolean_search

    idx = str(tmp_path / "lsm_bool_idx")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    IndexBuilder(
        spark, idx, sections={"body": "text"}, tokenizer="simple",
        stop_terms=[],
    ).build(docs.filter(F.col("doc_id") <= max_id // 2))
    IndexMaintenance(spark, idx).add_documents(
        docs.filter(F.col("doc_id") > max_id // 2)
    )
    assert len(table_dirs(idx, "postings_flat")) == 2

    q = (0, "hash", "join merge stream", "")
    want = _brute_bool(docs_texts, q[1], q[2], q[3])
    got = {
        r.doc_id: r.n_should
        for r in boolean_search(
            spark, idx, [q], k=len(docs_texts) + 1
        ).collect()
    }
    assert got == want
    assert any(d <= max_id // 2 for d in got) and any(
        d > max_id // 2 for d in got
    ), "boolean hits must span both segments"


def test_bool_code_tokenizer_index_matches_bruteforce(spark, tmp_path):
    """On a tokenizer="code" index, query terms must be split the way the
    index was built: ``parseJSON`` is stored as ``parse`` + ``json``, so a
    lowercase simple split (``parsejson``) would silently match nothing."""
    from information_retrieval_spark.index.build import IndexBuilder
    from information_retrieval_spark.query.boolean import boolean_search
    from information_retrieval_spark.tokenize import code_terms

    texts = {
        1: "def parseJSON(raw): return json.loads(raw)",
        2: "def read_file(path): return open(path).read()",
        3: "class JsonParser: parseJSON = staticmethod(read_file)",
        4: "int parse_int(const char *s) { return atoi(s); }",
        5: "fn readFile(p: &Path) -> String { fs::read_to_string(p) }",
        6: "void writeFile(String path) { Files.write(path) }",
    }
    idx = str(tmp_path / "code_bool_idx")
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    IndexBuilder(
        spark, idx, sections={"body": "text"}, tokenizer="code",
        stop_terms=[],
    ).build(docs)

    def toks(s):
        return list(dict.fromkeys(code_terms(s)))

    terms = {d: set(code_terms(t)) for d, t in texts.items()}
    queries = [
        (0, "parseJSON", "", ""),
        (1, "", "read_file writeFile", "JsonParser"),
        (2, "parse", "json raw", "int"),
        (3, "readFile", "", ""),
    ]
    got = {}
    for r in boolean_search(spark, idx, queries, k=len(texts)).collect():
        got.setdefault(r.query_id, {})[r.doc_id] = r.n_should
    for qid, must, should, nots in queries:
        m, s, n = toks(must), toks(should), toks(nots)
        want = {}
        for d, ts in terms.items():
            if all(t in ts for t in m) and not any(t in ts for t in n):
                hit = sum(t in ts for t in s)
                if m or hit:
                    want[d] = hit
        assert want, f"query {qid} should match in this fixture"
        assert got.get(qid, {}) == want, f"query {qid}: {must!r}/{should!r}/{nots!r}"
