"""Regex code search: brute scan vs trigram-prefiltered path vs DuckDB
twin vs brute-force Python at sf0.001, plus the candidate-superset
invariant the trigram prefilter relies on."""

import re

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    return c


@pytest.fixture(scope="module")
def texts(spark):
    return {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }


def test_grep_brute_matches_duckdb(spark, con):
    from information_retrieval_spark.ops.grep import SQL_GREP_TOPK, q_grep_topk

    got = {
        (r.query_id, r.rank, r.doc_id, r.n_matches)
        for r in q_grep_topk(spark, SF).collect()
    }
    want = set(map(tuple, con.execute(SQL_GREP_TOPK).fetchall()))
    assert got == want


def test_grep_matches_bruteforce_python(spark, texts):
    from information_retrieval_spark.ops.grep import (
        GREP_QUERY_SET,
        TOP_K,
        q_grep_topk,
    )

    rows = q_grep_topk(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, regex, _ in GREP_QUERY_SET:
        counts = {}
        for did, t in texts.items():
            n = len(re.findall(regex, t.lower()))
            if n:
                counts[did] = n
        want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
        got = sorted(by_q.get(qid, []), key=lambda r: r.rank)
        assert [(r.doc_id, r.n_matches) for r in got] == want


def test_literal_factors_are_required_substrings(texts):
    """The trigram prefilter is only correct if every regex match contains
    the declared literal factor — check it on every actual match in the
    fixture corpus (and on the regex structure: factor has >= 3 chars)."""
    from information_retrieval_spark.ops.grep import GREP_QUERY_SET

    for _, regex, lit in GREP_QUERY_SET:
        assert len(lit) >= 3
        for t in texts.values():
            for m in re.findall(regex, t.lower()):
                pass  # findall returns groups when present; use finditer
            for m in re.finditer(regex, t.lower()):
                assert lit in m.group(0), (regex, lit, m.group(0))


def test_trigram_candidates_are_superset(spark, texts):
    """Every brute-force matching doc must survive the trigram AND-filter
    (prefilter recall = 1; precision is then restored by the verify)."""
    from information_retrieval_spark.ops.grep import GREP_QUERY_SET, _trigrams

    for qid, regex, lit in GREP_QUERY_SET:
        need = set(_trigrams(lit))
        for did, t in texts.items():
            low = t.lower()
            if re.search(regex, low):
                have = {low[i : i + 3] for i in range(len(low) - 2)}
                assert need <= have, (qid, did)


def test_grep_persisted_equals_brute_and_prunes(spark, tmp_path):
    """The persisted trigram index returns identical rows AND its scan is
    pruned: In(trigram) pushed to parquet, partition filter on tg1."""
    from information_retrieval_spark.ops.grep import (
        GREP_QUERY_SET,
        _trigrams,
        build_trigram_index,
        grep_persisted,
        q_grep_topk,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    tg_dir = str(tmp_path / "trigrams")
    build_trigram_index(spark, d, tg_dir)

    res = grep_persisted(spark, tg_dir, d)
    got = {(r.query_id, r.rank, r.doc_id, r.n_matches) for r in res.collect()}
    want = {
        (r.query_id, r.rank, r.doc_id, r.n_matches)
        for r in q_grep_topk(spark, SF).collect()
    }
    assert got == want

    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(trigram" in plan
    # partition pruning on the first-char directory column
    assert "PartitionFilters" in plan and "tg1" in plan
    # candidate count sanity: the needed set is a strict subset of all
    # first-char partitions (pruning is real, not a full read)
    firsts = {
        tri[0] for _, _, lit in GREP_QUERY_SET for tri in _trigrams(lit)
    }
    all_firsts = {
        r.tg1 for r in spark.read.parquet(tg_dir).select("tg1").distinct().collect()
    }
    assert firsts < all_firsts


def test_route_queries_subsets_and_split(spark, tmp_path):
    """Planner invariants: every index-routed query gets a non-empty
    trigram subset of its factor's trigrams that CONTAINS the rarest
    trigram (the subset's AND is then a candidate superset by
    construction); scan-routed queries are exactly those whose min-df
    bound exceeds SCAN_FRACTION of the corpus."""
    from information_retrieval_spark.ops.grep import (
        GREP_QUERY_SET,
        SCAN_FRACTION,
        _route_queries,
        _trigrams,
        build_trigram_index,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    tg_dir = str(tmp_path / "trigrams")
    build_trigram_index(spark, d, tg_dir)
    idx_q, scan_q, qtris = _route_queries(spark, tg_dir)

    assert {q[0] for q in idx_q} | {q[0] for q in scan_q} == {
        q[0] for q in GREP_QUERY_SET
    }
    assert not ({q[0] for q in idx_q} & {q[0] for q in scan_q})

    stats = {
        r.trigram: r.df
        for r in spark.read.parquet(f"{tg_dir}/_stats").collect()
    }
    n_docs = d.count()
    for qid, _, lit in GREP_QUERY_SET:
        full = _trigrams(lit)
        bound = min(stats.get(t, 0) for t in full)
        if bound > SCAN_FRACTION * n_docs:
            assert qid in {q[0] for q in scan_q}
        else:
            chosen = qtris[qid]
            assert chosen and set(chosen) <= set(full)
            assert min(stats.get(t, 0) for t in chosen) == bound
