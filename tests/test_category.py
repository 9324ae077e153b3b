"""Query-time category filter (QuerySpec.filter_category) — reference
phase-2 category search (`ui/backend/mir/search/search/phase2.py:64-71`:
postings restricted to the category's docs before scoring).

Semantics contract: a category-filtered query over the full index answers
EXACTLY like an unfiltered query over an index built from only that
category's docs (stop list pinned) — the per-query candidate stats (Q1 N,
Q2 avgdl, df) all recompute over the sub-corpus, like the delete-vector
path. The engine must be rank-identical to the pure-Python oracle over
each query's category, including mixed filtered/unfiltered batches, and
equal under each placement.
"""

import pytest

from information_retrieval_spark.fixtures import corpus_rows
from information_retrieval_spark.index.build import IndexBuilder
from information_retrieval_spark.query.engine import QuerySpec, SearchEngine
from tests.oracle import Oracle, assert_ranked_equal, ranked_rows
from tests.placement import each_placement

SECTIONS = {"title": "path", "abstract": "content"}
CAT = "java"


def _df(spark, rows):
    return spark.createDataFrame(
        [(r.doc_id, r.repo, r.path, r.commit, r.lang, r.content) for r in rows],
        "doc_id long, repo string, path string, commit string, lang string,"
        " content string",
    )


def _res(engine, specs):
    out = {}
    for r in each_placement(lambda: engine.search(specs).collect()):
        out.setdefault(r.query_id, []).append(
            (r.rank, r.doc_id, round(r.score, 9))
        )
    for v in out.values():
        v.sort()
    return out


@pytest.fixture(scope="module")
def cat_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("catidx"))
    IndexBuilder(
        spark, d, SECTIONS, tokenizer="code", stop_k=10, category_col="lang"
    ).build(_df(spark, corpus_rows(150)))
    return d


def _stop_of(spark, idx):
    rows = spark.read.parquet(f"{idx}/stopwords").orderBy("rank").collect()
    return [r.term for r in rows]


def _oracle_check(spark, idx, rows, specs, tokenizer="code"):
    """The engine's answer to ``specs`` over ``idx`` equals the oracle's
    over each query's category of ``rows`` (index stop list pinned).
    Returns the engine's rows per query."""
    eng = SearchEngine(spark, idx)
    got = each_placement(lambda: ranked_rows(eng.search(specs)))
    stop = _stop_of(spark, idx)
    for q in specs:
        orc = Oracle(
            {r.doc_id: {"title": r.path, "abstract": r.content}
             for r in rows
             if q.filter_category in (None, r.lang)},
            tokenizer=tokenizer,
            stop_terms=stop,
        )
        assert_ranked_equal(got.get(q.query_id, []),
                            orc.answer(q, tokenizer),
                            f"query {q.query_id}")
    return got


def test_filter_equals_subcorpus_index(spark, cat_index, tmp_path_factory):
    rows = corpus_rows(150)
    sub = [r for r in rows if r.lang == CAT]
    assert len(sub) > 5
    fresh = str(tmp_path_factory.mktemp("subidx"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, cat_index),
    ).build(_df(spark, sub))

    filtered = [
        QuerySpec(1, "tokenizer stream", "okapi25", 10, spell=False,
                  match_mode="exact", filter_category=CAT),
        QuerySpec(2, "buffer matrix parser", "okapi25", 10, spell=False,
                  match_mode="exact", filter_category=CAT),
    ]
    plain = [
        QuerySpec(q.query_id, q.text, q.method, q.k, spell=False,
                  match_mode="exact")
        for q in filtered
    ]
    want = _res(SearchEngine(spark, fresh), plain)
    assert want, "sub-corpus queries should match something"
    assert _res(SearchEngine(spark, cat_index), filtered) == want


def test_mixed_batch_filtered_and_unfiltered(spark, cat_index):
    specs = [
        QuerySpec(1, "tokenizer stream", "okapi25", 10, spell=False,
                  match_mode="exact", filter_category=CAT),
        QuerySpec(2, "tokenizer stream", "okapi25", 10, spell=False,
                  match_mode="exact"),
        QuerySpec(3, "buffer parser", "okapi25", 10, spell=False,
                  match_mode="exact", filter_category="go"),
    ]
    rows = corpus_rows(150)
    want = _oracle_check(spark, cat_index, rows, specs)
    # the unfiltered query must see docs outside CAT; filtered must not
    lang_of = {r.doc_id: r.lang for r in rows}
    assert any(lang_of[d] != CAT for _, d, _ in want[2])
    assert all(lang_of[d] == CAT for _, d, _ in want.get(1, []))
    assert all(lang_of[d] == "go" for _, d, _ in want.get(3, []))


def test_filter_prefix_mode_rank_identity(spark, cat_index):
    # prefix mode gates on the exact term existing (in the sub-corpus), so
    # use exact-existing terms that still prefix-expand to longer variants
    specs = [
        QuerySpec(1, "tokenizer stream", "okapi25", 10, spell=False,
                  match_mode="prefix", filter_category=CAT),
        QuerySpec(2, "buffer parser", "okapi25", 10, spell=False,
                  match_mode="prefix", filter_category="go"),
    ]
    want = _oracle_check(spark, cat_index, corpus_rows(150), specs)
    assert want, "prefix queries should match"


def test_filter_without_doc_meta_raises(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nocat"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, corpus_rows(60))
    )
    spec = [QuerySpec(1, "tokenizer", "okapi25", 5, spell=False,
                      match_mode="exact", filter_category=CAT)]
    with pytest.raises(ValueError):
        SearchEngine(spark, d).search(spec).collect()


def test_filter_survives_incremental_add(spark, tmp_path_factory):
    from information_retrieval_spark.index.maintenance import IndexMaintenance

    rows = corpus_rows(150)
    d = str(tmp_path_factory.mktemp("catmaint"))
    IndexBuilder(
        spark, d, SECTIONS, tokenizer="code", stop_k=10, category_col="lang"
    ).build(_df(spark, rows[:120]))
    IndexMaintenance(spark, d).add_documents(_df(spark, rows[120:]))

    fresh = str(tmp_path_factory.mktemp("catfresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        category_col="lang", stop_terms=_stop_of(spark, d),
    ).build(_df(spark, rows))
    specs = [
        QuerySpec(1, "tokenizer stream", "okapi25", 10, spell=False,
                  match_mode="exact", filter_category=CAT),
    ]
    want = _res(SearchEngine(spark, fresh), specs)
    assert _res(SearchEngine(spark, d), specs) == want


def test_filter_tfidf_method(spark, cat_index, tmp_path_factory):
    """The category filter applies to the tf-idf scorers too (same
    _matched path). Unlike okapi (whose N is the candidate set, quirk Q1),
    tf-idf's N is the CORPUS-level stat — reference-faithful: phase-2's
    prebuilt idf stays corpus-level while the doc set is restricted — so
    the sub-corpus-index comparison checks the RANKED DOC ORDER and
    category membership, not score equality."""
    rows = corpus_rows(150)
    sub = [r for r in rows if r.lang == CAT]
    fresh = str(tmp_path_factory.mktemp("subltc"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, cat_index),
    ).build(_df(spark, sub))
    filtered = [QuerySpec(1, "tokenizer stream", "ltc-lnc", 10, spell=False,
                          match_mode="exact", filter_category=CAT)]
    plain = [QuerySpec(1, "tokenizer stream", "ltc-lnc", 10, spell=False,
                       match_mode="exact")]
    want = _res(SearchEngine(spark, fresh), plain)
    got = _res(SearchEngine(spark, cat_index), filtered)
    assert want and got
    assert [(rk, d) for rk, d, _ in got[1]] == [
        (rk, d) for rk, d, _ in want[1]
    ]
    lang_of = {r.doc_id: r.lang for r in rows}
    assert all(lang_of[d] == CAT for _, d, _ in got[1])


def test_filter_survives_remove_and_compact(spark, tmp_path_factory):
    """Logical deletes then compaction keep doc_meta consistent: a
    filtered query equals a fresh index over (category docs − removed)."""
    from information_retrieval_spark.index.maintenance import IndexMaintenance

    rows = corpus_rows(150)
    d = str(tmp_path_factory.mktemp("catrm"))
    IndexBuilder(
        spark, d, SECTIONS, tokenizer="code", stop_k=10, category_col="lang"
    ).build(_df(spark, rows))
    removed = [r.doc_id for r in rows if r.lang == CAT][:3]
    assert removed
    maint = IndexMaintenance(spark, d)
    maint.remove_documents(removed)

    kept = [r for r in rows if r.doc_id not in set(removed)]
    fresh = str(tmp_path_factory.mktemp("catrmfresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        category_col="lang", stop_terms=_stop_of(spark, d),
    ).build(_df(spark, kept))
    specs = [QuerySpec(1, "tokenizer stream", "okapi25", 10, spell=False,
                       match_mode="exact", filter_category=CAT)]
    want = _res(SearchEngine(spark, fresh), specs)
    assert _res(SearchEngine(spark, d), specs) == want
    maint.compact()
    assert _res(SearchEngine(spark, d), specs) == want


def _int_doc_id_check(spark, tmp_path_factory, tokenizer):
    """Build an IntegerType doc_id corpus with ``tokenizer`` and check a
    category-filtered query against the oracle."""
    from pyspark.sql import functions as F

    rows = corpus_rows(100)
    d = spark.createDataFrame(
        [(r.doc_id, r.repo, r.path, r.commit, r.lang, r.content) for r in rows],
        "doc_id long, repo string, path string, commit string, lang string,"
        " content string",
    ).withColumn("doc_id", F.col("doc_id").cast("int"))
    idx = str(tmp_path_factory.mktemp("intids"))
    IndexBuilder(
        spark, idx, SECTIONS, tokenizer=tokenizer, stop_k=10,
        category_col="lang",
    ).build(d)
    specs = [QuerySpec(1, "tokenizer stream", "okapi25", 10, spell=False,
                       match_mode="exact", filter_category=CAT)]
    want = _oracle_check(spark, idx, rows, specs, tokenizer)
    assert want.get(1), "filtered query must match docs in the category"
    lang_of = {r.doc_id: r.lang for r in rows}
    assert all(lang_of[doc] == CAT for _, doc, _ in want[1])


def test_filter_category_with_int_doc_ids(spark, tmp_path_factory):
    """An IntegerType doc_id corpus must still category-filter correctly:
    WAND buckets category rows with xxhash64(doc_id), which hashes 4-byte
    ints and 8-byte longs differently, so doc_meta is long-cast at build —
    without the cast the cogrouped lookup silently misses every doc."""
    _int_doc_id_check(spark, tmp_path_factory, "code")


def test_filter_category_with_int_doc_ids_simple_tokenizer(
    spark, tmp_path_factory
):
    """The simple tokenizer long-casts doc_id like the code tokenizer: the
    packer views doc_ids as uint64 and the engines bucket postings by
    xxhash64 of the long, so an int doc_id would crash the pack."""
    _int_doc_id_check(spark, tmp_path_factory, "simple")


def test_doc_meta_category_partition_pruning(spark, cat_index):
    """doc_meta is hive-partitioned by category: a category-restricted
    read lands as a PartitionFilter, so other categories' files are never
    touched (the engines pre-prune doc_meta to the batch's wanted
    categories before their per-query joins)."""
    import re

    from pyspark.sql import functions as F

    from information_retrieval_spark.index.catalog import read_doc_meta

    dm = read_doc_meta(spark, cat_index).filter(
        F.col("category").isin(["java"])
    )
    plan = dm._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
    assert pf and "category" in pf[0] and "java" in pf[0]
    assert dm.count() > 0


def test_filter_follows_a_category_changed_by_update(spark, tmp_path_factory):
    """An update that moves a doc to another category: its old doc_meta
    row is hidden by the update's seq-scoped tombstone, so filtering on the
    OLD category must no longer return it and filtering on the new one
    must, rank-identically to the oracle over the live docs."""
    from dataclasses import replace

    from information_retrieval_spark.index.maintenance import IndexMaintenance

    rows = corpus_rows(60)
    target = next(r for r in rows if r.lang == CAT)
    moved = replace(target, lang="go")
    d = str(tmp_path_factory.mktemp("catmove"))
    IndexBuilder(
        spark, d, SECTIONS, tokenizer="code", stop_k=10, category_col="lang"
    ).build(_df(spark, rows))
    IndexMaintenance(spark, d).update_documents(_df(spark, [moved]))
    text = " ".join(target.content.split()[:6])
    live = [moved if r.doc_id == moved.doc_id else r for r in rows]
    for cat, present in ((CAT, False), ("go", True)):
        specs = [QuerySpec(1, text, "okapi25", -1, spell=False,
                           match_mode="exact", filter_category=cat)]
        want = _oracle_check(spark, d, live, specs)
        docs = {doc for _, doc, _ in want.get(1, [])}
        assert (target.doc_id in docs) == present, cat


def test_numeric_looking_category_survives_tiered_compact(
    spark, tmp_path_factory
):
    """A category like "007" is a string: a tiered compact must read the
    merged segments' doc_meta with its schema, or partition-type inference
    turns "007" into 7 and the merged docs drop out of the filter."""
    from dataclasses import replace as dc_replace

    from information_retrieval_spark.index.maintenance import IndexMaintenance

    rows = [dc_replace(r, lang="007" if r.lang == CAT else "2024")
            for r in corpus_rows(150)]
    d = str(tmp_path_factory.mktemp("catnum"))
    IndexBuilder(
        spark, d, SECTIONS, tokenizer="code", stop_k=10, category_col="lang"
    ).build(_df(spark, rows[:120]))
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:135]))
    maint.add_documents(_df(spark, rows[135:]))
    maint.compact(segments=[1, 2])
    specs = [QuerySpec(1, "tokenizer stream", "okapi25", -1, spell=False,
                       match_mode="exact", filter_category="007")]
    got = _oracle_check(spark, d, rows, specs)
    assert any(doc >= 120 for _, doc, _ in got[1])
