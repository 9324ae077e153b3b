"""The ranked engine's two placements (query/wand.py): the local one reads
the pinned snapshot on the driver with pyarrow and runs the block scorer
over one bucket holding every doc; the distributed one runs the
bucket-grouped passes. Both must answer every batch as the pure-Python
oracle does, on an index that has what the driver-side readers must get
right: four segments, seq-scoped and legacy (``upto``-less) tombstones,
an update, negative doc_ids, and categories "007", one holding "/", one
holding a space, and null.
"""

import os
import shutil
from dataclasses import replace

import pandas as pd
import pytest

from information_retrieval_spark.fixtures import corpus_rows
from information_retrieval_spark.index.build import IndexBuilder
from information_retrieval_spark.index.catalog import (
    Catalog,
    count_live_docs,
    read_deletes,
    read_seq_table,
    read_stats_pdf,
)
from information_retrieval_spark.index.maintenance import IndexMaintenance
from information_retrieval_spark.query.engine import QuerySpec
from information_retrieval_spark.query.wand import WandEngine
from tests.oracle import Oracle, assert_ranked_equal, ranked_rows
from tests.placement import PLACEMENTS, each_placement, forced

SECTIONS = {"title": "path", "abstract": "content"}
CATS = ["007", "a/b", "c d", None, "java"]


def _df(spark, rows):
    return spark.createDataFrame(
        [(r.doc_id, r.repo, r.path, r.commit, r.lang, r.content) for r in rows],
        "doc_id long, repo string, path string, commit string, lang string,"
        " content string",
    )


def _legacy_tombstone(idx, doc_id):
    """Commit a delete-vector dir in the old doc_id-only layout: it hides
    the doc in every segment."""
    cat = Catalog(idx)
    rel = cat.new_data_dir("deleted_docs")
    os.makedirs(cat.abspath(rel))
    pd.DataFrame({"doc_id": [doc_id]}).to_parquet(
        os.path.join(cat.abspath(rel), "part-0.parquet")
    )
    cat.commit({"deleted_docs": ("append", [rel])}, "remove")


@pytest.fixture(scope="module")
def edge(spark, tmp_path_factory):
    """(index dir, live rows): a base build and two adds, then a remove,
    an update (a fourth segment) and a legacy tombstone. doc_ids run from -60 up, and the
    rare token 'zqrare' sits in one doc only."""
    rows = [
        replace(r, doc_id=r.doc_id - 60, lang=CATS[i % len(CATS)])
        for i, r in enumerate(corpus_rows(120))
    ]
    rows[7] = replace(rows[7], content=rows[7].content + " zqrare")
    d = str(tmp_path_factory.mktemp("placement"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10,
                 category_col="lang").build(_df(spark, rows[:80]))
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[80:100]))
    maint.add_documents(_df(spark, rows[100:]))
    gone = {rows[3].doc_id, rows[90].doc_id, rows[50].doc_id}
    maint.remove_documents([rows[3].doc_id, rows[90].doc_id])
    moved = replace(rows[20], content=rows[110].content, lang="a/b")
    maint.update_documents(_df(spark, [moved]))
    _legacy_tombstone(d, rows[50].doc_id)
    live = [moved if r.doc_id == moved.doc_id else r
            for r in rows if r.doc_id not in gone]
    return d, live


def _stop_of(spark, idx):
    rows = spark.read.parquet(f"{idx}/stopwords").orderBy("rank").collect()
    return [r.term for r in rows]


def _oracle_answer(spec, live, stop):
    """The oracle's answer over the docs ``spec``'s filters let through."""
    full = Oracle({r.doc_id: {"title": r.path, "abstract": r.content}
                   for r in live}, stop_terms=stop)

    def ok(r):
        toks = {t for s in full.non_stop[r.doc_id].values() for t, _ in s}
        return (
            spec.filter_category in (None, r.lang)
            and set(spec.filter_terms or ()) <= toks
            and not set(spec.exclude_terms or ()) & toks
        )

    orc = Oracle({r.doc_id: {"title": r.path, "abstract": r.content}
                  for r in live if ok(r)}, stop_terms=stop)
    return orc.answer(spec)


def _specs(mode):
    q = lambda i, text, method="okapi25", k=10, **kw: QuerySpec(  # noqa: E731
        i, text, method, k, spell=False, match_mode=mode, **kw)
    return [
        q(1, "tokenizer stream"),
        q(2, "buffer matrix parser", k=-1),
        q(3, "tokenizer", k=0),
        q(4, "tokenizer stream", "ltn-lnn"),
        q(5, "buffer matrix parser", "ltc-lnc", k=-1),
        q(6, "zqrare tokenizer", "ltn-lnn"),
        q(7, "tokenizer stream", filter_category="007"),
        q(8, "buffer parser", filter_category="a/b", k=-1),
        q(9, "tokenizer matrix", filter_category="c d"),
        q(10, "buffer matrix", filter_terms=("parser",),
          exclude_terms=("stream",)),
        q(11, "tokenizer", exclude_terms=("buffer", "matrix"), k=-1),
    ]


@pytest.mark.parametrize("mode", ["exact", "prefix"])
def test_each_placement_answers_as_the_oracle(spark, edge, mode):
    d, live = edge
    stop = _stop_of(spark, d)
    specs = _specs(mode)
    eng = WandEngine(spark, d)
    got = each_placement(lambda: ranked_rows(eng.search(specs)))
    assert 3 not in got  # k = 0
    for spec in specs:
        want = _oracle_answer(spec, live, stop)
        assert_ranked_equal(got.get(spec.query_id, []), want,
                            f"{mode} query {spec.query_id}")
    assert got[7] and got[8] and got[9]  # every category filter matches
    eng.close()


def test_null_category_is_never_a_filter_match(spark, edge):
    """Docs with a null category take part in unfiltered queries and in
    no filtered one."""
    d, live = edge
    null_docs = {r.doc_id for r in live if r.lang is None}
    spec = [QuerySpec(1, "tokenizer", "okapi25", -1, spell=False,
                      match_mode="exact")]
    specs = [replace(spec[0], query_id=i + 2, filter_category=c)
             for i, c in enumerate(c for c in CATS if c is not None)]
    eng = WandEngine(spark, d)
    plain = each_placement(lambda: ranked_rows(eng.search(spec)))
    assert {doc for _, doc, _ in plain[1]} & null_docs
    got = each_placement(lambda: ranked_rows(eng.search(specs)))
    for rows in got.values():
        assert not {doc for _, doc, _ in rows} & null_docs
    eng.close()


def test_n_live_is_the_live_doc_count(spark, edge):
    """tf-idf's N (the ledger minus the hidden doc versions the statistics
    pass counts) equals `catalog.count_live_docs`, also for a batch whose
    only term lives in one doc: the tombstones of the buckets it does not
    reach still count."""
    from pyspark.sql import functions as F

    d, live = edge
    want = count_live_docs(
        int(read_stats_pdf(d)["n_docs"].iloc[0]),
        read_seq_table(spark, d, "doclen"),
        read_deletes(spark, d),
    )
    assert want == len(live)
    rare = next(r.doc_id for r in live if "zqrare" in r.content)
    dead = [r.doc_id for r in read_deletes(spark, d).collect()]
    n_buckets = WandEngine(spark, d).n_buckets

    def buckets(ids):
        return {
            r.b for r in spark.createDataFrame([(i,) for i in ids],
                                               "doc_id long")
            .select(F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).alias("b"))
            .collect()
        }

    # a tombstone sits outside the rare doc's bucket
    assert buckets(dead) - buckets([rare])
    for placement in PLACEMENTS:
        with forced(placement), WandEngine(spark, d) as eng:
            eng.search([QuerySpec(1, "zqrare", "ltn-lnn", 10, spell=False,
                                  match_mode="exact")]).collect()
            assert eng.last_stats[1]["n_live"] == want, placement


def test_close_drops_the_local_cache(spark, edge):
    """close() drops the local placement's side rows and footers; the
    engine reads them again on its next batch and answers the same."""
    d, _ = edge
    spec = _specs("exact")[:2]
    with forced("local"), WandEngine(spark, d) as eng:
        first = ranked_rows(eng.search(spec))
        assert eng.last_placement["placement"] == "local"
        assert eng._local_side is not None and eng._row_groups
        eng.close()
        assert eng._local_side is None and eng._row_groups is None
        eng.close()  # idempotent
        assert ranked_rows(eng.search(spec)) == first
        assert eng._local_side is not None
    assert eng._local_side is None  # __exit__ closed it


def test_commit_after_open_keeps_the_local_answer(
    spark, edge, tmp_path_factory
):
    """An engine opened before a commit answers from its pinned snapshot:
    the local placement reads the side rows and footers lazily, on the
    first batch, from that snapshot's dirs."""
    src, live = edge
    d = str(tmp_path_factory.mktemp("after_open")) + "/idx"
    shutil.copytree(src, d)
    specs = _specs("exact")
    with forced("local"):
        want = ranked_rows(WandEngine(spark, d).search(specs))
        eng = WandEngine(spark, d)
        maint = IndexMaintenance(spark, d)
        top = want[1][0][1]
        maint.remove_documents([top])
        maint.update_documents(_df(spark, [replace(live[0], content="zz")]))
        maint.compact()
        assert ranked_rows(eng.search(specs)) == want
        assert ranked_rows(WandEngine(spark, d).search(specs)) != want


def test_spell_dictionary_reads_no_spark_job(spark, edge):
    """Over a multi-segment index the small-vocabulary spell dictionary is
    read on the driver: it equals the dictionary of the distinct
    vocabulary and runs 0 Spark jobs. A cap below the vocabulary still
    returns None."""
    from information_retrieval_spark.index.catalog import (
        read_vocab,
        table_dirs,
    )
    from information_retrieval_spark.query.spell import (
        bigram_dict_if_small,
        build_bigram_dict,
    )

    d, _ = edge
    assert len(table_dirs(d, "vocab")) == 4  # a build, two adds, an update
    want = build_bigram_dict(r.term for r in read_vocab(spark, d).collect())
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen = set(tracker.getJobIdsForGroup("spell-dict"))
    sc.setJobGroup("spell-dict", "driver-side spell dictionary")
    try:
        got = bigram_dict_if_small(spark, d)
    finally:
        sc._jsc.clearJobGroup()
    assert not set(tracker.getJobIdsForGroup("spell-dict")) - seen
    assert got == want
    assert bigram_dict_if_small(spark, d, cap=1) is None
