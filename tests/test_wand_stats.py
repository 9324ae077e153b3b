"""WandEngine's per-batch corpus statistics and its Spark job budget.

The statistics BM25 needs (quirk Q1 N = |candidates|, Q2 per-section
avgdl over the candidates, live df per query term) come from one
bucket-grouped pass whose per-bucket partial sums the driver adds up. These
tests recompute the same figures in plain Python from the live flat tables
and require equality, in the cases where the pass does more than count:
the prefix-mode has_exact gate under deletes, the category filter and the
boolean term filters, under each placement. The last tests pin how many
Spark jobs a warm batch runs: none on the driver, a few distributed.
"""

import pytest

from information_retrieval_spark.fixtures import CorpusRow, corpus_rows
from information_retrieval_spark.index.build import IndexBuilder
from information_retrieval_spark.index.maintenance import IndexMaintenance
from information_retrieval_spark.query.engine import QuerySpec
from information_retrieval_spark.query.wand import WandEngine
from tests.placement import PLACEMENTS, forced

SECTIONS = {"title": "path", "abstract": "content"}


def _row(doc_id, content):
    return CorpusRow(doc_id, "org/x", f"src/x/f{doc_id}.py", "0" * 40,
                     "python", content)


def _df(spark, rows):
    return spark.createDataFrame(
        [(r.doc_id, r.repo, r.path, r.commit, r.lang, r.content) for r in rows],
        "doc_id long, repo string, path string, commit string, lang string,"
        " content string",
    )


@pytest.fixture(scope="module")
def maintained(spark, tmp_path_factory):
    """Category-tagged index after a remove and an update. 'zqfoo' occurs
    as a whole token only in doc 900001, which is removed, while its
    extension 'zqfooxy' stays live: in prefix mode the live gate must
    drop the qterm 'zqfoo' together with its expansion."""
    from dataclasses import replace

    rows = corpus_rows(80) + [
        _row(900001, "zqfoo zqlone"),
        _row(900002, "zqfooxy zqlone"),
        _row(900003, "zqfooxy zqother"),
    ]
    d = str(tmp_path_factory.mktemp("wand_stats"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10,
                 category_col="lang").build(_df(spark, rows))
    maint = IndexMaintenance(spark, d)
    maint.remove_documents([900001])
    maint.update_documents(
        _df(spark, [replace(rows[5], content=rows[60].content)])
    )
    return d


def _recompute(spark, idx, eng, spec):
    """The statistics of ``spec`` from the live flat tables, in Python."""
    from information_retrieval_spark.index.catalog import (
        filter_deleted,
        read_deletes,
        read_doc_meta,
        read_live_postings,
        read_live_table,
    )

    post: dict[str, set] = {}
    for r in read_live_postings(spark, idx).select("term", "doc_id").collect():
        post.setdefault(r.term, set()).add(r.doc_id)
    dl: dict[int, dict] = {}
    for r in read_live_table(spark, idx, "doclen").collect():
        dl.setdefault(r.doc_id, {})[r.section] = r.dl
    cat = {}
    if spec.filter_category is not None:
        meta = read_doc_meta(spark, idx, with_seq=True)
        cat = {r.doc_id: r.category
               for r in filter_deleted(meta, read_deletes(spark, idx)).collect()}

    def ok(doc):
        return (
            (spec.filter_category is None or cat.get(doc) == spec.filter_category)
            and all(doc in post.get(t, ()) for t in spec.filter_terms)
            and not any(doc in post.get(t, ()) for t in spec.exclude_terms)
        )

    cands, df = set(), {}
    for t in dict.fromkeys(eng.snapshot.query_terms([spec])[0]):
        if not any(ok(doc) for doc in post.get(t, ())):
            continue  # has_exact gate (exact mode: no match at all)
        expand = (
            [u for u in post if u.startswith(t)]
            if spec.match_mode == "prefix" else [t]
        )
        docs = {doc for u in expand for doc in post[u] if ok(doc)}
        df[t] = len(docs)
        cands |= docs
    n = len(cands)
    avgdl = (
        {s: sum(dl[doc].get(s, 0) for doc in cands) / n for s in eng.snapshot.sections}
        if n else {}
    )
    return {"n_cand": n, "avgdl": avgdl, "df": df}


def _assert_stats_match(spark, idx, specs):
    for placement in PLACEMENTS:
        with forced(placement), WandEngine(spark, idx) as eng:
            eng.search(specs).collect()
            assert eng.last_placement["placement"] == placement
            for spec in specs:
                want = _recompute(spark, idx, eng, spec)
                got = eng.last_stats[spec.query_id]
                assert got["n_cand"] == want["n_cand"], spec
                assert got["df"] == want["df"], spec
                assert got["avgdl"] == pytest.approx(
                    want["avgdl"], rel=1e-12), spec


def test_stats_exact_mode(spark, index_dir):
    specs = [
        QuerySpec(1, "tokenizer stream", "okapi25", 10, spell=False,
                  match_mode="exact"),
        QuerySpec(2, "buffer matrix parser buffer", "okapi25", 10,
                  spell=False, match_mode="exact"),
        QuerySpec(3, "zzqnever tokenizer", "okapi25", 10, spell=False,
                  match_mode="exact"),
    ]
    _assert_stats_match(spark, index_dir, specs)


def test_stats_prefix_mode_gate_under_deletes(spark, maintained):
    specs = [
        QuerySpec(1, "zqfoo zqlone", "okapi25", 10, spell=False,
                  match_mode="prefix"),
        QuerySpec(2, "zqfooxy", "okapi25", 10, spell=False,
                  match_mode="prefix"),
        QuerySpec(3, "tokenizer stream", "okapi25", 10, spell=False,
                  match_mode="prefix"),
    ]
    _assert_stats_match(spark, maintained, specs)
    for placement in PLACEMENTS:
        with forced(placement), WandEngine(spark, maintained) as eng:
            eng.search(specs[:1]).collect()
            # the gate dropped 'zqfoo' and its live expansion 'zqfooxy'
            assert eng.last_stats[1]["df"] == {"zqlone": 1}
            assert eng.last_stats[1]["n_cand"] == 1


def test_stats_filter_category(spark, maintained):
    lang = corpus_rows(1)[0].lang
    specs = [
        QuerySpec(1, "tokenizer stream", "okapi25", 10, spell=False,
                  match_mode="exact", filter_category=lang),
        QuerySpec(2, "buffer parser", "okapi25", 10, spell=False,
                  match_mode="prefix", filter_category=lang),
    ]
    _assert_stats_match(spark, maintained, specs[:1])
    _assert_stats_match(spark, maintained, specs[1:])


def test_stats_filter_and_exclude_terms(spark, maintained):
    specs = [
        QuerySpec(1, "buffer matrix", "okapi25", 10, spell=False,
                  match_mode="exact", filter_terms=("parser",),
                  exclude_terms=("stream",)),
        QuerySpec(2, "tokenizer", "okapi25", 10, spell=False,
                  match_mode="exact", exclude_terms=("buffer", "matrix")),
        QuerySpec(3, "tokenizer", "okapi25", 10, spell=False,
                  match_mode="exact", filter_terms=("zzqnever",)),
    ]
    _assert_stats_match(spark, maintained, specs)


def _jobs_of(spark, run):
    """(what ``run()`` returns, the Spark jobs it ran)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # the group's and the ungrouped jobs so far (earlier calls)
    seen = set(tracker.getJobIdsForGroup("wand-jobs"))
    seen |= set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("wand-jobs", "the Spark jobs of one call")
    try:
        out = run()
    finally:
        sc._jsc.clearJobGroup()
    jobs = set(tracker.getJobIdsForGroup("wand-jobs"))
    jobs |= set(tracker.getJobIdsForGroup(None))
    return out, len(jobs - seen)


def _warm_batch_jobs(spark, index_dir, method_of, mode="exact"):
    """(rows, Spark jobs) of one batch on a warm engine, query i ranked
    with ``method_of(i)``."""
    texts = ["tokenizer stream", "buffer matrix parser", "tokeniezr buffre"]
    warm = [QuerySpec(i, t, method_of(i), 10, match_mode=mode)
            for i, t in enumerate(texts)]
    batch = [QuerySpec(i, t, method_of(i), 10, match_mode=mode)
             for i, t in enumerate(reversed(texts))]
    with WandEngine(spark, index_dir) as eng:
        eng.search(warm).collect()
        return _jobs_of(spark, lambda: eng.search(batch).collect())


def test_warm_exact_batch_runs_in_four_jobs(spark, index_dir):
    """A warm engine answers an exact-mode batch placed on the executors
    in at most 4 Spark jobs: the shard's exchange, its cache, the
    statistics pass and the scoring pass (the side frame and the spell
    dictionary are already cached)."""
    with forced("distributed"):
        rows, jobs = _warm_batch_jobs(spark, index_dir, lambda i: "okapi25")
    assert rows
    assert jobs <= 4, f"{jobs} jobs"


def test_warm_tfidf_batch_runs_in_five_jobs(spark, index_dir):
    """A warm exact-mode batch mixing ltn-lnn and ltc-lnc placed on the
    executors, on an index without deletes, runs at most 5 Spark jobs: an
    okapi25 batch's 4 plus the term dictionary lookup its query weights
    need (N is the stats ledger's doc count, read without a job)."""
    with forced("distributed"):
        rows, jobs = _warm_batch_jobs(
            spark, index_dir, lambda i: ("ltn-lnn", "ltc-lnc")[i % 2]
        )
    assert {r.query_id for r in rows} == {0, 1, 2}
    assert jobs <= 5, f"{jobs} jobs"


def test_warm_tfidf_batch_with_deletes_jobs(spark, maintained):
    """tf-idf's N comes from the statistics pass (the ledger minus the
    hidden doc versions it counts), so on an index with deletes a warm
    tf-idf batch still runs at most 5 Spark jobs distributed, and none on
    the driver."""
    tfidf = lambda i: ("ltn-lnn", "ltc-lnc")[i % 2]  # noqa: E731
    with forced("distributed"):
        rows, jobs = _warm_batch_jobs(spark, maintained, tfidf)
    assert rows and jobs <= 5, f"{jobs} jobs"
    with forced("local"):
        local, jobs = _warm_batch_jobs(spark, maintained, tfidf)
    assert local == rows and jobs == 0, f"{jobs} jobs"


def test_small_warm_batches_run_no_spark_job(spark, index_dir):
    """Under the default gate the small fixture's batches run on the
    driver: a warm exact okapi25 batch and a warm prefix-mode tf-idf batch
    each run 0 Spark jobs."""
    rows, jobs = _warm_batch_jobs(spark, index_dir, lambda i: "okapi25")
    assert rows and jobs == 0, f"{jobs} jobs"
    rows, jobs = _warm_batch_jobs(
        spark, index_dir, lambda i: ("ltn-lnn", "ltc-lnc")[i % 2], "prefix"
    )
    assert rows and jobs == 0, f"{jobs} jobs"


def test_gate_runs_no_spark_job(spark, index_dir):
    """The placement gate reads metadata only (the stats ledger and the
    packed footers): deciding a batch on a fresh engine runs 0 Spark
    jobs."""
    with WandEngine(spark, index_dir) as eng:
        groups, jobs = _jobs_of(
            spark, lambda: eng._gate(["buffer", "stream", "tokenizer"])
        )
        assert jobs == 0, f"{jobs} jobs"
        assert groups and eng.last_placement["placement"] == "local"
        assert 0 < eng.last_placement["shard_rows"]
        assert 0 < eng.last_placement["shard_bytes"]
