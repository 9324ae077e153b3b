"""Dynamic index maintenance (add/remove/compact) — reference parity with
`add_document`/`remove_document` (`ir-phase-1.ipynb:c22-23`), SURVEY §2.10.

Rank-identity contract: an incrementally maintained index answers queries
identically to a fresh build over the equivalent corpus (stop list pinned
via stop_k=10 = the fixture's 10 guaranteed head terms, so incremental and
fresh builds agree on stop words by construction).
"""

import pytest

from information_retrieval_spark.fixtures import corpus_rows
from information_retrieval_spark.index.build import IndexBuilder
from information_retrieval_spark.index.maintenance import IndexMaintenance
from information_retrieval_spark.query.engine import QuerySpec, SearchEngine
from tests.oracle import Oracle, assert_ranked_equal, ranked_rows
from tests.placement import PLACEMENTS, each_placement, merge_forced

SECTIONS = {"title": "path", "abstract": "content"}
# (query_id, must, should, not): the updates' and resurrections' own words
# make the model-check's boolean queries see content changes
BOOL_QUERIES = [
    (0, "", "tokenizer stream buffer", ""),
    (1, "rewritten", "matrix parser", ""),
    (2, "", "resurrected tokenizer", "stream"),
]
QUERIES = [
    QuerySpec(1, "tokenizer stream", "okapi25", 10, spell=False, match_mode="exact"),
    QuerySpec(2, "buffer matrix parser", "okapi25", 10, spell=False, match_mode="exact"),
    QuerySpec(3, "load_save fetchBatch", "okapi25", 10, spell=False, match_mode="exact"),
]


def _df(spark, rows):
    return spark.createDataFrame(
        [(r.doc_id, r.repo, r.path, r.commit, r.lang, r.content) for r in rows],
        "doc_id long, repo string, path string, commit string, lang string,"
        " content string",
    )


def _results(engine):
    """``engine``'s answer to QUERIES, equal under each placement."""
    return each_placement(lambda: sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in engine.search(QUERIES).collect()
    ))


@pytest.fixture(scope="module")
def maintained(spark, tmp_path_factory):
    rows = corpus_rows(150)
    base = str(tmp_path_factory.mktemp("maint"))
    IndexBuilder(spark, base, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    IndexMaintenance(spark, base).add_documents(_df(spark, rows[120:]))
    return base


def _stop_of(spark, idx):
    rows = spark.read.parquet(f"{idx}/stopwords").orderBy("rank").collect()
    return [r.term for r in rows]


def _oracle(spark, idx, live_rows):
    """The pure-Python oracle over ``live_rows`` with ``idx``'s stop list
    (an index keeps its base build's list through later writes)."""
    return Oracle(
        {r.doc_id: {"title": r.path, "abstract": r.content}
         for r in live_rows},
        stop_terms=_stop_of(spark, idx),
    )


def _matches_oracle(spark, engine, idx, live_rows, specs=QUERIES):
    """``engine`` answers ``specs`` as the oracle over ``live_rows``."""
    orc = _oracle(spark, idx, live_rows)
    got = each_placement(lambda: ranked_rows(engine.search(specs)))
    for q in specs:
        assert_ranked_equal(got.get(q.query_id, []), orc.answer(q),
                            f"query {q.query_id}")


@pytest.fixture(scope="module")
def fresh150(spark, tmp_path_factory, maintained):
    # pin the maintained index's stop list: incremental adds keep the
    # original stop words (as the reference's add_document does), so the
    # fresh-equivalence build must use the same list (stop-list versioning)
    d = str(tmp_path_factory.mktemp("fresh150"))
    IndexBuilder(
        spark, d, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, maintained),
    ).build(_df(spark, corpus_rows(150)))
    return d


def test_add_matches_fresh_build(spark, maintained, fresh150):
    assert _results(SearchEngine(spark, maintained)) == _results(
        SearchEngine(spark, fresh150)
    )


def test_wand_on_maintained_index(spark, maintained, fresh150):
    """The two-segment index answers tf-idf batches, in both match modes,
    as the fresh build does."""
    for mode in ("exact", "prefix"):
        specs = [
            QuerySpec(10 * m + q.query_id, q.text, method, 10, spell=False,
                      match_mode=mode)
            for m, method in enumerate(("ltn-lnn", "ltc-lnc"))
            for q in QUERIES
        ]
        eng = SearchEngine(spark, maintained)
        got = each_placement(lambda: ranked_rows(eng.search(specs)))
        want = ranked_rows(SearchEngine(spark, fresh150).search(specs))
        assert got.keys() == want.keys(), mode
        for qid in want:
            assert_ranked_equal(got[qid], want[qid], f"{mode} query {qid}")


def test_remove_then_compact(spark, tmp_path_factory):
    rows = corpus_rows(150)
    removed = {r.doc_id for r in rows[40:70]}
    kept = [r for r in rows if r.doc_id not in removed]

    d = str(tmp_path_factory.mktemp("rm"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows)
    )
    maint = IndexMaintenance(spark, d)
    maint.remove_documents(sorted(removed))

    fresh = str(tmp_path_factory.mktemp("freshkept"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, kept))
    want = _results(SearchEngine(spark, fresh))

    # logical delete: the engine must already exclude removed docs
    assert _results(SearchEngine(spark, d)) == want

    # physical compaction: same answers, delete vector gone from the
    # current snapshot
    maint.compact()
    from information_retrieval_spark.index.catalog import table_dirs

    assert table_dirs(d, "deleted_docs") == []
    assert _results(SearchEngine(spark, d)) == want


def test_prefix_gate_respects_deletes(spark, tmp_path_factory):
    """Prefix expansion is gated on the exact term having a LIVE posting:
    if every doc containing the exact term is deleted, the engine must
    suppress the expansion (and its docs' contribution to candidate
    stats), not fall back to the stale term_df gate. The oracle over the
    live docs is the reference."""
    rows = [
        (1, "r", "file1.py", "c", "py", "alpha alphabet beta"),
        (2, "r", "file2.py", "c", "py", "alphabet gamma beta"),
        (3, "r", "file3.py", "c", "py", "alpha delta beta"),
        (4, "r", "file4.py", "c", "py", "alphabetic beta zeta"),
        (5, "r", "file5.py", "c", "py", "gamma zeta beta delta"),
    ]
    d = spark.createDataFrame(
        rows,
        "doc_id long, repo string, path string, commit string, lang string,"
        " content string",
    )
    idx = str(tmp_path_factory.mktemp("prefdel"))
    IndexBuilder(spark, idx, SECTIONS, tokenizer="code", stop_k=1).build(d)
    IndexMaintenance(spark, idx).remove_documents([1, 3])  # all exact-"alpha"

    specs = [
        QuerySpec(1, "alpha", "okapi25", 10, spell=False, match_mode="prefix"),
        QuerySpec(2, "gamma", "okapi25", 10, spell=False, match_mode="prefix"),
        QuerySpec(3, "alpha gamma", "okapi25", 10, spell=False,
                  match_mode="prefix"),
    ]

    eng = SearchEngine(spark, idx)
    got = each_placement(lambda: ranked_rows(eng.search(specs)))
    orc = Oracle(
        {doc: {"title": path, "abstract": text}
         for doc, _, path, _, _, text in rows if doc not in (1, 3)},
        stop_terms=_stop_of(spark, idx),
    )
    want = {q.query_id: orc.answer(q) for q in specs}
    assert not want[1], "the oracle must gate the dead exact term"
    assert 1 not in got
    for q in specs[1:]:
        assert_ranked_equal(got[q.query_id], want[q.query_id],
                            f"query {q.query_id}")


def test_compact_crash_leaves_old_snapshot_queryable(
    spark, tmp_path_factory, monkeypatch
):
    """A compact that dies mid-way (here: while packing the merged
    segment) must leave the pre-compact snapshot fully intact — every
    query still answers with the logical deletes applied — and a re-run
    must converge to the fresh-build answer. Under each merge placement:
    both pack through `pack.pack_postings`."""
    import information_retrieval_spark.index.pack as pack_mod
    from information_retrieval_spark.index.catalog import table_dirs

    rows = corpus_rows(120)
    removed = {r.doc_id for r in rows[30:50]}
    kept = [r for r in rows if r.doc_id not in removed]
    fresh = str(tmp_path_factory.mktemp("crashfresh"))
    want = None
    real = pack_mod.pack_postings

    def boom(*a, **k):
        raise RuntimeError("simulated crash during segment merge")

    for placement in PLACEMENTS:
        d = str(tmp_path_factory.mktemp(f"crashcompact_{placement}"))
        IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
            _df(spark, rows)
        )
        maint = IndexMaintenance(spark, d)
        maint.remove_documents(sorted(removed))
        if want is None:
            IndexBuilder(
                spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
                stop_terms=_stop_of(spark, d),
            ).build(_df(spark, kept))
            want = _results(SearchEngine(spark, fresh))

        with merge_forced(placement):
            monkeypatch.setattr(pack_mod, "pack_postings", boom)
            with pytest.raises(RuntimeError):
                maint.compact()
            monkeypatch.setattr(pack_mod, "pack_postings", real)

            # old snapshot untouched: the engine still answers correctly
            assert _results(SearchEngine(spark, d)) == want

            maint.compact()  # recovery re-run converges
        assert maint.last_merge_placement["placement"] == placement
        assert table_dirs(d, "deleted_docs") == []
        assert _results(SearchEngine(spark, d)) == want


def test_add_documents_retry_same_delta_applies_once(spark, tmp_path_factory):
    """Crash-retry of add_documents with the SAME delta must not double-
    apply: the frozen stage's fingerprint identifies the retry, the
    recovered commit counts as the application."""
    rows = corpus_rows(150)
    d = str(tmp_path_factory.mktemp("retryadd"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    delta = _df(spark, rows[120:])

    # simulate a crash mid-commit: full stage, one table moved to its data
    # dir, snapshot never committed
    import os as _os

    stage = f"{d}/__stage_add"
    maint.stage_add(delta, stage)
    token = maint._stage_info(stage)["token"]
    dest = maint.cat.abspath(maint.cat.new_data_dir("postings_flat", token))
    _os.replace(f"{stage}/postings_delta", dest)

    # the retry call with the same delta
    maint.add_documents(delta)

    from information_retrieval_spark.index.catalog import read_table

    fresh = str(tmp_path_factory.mktemp("retryfresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, rows))
    assert (
        read_table(spark, d, "postings_flat").count()
        == read_table(spark, fresh, "postings_flat").count()
    )
    assert _results(SearchEngine(spark, d)) == _results(
        SearchEngine(spark, fresh)
    )


def test_compact_rerun_after_crash_keeps_stats_exact(
    spark, tmp_path_factory, monkeypatch
):
    """n_docs is part of the compact's atomic snapshot: a crash (here:
    pack_postings raising) leaves it untouched, and the re-run decrements
    it exactly once. Under each merge placement."""
    import information_retrieval_spark.index.pack as pack_mod
    from information_retrieval_spark.index.catalog import (
        read_stats_pdf,
        table_dirs,
    )

    rows = corpus_rows(120)
    removed = sorted(r.doc_id for r in rows[40:60])
    real_pack = pack_mod.pack_postings

    def boom(*a, **k):
        raise RuntimeError("simulated crash during repack")

    for placement in PLACEMENTS:
        d = str(tmp_path_factory.mktemp(f"cstat_{placement}"))
        IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
            _df(spark, rows)
        )
        n0 = int(read_stats_pdf(d)["n_docs"].iloc[0])
        maint = IndexMaintenance(spark, d)
        maint.remove_documents(removed)

        with merge_forced(placement):
            monkeypatch.setattr(pack_mod, "pack_postings", boom)
            with pytest.raises(RuntimeError):
                maint.compact()
            # snapshot intact
            assert int(read_stats_pdf(d)["n_docs"].iloc[0]) == n0
            monkeypatch.setattr(pack_mod, "pack_postings", real_pack)
            maint.compact()  # recovery re-run
        assert maint.last_merge_placement["placement"] == placement

        assert int(read_stats_pdf(d)["n_docs"].iloc[0]) == n0 - len(removed)
        assert table_dirs(d, "deleted_docs") == []


def test_add_commits_segment_and_compact_merges(spark, tmp_path_factory):
    """Incremental adds commit NEW packed segments (pack cost ∝ delta, the
    LSM economics) instead of repacking; the multi-segment index answers as
    the oracle over the same docs; compact() with no deletes still merges
    the segments back to one."""
    from information_retrieval_spark.index.catalog import table_dirs

    rows = corpus_rows(180)
    d = str(tmp_path_factory.mktemp("lsm"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:150]))
    maint.add_documents(_df(spark, rows[150:180]))
    assert len(table_dirs(d, "packed")) == 3  # base + two segments

    want = _results(SearchEngine(spark, d))
    _matches_oracle(spark, SearchEngine(spark, d), d, rows)

    maint.compact()  # no deletes: pure segment merge
    assert len(table_dirs(d, "packed")) == 1
    assert _results(SearchEngine(spark, d)) == want


def test_time_travel_pins_pre_mutation_snapshot(spark, tmp_path_factory):
    """Engines with version= answer against the index as of that commit:
    the build snapshot ignores later adds and deletes."""
    rows = corpus_rows(150)
    d = str(tmp_path_factory.mktemp("tt"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    v_build = 1
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:150]))
    maint.remove_documents([r.doc_id for r in rows[:10]])

    fresh120 = str(tmp_path_factory.mktemp("tt_fresh"))
    IndexBuilder(
        spark, fresh120, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, rows[:120]))
    want_old = _results(SearchEngine(spark, fresh120))

    assert _results(SearchEngine(spark, d, version=v_build)) == want_old
    # and the CURRENT snapshot reflects both mutations
    assert _results(SearchEngine(spark, d)) != want_old


def test_expire_snapshots_gc(spark, tmp_path_factory):
    """expire drops old snapshots and deletes data dirs nothing kept
    references; the current snapshot keeps answering."""
    import os as _os

    import pytest as _pytest

    rows = corpus_rows(150)
    d = str(tmp_path_factory.mktemp("gc"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:150]))
    maint.remove_documents([r.doc_id for r in rows[:5]])
    maint.compact()
    want = _results(SearchEngine(spark, d))

    dead = maint.expire_snapshots(keep_last=1)
    assert dead  # the pre-compact postings/packed dirs are unreferenced now
    for rel in dead:
        assert not _os.path.exists(f"{d}/{rel}")
    assert _results(SearchEngine(spark, d)) == want
    with _pytest.raises(FileNotFoundError):
        SearchEngine(spark, d, version=1)


def test_live_reader_on_expired_snapshot_fails_loudly(
    spark, tmp_path_factory
):
    """The GC retention contract for LONG-RUNNING readers: an engine holds
    the data dirs its snapshot resolved at construction, so `expire` must
    keep enough history (`keep_last` > the oldest live reader's age in
    snapshots) — a reader that outlives retention must FAIL LOUDLY at its
    next query (missing parquet inputs), never return silently wrong or
    empty results, while a reader re-opened on the current snapshot is
    unaffected. This is the same contract Iceberg documents for
    `expire_snapshots` vs in-flight scans."""
    import pytest as _pytest

    rows = corpus_rows(150)
    d = str(tmp_path_factory.mktemp("gcreader"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    # live readers pinned to the original snapshot's dirs
    stale = SearchEngine(spark, d)
    assert _results(stale)  # answers before the GC

    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:150]))
    maint.compact()  # rewrites postings/packed: v1's dirs now unreferenced
    assert maint.expire_snapshots(keep_last=1)

    with _pytest.raises(Exception) as exc:
        stale.search(QUERIES).collect()
    # loud I/O/planning failure, not an empty result
    assert exc.type is not AssertionError
    stale.close()
    fresh = SearchEngine(spark, d)
    _matches_oracle(spark, fresh, d, rows)
    assert len(_results(fresh)) > 0


def test_rebuild_in_place_over_maintained_index(spark, tmp_path_factory):
    """An in-place rebuild over a catalogued, previously-maintained index
    must reset the snapshot to the fresh tables — stale LSM segments and
    delta dirs from before the rebuild must not leak into the new pack
    or the new snapshot."""
    from information_retrieval_spark.index.catalog import Catalog, table_dirs

    rows = corpus_rows(180)
    d = str(tmp_path_factory.mktemp("rebuild"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    IndexMaintenance(spark, d).add_documents(_df(spark, rows[120:150]))
    assert len(table_dirs(d, "packed")) == 2

    # rebuild in place over the FULL corpus
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows)
    )
    assert Catalog(d).load()["operation"] == "rebuild"
    assert len(table_dirs(d, "packed")) == 1  # stale segment dropped

    fresh = str(tmp_path_factory.mktemp("rebuildfresh"))
    IndexBuilder(spark, fresh, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows)
    )
    want = _results(SearchEngine(spark, fresh))
    assert _results(SearchEngine(spark, d)) == want


def test_sweep_spares_frozen_stage_and_commit_refuses_partial(
    spark, tmp_path_factory
):
    """(a) expire_snapshots must NOT garbage-collect the moved-but-
    uncommitted dirs of a frozen stage (they look like orphans);
    (b) if a staged table does vanish, commit_add refuses to publish a
    partial snapshot instead of silently omitting the table."""
    import os as _os
    import shutil as _shutil

    rows = corpus_rows(150)
    d = str(tmp_path_factory.mktemp("sweepstage"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    delta = _df(spark, rows[120:])
    stage = f"{d}/__stage_add"
    maint.stage_add(delta, stage)
    token = maint._stage_info(stage)["token"]
    dest = maint.cat.abspath(maint.cat.new_data_dir("postings_flat", token))
    _os.replace(f"{stage}/postings_delta", dest)

    # (a) GC with the frozen stage present: the moved dir survives
    maint.expire_snapshots(keep_last=5)
    assert _os.path.isdir(dest)
    maint.add_documents(delta)  # recovery converges
    fresh = str(tmp_path_factory.mktemp("sweepfresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, rows))
    assert _results(SearchEngine(spark, d)) == _results(
        SearchEngine(spark, fresh)
    )

    # (b) a vanished staged table aborts the commit loudly
    d2 = str(tmp_path_factory.mktemp("partial"))
    IndexBuilder(spark, d2, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    m2 = IndexMaintenance(spark, d2)
    stage2 = f"{d2}/__stage_add"
    m2.stage_add(delta, stage2)
    _shutil.rmtree(f"{stage2}/doclen_delta")
    with pytest.raises(RuntimeError, match="vanished"):
        m2.commit_add(stage2)


def test_auto_compact_bounds_segments(spark, tmp_path_factory):
    """auto_compact_segments triggers the merge once an add leaves more
    than the threshold: segment fan-in stays bounded, answers unchanged."""
    from information_retrieval_spark.index.catalog import table_dirs

    rows = corpus_rows(180)
    d = str(tmp_path_factory.mktemp("autoc"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d, auto_compact_segments=2)
    maint.add_documents(_df(spark, rows[120:150]))  # 2 segments: no merge
    assert len(table_dirs(d, "packed")) == 2
    maint.add_documents(_df(spark, rows[150:180]))  # 3 > 2: auto-merge
    assert len(table_dirs(d, "packed")) == 1

    fresh = str(tmp_path_factory.mktemp("autocfresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, rows))
    want = _results(SearchEngine(spark, fresh))
    assert _results(SearchEngine(spark, d)) == want


def test_failed_auto_compact_keeps_add_exactly_once(
    spark, tmp_path_factory, monkeypatch
):
    """If the amortized auto-compact dies AFTER the add's snapshot
    landed, the frozen stage must survive so a retry of the same delta
    dedups on the fingerprint (re-running only the compact) instead of
    re-applying the delta."""
    from information_retrieval_spark.index.catalog import table_dirs

    rows = corpus_rows(150)
    d = str(tmp_path_factory.mktemp("acfail"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d, auto_compact_segments=1)
    delta = _df(spark, rows[120:])

    def boom():
        raise RuntimeError("simulated crash during auto-compact")

    monkeypatch.setattr(maint, "compact", boom)
    with pytest.raises(RuntimeError):
        maint.add_documents(delta)
    # the add IS committed (2 segments), the stage is frozen for the retry
    assert len(table_dirs(d, "packed")) == 2
    assert IndexMaintenance.is_staged(f"{d}/__stage_add")

    retry = IndexMaintenance(spark, d, auto_compact_segments=1)
    assert retry.add_documents(delta) == 30  # dedup: applied exactly once
    assert len(table_dirs(d, "packed")) == 1  # compact re-ran and merged

    fresh = str(tmp_path_factory.mktemp("acfailfresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, rows))
    assert _results(SearchEngine(spark, d)) == _results(
        SearchEngine(spark, fresh)
    )


def test_compact_and_rebuild_refuse_over_frozen_uncommitted_stage(
    spark, tmp_path_factory
):
    """A frozen stage whose commit never landed carries stats computed
    against the pre-crash snapshot. compact() would clear the delete
    vector and then be silently overwritten by the stage's recovery
    commit ('set' stats), permanently skewing n_docs/idf; an in-place
    rebuild would later absorb old-corpus delta dirs. Both must refuse
    until the stage is recovered; recover_stages() converges to the
    fresh-build answer."""
    rows = corpus_rows(150)
    d = str(tmp_path_factory.mktemp("frozguard"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    maint.stage_add(_df(spark, rows[120:]), f"{d}/__stage_add")  # crash here

    with pytest.raises(RuntimeError, match="frozen uncommitted"):
        maint.compact()
    with pytest.raises(RuntimeError, match="frozen uncommitted"):
        IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
            _df(spark, rows)
        )

    assert maint.recover_stages() == ["__stage_add"]
    assert maint._unrecovered_stages() == []
    maint.compact()  # now legal

    fresh = str(tmp_path_factory.mktemp("frozguardfresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, rows))
    assert _results(SearchEngine(spark, d)) == _results(
        SearchEngine(spark, fresh)
    )


def test_recover_stages_preserves_stream_batch_id(spark, tmp_path_factory):
    """Recovering a crashed streaming stage (__stage_batch_<id>) must land
    the batch id in the snapshot ledger — otherwise the exactly-once
    check replays the batch on top of its recovered commit."""
    from information_retrieval_spark.streaming.ingest import batch_applied

    rows = corpus_rows(150)
    d = str(tmp_path_factory.mktemp("recbatch"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    maint.stage_add(_df(spark, rows[120:]), f"{d}/__stage_batch_7")
    assert not batch_applied(d, 7)
    assert maint.recover_stages() == ["__stage_batch_7"]
    assert batch_applied(d, 7)


def test_commit_add_refuses_stale_stage_after_intervening_compact(
    spark, tmp_path_factory
):
    """Belt-and-braces for anything that bypasses the compact guard: a
    stage staged against catalog version V must not publish if a
    compact/rebuild snapshot landed after V."""
    rows = corpus_rows(150)
    d = str(tmp_path_factory.mktemp("stalestage"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    stage = f"{d}/__stage_add"
    maint.stage_add(_df(spark, rows[120:]), stage)
    maint.cat.commit({}, "compact", {"n_removed": 0})  # simulated bypass
    with pytest.raises(RuntimeError, match="stale"):
        maint.commit_add(stage)


def test_recover_crash_mid_recovery_is_idempotent(
    spark, tmp_path_factory, monkeypatch
):
    """Double failure: the RECOVERY itself crashes — first mid-move
    (some stage subdirs already renamed, snapshot not yet committed),
    then again after the snapshot lands but before the stage dir is
    dropped. A further recover_stages() must converge: exactly ONE 'add'
    snapshot, no frozen stage left, results identical to a fresh build."""
    import os as os_mod

    rows = corpus_rows(150)
    d = str(tmp_path_factory.mktemp("dblfail"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    stage = f"{d}/__stage_add"
    maint.stage_add(_df(spark, rows[120:]), stage)  # crash #0: before commit
    v0 = max(maint.cat.versions())

    # crash #1: inject a failure on the SECOND stage-subdir rename
    real_replace = os_mod.replace
    calls = {"n": 0}

    def flaky(src, dst, *a, **kw):
        if "__stage_add" in str(src):
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("injected crash mid-recovery")
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(os_mod, "replace", flaky)
    with pytest.raises(OSError, match="injected crash"):
        maint.recover_stages()
    monkeypatch.setattr(os_mod, "replace", real_replace)
    assert maint._unrecovered_stages(), "stage must still be frozen"
    assert max(maint.cat.versions()) == v0, "no snapshot may have landed"

    # crash #2: snapshot commits but the stage dir survives the crash —
    # the stage is now merely awaiting cleanup (token already in chain)
    maint.commit_add(stage)
    assert os_mod.path.isdir(stage)
    assert maint._unrecovered_stages() == []
    assert maint._frozen_stages() == ["__stage_add"]

    # final recovery: converges, publishes nothing twice
    assert maint.recover_stages() == ["__stage_add"]
    assert maint._unrecovered_stages() == []
    assert not os_mod.path.isdir(stage)
    adds = [
        v for v in maint.cat.versions()
        if v > v0 and maint.cat.load(v)["operation"] == "add"
    ]
    assert len(adds) == 1, f"add snapshot must land exactly once: {adds}"
    # recover_stages() is now a no-op
    assert maint.recover_stages() == []

    fresh = str(tmp_path_factory.mktemp("dblfailfresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, rows))
    assert _results(SearchEngine(spark, d)) == _results(
        SearchEngine(spark, fresh)
    )


# ------------------------------------------------- tiered (partial) compact


def test_partial_compact_merges_subset_only(spark, tmp_path_factory):
    """compact(segments=[1,2]) merges just those delta segments: segment
    count drops by one, the BASE packed dir is byte-identical (same
    catalog path — never rewritten: the 10^12-file economics), answers
    are unchanged, and the postings content hash still equals the
    fresh-build hash."""
    from information_retrieval_spark.index.build import index_content_hash
    from information_retrieval_spark.index.catalog import table_dirs

    rows = corpus_rows(180)
    d = str(tmp_path_factory.mktemp("tiered"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:140]))
    maint.add_documents(_df(spark, rows[140:160]))
    maint.add_documents(_df(spark, rows[160:180]))
    assert len(table_dirs(d, "packed")) == 4

    want = _results(SearchEngine(spark, d))
    pre_hash = index_content_hash(spark, d)
    base_dir = table_dirs(d, "packed")[0]
    last_dir = table_dirs(d, "packed")[3]

    maint.compact(segments=[1, 2])
    dirs = table_dirs(d, "packed")
    assert len(dirs) == 3
    assert dirs[0] == base_dir          # base untouched
    assert dirs[2] == last_dir          # unmerged tail untouched
    assert dirs[1] not in (base_dir, last_dir)  # the new merged segment
    assert index_content_hash(spark, d) == pre_hash
    assert _results(SearchEngine(spark, d)) == want

    # merging the rest converges to one segment, same answers
    maint.compact(segments=[0, 1, 2])
    assert len(table_dirs(d, "packed")) == 1
    assert _results(SearchEngine(spark, d)) == want


def test_partial_compact_applies_deletes_to_merged_segments_only(
    spark, tmp_path_factory
):
    """Tombstones on merged segments are applied physically and leave the
    delete vector; tombstones on the base stay logical (vector intact,
    query-time filtered). n_docs accounting stays exact through the
    partial → full compact sequence."""
    from information_retrieval_spark.index.catalog import (
        read_stats_pdf,
        read_table,
        table_dirs,
    )

    rows = corpus_rows(180)
    base_removed = {rows[10].doc_id, rows[11].doc_id}       # live in base
    delta_removed = {rows[130].doc_id, rows[150].doc_id}    # live in deltas
    kept = [
        r for r in rows if r.doc_id not in base_removed | delta_removed
    ]

    d = str(tmp_path_factory.mktemp("tierdel"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:150]))
    maint.add_documents(_df(spark, rows[150:180]))
    maint.remove_documents(sorted(base_removed | delta_removed))

    fresh = str(tmp_path_factory.mktemp("tierdel_fresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, kept))
    want = _results(SearchEngine(spark, fresh))

    n0 = int(read_stats_pdf(d)["n_docs"].iloc[0])
    assert n0 == 180  # logical deletes don't touch stats

    maint.compact(segments=[1, 2])
    # the two delta tombstones were applied physically and dropped from
    # the vector; the two base tombstones remain logical
    vec = {r.doc_id for r in read_table(spark, d, "deleted_docs").collect()}
    assert vec == base_removed
    assert int(read_stats_pdf(d)["n_docs"].iloc[0]) == n0 - len(delta_removed)
    assert len(table_dirs(d, "packed")) == 2
    assert _results(SearchEngine(spark, d)) == want

    # full compact applies the rest exactly once
    maint.compact()
    assert table_dirs(d, "deleted_docs") == []
    assert int(read_stats_pdf(d)["n_docs"].iloc[0]) == len(kept)
    assert _results(SearchEngine(spark, d)) == want


def test_partial_compact_validates_input(spark, tmp_path_factory):
    rows = corpus_rows(140)
    d = str(tmp_path_factory.mktemp("tierval"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:140]))
    with pytest.raises(ValueError, match="out of range"):
        maint.compact(segments=[0, 5])
    with pytest.raises(ValueError, match="at least one"):
        maint.compact(segments=[])
    want = _results(SearchEngine(spark, d))
    maint.compact(segments=[1])  # single segment, no deletes: no-op
    from information_retrieval_spark.index.catalog import table_dirs

    assert len(table_dirs(d, "packed")) == 2
    assert _results(SearchEngine(spark, d)) == want


def test_auto_compact_tiered_never_rewrites_base(spark, tmp_path_factory):
    """auto_compact_mode='tiered' bounds the segment count by merging only
    the delta segments — across multiple auto-compactions the base packed
    dir path never changes, and answers always match a fresh build."""
    from information_retrieval_spark.index.catalog import table_dirs

    rows = corpus_rows(200)
    d = str(tmp_path_factory.mktemp("tierauto"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    base_dir = table_dirs(d, "packed")[0]
    maint = IndexMaintenance(
        spark, d, auto_compact_segments=2, auto_compact_mode="tiered"
    )
    for lo in range(120, 200, 20):
        maint.add_documents(_df(spark, rows[lo:lo + 20]))
        assert len(table_dirs(d, "packed")) <= 3  # bound honored (2 + fresh add)
        assert table_dirs(d, "packed")[0] == base_dir  # base never rewritten

    fresh = str(tmp_path_factory.mktemp("tierauto_fresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, rows))
    assert _results(SearchEngine(spark, d)) == _results(
        SearchEngine(spark, fresh)
    )


def test_auto_compact_mode_validated(spark, tmp_path_factory):
    rows = corpus_rows(120)
    d = str(tmp_path_factory.mktemp("tiermode"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows)
    )
    with pytest.raises(ValueError, match="auto_compact_mode"):
        IndexMaintenance(spark, d, auto_compact_mode="sideways")


def test_partial_compact_with_categories_and_deletes(spark, tmp_path_factory):
    """The doc_meta splice path: a categorized index partial-compacts with
    tombstones in AND out of the merged range; filtered and unfiltered
    answers match a fresh build over the kept docs."""
    rows = corpus_rows(180)
    removed = {rows[125].doc_id, rows[30].doc_id}  # one delta doc, one base
    kept = [r for r in rows if r.doc_id not in removed]

    d = str(tmp_path_factory.mktemp("tiercat"))
    IndexBuilder(
        spark, d, SECTIONS, tokenizer="code", stop_k=10, category_col="lang"
    ).build(_df(spark, rows[:120]))
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:150]))
    maint.add_documents(_df(spark, rows[150:180]))
    maint.remove_documents(sorted(removed))
    maint.compact(segments=[1, 2])

    fresh = str(tmp_path_factory.mktemp("tiercat_fresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        category_col="lang", stop_terms=_stop_of(spark, d),
    ).build(_df(spark, kept))

    specs = QUERIES + [
        QuerySpec(4, "tokenizer stream", "okapi25", 10, spell=False,
                  match_mode="exact", filter_category="java"),
    ]

    def res(engine):
        out = {}
        for r in engine.search(specs).collect():
            out.setdefault(r.query_id, []).append(
                (r.rank, r.doc_id, round(r.score, 9))
            )
        for v in out.values():
            v.sort()
        return out

    want = res(SearchEngine(spark, fresh))
    assert res(SearchEngine(spark, d)) == want


def test_plan_compaction_picks_smallest_segments(spark, tmp_path_factory):
    """plan_compaction returns the cheapest (smallest-bytes) subset that
    reaches the target count; executing the plan honors the bound and
    leaves the big base untouched."""
    from information_retrieval_spark.index.catalog import table_dirs

    rows = corpus_rows(180)
    d = str(tmp_path_factory.mktemp("plan"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])  # big base
    )
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:160]))  # bigger delta
    maint.add_documents(_df(spark, rows[160:170]))  # small delta
    maint.add_documents(_df(spark, rows[170:180]))  # small delta

    sizes = maint.segment_sizes()
    assert len(sizes) == 4 and sizes[0] == max(sizes)  # base dominates

    assert maint.plan_compaction(4) is None             # already in bound
    assert maint.plan_compaction(3) == [2, 3]           # two smallest
    plan = maint.plan_compaction(2)
    assert plan == [1, 2, 3]                            # all but the base
    with pytest.raises(ValueError, match="max_segments"):
        maint.plan_compaction(0)

    base_dir = table_dirs(d, "packed")[0]
    want = _results(SearchEngine(spark, d))
    maint.compact(segments=plan)
    assert len(table_dirs(d, "packed")) == 2
    assert table_dirs(d, "packed")[0] == base_dir
    assert _results(SearchEngine(spark, d)) == want


def test_maintenance_algebra_random_sequence(spark, tmp_path_factory):
    """Seeded random interleaving of add / remove / UPDATE / RESURRECT /
    tiered-compact / full-compact, model-checked after EVERY step against
    a fresh build over exactly the live docs at their CURRENT content
    (stop list pinned). Pins the mutation algebra under seq-scoped
    tombstones: an updated doc counts once with its new content even
    while the hidden old rows await purge, a re-added removed id is live
    again, tombstones survive partial compacts they don't cover, and the
    ranked engine (packed blocks) and boolean search (postings_flat's live
    view) agree with the model throughout. The same sequence runs with
    every merge forced to each placement."""
    for placement in PLACEMENTS:
        with merge_forced(placement):
            _algebra_sequence(spark, tmp_path_factory, placement)


def _algebra_sequence(spark, tmp_path_factory, placement):
    import random
    from dataclasses import replace as dc_replace

    from information_retrieval_spark.index.catalog import table_dirs
    from information_retrieval_spark.query.boolean import boolean_search

    rng = random.Random(20260819)
    rows = corpus_rows(200)
    by_id = {r.doc_id: r for r in rows}

    d = str(tmp_path_factory.mktemp(f"algebra_{placement}"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:100])
    )
    stop = _stop_of(spark, d)
    maint = IndexMaintenance(spark, d)
    live = {r.doc_id for r in rows[:100]}
    removed: set = set()
    unadded = [rows[i:i + 20] for i in range(100, 200, 20)]

    def _boolean(idx):
        return sorted(
            tuple(r)
            for r in boolean_search(spark, idx, BOOL_QUERIES, k=1000).collect()
        )

    def check(step):
        fresh = str(tmp_path_factory.mktemp(f"algebra_{placement}_m{step}"))
        IndexBuilder(
            spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
            stop_terms=stop,
        ).build(_df(spark, [by_id[i] for i in sorted(live)]))
        want = _results(SearchEngine(spark, fresh))
        assert _results(SearchEngine(spark, d)) == want, f"step {step}"
        assert _boolean(d) == _boolean(fresh), f"step {step}"
        # fsck is an invariant of the whole algebra: every reachable
        # catalog state is internally consistent and debris-free
        from information_retrieval_spark.index.fsck import fsck

        rep = fsck(d)
        assert rep["ok"] and rep["warnings"] == [], f"step {step}: {rep}"

    for step in range(10):
        ops = ["remove", "tiered", "full", "update"] + (
            ["add"] if unadded else []
        ) + (["resurrect"] if removed else [])
        op = rng.choice(ops)
        merged = None
        if op == "add" and unadded:
            batch = unadded.pop(0)
            maint.add_documents(_df(spark, batch))
            live |= {r.doc_id for r in batch}
        elif op == "remove" and live:
            victims = rng.sample(sorted(live), k=min(3, len(live)))
            maint.remove_documents(victims)
            live -= set(victims)
            removed |= set(victims)
        elif op == "update" and live:
            targets = rng.sample(sorted(live), k=min(3, len(live)))
            for t in targets:
                by_id[t] = dc_replace(
                    by_id[t],
                    content=f"rewritten content iteration {step} doc {t}"
                    f" {by_id[t].content}",
                )
            maint.update_documents(_df(spark, [by_id[t] for t in targets]))
        elif op == "resurrect" and removed:
            back = rng.sample(sorted(removed), k=min(2, len(removed)))
            for t in back:
                by_id[t] = dc_replace(
                    by_id[t],
                    content=f"resurrected at step {step}: {by_id[t].content}",
                )
            maint.add_documents(_df(spark, [by_id[t] for t in back]))
            removed -= set(back)
            live |= set(back)
        elif op == "tiered":
            n = len(table_dirs(d, "packed"))
            if n >= 2:
                k = rng.randrange(2, n + 1)
                merged = maint.compact(segments=rng.sample(range(n), k=k))
        else:
            merged = maint.compact()
        if merged is not None:
            assert maint.last_merge_placement["placement"] == placement
        check(step)

    # data-integrity epilogue: the lineage log's totals must equal the
    # final physical tables after the whole random sequence (per-step
    # would be 3 extra scans each; the invariant composes, so the end
    # state covers the path)
    from information_retrieval_spark.index.fsck import fsck_deep

    rep = fsck_deep(spark, d)
    assert rep["ok"] and all(v["match"] for v in rep["deep"].values()), rep


# ------------------------------------------------------------------ update


def test_add_resurrects_tombstoned_ids(spark, tmp_path_factory):
    """Re-adding a removed doc_id RESURRECTS it: tombstones are
    seq-scoped — (doc_id, upto) hides only segments with _SEQ <= upto —
    so the re-added segment's rows are live immediately while the old
    rows stay hidden. Both engines must answer exactly like a fresh
    build over (survivors + the re-added content)."""
    from dataclasses import replace as dc_replace

    rows = corpus_rows(140)
    d = str(tmp_path_factory.mktemp("reads"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    maint.remove_documents([rows[5].doc_id])
    # re-add the removed id with NEW content alongside fresh docs
    reborn = dc_replace(
        rows[5], content="tokenizer stream resurrected payload"
    )
    assert maint.add_documents(_df(spark, [reborn] + rows[120:130])) == 11

    model = [reborn] + [r for r in rows[:130] if r.doc_id != rows[5].doc_id]
    fresh = str(tmp_path_factory.mktemp("readsfresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, model))
    want = _results(SearchEngine(spark, fresh))
    assert _results(SearchEngine(spark, d)) == want
    # compact purges the hidden old rows and clears the vector; answers hold
    maint.compact()
    from information_retrieval_spark.index.catalog import table_dirs

    assert table_dirs(d, "deleted_docs") == []
    assert _results(SearchEngine(spark, d)) == want


def test_update_documents_replaces_content(spark, tmp_path_factory):
    """update_documents: same doc_ids, new content — queries see the new
    content IMMEDIATELY while NO existing segment is rewritten (cost ∝
    delta: seq-scoped tombstone + add), and the result matches a fresh
    build over the updated corpus. The physical purge rides the next
    compact, which also clears the vector and restores the exact n_docs.
    Time travel still answers the pre-update results."""
    from information_retrieval_spark.index.catalog import (
        read_stats_pdf,
        table_dirs,
    )

    rows = corpus_rows(160)
    d = str(tmp_path_factory.mktemp("upd"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:140]))
    maint.add_documents(_df(spark, rows[140:160]))
    pre = _results(SearchEngine(spark, d))
    pre_version = IndexMaintenance(spark, d).cat.current_version()
    pre_dirs = table_dirs(d, "packed")

    # rewrite two docs that live in segment 1 (the first add)
    from dataclasses import replace as dc_replace

    upd = [
        dc_replace(rows[125],
                   content="tokenizer stream tokenizer stream rarequark"),
        dc_replace(rows[130],
                   content="completely different unrelated payload"),
    ]
    n = maint.update_documents(_df(spark, upd))
    assert n == 2

    updated_rows = [
        ({r.doc_id: u for u in upd for r in [u]}.get(r.doc_id) or r)
        if r.doc_id in {u.doc_id for u in upd} else r
        for r in rows
    ]
    fresh = str(tmp_path_factory.mktemp("upd_fresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, updated_rows))
    want = _results(SearchEngine(spark, fresh))
    assert _results(SearchEngine(spark, d)) == want

    dirs = table_dirs(d, "packed")
    assert dirs[:3] == pre_dirs      # EVERY old segment byte-untouched
    assert len(dirs) == 4            # + the update's new delta segment
    # tombstones pending (hide the old rows only), ledger carries the
    # hidden versions until the purge
    assert len(table_dirs(d, "deleted_docs")) == 1
    assert int(read_stats_pdf(d)["n_docs"].iloc[0]) == 162

    # time travel: the pre-update snapshot still answers the old content
    assert _results(SearchEngine(spark, d, version=pre_version)) == pre

    # the next compact purges physically: vector cleared, n_docs exact,
    # answers unchanged
    maint.compact()
    assert table_dirs(d, "deleted_docs") == []
    assert int(read_stats_pdf(d)["n_docs"].iloc[0]) == 160
    assert _results(SearchEngine(spark, d)) == want


def test_update_of_base_resident_docs_never_rewrites_base(
    spark, tmp_path_factory
):
    """THE seq-scoped-tombstone payoff: updating docs whose old rows live
    in the BASE segment of a fully-compacted index costs tombstone + add
    — the base directory's files are byte-untouched (same paths, same
    mtimes/sizes), queries see the new content immediately, and the
    physical purge rides a LATER compact. Round 4 paid a synchronous
    base rewrite here; at a 10^12-file base that was the one named
    scale-killer."""
    import os
    from dataclasses import replace as dc_replace

    from information_retrieval_spark.index.catalog import (
        read_stats_pdf,
        table_dirs,
    )

    rows = corpus_rows(160)
    d = str(tmp_path_factory.mktemp("updbase"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:140]))
    maint.compact()  # everything (rows[:140]) now lives in ONE base segment
    assert len(table_dirs(d, "packed")) == 1

    def fingerprint(dirpath):
        out = {}
        for root, _, files in os.walk(dirpath):
            for fn in files:
                p = os.path.join(root, fn)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
        return out

    fps = {
        t: fingerprint(table_dirs(d, t)[0])
        for t in ("packed", "postings_flat", "doclen")
    }

    updated = [
        dc_replace(r, content=f"fully rewritten base doc {r.doc_id}")
        for r in rows[3:6]
    ]
    assert maint.update_documents(_df(spark, updated)) == 3

    # base segment files byte-untouched across every doc-row table
    for t, fp in fps.items():
        assert fingerprint(table_dirs(d, t)[0]) == fp, t
    assert len(table_dirs(d, "packed")) == 2  # base + the update delta
    assert len(table_dirs(d, "deleted_docs")) == 1  # tombstones pending

    model = updated + [r for r in rows[:140] if r.doc_id not in
                       {u.doc_id for u in updated}]
    fresh = str(tmp_path_factory.mktemp("updbasefresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, model))
    want = _results(SearchEngine(spark, fresh))
    assert _results(SearchEngine(spark, d)) == want

    # the purge is DEFERRED work: the next compact drops the hidden rows,
    # clears the vector, restores the exact count — answers unchanged
    maint.compact()
    assert table_dirs(d, "deleted_docs") == []
    assert int(read_stats_pdf(d)["n_docs"].iloc[0]) == 140
    assert _results(SearchEngine(spark, d)) == want


def test_update_documents_of_absent_ids_degrades_to_add(
    spark, tmp_path_factory
):
    """Updating ids the index has never seen: the tombstones hide nothing
    (no old rows exist at or below their upto), the add is a plain add,
    answers match a fresh build, and the next compact drops the
    pointless tombstones without touching n_docs."""
    from information_retrieval_spark.index.catalog import (
        read_stats_pdf,
        table_dirs,
    )

    rows = corpus_rows(140)
    d = str(tmp_path_factory.mktemp("updnew"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    v0 = maint.cat.current_version()
    assert maint.update_documents(_df(spark, rows[120:140])) == 20
    # tombstone + add commits; the update never scans the index to test
    # presence (that scan is what the seq-scoped design removes)
    ops = [
        maint.cat.load(v)["operation"]
        for v in maint.cat.versions()
        if v > v0
    ]
    assert ops == ["remove", "add"]
    assert len(table_dirs(d, "packed")) == 2
    assert int(read_stats_pdf(d)["n_docs"].iloc[0]) == 140

    fresh = str(tmp_path_factory.mktemp("updnewfresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, rows))
    want = _results(SearchEngine(spark, fresh))
    assert _results(SearchEngine(spark, d)) == want

    maint.compact()
    assert table_dirs(d, "deleted_docs") == []  # no-op tombstones dropped
    assert int(read_stats_pdf(d)["n_docs"].iloc[0]) == 140
    assert _results(SearchEngine(spark, d)) == want


def test_size_capped_compact_splits_output(spark, tmp_path_factory):
    """compact(target_bytes=...) hash-splits the merged output by doc_id
    into K = ceil(input/cap) sibling segments: every segmented table gets
    exactly K aligned dirs, the postings content hash is identical to the
    single-output compact of a byte-identical copy, the engine answers
    identically, deletes are purged, and a LATER tiered compact still
    works on the split layout (the one-dir-per-segment invariant held)."""
    import shutil as sh

    from information_retrieval_spark.index.build import index_content_hash
    from information_retrieval_spark.index.catalog import table_dirs

    rows = corpus_rows(220)
    d = str(tmp_path_factory.mktemp("szcap"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:150])
    )
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[150:190]))
    maint.add_documents(_df(spark, rows[190:220]))
    maint.remove_documents([rows[0].doc_id, rows[160].doc_id])

    single = str(tmp_path_factory.mktemp("szcap_single")) + "/idx"
    sh.copytree(d, single)

    total = sum(maint.segment_sizes())
    cap = total // 3 + 1
    v = maint.compact(target_bytes=cap)
    assert v is not None
    n_out = len(table_dirs(d, "packed"))
    assert n_out >= 2  # the cap forced a split
    # alignment: every segmented table has exactly n_out dirs
    for t in ("postings_flat", "doclen", "packed", "lineage",
              "term_df", "vocab"):
        assert len(table_dirs(d, t)) == n_out, t
    assert table_dirs(d, "deleted_docs") == []  # all tombstones applied
    # no output segment materially exceeds the cap (hash-split variance
    # and per-file overhead allowed for)
    assert max(IndexMaintenance(spark, d).segment_sizes()) <= 2 * cap

    IndexMaintenance(spark, single).compact()
    assert len(table_dirs(single, "packed")) == 1
    assert index_content_hash(spark, d) == index_content_hash(spark, single)
    want = _results(SearchEngine(spark, single))
    assert _results(SearchEngine(spark, d)) == want

    # the split layout is an ordinary LSM state: add + tiered-merge on it
    maint2 = IndexMaintenance(spark, d)
    maint2.add_documents(_df(spark, corpus_rows(240)[220:240]))
    plan = maint2.plan_compaction(2)
    assert plan is not None and len(plan) >= 2
    maint2.compact(segments=plan)
    assert len(table_dirs(d, "packed")) <= max(2, n_out)
    gone = {rows[0].doc_id, rows[160].doc_id}
    _matches_oracle(spark, SearchEngine(spark, d), d,
                    [r for r in corpus_rows(240) if r.doc_id not in gone])


def test_size_capped_compact_splits_oversized_base(spark, tmp_path_factory):
    """A fully-compacted single base that exceeds the cap is SPLIT by
    compact(target_bytes=...) — the operation round 4 lacked (nothing
    could shrink the worst-case rewrite unit). Answers and n_docs are
    unchanged; plan_compaction knows a bound below ceil(bytes/cap) is
    unreachable and still returns a count-reducing plan when one exists."""
    from information_retrieval_spark.index.catalog import (
        read_stats_pdf,
        table_dirs,
    )

    rows = corpus_rows(180)
    d = str(tmp_path_factory.mktemp("szbase"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows)
    )
    maint = IndexMaintenance(spark, d)
    maint.compact()  # normalize through the classic path
    assert len(table_dirs(d, "packed")) == 1
    want = _results(SearchEngine(spark, d))

    base_bytes = maint.segment_sizes()[0]
    v = maint.compact(target_bytes=base_bytes // 2 + 1)
    assert v is not None
    assert len(table_dirs(d, "packed")) == 2
    assert int(read_stats_pdf(d)["n_docs"].iloc[0]) == 180
    assert _results(SearchEngine(spark, d)) == want

    # cap-aware planning: two cap-sized halves re-merge to ceil(2·half /
    # cap) = 2 outputs — no reduction is possible, so the planner says so
    sizes = IndexMaintenance(spark, d).segment_sizes()
    cap = max(sizes) + 1
    assert maint.plan_compaction(1, target_bytes=cap) is None
    # with a roomier cap (or none) the same bound plans the full merge
    assert maint.plan_compaction(1, target_bytes=sum(sizes) + 1) == [0, 1]
    assert maint.plan_compaction(1) == [0, 1]


def test_expire_after_partial_compact_gcs_only_merged_dirs(
    spark, tmp_path_factory
):
    """After a tiered compact, expire(keep_last=1) must GC exactly the
    replaced segments' dirs and KEEP every spliced survivor (base, the
    unmerged tail, the new merged segment) — the splice must keep the
    GC's referenced-dir accounting exact."""
    import os as _os

    from information_retrieval_spark.index.catalog import table_dirs

    rows = corpus_rows(180)
    d = str(tmp_path_factory.mktemp("gctier"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:140]))
    maint.add_documents(_df(spark, rows[140:160]))
    maint.add_documents(_df(spark, rows[160:180]))
    pre_dirs = table_dirs(d, "packed")
    merged_away = {pre_dirs[1], pre_dirs[2]}

    maint.compact(segments=[1, 2])
    want = _results(SearchEngine(spark, d))
    kept_dirs = set(table_dirs(d, "packed"))
    assert merged_away.isdisjoint(kept_dirs)

    dead = maint.expire_snapshots(keep_last=1)
    dead_abs = {f"{d}/{rel}" for rel in dead}
    assert merged_away <= dead_abs          # replaced segments GC'd
    assert kept_dirs.isdisjoint(dead_abs)   # survivors kept
    for p in merged_away:
        assert not _os.path.exists(p)
    for p in kept_dirs:
        assert _os.path.exists(p)
    assert _results(SearchEngine(spark, d)) == want


def test_tfidf_n_counts_live_docs_after_update_and_remove(
    spark, tmp_path_factory
):
    """tf-idf idf uses N = the corpus size (quirk Q1), and after
    maintenance that is the LIVE corpus: neither a re-crawled doc's hidden
    old version nor a removed doc may count. Checked against the
    pure-Python oracle over the live docs after each step."""
    from dataclasses import replace as dc_replace

    rows = corpus_rows(60)
    d = str(tmp_path_factory.mktemp("tfidf_live_n"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows)
    )
    maint = IndexMaintenance(spark, d)
    texts = ["tokenizer stream", "buffer matrix parser"]

    def check(live_rows):
        # the index's stop list: an index keeps its base build's list
        # through later writes (the fixture's head terms are near-tied)
        orc = _oracle(spark, d, live_rows)
        eng = SearchEngine(spark, d)
        for method in ("ltn-lnn", "ltc-lnc"):
            specs = [
                QuerySpec(i, t, method, 10, spell=False, match_mode="exact")
                for i, t in enumerate(texts)
            ]
            got: dict = {}
            rows = each_placement(lambda: eng.search(specs).collect())
            for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
                got.setdefault(r.query_id, []).append((r.doc_id, r.score))
            for i, t in enumerate(texts):
                want = orc.search(t, method, weight=0.2, k=10,
                                  match_mode="exact", spell=False)
                assert [doc for doc, _ in got.get(i, [])] == [
                    doc for doc, _ in want
                ], (method, t)
                for (_, g), (_, w) in zip(got[i], want):
                    assert g == pytest.approx(w, rel=1e-9), (method, t)

    recrawl = dc_replace(rows[7], content=rows[50].content)
    maint.update_documents(_df(spark, [recrawl]))
    live = [recrawl if r.doc_id == recrawl.doc_id else r for r in rows]
    check(live)

    maint.remove_documents([rows[3].doc_id])
    live = [r for r in live if r.doc_id != rows[3].doc_id]
    check(live)

    maint.compact()
    check(live)


def test_engines_keep_their_snapshot_across_later_writes(
    spark, tmp_path_factory
):
    """An engine answers from the snapshot current when it was built, even
    when its first search() runs after an update, a remove and a compact:
    WAND's side rows (doclen, tombstones) must come from the same snapshot
    as its packed segments, or removed docs return and updated ones
    vanish."""
    from dataclasses import replace as dc_replace

    rows = corpus_rows(80)
    d = str(tmp_path_factory.mktemp("pinned_open"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows)
    )
    want = _results(SearchEngine(spark, d))
    top = {q: doc for q, rank, doc, _ in want if rank == 1}
    with SearchEngine(spark, d) as search:
        maint = IndexMaintenance(spark, d)
        moved = next(r for r in rows if r.doc_id == top[1])
        updated = dc_replace(moved, content=rows[60].content)
        maint.update_documents(_df(spark, [updated]))
        maint.remove_documents([top[2]])
        maint.compact()
        assert _results(search) == want
        live = [updated if r.doc_id == moved.doc_id else r
                for r in rows if r.doc_id != top[2]]
        _matches_oracle(spark, SearchEngine(spark, d), d, live)


def test_live_doc_count_counts_docs_without_tokens(spark, tmp_path_factory):
    """tf-idf's N has one rule (catalog.count_live_docs): the ledger minus
    the doc versions tombstones hide. A live doc whose every section
    tokenizes to nothing has no doclen rows but still counts, as a fresh
    build and the oracle count it: before the compact that purges a
    removed doc, after it, and in the compacted ledger."""
    from dataclasses import replace as dc_replace

    from information_retrieval_spark.index.catalog import read_stats_pdf

    rows = corpus_rows(120)
    empty = dc_replace(rows[0], doc_id=1000, path="", content="")
    d = str(tmp_path_factory.mktemp("live_count"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows + [empty])
    )
    maint = IndexMaintenance(spark, d)
    maint.remove_documents([rows[5].doc_id])
    live = [r for r in rows if r.doc_id != rows[5].doc_id] + [empty]
    specs = [
        QuerySpec(10 * m + q.query_id, q.text, method, 10, spell=False,
                  match_mode="exact")
        for m, method in enumerate(("ltn-lnn", "ltc-lnc"), 1)
        for q in QUERIES
    ]
    _matches_oracle(spark, SearchEngine(spark, d), d, live, specs)
    assert maint.compact() is not None
    _matches_oracle(spark, SearchEngine(spark, d), d, live, specs)

    fresh = str(tmp_path_factory.mktemp("live_count_fresh"))
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10,
        stop_terms=_stop_of(spark, d),
    ).build(_df(spark, live))
    assert int(read_stats_pdf(d)["n_docs"].iloc[0]) == int(
        read_stats_pdf(fresh)["n_docs"].iloc[0]
    ) == len(live)


def test_compact_refuses_misaligned_segment_dirs(spark, tmp_path_factory):
    """Compaction splices every segmented table's dir list in lockstep, so
    a snapshot whose lists disagree in length is refused, by a full
    compact and a partial one alike, before anything is committed."""
    rows = corpus_rows(140)
    d = str(tmp_path_factory.mktemp("misaligned"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:120])
    )
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[120:130]))
    maint.add_documents(_df(spark, rows[130:140]))
    lineage = maint.cat.load()["tables"]["lineage"]
    assert len(lineage) == 3
    cur = maint.cat.commit({"lineage": ("set", lineage[:-1])}, "add")
    for segs in (None, [1, 2]):
        with pytest.raises(RuntimeError, match="one data dir per segment"):
            maint.compact(segments=segs)
        assert maint.cat.current_version() == cur


@pytest.fixture(scope="module")
def three_segments(spark, tmp_path_factory):
    """A base build plus two adds (3 segments) with categories and one
    tombstone, so every segmented table has three data dirs."""
    rows = corpus_rows(140)
    d = str(tmp_path_factory.mktemp("threeseg"))
    IndexBuilder(
        spark, d, SECTIONS, tokenizer="code", stop_k=10, category_col="lang"
    ).build(_df(spark, rows[:100]))
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[100:120]))
    maint.add_documents(_df(spark, rows[120:140]))
    maint.remove_documents([rows[5].doc_id])
    return d


def test_per_dir_reads_run_no_spark_jobs(spark, three_segments):
    """Every per-dir scan of a segmented table carries its declared
    schema, so resolving the doc-row tables, vocab, the packed segments
    and the delete vector plans without a single Spark job (a schema-less
    parquet read runs one job per dir to infer its schema)."""
    from information_retrieval_spark.index.catalog import (
        read_deletes,
        read_packed,
        read_seq_table,
        table_dirs,
    )

    d = three_segments
    assert len(table_dirs(d, "packed")) == 3
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen = set(tracker.getJobIdsForGroup("per-dir-reads"))
    sc.setJobGroup("per-dir-reads", "resolve per-dir scans")
    try:
        frames = [
            read_seq_table(spark, d, t)
            for t in ("postings_flat", "doclen", "doc_meta", "vocab")
        ] + [read_packed(spark, d), read_deletes(spark, d)]
    finally:
        sc._jsc.clearJobGroup()
    assert all(f is not None for f in frames)
    jobs = set(tracker.getJobIdsForGroup("per-dir-reads")) - seen
    assert not jobs, f"{len(jobs)} Spark jobs"


def test_postings_flat_has_declared_columns(
    spark, three_segments, tmp_path_factory
):
    """postings_flat holds exactly its declared columns (no per-row dl
    map) in the build's dir, in each add's dir and in a tiered compact's
    merged dir."""
    import shutil

    from information_retrieval_spark.index.catalog import (
        TABLE_SCHEMAS,
        table_dirs,
    )

    want = [
        (f.name, f.dataType.simpleString())
        for f in TABLE_SCHEMAS["postings_flat"].fields
    ]

    def cols(path):
        return [
            (f.name, f.dataType.simpleString())
            for f in spark.read.parquet(path).schema.fields
        ]

    built = table_dirs(three_segments, "postings_flat")
    assert len(built) == 3  # the build's dir and two adds'
    for path in built:
        assert cols(path) == want, path
    d = str(tmp_path_factory.mktemp("declared")) + "/idx"
    shutil.copytree(three_segments, d)
    IndexMaintenance(spark, d).compact(segments=[1, 2])
    dirs = table_dirs(d, "postings_flat")
    assert len(dirs) == 2
    assert cols(dirs[1]) == want
