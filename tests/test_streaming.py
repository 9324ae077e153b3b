"""Streaming ingestion: files landing in a watch dir drain into the index
via foreachBatch → IndexMaintenance; the result is rank-identical to a
fresh batch build over everything that has arrived."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from information_retrieval_spark.fixtures import corpus_rows
from information_retrieval_spark.index.build import IndexBuilder
from information_retrieval_spark.query.engine import QuerySpec, SearchEngine
from information_retrieval_spark.streaming.ingest import run_incremental_indexing

SECTIONS = {"title": "path", "abstract": "content"}
QUERIES = [
    QuerySpec(1, "tokenizer stream", "okapi25", 10, spell=False, match_mode="exact"),
    QuerySpec(2, "buffer matrix parser", "okapi25", 10, spell=False, match_mode="exact"),
]


def _write_rows(path, rows):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r.doc_id for r in rows], pa.int64()),
                "repo": pa.array([r.repo for r in rows]),
                "path": pa.array([r.path for r in rows]),
                "commit": pa.array([r.commit for r in rows]),
                "lang": pa.array([r.lang for r in rows]),
                "content": pa.array([r.content for r in rows]),
            }
        ),
        path,
    )


def _df(spark, rows):
    return spark.createDataFrame(
        [(r.doc_id, r.repo, r.path, r.commit, r.lang, r.content) for r in rows],
        "doc_id long, repo string, path string, commit string, lang string,"
        " content string",
    )


def _results(engine):
    return sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in engine.search(QUERIES).collect()
    )


def test_streaming_ingest_matches_batch_build(spark, tmp_path):
    rows = corpus_rows(150)
    watch = tmp_path / "incoming"
    watch.mkdir()
    idx = str(tmp_path / "idx")
    cp = str(tmp_path / "cp")

    # base index over the first 100 docs
    IndexBuilder(spark, idx, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:100])
    )
    stop = [
        r.term
        for r in spark.read.parquet(f"{idx}/stopwords").orderBy("rank").collect()
    ]

    # two files arrive; drain the stream
    _write_rows(str(watch / "part1.parquet"), rows[100:130])
    _write_rows(str(watch / "part2.parquet"), rows[130:150])
    run_incremental_indexing(spark, idx, str(watch), cp)

    fresh = str(tmp_path / "fresh")
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10, stop_terms=stop
    ).build(_df(spark, rows))
    assert _results(SearchEngine(spark, idx)) == _results(SearchEngine(spark, fresh))

    # drain again with nothing new: the snapshot-chain ledger + checkpoint
    # make it a no-op
    from information_retrieval_spark.index.catalog import read_table
    from information_retrieval_spark.streaming.ingest import applied_batches

    n_docs_before = read_table(spark, idx, "postings_flat").count()
    run_incremental_indexing(spark, idx, str(watch), cp)
    assert read_table(spark, idx, "postings_flat").count() == n_docs_before
    assert applied_batches(idx) == {0}


def test_crash_mid_commit_recovers_exactly_once(spark, tmp_path):
    """Simulate a crash halfway through commit_add (some delta files moved,
    aggregate swaps not done, ledger unwritten): the replay must RESUME the
    frozen stage — not re-stage — and converge to the fresh-build answer
    with no double-applied postings."""
    from information_retrieval_spark.index.maintenance import IndexMaintenance

    rows = corpus_rows(150)
    watch = tmp_path / "incoming"
    watch.mkdir()
    idx = str(tmp_path / "idx")
    cp = str(tmp_path / "cp")
    IndexBuilder(spark, idx, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:100])
    )
    stop = [
        r.term
        for r in spark.read.parquet(f"{idx}/stopwords").orderBy("rank").collect()
    ]

    # the batch that will arrive as streaming batch 0
    _write_rows(str(watch / "part1.parquet"), rows[100:150])

    # stage it exactly as handle() would, then "crash" after moving one
    # staged table to its data dir but BEFORE the snapshot commit
    maint = IndexMaintenance(spark, idx)
    stage = f"{idx}/__stage_batch_0"
    maint.stage_add(_df(spark, rows[100:150]), stage)
    token = maint._stage_info(stage)["token"]
    dest = maint.cat.abspath(maint.cat.new_data_dir("postings_flat", token))
    os.replace(f"{stage}/postings_delta", dest)

    # nothing committed: queries still see the 100-doc snapshot
    from information_retrieval_spark.index.catalog import read_table

    assert read_table(spark, idx, "postings_flat").count() == (
        read_table(spark, idx, "postings_flat", version=1).count()
    )

    run_incremental_indexing(spark, idx, str(watch), cp)

    fresh = str(tmp_path / "fresh")
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10, stop_terms=stop
    ).build(_df(spark, rows))
    assert _results(SearchEngine(spark, idx)) == _results(SearchEngine(spark, fresh))
    assert not os.path.exists(stage)
    # exactly-once: postings row count matches the fresh build
    assert (
        read_table(spark, idx, "postings_flat").count()
        == read_table(spark, fresh, "postings_flat").count()
    )


def test_streaming_ingest_auto_compacts_tiered(spark, tmp_path):
    """Continuous ingest with the tiered auto-compaction default: each
    over-bound micro-batch merges only the delta segments — the base
    packed dir path survives the whole drain (never rewritten), segment
    count stays bounded, answers match a fresh batch build."""
    from information_retrieval_spark.index.catalog import table_dirs

    rows = corpus_rows(160)
    watch = tmp_path / "incoming"
    watch.mkdir()
    idx = str(tmp_path / "idx")
    cp = str(tmp_path / "cp")

    IndexBuilder(spark, idx, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:100])
    )
    stop = [
        r.term
        for r in spark.read.parquet(f"{idx}/stopwords").orderBy("rank").collect()
    ]
    base_dir = table_dirs(idx, "packed")[0]

    for i, lo in enumerate(range(100, 160, 20)):
        _write_rows(str(watch / f"p{i}.parquet"), rows[lo:lo + 20])
    run_incremental_indexing(
        spark, idx, str(watch), cp,
        reader_options={"maxFilesPerTrigger": "1"},
        auto_compact_segments=2,
    )

    assert table_dirs(idx, "packed")[0] == base_dir  # base never rewritten
    assert len(table_dirs(idx, "packed")) <= 3

    fresh = str(tmp_path / "fresh")
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10, stop_terms=stop
    ).build(_df(spark, rows))
    assert _results(SearchEngine(spark, idx)) == _results(
        SearchEngine(spark, fresh)
    )


def test_streaming_readd_of_removed_id_resurrects(spark, tmp_path):
    """ADVICE r4 (streaming/ingest.py): a streamed batch that re-adds a
    REMOVED doc_id must make the new content live — under round 4's global
    delete vector the commit would land rows the vector silently hid (the
    'wrong index instead of obviously broken' hazard). Seq-scoped
    tombstones close it structurally: the streamed segment's _SEQ exceeds
    the tombstone's upto, so no add-time guard is needed on any path.
    Pinned end-to-end here: remove → stream a batch re-adding the id with
    NEW content → the engine answers exactly like a fresh build over
    (survivors + new content)."""
    from information_retrieval_spark.index.maintenance import IndexMaintenance

    rows = corpus_rows(120)
    watch = tmp_path / "incoming"
    watch.mkdir()
    idx = str(tmp_path / "idx")
    cp = str(tmp_path / "cp")
    IndexBuilder(spark, idx, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows[:100])
    )
    stop = [
        r.term
        for r in spark.read.parquet(f"{idx}/stopwords").orderBy("rank").collect()
    ]

    IndexMaintenance(spark, idx).remove_documents([7])
    import dataclasses

    readded = dataclasses.replace(
        rows[7],
        content="tokenizer stream resurrected via streaming " + rows[7].content,
    )
    _write_rows(str(watch / "p0.parquet"), [readded] + list(rows[100:120]))
    run_incremental_indexing(spark, idx, str(watch), cp)

    fresh = str(tmp_path / "fresh")
    IndexBuilder(
        spark, fresh, SECTIONS, tokenizer="code", stop_k=10, stop_terms=stop
    ).build(_df(spark, [r for r in rows[:100] if r.doc_id != 7]
                + [readded] + list(rows[100:120])))
    want = _results(SearchEngine(spark, fresh))
    assert _results(SearchEngine(spark, idx)) == want
