"""The driver entries' /tmp index caches are keyed on their input
(`ops.engine_entry.input_key`): rewriting ``documents.parquet`` at the
same path makes the wand, grep and positional entries build and read a
fresh index, not serve the old one (the wand entries' shared engine over
the old index is closed); an unchanged input reuses its index with no
Spark job."""

import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from information_retrieval_spark.ops import engine_entry, grep

SF = "/root/testdata/sf0.001"
SHIFT = 100_000

ENTRIES = {
    "wand": (engine_entry.q_wand_topk, engine_entry.ensure_documents_index),
    "grep": (grep.q_grep_persisted, grep.ensure_trigram_index),
    "positional": (
        engine_entry.q_bool_index, engine_entry.ensure_documents_posindex
    ),
}


def _answer(spark, entry, sf):
    return sorted(tuple(r) for r in entry(spark, sf).collect())


def _jobs(spark, fn):
    """Spark jobs that ``fn()`` runs, and its result."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen = set(tracker.getJobIdsForGroup("entry-cache"))
    sc.setJobGroup("entry-cache", "entry cache")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(set(tracker.getJobIdsForGroup("entry-cache")) - seen), out


@pytest.mark.parametrize("name", sorted(ENTRIES))
def test_rewritten_input_is_not_served_stale(spark, tmp_path, name):
    entry, ensure = ENTRIES[name]
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    docs = f"{sf}/documents.parquet"
    shutil.copy(f"{SF}/documents.parquet", docs)
    before = _answer(spark, entry, sf)
    assert before

    # unchanged input: the same index, reused with no Spark job
    idx = ensure(spark, sf)
    jobs, again = _jobs(spark, lambda: ensure(spark, sf))
    assert (jobs, again) == (0, idx)

    old_engine = engine_entry._ENGINES.get(sf)
    assert (old_engine is not None) == (name == "wand")
    assert old_engine is None or old_engine._local_side is not None

    # the same file rewritten in place, every doc_id shifted
    tb = pq.read_table(docs)
    tb = tb.set_column(
        tb.schema.get_field_index("doc_id"), "doc_id",
        pc.add(tb.column("doc_id"), SHIFT),
    )
    os.remove(docs)
    pq.write_table(tb, docs)
    assert ensure(spark, sf) != idx
    after = _answer(spark, entry, sf)
    doc = 2  # every entry answers (query_id, rank, doc_id, ...)
    assert all(r[doc] >= SHIFT for r in after)
    assert after == [r[:doc] + (r[doc] + SHIFT,) + r[doc + 1:]
                     for r in before]
    if old_engine is not None:
        # the superseded engine is closed and replaced, not kept
        assert old_engine._local_side is None
        assert engine_entry._ENGINES[sf].snapshot.index_dir == ensure(
            spark, sf
        )
