"""A compaction's two placements (index/maintenance.py): the local data
step reads the merged segments with pyarrow and writes every table on the
driver with no Spark job; the distributed one runs Spark jobs. On copies
of one snapshot, both must commit equal tables: every row as a multiset
(packed binary columns included), the stats ledger, the surviving delete
vector, the lineage totals and the commit summary (apart from
``placement``). The snapshot has what the driver-side writer must get
right: tombstones in merged and in unmerged segments, a legacy
(``upto``-less) one, an update and a re-add, negative doc_ids, and
categories "007", one holding "/", one holding a space, and null.
"""

import shutil
from dataclasses import replace

import pyarrow.parquet as pq
import pytest

from information_retrieval_spark.fixtures import corpus_rows
from information_retrieval_spark.index.build import IndexBuilder
from information_retrieval_spark.index.catalog import (
    Catalog,
    arrow_scan,
    read_stats_pdf,
    scan_dirs,
)
from information_retrieval_spark.index.fsck import fsck_deep
from information_retrieval_spark.index.maintenance import IndexMaintenance
from tests.placement import PLACEMENTS, merge_forced
from tests.test_placement import CATS, SECTIONS, _df, _legacy_tombstone

_ROW_TABLES = ("postings_flat", "doclen", "doc_meta", "vocab", "term_df",
               "packed", "deleted_docs")


@pytest.fixture(scope="module")
def snap(spark, tmp_path_factory):
    """An index of five segments: a base, two adds, an update of a base
    doc and a segment-2 doc (segment 3), and a re-add of a removed
    segment-2 doc (segment 4). Removes hit the base and segment 2, plus a
    legacy tombstone on a base doc."""
    rows = [
        replace(r, doc_id=r.doc_id - 60, lang=CATS[i % len(CATS)])
        for i, r in enumerate(corpus_rows(100))
    ]
    d = str(tmp_path_factory.mktemp("mergeplace"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10,
                 category_col="lang").build(_df(spark, rows[:60]))
    maint = IndexMaintenance(spark, d)
    maint.add_documents(_df(spark, rows[60:80]))
    maint.add_documents(_df(spark, rows[80:]))
    maint.remove_documents([rows[3].doc_id, rows[85].doc_id])
    maint.update_documents(_df(spark, [
        replace(rows[10], content=rows[90].content, lang="c d"),
        replace(rows[82], content=rows[5].content + " rewritten"),
    ]))
    maint.add_documents(_df(spark, [
        replace(rows[85], content="resurrected " + rows[85].content)
    ]))
    _legacy_tombstone(d, rows[50].doc_id)
    assert len(Catalog(d).table_dirs("packed")) == 5
    return d


def _rows(table, d):
    tb = arrow_scan(table, d).to_table()
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r.values())
        for r in tb.to_pylist()
    )


def _lineage_totals(spark, idx):
    from pyspark.sql import functions as F

    return sorted(
        tuple(r) for r in scan_dirs(
            spark, "lineage", *Catalog(idx).table_dirs("lineage")
        ).groupBy("table").agg(
            F.sum("rows"), F.expr("bit_xor(content_hash)")
        ).collect()
    )


def _committed(spark, idx):
    """Everything a compaction commits, independent of dir names."""
    cat = Catalog(idx)
    summary = dict(cat.load()["summary"])
    placement = summary.pop("placement")
    summary.pop("stage_token")
    tables = {
        t: [_rows(t, d) for d in cat.table_dirs(t)] for t in _ROW_TABLES
    }
    # Spark reads the hive-partitioned doc_meta as pyarrow does
    spark_meta = [
        sorted(tuple(r) for r in scan_dirs(spark, "doc_meta", d).collect())
        for d in cat.table_dirs("doc_meta")
    ]
    assert spark_meta == tables["doc_meta"]
    return placement, {
        "summary": summary,
        "tables": tables,
        "stats": read_stats_pdf(idx).to_dict("records"),
        "lineage": _lineage_totals(spark, idx),
    }


@pytest.mark.parametrize("segments", [[2, 3, 4], None])
def test_placements_commit_equal_tables(
    spark, snap, tmp_path_factory, segments
):
    got = {}
    for p in PLACEMENTS:
        d = str(tmp_path_factory.mktemp(f"merge_{p}")) + "/idx"
        shutil.copytree(snap, d)
        maint = IndexMaintenance(spark, d)
        with merge_forced(p):
            maint.compact(segments=segments)
        assert maint.last_merge_placement["placement"] == p
        placement, got[p] = _committed(spark, d)
        assert placement == p
        rep = fsck_deep(spark, d)
        assert rep["ok"] and all(
            v["match"] for v in rep["deep"].values()
        ), rep
        got[p]["packed_row_groups"] = sum(
            pq.ParquetFile(f.path).num_row_groups
            for f in arrow_scan(
                "packed", Catalog(d).table_dirs("packed")[-1]
            ).get_fragments()
        )
    rg = {p: got[p].pop("packed_row_groups") for p in PLACEMENTS}
    assert got["local"] == got["distributed"]
    # footer pruning sees row groups no coarser than the Spark files'
    assert rg["local"] >= rg["distributed"]
    tables = got["local"]["tables"]
    cats = {c for part in tables["doc_meta"] for _, c in part}
    assert {"007", "a/b", "c d", None} <= cats
    if segments is not None:
        # the three base docs' tombstones survive; segment 2's two are
        # applied (their newer rows in segments 3 and 4 stay live)
        assert len(tables["deleted_docs"][0]) == 3
    else:
        assert tables["deleted_docs"] == []


def test_local_merge_runs_no_spark_jobs(spark, snap, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("merge_jobs")) + "/idx"
    shutil.copytree(snap, d)
    maint = IndexMaintenance(spark, d)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen = set(tracker.getJobIdsForGroup("local-merge"))
    sc.setJobGroup("local-merge", "local merge")
    try:
        with merge_forced("local"):
            maint.compact(segments=[2, 3, 4])
    finally:
        sc._jsc.clearJobGroup()
    assert maint.last_merge_placement["placement"] == "local"
    jobs = set(tracker.getJobIdsForGroup("local-merge")) - seen
    assert not jobs, f"{len(jobs)} Spark jobs"


def test_distributed_merge_writes_surviving_tombstones_once(
    spark, snap, tmp_path_factory
):
    """A forced-distributed merge whose tombstones partly survive writes
    them once and reads the row count from the written footers: fewer
    Spark jobs than the check-then-write shape (49 jobs on this snapshot;
    42 after), and the same delete vector: the three base docs'."""
    from information_retrieval_spark.index.catalog import GLOBAL_UPTO

    d = str(tmp_path_factory.mktemp("merge_dist_jobs")) + "/idx"
    shutil.copytree(snap, d)
    maint = IndexMaintenance(spark, d)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen = set(tracker.getJobIdsForGroup("dist-merge"))
    sc.setJobGroup("dist-merge", "distributed merge")
    try:
        with merge_forced("distributed"):
            maint.compact(segments=[2, 3, 4])
    finally:
        sc._jsc.clearJobGroup()
    jobs = set(tracker.getJobIdsForGroup("dist-merge")) - seen
    assert len(jobs) < 49
    (dv_dir,) = Catalog(d).table_dirs("deleted_docs")
    assert sorted(
        tuple(r.values()) for r in arrow_scan("deleted_docs", dv_dir)
        .to_table().to_pylist()
    ) == [(-57, 3), (-50, 4), (-10, GLOBAL_UPTO)]
