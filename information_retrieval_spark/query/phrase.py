"""Exact-phrase search over the PERSISTED positional index.

The index stores, per (term, section, doc_id), the sorted set of token
offsets (quirk Q4's offset sets, the structure the reference builds in
`ui/backend/mir/search/corpus/phase1.py:31-44` but never queries
positionally). This module turns it into a phrase operator: doc d matches
phrase [t0..tn-1] in section s iff ∃ start p with p+i ∈ positions(ti, s, d)
for every i.

Offsets are assigned in the RAW token stream before stop filtering, so
adjacency survives stop removal — but a phrase can only be answered if
every one of ITS terms is in the index. A stop-filtered index therefore
cannot match phrases containing stop words (the classic positional-index
tradeoff); build the serving index with ``stop_terms=[]`` (Lucene's
default posture) when phrase queries matter.

Physical plan (one declarative Spark plan per batch of phrases):

  postings_flat scan, pruned to the batch's terms with a literal
  ``In(term, ...)`` filter (parquet row-group min/max pruning — the same
  trick the WAND engine plays; the positional table is term-clustered by
  the build's aggregate write) →
  anti-join the delete vector (broadcast; maintained indexes only) →
  ⨝broadcast phrase-term table (query_id, idx, qterm, n) →
  explode positions → start = pos − idx →
  hash-agg on (query_id, section, doc_id, start) counting DISTINCT idx —
  an occurrence is complete when all n indices are present →
  per-doc occurrence count (summed over sections) →
  per-query row_number top-k.

Scale: only the phrase terms' postings are ever read or exploded; the one
wide shuffle keys on (query_id, section, doc_id, start) — doc-grain,
skew-free. Overlapping occurrences each count ("table table" in
"table table table" = 2). LSM segments need no merge: a live doc's
positions for one section live in exactly one segment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from information_retrieval_spark.query.snapshot import IndexSnapshot


def _phrase_rows(
    snap: IndexSnapshot, phrases: list[tuple[int, str]]
) -> list[tuple[int, int, str, int]]:
    """(query_id, idx, term, n_terms) rows for a phrase batch, tokenized
    the same way the index was built (positions must share a basis)."""
    rows: list[tuple[int, int, str, int]] = []
    for qid, text in phrases:
        terms = snap.tokens(text)
        rows.extend((qid, i, w, len(terms)) for i, w in enumerate(terms))
    return rows


def _live_postings(snap: IndexSnapshot, terms: list[str]) -> DataFrame:
    """The snapshot's live positional postings of ``terms`` — a pushed
    ``In(term, ...)`` scan."""
    if snap.postings is None:
        raise ValueError(
            f"no postings_flat table in index {snap.index_dir!r}"
        )
    return snap.postings.select(
        "term", "section", "doc_id", "positions"
    ).filter(F.col("term").isin(sorted(set(terms))))


def phrase_search(
    spark: SparkSession,
    index_dir: str,
    phrases: list[tuple[int, str]],
    k: int = 10,
    version: int | None = None,
) -> DataFrame:
    """Top-k docs per phrase by exact-occurrence count over the persisted
    positional index. Returns (query_id, rank, doc_id, n_occ), rank by
    (n_occ desc, doc_id asc); phrases with an unindexed term simply match
    nothing.

    Only valid on indexes whose positions are token ORDINALS (the simple
    tokenizer): the code tokenizer stores char offsets, where "next token"
    is not pos+1 — use :func:`proximity_search` there."""
    snap = IndexSnapshot(spark, index_dir, version)
    if snap.tokenizer != "simple":
        raise ValueError(
            "phrase adjacency is undefined over char-offset positions "
            f"(index tokenizer {snap.tokenizer!r}); use proximity_search, "
            "whose window is measured in the index's own position units"
        )
    rows = _phrase_rows(snap, phrases)
    qt = spark.createDataFrame(
        rows, "query_id int, idx int, qterm string, n int"
    )
    p = _live_postings(snap, [r[2] for r in rows])
    m = (
        p.join(F.broadcast(qt), p.term == qt.qterm)
        .select(
            "query_id",
            "section",
            "doc_id",
            "idx",
            "n",
            F.explode("positions").alias("pos"),
        )
        .withColumn("start", F.col("pos") - F.col("idx"))
    )
    occ = (
        m.groupBy("query_id", "section", "doc_id", "start", "n")
        .agg(F.countDistinct("idx").alias("nidx"))
        .filter(F.col("nidx") == F.col("n"))
    )
    scored = occ.groupBy("query_id", "doc_id").agg(
        F.count("*").alias("n_occ")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_occ"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_occ")
    )


def proximity_search(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    window: int,
    k: int = 10,
    version: int | None = None,
) -> DataFrame:
    """Top-k docs where every query term co-occurs within ±``window``
    positions of an occurrence of the FIRST term (the anchor), per section;
    score = number of such anchor witnesses. Returns (query_id, rank,
    doc_id, n_win), rank by (n_win desc, doc_id asc).

    ``window`` is measured in the index's own position units — token
    ordinals for the simple tokenizer, CHAR offsets for the code tokenizer
    (where a char window is the natural "near" for code search, and exact
    phrase adjacency is undefined; see :func:`phrase_search`).

    Duplicate terms in a query collapse to one slot (proximity is a
    co-occurrence, not a sequence, semantics).

    Plan: pruned postings scan (In(term)) → explode positions → anchor
    rows (idx 0) equi-joined to other-term rows on (query_id, section,
    doc_id) with the |pos − anchor| ≤ window filter — per-doc bounded, no
    range join against anything corpus-sized — → witness = anchor with all
    n−1 other slots present → per-doc witness count → top-k window.
    """
    snap = IndexSnapshot(spark, index_dir, version)
    raw = _phrase_rows(snap, queries)
    # collapse duplicate terms per query, re-densify idx so anchor == idx 0
    rows = []
    for qid in sorted({r[0] for r in raw}):
        seen: dict[str, int] = {}
        for _, _, t, _ in (r for r in raw if r[0] == qid):
            if t not in seen:
                seen[t] = len(seen)
        rows.extend((qid, i, t, len(seen)) for t, i in seen.items())
    qt = spark.createDataFrame(
        rows, "query_id int, idx int, qterm string, n int"
    )
    p = _live_postings(snap, [r[2] for r in rows])
    h = p.join(F.broadcast(qt), p.term == qt.qterm).select(
        "query_id",
        "section",
        "doc_id",
        "idx",
        "n",
        F.explode("positions").alias("pos"),
    )
    anchors = h.filter(F.col("idx") == 0).select(
        "query_id", "section", "doc_id", F.col("pos").alias("anchor"), "n"
    )
    others = h.filter(F.col("idx") > 0).select(
        "query_id", "section", "doc_id", "idx", "pos"
    )
    wit = (
        anchors.join(others, ["query_id", "section", "doc_id"])
        .filter(F.abs(F.col("pos") - F.col("anchor")) <= window)
        .groupBy("query_id", "section", "doc_id", "anchor", "n")
        .agg(F.countDistinct("idx").alias("got"))
        .filter(F.col("got") == F.col("n") - 1)
        .select("query_id", "section", "doc_id", "anchor")
    )
    wit1 = anchors.filter(F.col("n") == 1).select(
        "query_id", "section", "doc_id", "anchor"
    )
    scored = (
        wit.unionByName(wit1)
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("n_win"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_win"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_win")
    )
