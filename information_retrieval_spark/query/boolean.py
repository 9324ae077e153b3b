"""Boolean (must / should / must-not) retrieval over the PERSISTED index.

The reference engine only ranks OR-unions of query terms
(`ui/backend/mir/search/search/common.py:73-75` — no AND or NOT operator
exists there); every production fulltext index also answers boolean
filters, so this module adds them over the same stored postings the WAND
engine reads. Semantics (shared with `ops/ir_direct.SQL_BOOL_TOPK`, the
DuckDB oracle of the ``bool_index`` driver entry): a doc qualifies iff it
contains EVERY must term, NO must_not term, and — when the must list is
empty — at least one should term; score = number of DISTINCT should terms
present; rank by (n_should desc, doc_id asc); top-k per query.

Physical plan (one declarative Spark plan per query batch):

  postings scan pruned to the batch's terms with a literal ``In(term,...)``
  filter (parquet row-group min/max pruning; the postings table is
  term-clustered by the build's aggregate write) →
  anti-join the delete vector (broadcast; maintained indexes only) →
  distinct (doc_id, term) — collapses sections and LSM segments →
  ⨝broadcast role spec →
  ONE doc-grain hash-agg counting hits per role →
  qualification filter in whole-stage codegen →
  per-query top-k window (partition = query_id).

Scale: only the query terms' postings are read; the one wide shuffle keys
on (doc_id) — doc-grain, skew-free. A must_not term with huge df costs one
pruned scan of its postings, never a corpus scan: docs outside the spec's
term set are unreachable and correctly excluded or ignored by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from information_retrieval_spark.query.snapshot import IndexSnapshot


def boolean_search(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, str, str]],
    k: int = 10,
    version: int | None = None,
) -> DataFrame:
    """Top-k (query_id, rank, doc_id, n_should) per boolean query over the
    persisted postings (any index whose postings keep every query term —
    build boolean-serving indexes with ``stop_terms=[]``, same posture as
    phrase serving). Query terms are tokenized the way the index was built
    (its manifest's tokenizer), deduped per role."""
    snap = IndexSnapshot(spark, index_dir, version)

    def toks(s: str) -> list[str]:
        return list(dict.fromkeys(snap.tokens(s)))

    rows: list[tuple[int, str, str, int]] = []
    for qid, must, should, nots in queries:
        m = toks(must)
        rows.extend((qid, t, "must", len(m)) for t in m)
        rows.extend((qid, t, "should", len(m)) for t in toks(should))
        rows.extend((qid, t, "not", len(m)) for t in toks(nots))
    spec = spark.createDataFrame(
        rows, "query_id int, qterm string, role string, n_must int"
    )
    if snap.postings is None:
        raise ValueError(f"no postings_flat table in index {index_dir!r}")
    terms = sorted({r[1] for r in rows})
    p = snap.postings.select("term", "doc_id").filter(F.col("term").isin(terms))
    dt = p.distinct()  # collapse sections + LSM segments
    m = dt.join(F.broadcast(spec), dt.term == spec.qterm)
    agg = m.groupBy("query_id", "doc_id", "n_must").agg(
        F.count(F.when(F.col("role") == "must", 1)).alias("must_hit"),
        F.count(F.when(F.col("role") == "should", 1)).alias("n_should"),
        F.count(F.when(F.col("role") == "not", 1)).alias("not_hit"),
    )
    ok = agg.filter(
        (F.col("must_hit") == F.col("n_must"))
        & (F.col("not_hit") == 0)
        & ((F.col("n_must") > 0) | (F.col("n_should") > 0))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_should"), F.asc("doc_id")
    )
    return (
        ok.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_should")
    )
