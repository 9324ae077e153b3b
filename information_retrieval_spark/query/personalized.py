"""End-to-end personalized search — reference phase-3 semantics
(`ui/backend/mir/search/search/phase3.py:125-219`): a text query batch fused
with personalized PageRank derived from user preferences.

Pipeline (phase3 re-expressed Spark-first):

1. **text** — the ranked engine (``SearchEngine``) answers the batch:
   (query_id, rank, doc_id, score);
2. **preferences → PPR** — the reference's additive-teleport personalized
   PageRank (`phase3.py:23-82`, preferences normalized to sum 1) over the
   supplied link graph (`ops/graph.py::personalized_pagerank`);
3. **fusion** (`phase3.py:160-179`): each signal ÷max-normalized — text
   over the per-query retrieved set, PPR over the global vector — then
   ``(1 − pw)·text + pw·ppr``, re-ranked with ties pinned to
   (-round(fused, 9), doc_id).

The fusion re-ranks WITHIN each query's retrieved set (ask for a larger k
in the specs if recall beyond the text top-k matters — the reference
likewise fuses over its phase-1 result list). Docs absent from the PPR
vector contribute 0 (cannot happen when ``edges`` spans the corpus;
defensive for subgraphs).

Scale notes: the text pass and the PPR iterations are the existing audited
plans; fusion adds one per-query window over k-row frames and one doc-keyed
left join against the rank vector — broadcastable when the batch is small,
shuffle-joined on doc_id otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from information_retrieval_spark.ops.graph import personalized_pagerank

FUSION_PW = 0.3  # reference default personalization_weight


def search_personalized(
    engine,
    edges: DataFrame,
    preferences: dict[int, float],
    queries: list,
    pw: float = FUSION_PW,
    tol: float = 1e-4,
    max_iter: int = 100,
) -> DataFrame:
    """(query_id, rank, doc_id, score): text ranking fused with
    preference-personalized PageRank. ``engine`` is a ``SearchEngine``;
    ``edges`` is the (src, dst) link graph over the indexed
    docs; ``preferences`` maps doc_id → weight (normalized internally)."""
    spark = engine.spark
    text = engine.search(queries)
    nodes = engine.snapshot.doclen.select("doc_id").distinct()
    ppr = personalized_pagerank(
        spark, edges, nodes, preferences, tol=tol, max_iter=max_iter
    )
    pr_max = ppr.agg(F.max("pr").alias("m")).collect()[0].m
    wq = Window.partitionBy("query_id")
    tn = text.withColumn(
        "t_norm", F.col("score") / F.max("score").over(wq)
    )
    fused = (
        tn.join(ppr, "doc_id", "left")
        .withColumn(
            "p_norm",
            F.coalesce(F.col("pr") / F.lit(float(pr_max)), F.lit(0.0)),
        )
        .withColumn(
            "fused", (1.0 - pw) * F.col("t_norm") + pw * F.col("p_norm")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("fused", 9)), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .select("query_id", "rank", "doc_id", F.col("fused").alias("score"))
    )
