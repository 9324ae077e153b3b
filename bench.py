"""Round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": <sf>, "extras": {...}}

Sections:
* battery — the driver-verified operator plans (ops/*) executed to
  completion (collect of the final small result).
* engine — the persisted-index path (north rule): index build over the
  synthetic code corpus (files/sec) and batched BM25 top-10 latency over
  the 8-query reference set ``ir_direct.QUERY_SET`` (p50 per query
  batch).

Scaling-efficiency evidence (local[8] vs local[32]) is produced separately
by scripts/bench_scaling.py → BENCH/BASELINE.md (a SparkSession's master
can't change mid-process).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from information_retrieval_spark.session import get_spark
    from information_retrieval_spark.ops import (
        dedup,
        graph,
        ir_direct,
        similarity,
        textstats,
    )

    spark = get_spark("bench", master=f"local[{cpus}]")

    timings: dict[str, float] = {}

    def run(name: str, fn, reps: int = 2) -> None:
        # best-of-N: first execution pays one-time whole-stage-codegen +
        # Arrow init; steady-state is the number that scales to a cluster
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    # warm the JVM + parquet footers so q1 doesn't pay session startup
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    battery = {
        "bm25_topk": ir_direct.q_bm25_topk,
        "tfidf_topk": ir_direct.q_tfidf_topk,
        "mlt_topk": ir_direct.q_mlt_topk,
        "facets": ir_direct.q_facets,
        "suggest": ir_direct.q_suggest,
        "bigram_index": ir_direct.q_bigram_index,
        "text_stats": textstats.q_text_stats,
        "minhash_pairs": dedup.q_minhash_pairs,
        "simhash": dedup.q_simhash,
        "jaccard_pairs": dedup.q_jaccard_pairs,
        "cosine_topk": similarity.q_cosine_topk,
        "ann_lsh_topk": similarity.q_ann_lsh_topk,
        "pagerank": graph.q_pagerank,
    }
    from information_retrieval_spark.ops import (
        engine_entry,
        events,
        metrics,
        ml,
        multimodal,
        recsys,
    )

    battery.update(
        {
            "wand_topk": engine_entry.q_wand_topk,
            "wand_filtered": engine_entry.q_wand_filtered,
            "bm25_filtered": ir_direct.q_bm25_filtered,
            "champion_topk": ir_direct.q_champion_topk,
            "phrase_index": engine_entry.q_phrase_index,
            "prox_index": engine_entry.q_prox_index,
            "bool_index": engine_entry.q_bool_index,
            "eval_metrics": metrics.q_eval_metrics,
            "event_windows": events.q_event_windows,
            "sessionize": events.q_sessionize,
            "naive_bayes": ml.q_naive_bayes,
            "kmeans": ml.q_kmeans,
            "embedding_dups": similarity.q_embedding_dups,
            "user_knn_lsh": recsys.q_user_knn_lsh,
            "plsa_topics": ml.q_plsa_topics,
            "cluster_topics": ml.q_cluster_topics,
            "hits": graph.q_hits,
            "author_hits": graph.q_author_hits,
            "content_recs": recsys.q_content_recs,
            "media_features": multimodal.q_media_features,
        }
    )
    from information_retrieval_spark.ops import grep as grep_mod, hygiene

    battery.update(
        {
            "grep_topk": grep_mod.q_grep_topk,
            # the battery's indexed-grep entry reads the PERSISTED trigram
            # table (built on rep 1; best-of-2 measures the query-only
            # cost, which is the number that matters at 100 TB):
            "grep_index": grep_mod.q_grep_persisted,
            "wildcard_topk": ir_direct.q_wildcard_topk,
            "contamination": hygiene.q_contamination,
            "repetition": hygiene.q_repetition,
            "collocations": hygiene.q_collocations,
        }
    )
    for name, q in battery.items():
        run(name, lambda q=q: q(spark, sf_dir).collect())

    # ---- engine path: index build throughput + BM25 query p50 ------------
    from information_retrieval_spark.index.build import IndexBuilder
    from information_retrieval_spark.query.engine import QuerySpec, SearchEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_files = docs.count()
    idx_dir = tempfile.mkdtemp(prefix="bench_idx_")
    try:
        t0 = time.time()
        IndexBuilder(
            spark, idx_dir, sections={"body": "text"}, tokenizer="simple"
        ).build(docs)
        build_s = time.time() - t0
        timings["index_build"] = round(build_s, 3)

        eng = SearchEngine(spark, idx_dir)
        qspecs = [
            QuerySpec(i, text, "okapi25", 10, spell=False, match_mode="exact")
            for i, text in ir_direct.QUERY_SET
        ]
        wlat = []
        for rep in range(5):
            t0 = time.time()
            eng.search(qspecs).collect()
            wlat.append(time.time() - t0)
        wlat.sort()
        timings["wand_engine_batch"] = round(wlat[len(wlat) // 2], 3)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline operator battery + index build + BM25 batch (sec)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "extras": {
            "index_build_files_per_sec": round(n_files / build_s, 1),
            "wand_batch_p50_sec": timings["wand_engine_batch"],
            "wand_per_query_p50_sec": round(
                timings["wand_engine_batch"] / len(qspecs), 4
            ),
            "cpus": cpus,
            "n_files": n_files,
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
