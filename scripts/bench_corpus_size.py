"""Corpus-SIZE scaling evidence (complements bench_scaling.py, which
varies CORE count at fixed corpus): fixed local[32], corpus grown
100k → 300k → 1M docs. The 100 TB claims under test:

  * build throughput (files/s) stays ~flat as the corpus grows — the
    build is one shuffle-free tokenize+aggregate pass plus term-keyed
    postings-grain stages, so cost ∝ corpus with no superlinear term;
  * SELECTIVE queries (constant absolute df — here the fixture's
    unique per-doc path tokens ``file{i}``) stay ~constant-cost as the
    corpus grows: the packed shards are term-pruned at the scan
    (`In(term, …)` + row-group stats), so the read volume is the
    query's posting lists, not the index;
  * BROAD queries (df ∝ corpus — the fixture's content vocabulary is
    drawn uniformly, so every content term's posting list grows with
    N) pay ∝ their posting volume, damped only where the per-block
    bounds let the scorer stop before decoding a block; this is
    inherent — at 100 TB one caps broad-query cost
    with the champion-list / impact-ordered variants (ops/ir_direct.py).

Corpora are deterministic (`fixtures.make_row`) and cached as parquet
DIRECTORIES under /tmp (generated in parallel worker processes; a
directory of part files is also what a real distributed writer
produces). Usage:

  python scripts/bench_corpus_size.py [--write] [n_docs ...]
  SIZES="100000 300000 1000000" python scripts/bench_corpus_size.py
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GEN_CHUNK = 25_000
QUERY_REPS = 3
N_BUCKETS = 32


def _write_chunk(args: tuple[str, int, int]) -> None:
    path, start, end = args
    from information_retrieval_spark.fixtures import make_row, write_corpus_parquet

    write_corpus_parquet(path, 0, rows=[make_row(i) for i in range(start, end)])


def ensure_corpus(n: int) -> str:
    out = f"/tmp/ir_corpus_dir_{n}"
    done = os.path.join(out, "_GEN_DONE")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jobs = [
        (os.path.join(out, f"part-{s:09d}.parquet"), s, min(s + GEN_CHUNK, n))
        for s in range(0, n, GEN_CHUNK)
    ]
    t0 = time.time()
    with ProcessPoolExecutor(max_workers=min(16, os.cpu_count() or 4)) as ex:
        list(ex.map(_write_chunk, jobs))
    open(done, "w").close()
    print(f"generated {n} docs in {time.time() - t0:.1f}s -> {out}")
    return out


from information_retrieval_spark.index.fsck import (  # noqa: E402
    dir_bytes as du_bytes,
)


def broad_specs() -> list:
    """The standard fixture query set: content terms, df ∝ corpus."""
    from information_retrieval_spark.fixtures import make_queries
    from information_retrieval_spark.query.engine import QuerySpec

    return [
        QuerySpec(q.query_id, q.query_text, "okapi25", 10,
                  spell=False, match_mode="exact")
        for q in make_queries(30)
        if q.method == "okapi25"
    ]


def selective_specs() -> list:
    """A constant-absolute-df batch: the fixture's path tokens file{i}
    are unique per doc, so df stays 1 however large the corpus is (all ids
    < the smallest swept corpus so the doc exists at every size)."""
    from information_retrieval_spark.query.engine import QuerySpec

    return [
        QuerySpec(1000 + j, f"file{37 + 997 * j}", "okapi25",
                  10, spell=False, match_mode="exact")
        for j in range(18)
    ]


def run_size(spark, n: int) -> dict:
    from information_retrieval_spark.index.build import IndexBuilder
    from information_retrieval_spark.query.wand import WandEngine

    corpus_dir = ensure_corpus(n)
    corpus = spark.read.parquet(corpus_dir)
    corpus.count()  # warm the scan
    idx = tempfile.mkdtemp(prefix=f"ir_size_idx_{n}_")
    t0 = time.time()
    IndexBuilder(
        spark, idx, {"title": "path", "abstract": "content"},
        tokenizer="code", n_buckets=N_BUCKETS,
    ).build(corpus)
    build_s = time.time() - t0
    eng = None
    try:
        eng = WandEngine(spark, idx)
        broad, selective = broad_specs(), selective_specs()

        def p50(specs):
            lat = []
            for _ in range(QUERY_REPS):
                t1 = time.time()
                rows = eng.search(specs).collect()
                lat.append(time.time() - t1)
            lat.sort()
            return round(lat[len(lat) // 2], 3), len(rows)

        broad_s, broad_rows = p50(broad)
        sel_s, sel_rows = p50(selective)
        return {
            "n_docs": n,
            "build_s": round(build_s, 2),
            "files_per_sec": round(n / build_s, 1),
            "index_mb": round(du_bytes(idx) / 1e6, 1),
            "broad_batch_p50_s": broad_s,
            "broad_rows": broad_rows,
            "selective_batch_p50_s": sel_s,
            "selective_rows": sel_rows,
        }
    finally:
        # release THIS size's persisted engine state before the next size
        # runs in the same JVM — without it the sweep accumulates every
        # prior index's side frame + term shard in executor storage and
        # the largest size pays eviction churn on every job (measured
        # 2.7× on the 1M selective batch; see BENCH/BASELINE.md)
        if eng is not None:
            eng.close()
        shutil.rmtree(idx, ignore_errors=True)


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--write"]
    write = "--write" in sys.argv
    sizes = [int(a) for a in argv] or [
        int(s) for s in os.environ.get("SIZES", "100000 300000 1000000").split()
    ]
    from information_retrieval_spark.session import get_spark

    spark = get_spark("bench_corpus_size", master="local[32]",
                      shuffle_partitions=32)
    results = [run_size(spark, n) for n in sizes]
    for r in results:
        print(json.dumps(r))

    base = results[0]
    lines = [
        "| docs | corpus × | build (s) | files/s | index MB "
        "| broad 18-q p50 (s) | broad × | selective 18-q p50 (s) "
        "| selective × |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in results:
        lines.append(
            f"| {r['n_docs']:,} | {r['n_docs'] / base['n_docs']:.0f}× "
            f"| {r['build_s']} | {r['files_per_sec']} | {r['index_mb']} "
            f"| {r['broad_batch_p50_s']} "
            f"| {r['broad_batch_p50_s'] / base['broad_batch_p50_s']:.2f}× "
            f"| {r['selective_batch_p50_s']} "
            f"| {r['selective_batch_p50_s'] / base['selective_batch_p50_s']:.2f}× |"
        )
    table = "\n".join(lines)
    print(table)
    if write:
        stamp = datetime.datetime.now(datetime.timezone.utc).strftime(
            "%Y-%m-%d %H:%MZ"
        )
        with open("BENCH/BASELINE.md", "a") as f:
            f.write(
                f"\n### Corpus-size scaling ({stamp}, "
                "`scripts/bench_corpus_size.py`, local[32], "
                "single warm JVM, build once + query p50-of-3)\n\n"
                + table + "\n"
            )


if __name__ == "__main__":
    main()
