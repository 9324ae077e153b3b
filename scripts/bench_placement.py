"""Where the ranked engine's placement gate sits (query/wand.py): each
placement forced, at several corpus sizes, on the broad and the selective
batch of `bench_corpus_size.py`, with the gate's inputs beside each time.

Per size and placement it builds one index (8 buckets, the build's
default), opens a fresh WandEngine and times each batch cold (the
engine's first batch: the local placement reads its side rows and
footers, the distributed one caches its side frame) and warm (p50 of 3).
The local times grow with the shard (decode and score on one driver
core) and with n_docs (the side rows each batch scans); the distributed
ones pay a fixed cost per Spark job. Fitting both against the gate's
inputs gives the crossovers that `LOCAL_MAX_DOCS` and
`LOCAL_MAX_SHARD_BYTES` record.

  python scripts/bench_placement.py [--write] [n_docs ...]
  (default sizes 2000 10000 40000; --write appends the table to
  BENCH/BASELINE.md)
"""

from __future__ import annotations

import datetime
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_corpus_size import (  # noqa: E402
    broad_specs,
    ensure_corpus,
    selective_specs,
)

REPS = 3
GATE = ("LOCAL_MAX_DOCS", "LOCAL_MAX_SHARD_BYTES")


def timed(eng, specs) -> dict:
    t = time.perf_counter()
    eng.search(specs).collect()
    cold = time.perf_counter() - t
    warm = []
    for _ in range(REPS):
        t = time.perf_counter()
        eng.search(specs).collect()
        warm.append(time.perf_counter() - t)
    return {"cold_s": round(cold, 3), "warm_s": round(sorted(warm)[REPS // 2], 3)}


def run_size(spark, n: int) -> list[dict]:
    from information_retrieval_spark.index.build import IndexBuilder
    from information_retrieval_spark.query import wand

    corpus = spark.read.parquet(ensure_corpus(n))
    idx = tempfile.mkdtemp(prefix=f"ir_place_idx_{n}_")
    saved = {g: getattr(wand, g) for g in GATE}
    out = []
    try:
        IndexBuilder(spark, idx, {"title": "path", "abstract": "content"},
                     tokenizer="code").build(corpus)
        for batch, specs in (("broad", broad_specs()),
                             ("selective", selective_specs())):
            row = {"n_docs": n, "batch": batch}
            for placement in ("local", "distributed"):
                for g in GATE:
                    setattr(wand, g, math.inf if placement == "local" else 0)
                with wand.WandEngine(spark, idx) as eng:
                    got = timed(eng, specs)
                    row.update({f"{placement}_{k}": v for k, v in got.items()})
                    if placement == "local":
                        row["shard_rows"] = eng.last_placement["shard_rows"]
                        row["shard_mb"] = round(
                            eng.last_placement["shard_bytes"] / 1e6, 2)
                        row["side_mb"] = round(
                            eng._local_side.memory_usage(deep=True).sum()
                            / 1e6, 1)
            out.append(row)
            print(json.dumps(row), flush=True)
    finally:
        for g, v in saved.items():
            setattr(wand, g, v)
        shutil.rmtree(idx, ignore_errors=True)
    return out


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--write"]
    sizes = [int(a) for a in argv] or [2000, 10000, 40000]
    from information_retrieval_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    spark = get_spark("bench_placement", master=f"local[{cpus}]",
                      shuffle_partitions=8)
    rows = [r for n in sizes for r in run_size(spark, n)]
    lines = [
        "| docs | batch | shard rows | shard MB | side MB | local cold (s) "
        "| local warm (s) | distributed cold (s) | distributed warm (s) |",
        "|---|---|---|---|---|---|---|---|---|",
    ] + [
        f"| {r['n_docs']:,} | {r['batch']} | {r['shard_rows']:,} "
        f"| {r['shard_mb']} | {r['side_mb']} | {r['local_cold_s']} "
        f"| {r['local_warm_s']} | {r['distributed_cold_s']} "
        f"| {r['distributed_warm_s']} |"
        for r in rows
    ]
    table = "\n".join(lines)
    print(table)
    if "--write" in sys.argv:
        stamp = datetime.datetime.now(datetime.timezone.utc).strftime(
            "%Y-%m-%d %H:%MZ")
        with open("BENCH/BASELINE.md", "a") as f:
            f.write(
                f"\n### Placement crossover ({stamp}, "
                f"`scripts/bench_placement.py`, local[{cpus}], each "
                "placement forced, fresh engine per batch class)\n\n"
                + table + "\n"
            )


if __name__ == "__main__":
    main()
