"""Tiered-compaction economics evidence (index/maintenance.py
``compact(segments=...)``): merging only the delta segments must cost
∝ the DELTA bytes, while a full compact costs ∝ the whole index — the
gap that makes periodic compaction payable at 10^12 files.

On one deterministic synthetic corpus:
  * full build over N docs (base) + K adds of N_DELTA docs each
    → K+1 segments, measured once and reused via two index copies
  * tiered compact: ``compact(segments=[1..K])``  (base untouched)
  * full compact:   ``compact()``                 (whole-index rewrite)
both from the SAME (K+1)-segment starting state, same JVM; verifies
both converge to content-identical postings (order-insensitive hash)
and identical query answers, and that the tiered pass left the base
packed dir byte-untouched (same catalog path).

Usage: python scripts/bench_tiered.py   # prints one JSON line and
appends a section to BENCH/BASELINE.md

Merge placement crossover (index/maintenance.py ``LOCAL_MAX_MERGE_BYTES``):
``python scripts/bench_tiered.py --merge [n ...] [--write]`` builds, per n
(default 200 2000 20000), a 1,000-doc base plus two n-doc delta segments
and times ``compact(segments=[1, 2])`` with each merge placement forced,
on alternating byte-identical copies, next to the gate's input bytes;
``--write`` appends the table to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BASE = int(os.environ.get("TIER_BASE_DOCS", "100000"))
N_DELTA = int(os.environ.get("TIER_DELTA_DOCS", "1000"))
K_ADDS = int(os.environ.get("TIER_ADDS", "4"))


from information_retrieval_spark.index.fsck import (  # noqa: E402
    dir_bytes as du_bytes,
)


def main() -> None:
    from pyspark.sql import functions as F

    from information_retrieval_spark.fixtures import write_corpus_parquet
    from information_retrieval_spark.index.build import (
        IndexBuilder,
        index_content_hash,
    )
    from information_retrieval_spark.index.catalog import table_dirs
    from information_retrieval_spark.index.maintenance import IndexMaintenance
    from information_retrieval_spark.session import get_spark

    n_total = N_BASE + K_ADDS * N_DELTA
    # TIER_CORPUS: reuse a pre-generated corpus (any parquet path with
    # doc_id 0..n_total-1, e.g. bench_corpus_size.py's 1M-doc cache)
    corpus_path = os.environ.get(
        "TIER_CORPUS", f"/tmp/ir_incr_corpus_{n_total}.parquet"
    )
    if not os.path.exists(corpus_path):
        write_corpus_parquet(corpus_path, n_total)

    spark = get_spark("bench_tiered", shuffle_partitions=32)
    corpus = spark.read.parquet(corpus_path)
    corpus.count()

    work = "/tmp/ir_tiered_work"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    src = os.path.join(work, "src")
    IndexBuilder(
        spark, src, {"title": "path", "abstract": "content"},
        tokenizer="code", n_buckets=32,
    ).build(corpus.filter(F.col("doc_id") < N_BASE))
    maint = IndexMaintenance(spark, src)  # auto-compact off
    for i in range(K_ADDS):
        lo = N_BASE + i * N_DELTA
        maint.add_documents(
            corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + N_DELTA))
        )
    assert len(table_dirs(src, "packed")) == K_ADDS + 1

    # two byte-identical copies of the (K+1)-segment state
    tiered_idx = os.path.join(work, "tiered")
    full_idx = os.path.join(work, "full")
    shutil.copytree(src, tiered_idx)
    shutil.copytree(src, full_idx)
    idx_bytes = du_bytes(src)

    base_dir_before = table_dirs(tiered_idx, "packed")[0]
    t0 = time.time()
    IndexMaintenance(spark, tiered_idx).compact(
        segments=list(range(1, K_ADDS + 1))
    )
    tiered_s = time.time() - t0
    assert table_dirs(tiered_idx, "packed")[0] == base_dir_before
    assert len(table_dirs(tiered_idx, "packed")) == 2

    t0 = time.time()
    IndexMaintenance(spark, full_idx).compact()
    full_s = time.time() - t0
    assert len(table_dirs(full_idx, "packed")) == 1

    h_src = index_content_hash(spark, src)
    h_tier = index_content_hash(spark, tiered_idx)
    h_full = index_content_hash(spark, full_idx)
    assert h_src == h_tier == h_full, (h_src, h_tier, h_full)

    # update economics on the same layout (seq-scoped tombstones:
    # update = tombstone + add, NO segment rewrite — cost must be flat
    # in where the old rows live). Two cases, same 10-doc batch size:
    #   delta-resident: docs from the last 1k-doc delta segment
    #   base-resident:  docs from the N_BASE-doc base segment — the case
    #   that cost a synchronous base rewrite (≈ full-compact wall) under
    #   round 4's global tombstones
    # (src is mutated, so this runs after the hash-identity check)
    src_base_dir = table_dirs(src, "packed")[0]
    upd_lo = N_BASE + (K_ADDS - 1) * N_DELTA
    upd = corpus.filter(
        (F.col("doc_id") >= upd_lo) & (F.col("doc_id") < upd_lo + 10)
    ).withColumn("content", F.concat(F.col("content"), F.lit(" recrawled")))
    t0 = time.time()
    n_upd = IndexMaintenance(spark, src).update_documents(upd)
    update_s = time.time() - t0
    assert n_upd == 10
    assert table_dirs(src, "packed")[0] == src_base_dir  # base untouched

    upd_b = corpus.filter(F.col("doc_id") < 10).withColumn(
        "content", F.concat(F.col("content"), F.lit(" recrawled"))
    )
    t0 = time.time()
    n_upd_b = IndexMaintenance(spark, src).update_documents(upd_b)
    update_base_s = time.time() - t0
    assert n_upd_b == 10
    assert table_dirs(src, "packed")[0] == src_base_dir  # base untouched

    out = {
        "n_base": N_BASE,
        "n_delta": N_DELTA,
        "k_adds": K_ADDS,
        "index_mb": round(idx_bytes / 1e6, 1),
        "tiered_compact_s": round(tiered_s, 2),
        "full_compact_s": round(full_s, 2),
        "tiered_vs_full": round(tiered_s / full_s, 3),
        "update_10docs_s": round(update_s, 2),
        "update_10_base_docs_s": round(update_base_s, 2),
        "content_hash_identical": True,
    }
    print(json.dumps(out))

    stamp = time.strftime("%Y-%m-%d %H:%MZ", time.gmtime())
    delta_share = K_ADDS * N_DELTA / n_total
    with open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "BENCH", "BASELINE.md"), "a"
    ) as f:
        f.write(f"""
### Tiered vs full compaction ({stamp}, `scripts/bench_tiered.py`, local[32])

Same starting state both times: {N_BASE:,}-doc base + {K_ADDS} × {N_DELTA:,}-doc
LSM segments ({out["index_mb"]} MB packed+flat on disk), copied byte-identically.

| compaction | wall (s) | segments after | base packed dir rewritten |
|---|---|---|---|
| tiered `compact(segments=[1..{K_ADDS}])` | {out["tiered_compact_s"]} | 2 | no (same catalog path) |
| full `compact()` | {out["full_compact_s"]} | 1 | yes |

Tiered = {out["tiered_vs_full"]:.0%} of the full-compact wall while the merged
delta bytes are {delta_share:.1%} of the corpus; postings content hash identical
across src/tiered/full. At a 10^12-file base the full rewrite is unpayable and
the tiered path's cost stays ∝ accumulated deltas —
`IndexMaintenance(auto_compact_mode="tiered")` applies it automatically.
`update_documents` (seq-scoped tombstone + add, NO rewrite of any segment):

| old rows live in | wall (s) | any segment rewritten |
|---|---|---|
| the last {N_DELTA:,}-doc delta segment | {out["update_10docs_s"]} | no |
| the {N_BASE:,}-doc BASE segment | {out["update_10_base_docs_s"]} | no |

Update cost is flat in where the old rows live — the base-resident case,
which under global tombstones forced a synchronous base rewrite
(≈ the full-compact wall above, {out["full_compact_s"]} s here and unbounded at
10^12 files), now costs the same tombstone-commit + delta-add as any other
update. The physical purge rides the next scheduled compaction.
""")
    print("appended to BENCH/BASELINE.md")
    shutil.rmtree(work, ignore_errors=True)


def merge_crossover(sizes: list[int], reps: int, write: bool) -> None:
    import math

    from information_retrieval_spark.fixtures import write_corpus_parquet
    from information_retrieval_spark.index import maintenance
    from information_retrieval_spark.index.build import IndexBuilder
    from information_retrieval_spark.index.catalog import table_dirs
    from information_retrieval_spark.index.maintenance import IndexMaintenance
    from information_retrieval_spark.session import get_spark
    from pyspark.sql import functions as F

    n_base = 1000
    spark = get_spark("bench_tiered_merge", shuffle_partitions=8)
    work = "/tmp/ir_merge_crossover"
    rows = []
    for n in sizes:
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        corpus_path = os.path.join(work, "corpus.parquet")
        write_corpus_parquet(corpus_path, n_base + 2 * n)
        corpus = spark.read.parquet(corpus_path)
        src = os.path.join(work, "src")
        IndexBuilder(
            spark, src, {"title": "path", "abstract": "content"},
            tokenizer="code", category_col="lang",
        ).build(corpus.filter(F.col("doc_id") < n_base))
        maint = IndexMaintenance(spark, src)
        for lo in (n_base, n_base + n):
            maint.add_documents(corpus.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + n)
            ))
        times: dict[str, list[float]] = {"local": [], "distributed": []}
        out_bytes: dict[str, int] = {}
        for rep in range(reps):
            order = ["local", "distributed"]
            for placement in order if rep % 2 == 0 else order[::-1]:
                idx = os.path.join(work, f"{placement}{rep}")
                shutil.copytree(src, idx)
                maintenance.LOCAL_MAX_MERGE_BYTES = (
                    math.inf if placement == "local" else 0
                )
                m = IndexMaintenance(spark, idx)
                t0 = time.time()
                m.compact(segments=[1, 2])
                times[placement].append(time.time() - t0)
                gate = m.last_merge_placement
                assert gate["placement"] == placement
                assert len(table_dirs(idx, "packed")) == 2
                out_bytes[placement] = sum(
                    du_bytes(table_dirs(idx, t)[1])
                    for t in ("postings_flat", "doclen", "doc_meta",
                              "packed", "term_df", "vocab")
                )
                shutil.rmtree(idx)
        row = {
            "delta_docs": n,
            "read_mb": round(gate["read_bytes"] / 2**20, 2),
            "local_s": [round(t, 2) for t in times["local"]],
            "distributed_s": [round(t, 2) for t in times["distributed"]],
            "out_mb_local": round(out_bytes["local"] / 2**20, 2),
            "out_mb_distributed": round(out_bytes["distributed"] / 2**20, 2),
        }
        print(json.dumps(row), flush=True)
        rows.append(row)
    shutil.rmtree(work, ignore_errors=True)
    if not write:
        return
    stamp = time.strftime("%Y-%m-%d", time.gmtime())
    lines = [
        f"\n### Merge placement crossover ({stamp},"
        " `scripts/bench_tiered.py --merge`, 4-vCPU host,"
        f" local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}])\n",
        "A 1,000-doc base plus two n-doc delta segments;"
        " `compact(segments=[1, 2])` with each merge placement forced"
        " (index/maintenance.py `LOCAL_MAX_MERGE_BYTES` set to ∞ / 0), on"
        f" {reps} alternating byte-identical copies each. **read MB** is"
        " the gate's input: the on-disk bytes of the merged segments'"
        " postings_flat, doclen, doc_meta and vocab dirs. **out MB** is"
        " the merged segment's six tables on disk.\n",
        "| delta docs | read MB | local (s) | distributed (s) |"
        " out MB local | out MB distributed |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| 2 × {r['delta_docs']:,} | {r['read_mb']} |"
            f" {' / '.join(map(str, r['local_s']))} |"
            f" {' / '.join(map(str, r['distributed_s']))} |"
            f" {r['out_mb_local']} | {r['out_mb_distributed']} |"
        )
    with open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "BENCH", "BASELINE.md"), "a"
    ) as f:
        f.write("\n".join(lines) + "\n")
    print("appended to BENCH/BASELINE.md")


if __name__ == "__main__":
    args = sys.argv[1:]
    if args and args[0] == "--merge":
        write = "--write" in args
        sizes = [int(a) for a in args[1:] if a != "--write"]
        merge_crossover(sizes or [200, 2000, 20000], reps=2, write=write)
    else:
        main()
