"""Index size accounting + postings codec A/B — what does the index COST
on disk, per table, relative to the corpus it indexes?

At 100 TB the index's byte footprint decides storage spend and, more
importantly, query-time scan bytes: the packed block-max table is the
production query path, so ITS bytes/posting is the number that scales
into per-query I/O. This bench builds the full index over (a) the uniform
synthetic corpus and (b) the realistic Zipf corpus and reports:

  * per-table on-disk bytes (parquet, post-compression) and bytes/posting,
  * the queryable core (packed + doclen + term_df + vocab + stats) vs the
    full tree (postings_flat keeps positions for phrase/proximity — it is
    the positional index, priced separately),
  * a distributed codec A/B over the real posting lists: raw int64 vs
    LEB128 varint-of-gaps (production, `index/codec.py:58`) vs Elias-γ
    of gaps+1 (reference-compat, `index/codec.py:98`), summed exactly via
    applyInPandas over (term, section) groups.

Usage: python scripts/bench_index_size.py   [SIZE_DOCS=100000]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = int(os.environ.get("SIZE_DOCS", "100000"))

from information_retrieval_spark.index.fsck import dir_bytes  # noqa: E402


def fmt_mb(b: int) -> str:
    return f"{b / 1e6:,.1f}"


def codec_ab(postings_flat):
    """Exact total bytes for the three codecs over every (term, section)
    posting list, computed where the data lives (one shuffle on the
    grouping key; nothing corpus-sized reaches the driver)."""
    import pandas as pd

    from information_retrieval_spark.index.codec import (
        gamma_encode,
        varint_encode,
    )

    BLOCK = 128  # the packed layout's block grain; γ pads to a byte per
    # block, and gamma_encode's big-int accumulator is O(n²) in bits —
    # block-sized calls keep it linear AND match the real on-disk shape

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # doc-sorted like the packed layout; tf travels with its doc_id
        order = np.argsort(pdf["doc_id"].to_numpy(np.uint64), kind="stable")
        d = pdf["doc_id"].to_numpy(np.uint64)[order]
        gaps = np.empty_like(d)
        if d.size:
            gaps[0] = d[0]
            gaps[1:] = d[1:] - d[:-1]
        tfs = pdf["tf"].to_numpy(np.uint64)[order]
        var_b = gam_b = 0
        for lo in range(0, d.size, BLOCK):
            g = gaps[lo:lo + BLOCK]
            t = tfs[lo:lo + BLOCK]
            var_b += len(varint_encode(g)) + len(varint_encode(t))
            # γ needs ≥1: shift gaps (doc_id 0 → gap 0); tfs are ≥1
            gam_b += len(gamma_encode(g + np.uint64(1))) + len(
                gamma_encode(t)
            )
        return pd.DataFrame(
            {
                "n": [int(d.size)],
                "raw": [int(d.size * 8 * 2)],  # int64 doc_id + int64 tf
                "varint": [var_b],
                "gamma": [gam_b],
            }
        )

    out = (
        postings_flat.select("term", "section", "doc_id", "tf")
        .groupBy("term", "section")
        .applyInPandas(per_group, "n long, raw long, varint long, gamma long")
        .groupBy()
        .sum()
        .collect()[0]
    )
    return tuple(int(x) for x in out)


def main() -> None:
    from pyspark.sql import functions as F

    from information_retrieval_spark.fixtures import (
        write_corpus_parquet,
        write_zipf_documents_parquet,
    )
    from information_retrieval_spark.index.build import IndexBuilder
    from information_retrieval_spark.session import get_spark

    spark = get_spark("bench_index_size", shuffle_partitions=32)

    cases = []
    # (a) uniform synthetic corpus, two sections — the battery's shape
    uni = f"/tmp/ir_scaling_corpus_{N_DOCS}.parquet"
    if not os.path.exists(uni):
        write_corpus_parquet(uni, N_DOCS)
    cases.append(("uniform", uni, {"title": "path", "abstract": "content"},
                  ["path", "content"]))
    # (b) realistic Zipf corpus, one section
    zipf = f"/tmp/ir_zipf_docs_{N_DOCS}.parquet"
    if not os.path.exists(zipf):
        write_zipf_documents_parquet(zipf, N_DOCS)
    cases.append(("zipf", zipf, {"content": "text"}, ["text"]))

    lines = [
        "",
        f"### Index size accounting ({time.strftime('%Y-%m-%d %H:%MZ', time.gmtime())}, "
        f"`scripts/bench_index_size.py`, {N_DOCS:,} docs, local[32])",
        "",
    ]
    for name, corpus_path, sections, text_cols in cases:
        df = spark.read.parquet(corpus_path)
        if "doc_id" not in df.columns:
            df = df.withColumn("doc_id", F.monotonically_increasing_id())
        raw_text = df.select(
            sum(F.length(F.coalesce(F.col(c), F.lit(""))) for c in text_cols)
            .alias("b")
        ).agg(F.sum("b")).collect()[0][0]
        corpus_b = dir_bytes(corpus_path) if os.path.isdir(corpus_path) \
            else os.path.getsize(corpus_path)

        idx = tempfile.mkdtemp(prefix=f"size_{name}_")
        try:
            t0 = time.time()
            IndexBuilder(
                spark, idx, sections, tokenizer="code", n_buckets=32
            ).build(df)
            build_s = time.time() - t0
            tables = sorted(
                d for d in os.listdir(idx)
                if os.path.isdir(os.path.join(idx, d))
            )
            sizes = {t: dir_bytes(os.path.join(idx, t)) for t in tables}
            pf = spark.read.parquet(os.path.join(idx, "postings_flat"))
            n_post = pf.count()
            n_raw, raw_b, var_b, gam_b = codec_ab(pf)
            assert n_raw == n_post
            core = sum(
                sizes.get(t, 0)
                for t in ("packed", "doclen", "term_df", "vocab", "stats",
                          "stopwords", "bigram")
            )
            total = sum(sizes.values())

            lines += [
                f"**{name}** corpus: {N_DOCS:,} docs, corpus parquet "
                f"{fmt_mb(corpus_b)} MB ({fmt_mb(raw_text)} MB uncompressed "
                f"text), build {build_s:.1f}s, {n_post:,} postings.",
                "",
                "| table | MB | bytes/posting |",
                "|---|---|---|",
            ]
            for t in tables:
                lines.append(
                    f"| {t} | {fmt_mb(sizes[t])} | "
                    f"{sizes[t] / max(n_post, 1):.2f} |"
                )
            lines += [
                f"| **queryable core** (packed+doclen+term_df+vocab+stats"
                f"+stopwords+bigram) | **{fmt_mb(core)}** | "
                f"{core / max(n_post, 1):.2f} |",
                f"| **retained** (full − postings_all, a build "
                f"checkpoint GC-able after commit) | "
                f"**{fmt_mb(total - sizes.get('postings_all', 0))}** | "
                f"{(total - sizes.get('postings_all', 0)) / max(n_post, 1):.2f} |",
                f"| **full tree** | **{fmt_mb(total)}** | "
                f"{total / max(n_post, 1):.2f} |",
                "",
                f"Core/corpus ratio {core / corpus_b:.2f}; retained/corpus "
                f"{(total - sizes.get('postings_all', 0)) / corpus_b:.2f} "
                f"(retained keeps postings_flat's positions for "
                f"phrase/proximity).",
                "",
                "| codec (doc gaps + tfs) | MB | bytes/posting | vs raw |",
                "|---|---|---|---|",
                f"| raw int64 | {fmt_mb(raw_b)} | {raw_b / n_post:.2f} | 1.00× |",
                f"| varint(gaps) [production] | {fmt_mb(var_b)} | "
                f"{var_b / n_post:.2f} | {var_b / raw_b:.2f}× |",
                f"| Elias-γ(gaps+1) [reference-compat] | {fmt_mb(gam_b)} | "
                f"{gam_b / n_post:.2f} | {gam_b / raw_b:.2f}× |",
                "",
                "varint stays the production codec despite γ's byte "
                "density: LEB128 decodes with vectorized numpy bit ops "
                "(`codec.varint_decode`) while γ is bit-serial — the "
                "query path trades some bytes for Arrow-speed decode.",
                "",
            ]
            print("\n".join(lines[-20:]))
        finally:
            shutil.rmtree(idx, ignore_errors=True)

    with open(
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH", "BASELINE.md"),
        "a",
    ) as f:
        f.write("\n".join(lines) + "\n")
    print("appended to BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
