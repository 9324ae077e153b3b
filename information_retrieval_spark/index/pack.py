"""Packed block-max index shards (north_star layout).

Turns the flat postings table (`index/build.py`) into compressed shard rows:

  (term, section, bucket, block_id,
   n, first_doc, last_doc,
   docs_bin, tfs_bin, dls_bin,          -- varint blocks (docs delta-gapped)
   max_tf, min_dl)

* ``bucket`` = pmod(xxhash64(doc_id), n_buckets) — carried from the build so
  a head term's postings split across buckets: no single pack task (or WAND
  task) ever holds a full head-term posting list. This is the explicit skew
  handling the groupBy(term) build needs (SURVEY.md §4.1).
* blocks of ``BLOCK`` postings sorted by doc_id; per-block (max_tf, min_dl)
  give a query-time BM25 upper bound: tf_norm(tf, dl) is monotone ↑ in tf
  and ↓ in dl, so tf_norm(max_tf, min_dl) bounds every posting in the block
  for ANY avgdl — the per-query idf/avgdl (quirks Q1/Q2) are applied at
  query time, which is why the block stores tf-side components only
  (SURVEY.md §7 hard-part b).
* packing runs in ``mapInArrow`` over partitions range-keyed and sorted by
  (term, section, bucket, doc_id) — one vectorized group-boundary scan per
  Arrow batch with cross-batch carry, whole-column varint encodes sliced at
  block boundaries (no per-block codec calls); output order inherits the
  range exchange + sort, so parquet file and row-group min/max stats both
  prune query-term lookups. Arrow-native matters here: the former
  ``mapInPandas`` packer materialized every term/section STRING as a Python
  object on Arrow→pandas conversion — a memory-bandwidth-bound cost that
  was flat from 8 to 32 cores and dominated the stage; with ``mapInArrow``
  strings stay in Arrow buffers end-to-end (adjacent-row group detection is
  a C++ ``pc.not_equal`` over offset slices, block key values are Arrow
  ``take``s, and the three binary block columns are built ZERO-COPY from
  each whole-column varint buffer plus its block-boundary offsets).

Reference parity: the persisted logical model is the reference's flat
`(word, postings)` stream (`ir-phase-1.ipynb:c25:102-132`); the vb codec is
its variable-byte format with delta-gapped doc_ids (deviation Q9 noted in
codec.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from information_retrieval_spark.index.codec import varint_encode_offsets

BLOCK = 128

#: pa.binary()'s int32 offset ceiling — _pack_batch_arrow chunks any
#: batch whose varint payload would exceed this (tests shrink it to
#: exercise the chunker without allocating 2 GiB)
MAX_BINARY_PAYLOAD = int(np.iinfo(np.int32).max)

PACKED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("section", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("docs_bin", T.BinaryType(), False),
        T.StructField("tfs_bin", T.BinaryType(), False),
        T.StructField("dls_bin", T.BinaryType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("min_dl", T.IntegerType(), False),
    ]
)


def _key_change_arrow(tb) -> np.ndarray:
    """Boolean mask over an Arrow table: row i starts a new (term, section,
    bucket) group. Adjacent-row comparison is one C++ ``pc.not_equal`` per
    key column over offset slices — no Python string ever materializes."""
    import pyarrow.compute as pc

    n = tb.num_rows
    change = np.empty(n, dtype=bool)
    if n == 0:
        return change
    change[0] = True
    acc = None
    for name in ("term", "section", "bucket"):
        col = tb.column(name).combine_chunks()
        neq = pc.not_equal(col.slice(1), col.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )
        acc = neq if acc is None else (acc | neq)
    change[1:] = acc
    return change


def _binary_from_offsets(buf: bytes, offs: np.ndarray):
    """Binary array of len(offs)-1 values sliced zero-copy out of one
    contiguous buffer at the given int64 byte offsets.

    pa.binary() carries int32 offsets, so a payload past 2^31 bytes falls
    back to pa.large_binary() (int64 offsets) — loudly, via a warning:
    inside the packer pipeline `_pack_batch_arrow` chunks batches at
    block boundaries BEFORE this point, so reaching the fallback there
    would mean the chunker is broken; for direct callers it simply keeps
    working instead of corrupting offsets by a silent int32 wrap."""
    import pyarrow as pa

    if len(offs) and int(offs[-1]) > np.iinfo(np.int32).max:
        import warnings

        warnings.warn(
            f"packed varint payload {int(offs[-1])} bytes exceeds the"
            " int32 BinaryArray offset range — emitting large_binary"
            " (int64 offsets). Inside pack_postings this indicates the"
            " batch chunker failed; check maxRecordsPerBatch and the"
            " head-term bucket size (index/build.py).",
            RuntimeWarning,
            stacklevel=2,
        )
        return pa.Array.from_buffers(
            pa.large_binary(),
            len(offs) - 1,
            [None, pa.py_buffer(offs.astype(np.int64).tobytes()),
             pa.py_buffer(buf)],
        )
    return pa.Array.from_buffers(
        pa.binary(),
        len(offs) - 1,
        [None, pa.py_buffer(offs.astype(np.int32).tobytes()), pa.py_buffer(buf)],
    )


def _pack_batch_arrow(tb, change: np.ndarray | None = None):
    """Sorted (term, section, bucket, doc_id) Arrow rows → LIST of packed
    block RecordBatches (one in the common case; several when the varint
    payload would overflow pa.binary()'s int32 offsets — chunked at block
    boundaries, byte-identical when re-concatenated). Block boundaries
    and per-block (n, first/last doc, max_tf, min_dl) come from one
    ``reduceat`` pass, and each binary column is varint-encoded once for
    the whole batch with per-block byte ranges sliced out. No pandas
    conversion: numeric columns come out as zero-copy numpy views, key
    columns stay Arrow."""
    import pyarrow as pa

    n = tb.num_rows
    if change is None:
        change = _key_change_arrow(tb)
    # int64 → uint64 view (not astype): negative xxhash64 doc_ids wrap,
    # and gap arithmetic mod 2^64 round-trips exactly (decode cumsums back)
    docs = tb.column("doc_id").combine_chunks().to_numpy().view(np.uint64)
    tfs = tb.column("tf").combine_chunks().to_numpy().astype(np.uint64)
    dls = tb.column("dl").combine_chunks().to_numpy().astype(np.uint64)
    gstarts = np.flatnonzero(change)
    glens = np.diff(np.append(gstarts, n))
    gidx = np.arange(n) - np.repeat(gstarts, glens)
    bstarts = np.flatnonzero(change | (gidx % BLOCK == 0))
    bends = np.append(bstarts[1:], n)
    gaps = np.empty_like(docs)
    gaps[0] = docs[0]
    gaps[1:] = docs[1:] - docs[:-1]
    gaps[bstarts] = docs[bstarts]
    docs_buf, d_off = varint_encode_offsets(gaps)
    tfs_buf, t_off = varint_encode_offsets(tfs)
    dls_buf, l_off = varint_encode_offsets(dls)
    # blocks tile the rows, so each whole-column buffer is exactly the
    # concatenation of its block slices: the per-block binary column is the
    # buffer itself plus offsets at block boundaries — zero copies
    bounds = np.append(bstarts, n)

    def emit(lo: int, hi: int, d_o, t_o, l_o) -> "pa.RecordBatch":
        """One RecordBatch over block rows [lo, hi) with the given
        (already chunk-rebased) per-column offset arrays."""
        bs, be = bstarts[lo:hi], bends[lo:hi]
        take = pa.array(bs)
        return pa.RecordBatch.from_arrays(
            [
                tb.column("term").combine_chunks().take(take),
                tb.column("section").combine_chunks().take(take),
                tb.column("bucket").combine_chunks().take(take),
                pa.array((gidx[bs] // BLOCK).astype(np.int32)),
                pa.array((be - bs).astype(np.int32)),
                pa.array(docs[bs].view(np.int64)),
                pa.array(docs[be - 1].view(np.int64)),
                _binary_from_offsets(
                    docs_buf[d_off[bounds[lo]]:d_off[bounds[hi]]], d_o
                ),
                _binary_from_offsets(
                    tfs_buf[t_off[bounds[lo]]:t_off[bounds[hi]]], t_o
                ),
                _binary_from_offsets(
                    dls_buf[l_off[bounds[lo]]:l_off[bounds[hi]]], l_o
                ),
                pa.array(np.maximum.reduceat(tfs, bstarts)[lo:hi]
                         .astype(np.int32)),
                pa.array(np.minimum.reduceat(dls, bstarts)[lo:hi]
                         .astype(np.int32)),
            ],
            names=[f.name for f in PACKED_SCHEMA.fields],
        )

    i32max = MAX_BINARY_PAYLOAD
    if max(int(d_off[-1]), int(t_off[-1]), int(l_off[-1])) <= i32max:
        return [
            emit(0, len(bstarts), d_off[bounds], t_off[bounds],
                 l_off[bounds])
        ]
    # graceful wide-payload path: the batch's varint payload exceeds the
    # int32 BinaryArray offset range (pa.binary() in PACKED_SCHEMA), so
    # CHUNK at block boundaries — every chunk's per-column payload fits
    # int32, each block stays whole (a block is ≤ BLOCK rows, far below
    # 2^31 bytes even at 10-byte varints), and the concatenated chunks
    # are byte-identical to the single-batch output
    out = []
    lo = 0
    nb = len(bstarts)
    while lo < nb:
        hi = lo + 1
        while hi < nb and max(
            int(d_off[bounds[hi + 1]] - d_off[bounds[lo]]),
            int(t_off[bounds[hi + 1]] - t_off[bounds[lo]]),
            int(l_off[bounds[hi + 1]] - l_off[bounds[lo]]),
        ) <= i32max:
            hi += 1
        out.append(emit(
            lo, hi,
            d_off[bounds[lo:hi + 1]] - d_off[bounds[lo]],
            t_off[bounds[lo:hi + 1]] - t_off[bounds[lo]],
            l_off[bounds[lo:hi + 1]] - l_off[bounds[lo]],
        ))
        lo = hi
    return out


def pack_parts(spark: SparkSession) -> int:
    """The range partitions the distributed packer writes, one file each:
    a local pack writes as many row groups, so footer pruning sees the
    same term selectivity."""
    return max(spark.sparkContext.defaultParallelism, 8)


def pack_postings(postings, doclen, out: str, parts: int = 8) -> str:
    """Pack ONE coherent posting set (a full index, or one LSM segment's
    delta — index/maintenance.py) into a sorted block-max shard dir.
    Callers pass EXPLICIT inputs — there is deliberately no
    resolve-from-index-dir convenience, because packing through the
    catalog during an in-place rebuild would union stale delta dirs.

    The one pack entry of every placement: Spark frames take the
    distributed plan below; pyarrow tables (a compaction merged on the
    driver) take the same join, sort and `_pack_batch_arrow` there, with
    no Spark job, written as ``parts`` term-sorted row groups
    (`pack_parts`).

    Plan: each posting takes its dl from ``doclen`` by a join on
    ``(doc_id, section)``. Callers pass a parquet scan of the posting
    set's own doclen, so Spark's size estimate broadcasts it whenever it
    is small, and the only posting-sized shuffle is the group-key exchange
    below. Then ONE range exchange on (term, section, bucket) — rows equal
    on all range keys land in one partition, so groups stay atomic — +
    sortWithinPartitions(key, doc_id) → ``mapInArrow`` packs whole
    partitions (cross-batch carry keeps a group's run contiguous) → direct
    write. The output inherits the exchange's global range order and the
    within-partition sort, so files AND row groups carry tight term
    min/max stats for query pruning.
    """
    if not isinstance(postings, DataFrame):
        return _pack_local(postings, doclen, out, parts)
    spark = postings.sparkSession
    # tf/dl cross the Python boundary as int32 — both are bounded by a
    # single document's section length
    joined = postings.join(
        doclen.select("doc_id", "section", "dl"), ["doc_id", "section"]
    ).select(
        "term", "section", "bucket", "doc_id",
        F.col("tf").cast("int").alias("tf"),
        F.col("dl").cast("int").alias("dl"),
    )
    n_part = pack_parts(spark)

    # Coalesce the incoming Arrow batches INSIDE the UDF (the session
    # default ~10k-row batches are sized for wide tokenizer rows; packer
    # rows are 6 narrow columns). Doing it here instead of raising the
    # session-global arrow.maxRecordsPerBatch keeps concurrent stage
    # threads on the shared session unaffected.
    PACK_ROWS = 65536

    def pack_partition(batches):
        import pyarrow as pa

        def rebatched():
            acc: list = []
            rows = 0
            for rb in batches:
                acc.append(rb)
                rows += rb.num_rows
                if rows >= PACK_ROWS:
                    yield pa.Table.from_batches(acc)
                    acc, rows = [], 0
            if acc:
                yield pa.Table.from_batches(acc)

        carry = None  # pa.Table holding the (possibly continuing) last group
        for tb in rebatched():
            if carry is not None and carry.num_rows:
                tb = pa.concat_tables([carry, tb]).combine_chunks()
            if tb.num_rows == 0:
                continue
            # the last group may continue in the next Arrow batch: hold it
            change = _key_change_arrow(tb)
            split = int(np.flatnonzero(change)[-1])
            carry = tb.slice(split)
            if split:
                yield from _pack_batch_arrow(tb.slice(0, split), change[:split])
        if carry is not None and carry.num_rows:
            yield from _pack_batch_arrow(carry)

    packed = (
        joined.repartitionByRange(n_part, "term", "section", "bucket")
        .sortWithinPartitions("term", "section", "bucket", "doc_id")
        .mapInArrow(pack_partition, PACKED_SCHEMA)
    )
    packed.write.mode("overwrite").parquet(out)
    return out


def _sort_key(col) -> np.ndarray:
    """A pyarrow column as an integer sort key: a string's rank among the
    column's distinct values (byte order, as Arrow and Spark sort), any
    other column its values."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not pa.types.is_string(col.type):
        return col.to_numpy()
    enc = col.dictionary_encode().combine_chunks()
    rank = np.empty(len(enc.dictionary), np.int64)
    rank[pc.sort_indices(enc.dictionary).to_numpy()] = np.arange(len(rank))
    return rank[enc.indices.to_numpy()]


def _pack_local(postings, doclen, out: str, parts: int) -> str:
    """`pack_postings` over pyarrow tables, on the driver."""
    import pyarrow as pa

    from information_retrieval_spark.index.catalog import (
        arrow_schema,
        write_arrow,
    )

    keys = ("term", "section", "bucket", "doc_id")
    rows = postings.select(["term", "section", "bucket", "doc_id", "tf"]).join(
        doclen.select(["doc_id", "section", "dl"]), ["doc_id", "section"],
        join_type="inner",
    )
    # an int lexsort: ~4x faster than Arrow's multi-key sort over strings
    rows = rows.take(
        np.lexsort([_sort_key(rows.column(k)) for k in reversed(keys)])
    )
    rows = pa.table({
        **{k: rows.column(k) for k in keys},
        "tf": rows.column("tf").cast(pa.int32()),
        "dl": rows.column("dl").cast(pa.int32()),
    })
    blocks = pa.Table.from_batches(
        _pack_batch_arrow(rows) if rows.num_rows else [],
        schema=arrow_schema("packed"),
    )
    write_arrow("packed", blocks, out,
                row_group_size=max(1, -(-blocks.num_rows // parts)))
    return out


def packed_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-(term, section) df computed WITHOUT decoding: Σ block n
    (across all LSM segments — doc sets are disjoint, so n's add)."""
    from information_retrieval_spark.index.catalog import read_packed

    packed = read_packed(spark, index_dir)
    return packed.groupBy("term", "section").agg(F.sum("n").alias("df_sec"))
