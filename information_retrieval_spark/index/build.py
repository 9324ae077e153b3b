"""Inverted-index build pipeline (SURVEY.md §3.2 Spark redesign).

Replaces the reference's driver-side triple loop over a trie
(`ui/backend/mir/search/trie/phase1.py:83-106`) with a declarative Spark plan:

    corpus scan → vectorized tokenize (Arrow batches) → explode
      → stop-word top-K (two-phase hash agg, Catalyst)
      → tf per (term, section, doc): ONE wide shuffle, naturally salted by
        doc_id (the group key includes doc_id, so head-term skew — terms in
        80%+ of docs — cannot concentrate on one reducer)
      → flat postings sorted by term (row-group pruning for query-term
        lookups) + doclen / term_df / stats / vocab / bigram-vocab tables

Each output table is written once and recorded in ``manifest.json`` with row
counts and a content hash — the resume path (``build_index(..., resume=True)``)
skips any stage whose table already has a committed manifest entry
(reference analogue: `ui/backend/mir/util/pickle_cache.py:8-33`).

Scale notes (100 TB / 10^12 files):
* tokens are never materialized — they stream from the scan into the first
  aggregation within one stage (whole-stage pipeline, no tokens shuffle
  beyond the tf groupBy);
* the only term-keyed shuffle produces (term, section, doc_id) grain rows —
  the packed/compressed shard layout (index/pack.py) builds doc-bucketed
  shards on top, so no single task ever holds a full head-term posting list;
* stop-word detection is a partial+final count agg + a K-row sort: free.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from information_retrieval_spark.index.catalog import TABLE_SCHEMAS, scan_dirs
from information_retrieval_spark.tokenize import (
    SIMPLE_SPLIT_PATTERN,
    code_tokens_bulk,
)

TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("section", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("pos", T.IntegerType(), False),
    ]
)

#: per-bulk-scan text budget inside tokenize_postings — Arrow batches split
#: by rows, not bytes, so large-file corpora need a byte bound of their own
_BULK_CHUNK_BYTES = 64 << 20

#: grain of ``tokenize_postings`` output == postings_all minus ``bucket``
POSTINGS_AGG_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("section", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("tf", T.IntegerType(), False),
    ]
)


def tokenize_corpus(
    corpus: DataFrame,
    sections: dict[str, str],
    tokenizer: str = "code",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Corpus → (doc_id, section, term, pos) token table.

    ``sections`` maps section name → source column (e.g. ``{"title": "path",
    "abstract": "content"}``). ``tokenizer='simple'`` stays fully JVM-side
    (split + posexplode, whole-stage codegen); ``'code'`` runs the shared
    code-aware tokenizer over Arrow batches in ``mapInPandas`` (the
    reference's spaCy pipe, `preprocess.py:23-39`, re-expressed batch-wise).
    Positions are character offsets for ``code`` (quirk Q4) and token
    ordinals for ``simple``.
    """
    if tokenizer == "simple":
        parts = []
        for name, col in sections.items():
            toks = F.split(F.lower(F.col(col)), SIMPLE_SPLIT_PATTERN)
            part = (
                corpus.select(
                    # long, as the code branch: pack views doc_id as
                    # uint64 and the engines bucket by xxhash64(long)
                    F.col(doc_id_col).cast("long").alias("doc_id"),
                    F.posexplode(toks).alias("pos", "term"),
                )
                .filter(F.col("term") != "")
                .select(
                    "doc_id",
                    F.lit(name).alias("section"),
                    "term",
                    F.col("pos").cast("int").alias("pos"),
                )
            )
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    sec_items = list(sections.items())
    cols = [doc_id_col] + [c for _, c in sec_items]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids = pdf[doc_id_col].to_numpy()
            frames = []
            for sname, scol in sec_items:
                # one C-level regex scan over the whole Arrow batch
                # (code_tokens_bulk: texts joined on \x00, offsets mapped
                # back by searchsorted) — no per-row Python loop
                texts = [t if isinstance(t, str) else "" for t in pdf[scol]]
                terms, rows, offs = code_tokens_bulk(texts)
                frames.append(
                    pd.DataFrame(
                        {
                            "doc_id": ids[rows],
                            "section": sname,
                            "term": terms,
                            "pos": offs.astype(np.int32),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)
            else:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "section": pd.Series([], dtype=object),
                        "term": pd.Series([], dtype=object),
                        "pos": pd.Series([], dtype="int32"),
                    }
                )

    return corpus.select(*cols).mapInPandas(run, TOKENS_SCHEMA)


def tokenize_postings(
    corpus: DataFrame,
    sections: dict[str, str],
    tokenizer: str = "code",
    doc_id_col: str = "doc_id",
    n_buckets: int = 8,
    chunk_bytes: int = _BULK_CHUNK_BYTES,
) -> DataFrame:
    """Corpus → postings_all grain (term, section, doc_id, positions, tf,
    bucket) in ONE pass with ZERO shuffle for the ``code`` tokenizer.

    A corpus row is a whole document and ``mapInArrow`` never splits a row
    across batches, so the per-(doc, section, term) aggregation COMPLETES
    inside the UDF — the posting-grain ``groupBy(term, section,
    doc_id).collect_set(pos)`` exchange this replaces shuffled every token
    occurrence (the build's single largest stage at high parallelism), and
    the Python→JVM boundary now carries each distinct term once per doc
    (positions as one int array) instead of once per occurrence.
    Precondition (already assumed corpus-wide, e.g. by doc_meta): doc_id is
    unique per corpus row — duplicate rows would emit duplicate groups
    instead of merging. tf = number of distinct offsets (quirk Q4; offsets
    from one regex scan are inherently distinct). ``bucket`` is attached
    JVM-side from the SAME xxhash64(long doc_id) the query engines use.

    The ``simple`` tokenizer path stays fully JVM (split + posexplode +
    hash agg, whole-stage codegen) — its boundary cost is zero by
    construction, so there is nothing to fold.
    """
    if tokenizer == "simple":
        agg = (
            tokenize_corpus(corpus, sections, "simple", doc_id_col)
            .groupBy("term", "section", "doc_id")
            .agg(F.array_sort(F.collect_set("pos")).alias("positions"))
            .withColumn("tf", F.size("positions"))
        )
    else:
        sec_items = list(sections.items())

        def run(batches):
            import numpy as np
            import pyarrow as pa

            for rb in batches:
                names = rb.schema.names
                ids = rb.column(names.index("__doc_id")).to_numpy(
                    zero_copy_only=False
                )
                for sname, scol in sec_items:
                    col = rb.column(names.index(scol))
                    n_rows = len(col)
                    # Arrow batches are split by ROW count, so a batch of
                    # large files can hold gigabytes of text; sub-chunk by
                    # BYTES so the bulk scan's mega-string and the token
                    # arrays stay memory-bounded whatever the row sizes.
                    # Chunk boundaries come from Arrow-side lengths and the
                    # column is sliced per chunk, so Python-string
                    # materialization is chunk_bytes-bounded as well —
                    # never the whole batch at once. A single over-budget
                    # document still processes alone (whole-doc aggregation
                    # is the invariant; documents are never split).
                    import pyarrow.compute as pc

                    lens = pc.fill_null(pc.utf8_length(col), 0).to_numpy(
                        zero_copy_only=False
                    )
                    start = 0
                    while start < n_rows:
                        end, tot = start, 0
                        while end < n_rows:
                            tot += int(lens[end])
                            end += 1
                            if tot > chunk_bytes and end > start + 1:
                                end -= 1
                                break
                        texts = [
                            t if isinstance(t, str) else ""
                            for t in col.slice(start, end - start).to_pylist()
                        ]
                        terms, rows, offs = code_tokens_bulk(texts)
                        base = start
                        start = end
                        if not terms:
                            continue
                        codes, uterms = pd.factorize(
                            np.asarray(terms, dtype=object), sort=False
                        )
                        # group key = (doc row, term id) packed into one
                        # int64; lexsort orders offsets ascending per group
                        key = rows * np.int64(len(uterms)) + codes
                        order = np.lexsort((offs, key))
                        skey = key[order]
                        n = len(skey)
                        gfirst = np.empty(n, dtype=bool)
                        gfirst[0] = True
                        gfirst[1:] = skey[1:] != skey[:-1]
                        gstarts = np.flatnonzero(gfirst)
                        counts = np.diff(np.append(gstarts, n))
                        list_offs = np.zeros(len(gstarts) + 1, dtype=np.int32)
                        np.cumsum(counts, out=list_offs[1:])
                        gtake = order[gstarts]
                        yield pa.RecordBatch.from_arrays(
                            [
                                pa.array(uterms, type=pa.string()).take(
                                    pa.array(codes[gtake])
                                ),
                                pa.array([sname]).take(
                                    pa.array(
                                        np.zeros(len(gstarts), dtype=np.int64)
                                    )
                                ),
                                pa.array(ids[base + rows[gtake]]),
                                pa.ListArray.from_arrays(
                                    pa.array(list_offs),
                                    pa.array(offs[order].astype(np.int32)),
                                ),
                                pa.array(counts.astype(np.int32)),
                            ],
                            names=[f.name for f in POSTINGS_AGG_SCHEMA.fields],
                        )

        agg = corpus.select(
            F.col(doc_id_col).cast("long").alias("__doc_id"),
            *{c for _, c in sec_items},
        ).mapInArrow(run, POSTINGS_AGG_SCHEMA)
    return agg.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def _write(df: DataFrame, path: str, sort_cols: list[str] | None = None) -> None:
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    df.write.mode("overwrite").parquet(path)


#: the columns each lineage-covered table hashes per row, in Spark's
#: ``xxhash64`` order: one spec serves the Spark SQL aggregate
#: (`lineage_hash`, `lineage_frame`, fsck) and the driver-side writers'
#: numpy twin (`lineage_arrow`), so the two cannot drift. packed is
#: metadata-only: the block payloads are a pure function of postings_flat
#: (hashed here), so hashing the binary columns would re-read megabytes
#: per partition for no added lineage coverage.
LINEAGE_SPECS = {
    "postings_flat": ("term", "section", "doc_id", "tf"),
    "doclen": ("doc_id", "section", "dl"),
    "packed": (
        "term", "section", "bucket", "block_id", "n", "first_doc",
        "last_doc",
    ),
}


def lineage_hash(table: str) -> str:
    """The Spark SQL per-row content hash of ``table``'s lineage."""
    return f"xxhash64({', '.join(LINEAGE_SPECS[table])})"


def lineage_frame(tables: dict[str, DataFrame]) -> DataFrame:
    """(table, part_id, rows, content_hash) per partition of each table —
    shared by the full build and incremental-add commits."""
    parts = []
    for table, t in tables.items():
        parts.append(
            t.withColumn("part_id", F.spark_partition_id())
            .groupBy("part_id")
            .agg(
                F.count("*").alias("rows"),
                F.expr(f"bit_xor({lineage_hash(table)})").alias(
                    "content_hash"
                ),
            )
            .select(F.lit(table).alias("table"), "part_id", "rows",
                    "content_hash")
        )
    lin = parts[0]
    for x in parts[1:]:
        lin = lin.unionByName(x)
    return lin


def lineage_arrow(tables: dict):
    """`lineage_frame` for pyarrow tables, with no Spark job: one row per
    non-empty table (``part_id`` 0), its hash the XOR of the numpy
    ``xxhash64`` over `LINEAGE_SPECS`. fsck compares only the totals
    (row count, XOR), which do not depend on how rows are partitioned."""
    import numpy as np
    import pyarrow as pa

    from information_retrieval_spark.index.xxhash64 import xxhash64

    rows = []
    for table, tb in tables.items():
        if not tb.num_rows:
            continue
        types = {
            f.name: f.dataType.simpleString() for f in TABLE_SCHEMAS[table]
        }
        h = xxhash64(tb, LINEAGE_SPECS[table], types)
        rows.append((table, 0, tb.num_rows, int(np.bitwise_xor.reduce(h))))
    cols = list(zip(*rows)) if rows else [(), (), (), ()]
    return pa.Table.from_arrays(
        [pa.array(c, t) for c, t in zip(
            cols, (pa.string(), pa.int32(), pa.int64(), pa.int64())
        )],
        names=["table", "part_id", "rows", "content_hash"],
    )


class IndexBuilder:
    """Builds all index tables under ``index_dir`` with manifest + resume."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        sections: dict[str, str],
        tokenizer: str = "code",
        stop_k: int = 20,
        doc_id_col: str = "doc_id",
        n_buckets: int = 8,
        stop_terms: list[str] | None = None,
        category_col: str | None = None,
    ):
        """``stop_terms`` pins the stop list instead of deriving it from the
        corpus — required when building an index that must stay consistent
        with an incrementally maintained one (stop-list versioning).
        ``category_col`` names a corpus column (e.g. ``lang``) persisted as
        the ``doc_meta`` table for query-time category filtering
        (``QuerySpec.filter_category``, reference `search/phase2.py:64-71`)."""
        self.spark = spark
        self.index_dir = index_dir
        self.sections = sections
        self.tokenizer = tokenizer
        self.stop_k = stop_k
        self.doc_id_col = doc_id_col
        self.n_buckets = n_buckets
        self.stop_terms = stop_terms
        self.category_col = category_col
        import threading

        self._commit_lock = threading.Lock()
        self.manifest_path = os.path.join(index_dir, "manifest.json")
        self.manifest: dict = {"stages": {}, "config": {
            "sections": sections, "tokenizer": tokenizer, "stop_k": stop_k,
            "n_buckets": n_buckets, "stop_terms": stop_terms,
            "category_col": category_col,
        }}

    # ------------------------------------------------------------ manifest

    def _load_manifest(self) -> None:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                on_disk = json.load(f)
            if on_disk.get("config") == self.manifest["config"]:
                self.manifest = on_disk

    def _commit_stage(self, name: str, info: dict) -> None:
        with self._commit_lock:  # stages may commit from concurrent threads
            self.manifest["stages"][name] = info
            os.makedirs(self.index_dir, exist_ok=True)
            tmp = self.manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.manifest, f, indent=1, sort_keys=True)
            os.replace(tmp, self.manifest_path)

    def _done(self, name: str) -> bool:
        return name in self.manifest["stages"]

    def path(self, table: str) -> str:
        return os.path.join(self.index_dir, table)

    def read(self, table: str) -> DataFrame:
        """This build's own ``table``, read with its declared schema
        (`catalog.TABLE_SCHEMAS`): no schema-inference Spark job."""
        return scan_dirs(self.spark, table, self.path(table))

    # --------------------------------------------------------------- build

    def build(self, corpus: DataFrame, resume: bool = False) -> dict:
        """Run all stages; with ``resume=True`` skip manifest-committed ones."""
        # refuse an in-place rebuild over a frozen uncommitted maintenance
        # stage: the rebuild resets every table, and the stage's later
        # recovery commit would append old-corpus delta dirs and stale
        # stats into the rebuilt index (recover or discard the stage first)
        from information_retrieval_spark.index.maintenance import (
            unrecovered_stage_names,
        )

        pending = unrecovered_stage_names(self.index_dir)
        if pending:
            raise RuntimeError(
                f"frozen uncommitted maintenance stage(s) {pending} under"
                f" {self.index_dir!r} — rebuilding in place would be"
                " corrupted by their recovery commit; run"
                " IndexMaintenance.recover_stages() or delete the stage"
                " dirs first"
            )
        if resume:
            self._load_manifest()
        t0 = time.time()

        def stage(name: str, fn) -> None:
            if self._done(name):
                return
            s = time.time()
            extra = fn() or {}
            self._commit_stage(
                name, {"wall_s": round(time.time() - s, 3), **extra}
            )

        # Spread the scan across all cores: a small corpus often arrives as
        # one parquet file → one input split, which serializes the (most
        # expensive) tokenize stage. At 100 TB the table has thousands of
        # files and this repartition is a no-op cost-wise relative to build.
        par = self.spark.sparkContext.defaultParallelism
        if corpus.rdd.getNumPartitions() < par:
            corpus = corpus.repartition(par)
        # cache only when a SECOND pass over the corpus exists (doc_meta):
        # the main tokenize pass streams the scan straight into the
        # postings aggregate and otherwise reads the corpus exactly once
        if self.category_col is not None:
            corpus = corpus.cache()
        # n_docs rides the postings_all pass as an Observation — the
        # separate corpus.count() job it replaces was a flat ~2-3 s on the
        # build's sequential critical path (Amdahl floor at high
        # parallelism), for a number the big pass computes anyway
        from pyspark.sql import Observation

        obs_docs = Observation()
        tf_src = tokenize_postings(
            corpus.observe(obs_docs, F.count(F.lit(1)).alias("n_docs")),
            self.sections, self.tokenizer, self.doc_id_col, self.n_buckets,
        )

        # stage 1b: doc_meta — (doc_id, category) for query-time category
        # filtering (P4/U4). Sorted by doc_id so the matched-stream join
        # prunes row groups; at scale this table is partitioned by category
        # so a filtered search prunes whole partitions.
        if self.category_col is not None:
            def s_doc_meta():
                # hive-partitioned by category: a category-restricted
                # search prunes whole partition directories; rows stay
                # doc_id-sorted within each partition for the matched-
                # stream join's row-group pruning
                (
                    corpus.select(
                        # cast to long: WAND buckets category rows with
                        # xxhash64(doc_id), which hashes 4-byte ints and
                        # 8-byte longs DIFFERENTLY — an int-typed corpus
                        # id would silently land in the wrong bucket
                        F.col(self.doc_id_col).cast("long").alias("doc_id"),
                        F.col(self.category_col).alias("category"),
                    )
                    .sortWithinPartitions("doc_id")
                    .write.mode("overwrite")
                    .partitionBy("category")
                    .parquet(self.path("doc_meta"))
                )
                return {}

            stage("doc_meta", s_doc_meta)

        # stage 2: postings over ALL terms — the ONE pass over raw tokens,
        # aggregated to (term, section, doc_id) grain INSIDE the tokenizer
        # UDF (tokenize_postings): zero shuffle, and the Python boundary
        # carries per-doc-distinct terms, not per-occurrence tokens.
        # Everything else (stop list, doclen, vocab, df) derives from this
        # far smaller aggregate: tokens are never recomputed or
        # materialized a second time. tf = distinct offsets (quirk Q4: the
        # trie stores offset SETs).
        def s_postings_all():
            _write(tf_src, self.path("postings_all"))
            return {}

        fresh_postings_all = not self._done("postings_all")
        stage("postings_all", s_postings_all)
        postings_all = self.read("postings_all")

        # stage 1: corpus stats (n_docs = FULL corpus size, quirk Q1 tf-idf
        # N) — free when postings_all just ran (Observation above); a
        # resumed build that skipped postings_all counts the corpus itself
        def s_stats():
            n_docs = (
                int(obs_docs.get["n_docs"])
                if fresh_postings_all
                else corpus.count()
            )
            pd.DataFrame({"n_docs": [n_docs]}).to_parquet(
                self._ensure(self.path("stats")) + "/stats.parquet"
            )
            return {"n_docs": n_docs}

        stage("stats", s_stats)

        # stage 3: stop-words — corpus-relative top-K by token count = Σ tf
        # (quirk Q6), ties (count desc, term asc); or a pinned list
        def s_stop():
            if self.stop_terms is not None:
                top = self.spark.createDataFrame(
                    [(t, 0, i + 1) for i, t in enumerate(self.stop_terms)],
                    "term string, cnt long, rank int",
                )
            else:
                counts = postings_all.groupBy("term").agg(
                    F.sum("tf").alias("cnt")
                )
                top = (
                    counts.orderBy(F.desc("cnt"), F.asc("term"))
                    .limit(self.stop_k)
                    .withColumn(
                        "rank",
                        # rank is assigned AFTER the limit: the top-K is a
                        # parallel TakeOrderedAndProject over the term
                        # counts, and only the K surviving rows ever see a
                        # window. The partition key must be NON-foldable:
                        # Catalyst strips lit(0) — and folds cnt*0 over
                        # the non-nullable count — so the window would
                        # plan (and warn) as global; pmod(cnt, 1) is
                        # constant-valued but survives to WindowExec.
                        F.row_number().over(
                            Window.partitionBy(
                                F.pmod(F.col("cnt"), F.lit(1))
                            ).orderBy(F.desc("cnt"), F.asc("term"))
                        ),
                    )
                )
            _write(top, self.path("stopwords"))
            return {}

        stage("stop", s_stop)

        stop_df = self.read("stopwords")

        # stage 4: flat postings = non-stop subset, sorted by (term,
        # section, doc_id) within each partition → parquet ROW-GROUP
        # min/max stats prune query-term lookups (each row group covers a
        # narrow term range). No term-keyed exchange at all: with bucket in
        # any term-side hash key a term's rows land in ~every partition
        # anyway (n_buckets spreads them), so clustering the full-width
        # frame bought NO extra pruning over the local sort — it was a
        # posting-sized shuffle for nothing (and the range variant
        # additionally re-executed this stage's whole upstream in its
        # RangePartitioner sampling job). File-level range pruning is
        # deliberately left to the PACKED layout (pack.py range-partitions
        # from this materialized table, where the sampling pass is one
        # cheap parquet scan) — packed is the production query path;
        # postings_flat serves derivation jobs (full scans) and the
        # boolean/phrase paths (row-group pruning suffices).
        def s_postings():
            # stop removal is a broadcast LEFT ANTI join (the top-K frame
            # is K rows) — no driver collect / isin literal list, so the
            # stop list never makes a driver round-trip
            out = postings_all.join(
                F.broadcast(stop_df.select("term")), "term", "left_anti"
            )
            # row count rides the write as an Observation instead of a
            # full re-read of the written table
            obs_rows = Observation()
            out = out.observe(obs_rows, F.count(F.lit(1)).alias("rows"))
            _write(out, self.path("postings_flat"), ["term", "section", "doc_id"])
            return {"rows": int(obs_rows.get["rows"])}

        stage("postings", s_postings)

        postings = self.read("postings_flat")

        # stage 5: doclen — dl = Σ tf of non-stop terms per (doc, section)
        # (tokens are unique (term, pos) pairs, so Σ distinct-offset tf ==
        # non-stop token count, quirk Q2's dl). A plain groupBy partial-
        # aggregates map-side, so the exchange carries ~one row per (doc,
        # section), not per posting.
        def s_doclen():
            dl = postings.groupBy("doc_id", "section").agg(
                F.sum("tf").cast("long").alias("dl")
            )
            _write(dl, self.path("doclen"), ["doc_id"])
            return {}

        # ----- stages 6-8 are independent given postings_flat ---------------

        # stage 6: term_df — docs containing term in ANY section (trie
        # doc-key semantics, `trie/phase1.py:22-25`)
        def s_term_df():
            tdf = postings.groupBy("term").agg(
                F.countDistinct("doc_id").alias("df")
            )
            _write(tdf, self.path("term_df"), ["term"])
            return {}

        # stage 7: bigram vocabulary for spell correction — DISTINCT cleaned
        # terms incl. stop words (`bigram_index/phase1.py:45-59` builds over
        # cleaned_documents, pre-stop-removal). With a corpus-derived stop
        # list, vocab ≡ term_df's terms ∪ the stop terms (stop terms are by
        # construction corpus terms, and term_df is already distinct over
        # the non-stop subset) — a vocabulary-sized union instead of a
        # second posting-grain scan+distinct over postings_all. A PINNED
        # stop list breaks that identity (pinned terms need not occur in
        # the corpus), so that path keeps the direct distinct.
        def s_vocab():
            if self.stop_terms is None:
                vocab = (
                    self.read("term_df")
                    .select("term")
                    .unionByName(stop_df.select("term"))
                    .distinct()
                )
            else:
                vocab = postings_all.select("term").distinct()
            _write(vocab, self.path("vocab"), ["term"])
            return {}

        # stage 8: packed block-max shards (delta-gap + varint, per-block
        # max_tf/min_dl — the north_star layout; index/pack.py), from
        # postings_flat and its doclen. Packed from the EXPLICIT legacy
        # paths this build just wrote — resolving through a pre-existing
        # catalog here would union stale delta dirs from before an
        # in-place rebuild into the new pack.
        def s_packed():
            from information_retrieval_spark.index.pack import pack_postings

            pack_postings(
                self.read("postings_flat"),
                self.read("doclen"),
                self.path("packed"),
            )
            return {}

        # doclen / term_df / vocab / packed all depend ONLY on the
        # committed postings tables, so two chains run CONCURRENTLY:
        # doclen → packed (pack joins the committed doclen) and term_df →
        # vocab (vocab derives from the committed term_df, see s_vocab).
        # The term_df/vocab jobs are small fixed-latency jobs (driver
        # scheduling + one tiny shuffle + a write) that hide under the
        # packed job; sequential execution would make them the Amdahl
        # floor of the whole build once tokenization is fast. Overlapping
        # them is exactly what a DAG scheduler on a real cluster does; the
        # Spark scheduler interleaves jobs from threads. Each stage still
        # commits its own manifest entry (lock-guarded), so resume
        # semantics are unchanged.
        # stage 9 (computation): lineage/metrics — per-partition accounting
        # of every core table (north_rule: per-partition lineage + metrics).
        # Each row: (table, part_id, rows, content_hash); stage wall-times
        # live in manifest.json. Incremental commits append their delta's
        # lineage rows in their own data dir (maintenance.stage_add), so
        # the table is an append-only per-commit log. Each table's lineage
        # scan runs AS SOON AS that table commits (postings_flat's — the
        # expensive one — immediately, concurrent with the packed job):
        # run sequentially after the pool it was a flat tail cost at high
        # parallelism. The frames are partition-count-sized (tiny), so
        # holding them as pandas until the single lineage write is free.
        from concurrent.futures import ThreadPoolExecutor

        need_lineage = not self._done("lineage")

        def lin_for(table: str) -> pd.DataFrame:
            return lineage_frame(
                {table: self.read(table)}
            ).toPandas()

        lin_futs: dict = {}
        with ThreadPoolExecutor(max_workers=5) as ex:

            def chain(*steps):
                for name, fn, lin_table in steps:
                    stage(name, fn)
                    if lin_table is not None and need_lineage:
                        lin_futs[lin_table] = ex.submit(lin_for, lin_table)

            if need_lineage:
                lin_futs["postings_flat"] = ex.submit(lin_for, "postings_flat")
            futs = [
                ex.submit(
                    chain,
                    ("doclen", s_doclen, "doclen"),
                    ("packed", s_packed, "packed"),
                ),
                ex.submit(
                    chain,
                    ("term_df", s_term_df, None),
                    ("vocab", s_vocab, None),
                ),
            ]
            for f in futs:
                f.result()
            # fixed table order → deterministic lineage file bytes
            lin_pdfs = [
                lin_futs[t].result() for t in LINEAGE_SPECS if t in lin_futs
            ]

        # stage 9 (commit): one atomic write of the gathered lineage rows
        def s_lineage():
            lin = self.spark.createDataFrame(
                pd.concat(lin_pdfs, ignore_index=True),
                schema="table string, part_id int, rows bigint,"
                " content_hash bigint",
            )
            _write(lin, self.path("lineage"))
            return {}

        stage("lineage", s_lineage)

        # stage 10: snapshot — register every table in the catalog
        # (index/catalog.py): subsequent maintenance commits are atomic
        # snapshot swaps, and queries can time-travel back to this build.
        # Rebuilding IN PLACE over an already-catalogued index commits a
        # "rebuild" snapshot that RESETS every table to the fresh legacy
        # dirs (stale delta dirs and delete vectors are dropped) — note an
        # in-place rebuild overwrites dirs older snapshots reference, so
        # time travel to pre-rebuild versions is forfeit (build into a new
        # directory to keep history).
        def s_catalog():
            from information_retrieval_spark.index.catalog import (
                CORE_TABLES,
                Catalog,
            )

            cat = Catalog(self.index_dir)
            if cat.current_version() is None:
                cat.ensure(CORE_TABLES)
            else:
                cat.commit(
                    {
                        t: (
                            ("set", [t])
                            if os.path.isdir(self.path(t))
                            else ("drop", None)
                        )
                        for t in CORE_TABLES
                    },
                    "rebuild",
                )
            return {}

        stage("catalog", s_catalog)

        self._commit_stage(
            "ALL", {"wall_s": round(time.time() - t0, 3)}
        )
        corpus.unpersist()
        return self.manifest

    @staticmethod
    def _ensure(p: str) -> str:
        os.makedirs(p, exist_ok=True)
        return p


def index_content_hash(spark: SparkSession, index_dir: str) -> int:
    """Order-insensitive content hash of the flat postings (rebuild
    determinism + resume equivalence checks, FIXTURES.md §6.5)."""
    from information_retrieval_spark.index.catalog import read_table

    df = read_table(spark, index_dir, "postings_flat")
    row = df.select(
        F.expr(
            "bit_xor(xxhash64(term, section, doc_id, tf, hash(positions)))"
        ).alias("h")
    ).collect()[0]
    return int(row.h or 0)


def sha256_invariant(corpus: DataFrame, content_col: str = "content") -> DataFrame:
    """Per-row content sha256 (input_hint invariant) as a JVM-side column."""
    return corpus.withColumn("content_sha256", F.sha2(F.col(content_col), 256))
