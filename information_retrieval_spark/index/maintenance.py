"""Dynamic index maintenance: add / remove / compact over snapshot commits.

Reference analogue: `add_document` / `remove_document`
(`ir-phase-1.ipynb:c22-23`, trie insert/delete `trie/phase1.py:38-42`) —
re-expressed for an immutable-files world (SURVEY.md §2.10 Spark mapping)
on top of the Iceberg-style snapshot catalog (index/catalog.py):

* **add_documents(delta)** — LSM-style: tokenize ONLY the new docs, pack
  their postings into a NEW compressed segment, and commit one snapshot
  that appends delta dirs for EVERY table (postings/doclen/doc_meta/
  packed/lineage, and merge-on-read term_df/vocab deltas —
  `catalog.read_term_df`/`read_vocab`); only the one-row stats table is
  rewritten. Cost ∝ delta, NOT index or vocabulary size — the round-1
  design repacked the whole index per add, which at 10^12 files is a
  full index rewrite per delta. WandEngine's block scorer reads every
  segment's blocks at query time (query/wand.py `_Bucket`).
* **remove_documents(doc_ids)** — logical delete: commit a delta dir to
  the ``deleted_docs`` table (delete-vector pattern; Iceberg's
  equality-delete equivalent), consulted at query time. Tombstones are
  SEQUENCE-SCOPED (Iceberg sequence-number semantics): each row is
  ``(doc_id, upto)`` and hides the doc only in segments whose ``_SEQ``
  (catalog.py sidecar; the commit version the segment landed as) is
  ``<= upto``. A later add may therefore re-use the doc_id — its new
  segment's seq exceeds every existing tombstone, so the new rows are
  live immediately. That makes **update_documents = tombstone + add**,
  cost ∝ delta even for docs whose old rows live in the base segment of
  a 10^12-file index; the physical purge rides the next normal
  compaction instead of a synchronous base rewrite.
* **compact(segments=None)** — the ONE physical rewrite, one merge path:
  merges the named LSM segments (default: every segment) into one new
  segment (or K size-capped ones), drops the tombstone-hidden rows in
  them (seq-scoped, per segment), re-derives their aggregates and drops
  the tombstones no unmerged segment still needs — all visible
  atomically via one snapshot. A full compact is the merge of every
  segment, so it clears the delete vector. A merge has two placements
  for its data step, picked per merge by a gate that reads metadata
  only: a single-output merge whose reads hold at most
  `LOCAL_MAX_MERGE_BYTES` on disk runs on the driver (pyarrow reads, the
  shared kernels, no Spark job); any larger or hash-split merge runs as
  Spark jobs. Both write the same tables into the same fresh dirs and
  commit through the same splice and snapshot.

Crash safety comes from the catalog, not from journals: every step of a
mutation only creates new files; visibility is a single atomic CURRENT
swap. A crash mid-operation leaves the previous snapshot fully intact and
queryable; orphaned data dirs are garbage, collected by
``Catalog.expire``. Staged adds carry a token so a crash-retry of the same
commit applies exactly once (``Catalog.committed_token``). Old snapshots
remain queryable (engines take ``version=``) until expired.

A single writer is required. The catalog's O_EXCL snapshot file does NOT
fence a second concurrent writer: its crashed-commit reclaim branch can
delete a live writer's snapshot file, and both writers then report the
same version (ROADMAP item 3).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from information_retrieval_spark.index.build import (
    LINEAGE_SPECS,
    lineage_arrow,
    lineage_frame,
    tokenize_postings,
)
from information_retrieval_spark.index.catalog import (
    Catalog,
    CORE_TABLES,
    arrow_deletes,
    arrow_scan,
    arrow_seq_table,
    count_live_docs,
    filter_deleted,
    footer_rows,
    hidden_rows,
    n_versions,
    read_seq_table,
    read_stats_pdf,
    read_table,
    scan_dirs,
    write_arrow,
    write_segment_seq,
)
from information_retrieval_spark.index.fsck import dir_bytes

#: The merge placement gate (`IndexMaintenance._merge_gate`): a
#: single-output merge whose reads hold at most this many on-disk bytes
#: runs on the driver. Measured by `scripts/bench_tiered.py --merge`
#: (two n-doc deltas over a 1,000-doc base, each placement forced;
#: BENCH/BASELINE.md "Merge placement crossover", 4 vCPUs, local[4]):
#: local vs distributed was 0.1 vs 2.6 s at 0.28 MiB read, 0.8 vs 4.7 s
#: at 2.5 MiB, 9.4 vs 19.7 s at 25.7 MiB and 13.4 vs 24.6 s at 39.6 MiB.
#: Local grows ~0.34 s/MiB on one driver core, distributed ~0.56 s/MiB
#: over a ~2.5 s floor of job overhead, so the curves do not cross in the
#: measured range: what bounds the local merge is the driver's memory
#: (1.97 GB peak RSS at 39.6 MiB), and the gate sits at the largest
#: merge measured.
LOCAL_MAX_MERGE_BYTES = 40 << 20

def unrecovered_stage_names(index_dir: str) -> list[str]:
    """Frozen stages under ``index_dir`` whose commit never landed.
    Metadata-only (no Spark session) so `IndexBuilder.build` can refuse an
    in-place rebuild over one — the rebuild would reset every table, and
    the stage's later recovery commit would append old-corpus delta dirs
    (and stale 'set' stats) into the rebuilt index."""
    if not Catalog.exists(index_dir):
        return []
    cat = Catalog(index_dir)
    out = []
    for d in sorted(os.listdir(index_dir)):
        if not d.startswith("__stage"):
            continue
        marker = os.path.join(index_dir, d, "_STAGED")
        if not os.path.exists(marker):
            continue
        with open(marker) as f:
            info = json.load(f)
        if not cat.committed_token(
            info["token"], since=info.get("cat_version")
        ):
            out.append(d)
    return out


#: stage subdir → (live table, commit op). Order matters only for humans.
_STAGE_TABLES = [
    ("postings_delta", "postings_flat", "append"),
    ("doclen_delta", "doclen", "append"),
    ("doc_meta_delta", "doc_meta", "append"),
    ("packed_delta", "packed", "append"),
    ("lineage_delta", "lineage", "append"),
    ("term_df", "term_df", "append"),
    ("vocab", "vocab", "append"),
    ("stats", "stats", "set"),
]


@dataclass
class _Merge:
    """One compaction's plan, shared by both placements' data steps: the
    merged segment indices, every segmented table's dirs, the output
    count, the delete vector's dirs, and the token and seq its fresh
    dirs take. ``fresh`` reserves an output dir and records it in
    ``new_rel`` for the splice."""

    cat: Catalog
    segs: list[int]
    dirs: dict[str, list[str]]
    has_meta: bool
    n_out: int
    del_dirs: list[str]
    token: str
    new_seq: int
    n_before: int
    new_rel: dict[str, list[str]] = field(default_factory=dict)

    @property
    def unmerged(self) -> list[int]:
        return [i for i in range(len(self.dirs["packed"]))
                if i not in self.segs]

    def merged_dirs(self, table: str) -> list[str]:
        return [self.dirs[table][i] for i in self.segs]

    def fresh(self, table: str, j: int | None = None) -> str:
        tok = self.token if j is None else f"{self.token}s{j}"
        rel = self.cat.new_data_dir(table, tok)
        self.new_rel.setdefault(table, []).append(rel)
        return self.cat.abspath(rel)


class IndexMaintenance:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        auto_compact_segments: int | None = None,
        auto_compact_mode: str = "full",
        target_segment_bytes: int | None = None,
    ):
        """``auto_compact_segments``: when set, an add whose commit leaves
        MORE than this many LSM segments triggers ``compact()`` — the
        Lucene-style amortization that bounds per-query segment fan-in
        (each segment adds one block run per (term, section) to a query)
        while keeping the common-case add delta-priced. None (default)
        leaves compaction fully explicit.

        ``auto_compact_mode``: ``"full"`` (default) merges ALL segments —
        a whole-index rewrite, fine at this scale, wrong economics at
        10^12 files where the base segment dwarfs every delta.
        ``"tiered"`` merges only the DELTA segments (1..N), never
        rewriting the base: auto-compaction cost stays ∝ accumulated
        delta bytes and the base's packed dirs are byte-identical across
        compactions (pytest-pinned). Deletes against merged segments are
        applied physically; deletes against the base stay in the delete
        vector until an explicit full ``compact()``.

        ``target_segment_bytes``: when set, every compaction this
        instance runs caps its OUTPUT segments at ~this many packed
        bytes, hash-splitting the merged rows by doc_id into K =
        ceil(input_bytes / cap) segments. This bounds the worst-case
        future rewrite unit: without it, repeated compaction grows one
        ever-larger base whose next rewrite is unbounded (the Lucene
        max-merged-segment-size dial). Splits land as ordinary sibling
        segments — one dir per segmented table each, disjoint doc_id
        sets — so every reader and later compaction treats them
        uniformly."""
        if auto_compact_mode not in ("full", "tiered"):
            raise ValueError(
                f"auto_compact_mode must be 'full' or 'tiered',"
                f" got {auto_compact_mode!r}"
            )
        self.spark = spark
        self.index_dir = index_dir
        self.auto_compact_segments = auto_compact_segments
        self.auto_compact_mode = auto_compact_mode
        self.target_segment_bytes = target_segment_bytes
        with open(os.path.join(index_dir, "manifest.json")) as f:
            self.config = json.load(f)["config"]
        self.cat = Catalog(index_dir)
        # legacy (pre-catalog) index: register its tables as v1 in place
        self.cat.ensure(CORE_TABLES)

    # ------------------------------------------------------------------ add

    def add_documents(self, delta: DataFrame, batch_id: int | None = None) -> int:
        """Append a delta corpus as a new LSM segment; one atomic snapshot.
        New doc_ids must not collide with LIVE ones (caller contract, as
        in the reference's add_document — checking would scan the index
        per add). ``batch_id`` tags the commit for streaming exactly-once
        (streaming/ingest.py).

        Re-adding a TOMBSTONED doc_id is fine: tombstones are
        sequence-scoped (``(doc_id, upto)``, catalog.read_deletes), and
        the new segment's seq exceeds every committed tombstone, so the
        re-added rows are live immediately — remove-then-add resurrects,
        and ``update_documents`` is exactly tombstone + this.

        Crash recovery: a frozen stage (``_STAGED`` marker present) from a
        previous crashed call is committed FIRST — its merged aggregates
        were computed against the pre-crash snapshot, so re-staging would
        double-apply. If the caller is retrying the SAME delta (matching
        fingerprint), that recovered commit already applied it."""
        stage = os.path.join(self.index_dir, "__stage_add")
        if self.is_staged(stage):
            info = self._stage_info(stage)
            same = info.get("fp") == self._delta_fp(delta)
            # label the recovered commit with the caller's batch id ONLY
            # when it is the same delta being retried — committing a
            # DIFFERENT crashed add under this batch id would mark the
            # new batch applied while its data was never staged
            self.commit_add(stage, batch_id=batch_id if same else None)
            if same:
                # auto-compact BEFORE dropping the stage: the frozen stage
                # is what lets a retry after a failed compact recognize the
                # delta as already applied (fp dedup) instead of
                # re-staging it — and the recovered add must honor the
                # segment bound too, not just fresh adds
                self._maybe_auto_compact()
                shutil.rmtree(stage)
                return int(info["n_add"])
            shutil.rmtree(stage)
        elif os.path.isdir(stage):
            shutil.rmtree(stage)  # partial stage: no live effects yet
        n_add = self.stage_add(delta, stage)
        self.commit_add(stage, batch_id=batch_id)
        # amortized merge runs AFTER the add's snapshot landed but BEFORE
        # the stage is dropped: if compact() dies, the frozen stage (whose
        # token is already committed — commit_add no-ops on it) keeps the
        # crash-retry contract intact: the retry dedups on the fingerprint
        # and re-runs only the compact, never re-applying the delta
        self._maybe_auto_compact()
        shutil.rmtree(stage)
        return n_add

    def _maybe_auto_compact(self) -> None:
        if self.auto_compact_segments is None:
            return
        n = len(self.cat.table_dirs("packed"))
        if n <= self.auto_compact_segments:
            return
        if self.auto_compact_mode == "tiered":
            # size-tiered plan over the DELTA segments only (base pinned):
            # each trigger merges the CHEAPEST subset that restores the
            # bound — not all deltas, whose accumulated bytes would make
            # every trigger cost grow with total delta history. With the
            # base excluded the reachable floor is 2 segments; a plan of
            # fewer than 2 candidates is a no-op (nothing to merge).
            segs = self.plan_compaction(
                self.auto_compact_segments, exclude_base=True,
                target_bytes=self.target_segment_bytes,
            )
            if segs is not None and len(segs) >= 2:
                self.compact(segments=segs)
        else:
            self.compact()

    def _delta_fp(self, delta: DataFrame) -> str:
        """Order-insensitive content fingerprint of a delta frame."""
        cols = sorted(delta.columns)
        row = delta.select(
            F.expr(
                "concat(count(*), ':', coalesce(bit_xor(xxhash64("
                + ", ".join(cols)
                + ")), 0))"
            ).alias("fp")
        ).collect()[0]
        return row.fp

    @staticmethod
    def _stage_info(stage_dir: str) -> dict:
        with open(os.path.join(stage_dir, "_STAGED")) as f:
            return json.load(f)

    @staticmethod
    def is_staged(stage_dir: str) -> bool:
        return os.path.exists(os.path.join(stage_dir, "_STAGED"))

    def stage_add(self, delta: DataFrame, stage_dir: str) -> int:
        """Compute EVERY output of an add — the delta's postings, doclen
        and packed segment, plus the fully merged term_df/vocab/stats —
        into ``stage_dir`` without touching any live table. Finishes by
        writing a ``_STAGED`` marker (with the commit token); a stage
        without the marker is partial and must be discarded."""
        spark = self.spark
        sections = self.config["sections"]
        tokenizer = self.config["tokenizer"]
        n_buckets = self.config.get("n_buckets", 8)
        os.makedirs(stage_dir, exist_ok=True)
        tm: dict[str, float] = {}  # per-step walls → self.last_stage_timings
        t_all = time.time()
        t0 = time.time()

        def p(sub: str) -> str:
            return os.path.join(stage_dir, sub)

        # ONE tokenize pass (build.py's shape): tokens stream from the scan
        # into the tf_all aggregate, which is materialized once inside the
        # stage; every other output derives from its read-back — the old
        # shape re-ran the (most expensive) tokenizer for doclen and vocab
        tf_all = tokenize_postings(delta, sections, tokenizer, n_buckets=n_buckets)
        tf_all.write.mode("overwrite").parquet(p("__tf_all"))
        # postings_all's grain: postings_flat's columns, stop terms kept
        tf_all = scan_dirs(spark, "postings_flat", p("__tf_all"))
        tm["tokenize_tf_all"] = time.time() - t0
        t0 = time.time()

        stop = read_table(spark, self.index_dir, "stopwords").select("term")
        tf_all.join(F.broadcast(stop), "term", "left_anti").write.mode(
            "overwrite"
        ).parquet(p("postings_delta"))
        tf = scan_dirs(spark, "postings_flat", p("postings_delta"))
        tm["stop_filter_postings"] = time.time() - t0
        t0 = time.time()

        # the independent small jobs overlap (same rationale as the
        # concurrent build stages: each is driver scheduling + one tiny
        # shuffle, and sequential execution is the add's Amdahl floor)
        from concurrent.futures import ThreadPoolExecutor

        from information_retrieval_spark.index.pack import pack_postings

        def s_doclen_pack():
            # dl = Σ tf of non-stop terms (tokens are unique (term, pos)
            # pairs, so Σ distinct-offset tf == non-stop token count —
            # identical to the build's doclen derivation)
            tf.groupBy("doc_id", "section").agg(
                F.sum("tf").cast("long").alias("dl")
            ).write.mode("overwrite").parquet(p("doclen_delta"))
            # the delta's OWN packed segment — pack cost ∝ delta size; the
            # live packed segments are untouched (LSM append, merged at
            # compact). Pack joins the doclen just written, so the two run
            # as one chain beside the other jobs of the group.
            pack_postings(
                tf, scan_dirs(spark, "doclen", p("doclen_delta")),
                p("packed_delta"),
            )

        def s_vocab():
            # pre-stop-removal distinct terms, from tf_all (not tokens:
            # that would re-tokenize)
            tf_all.select("term").distinct().write.mode(
                "overwrite"
            ).parquet(p("vocab"))

        def s_term_df():
            tf.groupBy("term").agg(
                F.countDistinct("doc_id").alias("df")
            ).write.mode("overwrite").parquet(p("term_df"))

        def s_doc_meta():
            cat_col = self.config.get("category_col")
            if cat_col is None:
                return
            # long cast: must match the build-time doc_meta type (WAND's
            # xxhash64 bucketing is type-sensitive); category-partitioned
            # like the build (catalog.read_doc_meta)
            delta.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col(cat_col).alias("category"),
            ).write.mode("overwrite").partitionBy("category").parquet(
                p("doc_meta_delta")
            )

        def s_fp():
            # ONE delta scan yields both the crash-dedup fingerprint and
            # the row count (the fp string is "count:xorhash") — the old
            # shape paid a separate delta.count() job for stats AND a
            # second fp job at marker time; at 500-doc streaming batches
            # those two tiny jobs were ~30% of the commit-to-queryable
            # latency (BENCH/BASELINE.md latency decomposition)
            return self._delta_fp(delta)

        def timed(fn):
            def run():
                ts = time.time()
                out = fn()
                tm[fn.__name__] = time.time() - ts
                return out
            return run

        with ThreadPoolExecutor(max_workers=6) as ex:
            futs = [
                ex.submit(timed(fn))
                for fn in (s_doclen_pack, s_vocab, s_term_df, s_doc_meta)
            ]
            f_fp = ex.submit(timed(s_fp))
            for f in futs:
                f.result()
            fp = f_fp.result()
        n_add = int(fp.split(":")[0])
        # merged stats ledger: pandas-only (no Spark job) now that the
        # count rides the fingerprint scan
        st = read_stats_pdf(self.index_dir).copy()
        st["n_docs"] = st["n_docs"] + n_add
        os.makedirs(p("stats"), exist_ok=True)
        st.to_parquet(os.path.join(p("stats"), "stats.parquet"))
        tm["parallel_group"] = time.time() - t0
        t0 = time.time()
        dl = scan_dirs(spark, "doclen", p("doclen_delta"))

        # per-partition lineage of the delta's tables (append-only log)
        lineage_frame(
            {
                "postings_flat": tf,
                "doclen": dl,
                "packed": scan_dirs(spark, "packed", p("packed_delta")),
            }
        ).write.mode("overwrite").parquet(p("lineage_delta"))
        tm["lineage"] = time.time() - t0

        # stamp the doc-row tables with the segment sequence this commit
        # will land as (cat_version + 1; single-writer, and commit_add
        # refuses stale stages after intervening compacts/rebuilds, so
        # seqs stay monotone with commit order even across crash-retries).
        # Tombstones compare against this: rows in this segment are hidden
        # only by tombstones committed AFTER it.
        seq = (self.cat.current_version() or 0) + 1
        for sub in ("postings_delta", "doclen_delta", "doc_meta_delta",
                    "packed_delta"):
            if os.path.isdir(p(sub)):
                write_segment_seq(p(sub), seq)

        with open(os.path.join(stage_dir, "_STAGED"), "w") as f:
            json.dump(
                {
                    "n_add": int(n_add),
                    "seq": seq,
                    "fp": fp,  # computed once in the parallel group
                    "token": uuid.uuid4().hex[:12],
                    # which tables this stage produced: commit refuses to
                    # publish if one went missing (e.g. swept by GC while
                    # the stage was frozen) instead of silently committing
                    # a partial snapshot
                    "tables": [
                        sub
                        for sub, _, _ in _STAGE_TABLES
                        if os.path.isdir(os.path.join(stage_dir, sub))
                    ],
                    # catalog version the stage was built against: bounds
                    # the idempotence scan to commits after it
                    "cat_version": self.cat.current_version(),
                },
                f,
            )
        tm["total"] = time.time() - t_all
        #: last stage_add's per-step walls (bench_streaming latency
        #: decomposition reads this; overhead is a few time() calls)
        self.last_stage_timings = tm
        return n_add

    def commit_add(self, stage_dir: str, batch_id: int | None = None) -> None:
        """Publish a completed stage: move its subdirs to immutable data
        dirs (names derived from the stage token, so a crash-retry
        re-derives the same destinations and the moves no-op), then ONE
        snapshot commit makes everything visible atomically. A retry after
        the snapshot landed is detected by the token and skipped.

        A stage's merged aggregates (the one-row stats 'set' above all)
        were computed against the snapshot it was staged on — if a compact
        or in-place rebuild landed in between, publishing them would
        silently overwrite that operation's n_docs/table state (compact's
        delete-vector decrement is already cleared, so nothing ever
        repairs the skew). `compact()`/`IndexBuilder.build()` refuse to
        run over a frozen uncommitted stage, and this guard is the
        belt-and-braces for anything that bypassed them."""
        assert self.is_staged(stage_dir), "refusing to commit a partial stage"
        t_commit = time.time()
        info = self._stage_info(stage_dir)
        token = info["token"]
        if self.cat.committed_token(token, since=info.get("cat_version")):
            return  # crash happened after the snapshot: already applied
        since = info.get("cat_version")
        if since is not None:
            intervening = {
                self.cat.load(v)["operation"]
                for v in self.cat.versions()
                if v > since
            } & {"compact", "rebuild"}
            if intervening:
                raise RuntimeError(
                    f"stage {stage_dir!r} was staged against catalog"
                    f" version {since} but {sorted(intervening)} snapshots"
                    " landed since — its staged stats/segments are stale;"
                    " discard the stage and re-run the add"
                )
        produced = set(info.get("tables", []))
        # re-stamp the doc-row dirs with the version THIS commit lands as:
        # the stage-time estimate can lag if another stage committed in
        # between (e.g. a frozen stream batch recovered after a manual
        # add) — seqs must equal commit versions so tombstone `upto`
        # comparisons order segments exactly as the snapshot chain does.
        # Safe pre-swap: no snapshot references these dirs yet.
        commit_seq = (self.cat.current_version() or 0) + 1
        changes: dict = {}
        for sub, table, op in _STAGE_TABLES:
            src = os.path.join(stage_dir, sub)
            rel = self.cat.new_data_dir(table, token)
            dst = self.cat.abspath(rel)
            seq_stamped = sub in (
                "postings_delta", "doclen_delta", "doc_meta_delta",
                "packed_delta",
            )
            if os.path.isdir(src):
                if seq_stamped:
                    write_segment_seq(src, commit_seq)
                os.replace(src, dst)
            elif os.path.isdir(dst):
                if seq_stamped:
                    write_segment_seq(dst, commit_seq)
            elif not os.path.isdir(dst):
                if sub in produced:
                    raise RuntimeError(
                        f"staged table {sub!r} vanished before commit"
                        " (GC'd while frozen?) — refusing to publish a"
                        " partial snapshot"
                    )
                continue  # table not produced by this stage (e.g. doc_meta)
            changes[table] = (op, [rel])
        summary = {"stage_token": token, "n_add": info["n_add"]}
        if batch_id is not None:
            summary["stream_batch_id"] = int(batch_id)
        self.cat.commit(
            {t: (op, dirs) for t, (op, dirs) in changes.items()},
            "add",
            summary,
        )
        #: metadata-only publish wall (dir renames + one snapshot swap) —
        #: read next to last_stage_timings by the latency decomposition
        self.last_commit_s = time.time() - t_commit

    # --------------------------------------------------------------- remove

    def remove_documents(self, doc_ids: list[int]) -> None:
        """Logical delete: commit a delta dir to the ``deleted_docs``
        delete-vector table (one snapshot; crash before the commit leaves
        only an orphaned dir). Tombstones carry ``upto`` = the CURRENT
        catalog version: every segment visible right now has
        ``_SEQ <= current`` and is hidden; a segment added later has a
        higher seq and is not — re-adding the doc_id resurrects it."""
        self._tombstone(
            self.spark.createDataFrame(
                [(int(d),) for d in doc_ids], "doc_id long"
            ),
            n_remove=len(doc_ids),
        )

    def _tombstone(self, ids: DataFrame, n_remove: int | None = None,
                   for_update: bool = False) -> None:
        """Commit seq-scoped tombstones for ``ids`` (a doc_id frame that
        never passes through the driver — an update of 10^8 docs writes
        its id column distributed)."""
        upto = self.cat.current_version() or 0
        rel = self.cat.new_data_dir("deleted_docs")
        ids.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.lit(int(upto)).cast("long").alias("upto"),
        ).write.mode("overwrite").parquet(self.cat.abspath(rel))
        summary: dict = {"upto": int(upto)}
        if n_remove is not None:
            summary["n_remove"] = int(n_remove)
        if for_update:
            summary["for_update"] = True
        self.cat.commit({"deleted_docs": ("append", [rel])}, "remove", summary)

    def deleted(self) -> DataFrame | None:
        """The normalized ``(doc_id, upto)`` delete vector (None if empty).
        A row hides the doc in segments with ``_SEQ <= upto`` only."""
        from information_retrieval_spark.index.catalog import read_deletes

        return read_deletes(self.spark, self.index_dir)

    # -------------------------------------------------------------- update

    def update_documents(self, delta: DataFrame) -> int:
        """Replace docs with new content under the SAME doc_ids (the
        operation a re-crawl needs). Two snapshot commits, each atomic:

        1. seq-scoped tombstones for every delta id (``upto`` = current
           version) — the old rows, wherever they live (recent delta OR
           the base segment of a 10^12-file index), disappear from
           queries immediately;
        2. ``add_documents(delta)`` — the new segment's seq exceeds the
           tombstones' upto, so the new content is live.

        Cost ∝ delta in BOTH steps: no segment is rewritten here, not
        even for base-resident docs (the round-4 design paid a
        synchronous tiered compact of whichever segments held the old
        rows — a base-segment rewrite floor this removes). The physical
        purge of the hidden rows rides the next normal ``compact()``.
        Ids not currently present in the index get tombstones that hide
        nothing; the next compact drops them (they match no remaining
        rows). A crash between the two commits leaves the tombstones
        live — the docs read as deleted until the retry's add lands,
        and the retry converges (tombstoning twice is idempotent in
        effect: read_deletes keeps the max upto per doc). Returns docs
        added."""
        self._tombstone(
            delta.select("doc_id").distinct(), for_update=True
        )
        return self.add_documents(delta)

    # -------------------------------------------------------------- compact

    def compact(
        self,
        segments: list[int] | None = None,
        target_bytes: int | None = None,
    ) -> int | None:
        """Physically drop deleted docs AND merge LSM segments. Returns
        the committed snapshot version, or None when there was nothing to
        do (no deletes, nothing to merge or split — callers like the CLI
        report the no-op honestly instead of claiming a compaction
        happened).

        ``segments=[i, j, ...]`` names the segments to merge (indices into
        the packed dir list, 0 = base); every other segment's files stay
        untouched, so the cost is ∝ the merged segments' bytes, never the
        index — the 10^12-file economics, where a full rewrite per
        compaction is unpayable. ``segments=None`` (default) is the same
        merge over EVERY segment: it applies every tombstone (no unmerged
        segment survives to keep one alive), so the delete vector clears.
        One merge path serves both; see ``_compact_segments``. Its data
        step runs on the driver with no Spark job when the merge writes
        one segment and reads at most `LOCAL_MAX_MERGE_BYTES`, else as
        Spark jobs (``last_merge_placement`` says which).

        ``target_bytes`` (default: the instance's
        ``target_segment_bytes``) caps each OUTPUT segment at ~that many
        packed bytes: the merged rows are hash-split by doc_id into
        K = ceil(input_bytes / cap) sibling segments, so no future
        rewrite unit exceeds the cap — including the base: a full
        ``compact(target_bytes=...)`` SPLITS an oversized base instead
        of growing it. Splits share one snapshot commit and one _SEQ.

        Refuses to run while a frozen UNCOMMITTED stage exists: the
        stage's merged stats were computed against the pre-crash snapshot,
        and its later recovery commit would publish them over this
        compact's state (n_docs decrement silently lost — the applied
        tombstones are gone, so no future compact repairs it). Call
        `recover_stages()` (or retry the crashed add) first. A frozen
        stage whose token is already committed is fine — its stats are
        live and this compact supersedes them (that is exactly the
        auto-compact window inside `add_documents`)."""
        pending = self._unrecovered_stages()
        if pending:
            raise RuntimeError(
                f"frozen uncommitted stage(s) {pending} exist — compacting"
                " now would be silently undone by their recovery commit;"
                " run recover_stages() (or retry the crashed add) first"
            )
        if target_bytes is None:
            target_bytes = self.target_segment_bytes
        if segments is None:
            n = len(self.cat.table_dirs("packed"))
            if n == 0:
                return None
            segments = list(range(n))
        return self._compact_segments(segments, target_bytes=target_bytes)

    # ---------------------------------------------------- tiered compaction

    # tables with one data dir PER SEGMENT, in catalog list order (the
    # base build commits one dir each; every add appends exactly one —
    # _STAGE_TABLES): partial compaction splices these lists in lockstep
    _SEGMENTED_TABLES = (
        "postings_flat", "doclen", "packed", "lineage", "term_df", "vocab",
    )

    def segment_sizes(self) -> list[int]:
        """On-disk bytes of each packed segment, in segment order —
        the input to size-tiered merge planning."""
        return [dir_bytes(d) for d in self.cat.table_dirs("packed")]

    def plan_compaction(
        self,
        max_segments: int,
        exclude_base: bool = False,
        target_bytes: int | None = None,
    ) -> list[int] | None:
        """Size-tiered merge plan: the CHEAPEST segment subset whose merge
        brings the count down to ``max_segments``. Merging k segments
        reduces the count by k-1 and costs ∝ their bytes, so the optimal
        set is simply the (n - max_segments + 1) SMALLEST segments —
        usually the recent deltas, but a shrunken base qualifies too
        (RocksDB-style size tiering, not age tiering). Returns None when
        the count is already within bound; feed the result to
        ``compact(segments=...)``.

        ``exclude_base=True`` pins segment 0 out of the plan (the tiered
        auto-compact contract: the base is never rewritten) — the
        reachable floor is then 2 segments, and a plan needing more
        candidates than exist is clamped to all the deltas.

        ``target_bytes``: plan against the segment-size cap — merging k
        segments of B total bytes yields ceil(B / cap) outputs, not 1,
        so the planner grows the chosen set (smallest-first) until the
        post-merge count meets the bound. When the cap makes the bound
        unreachable (all candidates merged still exceed it because the
        bytes genuinely need that many cap-sized segments), it returns
        the all-candidates plan if that at least REDUCES the count,
        else None — a bound below ceil(total_bytes / cap) is simply not
        satisfiable without data loss."""
        if max_segments < 1:
            raise ValueError("max_segments must be >= 1")
        sizes = self.segment_sizes()
        n = len(sizes)
        candidates = sorted(
            range(1 if exclude_base else 0, n),
            key=lambda i: (sizes[i], i),
        )

        def n_out(chosen: list[int]) -> int:
            if target_bytes is None:
                return 1
            b = sum(sizes[i] for i in chosen)
            return max(1, -(-b // target_bytes))  # ceil

        if n <= max_segments:
            return None
        best = None
        for k in range(2, len(candidates) + 1):
            chosen = candidates[:k]
            after = n - k + n_out(chosen)
            if after < n:
                best = chosen
            if after <= max_segments:
                return sorted(chosen)
        return sorted(best) if best is not None else None

    def _compact_segments(
        self, segments: list[int], target_bytes: int | None = None
    ) -> int | None:
        """Merge ONLY ``segments`` (packed-dir-list indices) into one new
        segment; every other segment's files are untouched — the catalog
        commit just splices the new dir in at the merged run's first
        position. Reads, shuffles, and writes are all bounded by the
        merged segments' bytes, so a size-tiered maintenance policy can
        keep query fan-in low (BENCH fan-in table) without ever paying a
        base-segment rewrite. RocksDB/Lucene tiered-merge economics on
        the snapshot catalog. Returns the committed version (None: no-op).

        ``target_bytes``: cap each output segment at ~this many packed
        bytes — the merged rows hash-split by doc_id into
        K = ceil(merged_input_bytes / cap) sibling segments (disjoint
        doc_id sets, one dir per segmented table each, one shared _SEQ),
        spliced in at the merged run's position. K = 1 (or no cap) is
        the classic single-output merge. A single OVERSIZED segment with
        no deletes is a valid target: K > 1 splits it — the only way to
        shrink the worst-case future rewrite unit.

        Deletes (seq-scoped): a tombstone ``(doc_id, upto)`` is applied
        physically to merged rows whose segment ``_SEQ <= upto``; rows of
        the SAME doc_id in a merged segment newer than the tombstone (a
        re-add/update) survive the merge untouched. A tombstone leaves
        the vector only when NO unmerged segment still holds rows it
        hides (checked seq-aware against the unmerged doclen dirs); the
        rest stay logical and keep filtering at query time. The merged
        output's _SEQ is this commit's version — newer than every
        pre-existing tombstone, so survivors can't be re-hidden. The
        ledger's n_docs becomes `catalog.count_live_docs` over the merged
        doclen: the hidden (doc, segment) versions purged here leave it,
        so it stays live docs + hidden versions awaiting purge, and after
        a merge of every segment it is the live count queries use. Crash
        safety: fresh dirs only, one atomic snapshot commit at the end.

        Placement: the plan (segments, dirs, K, token, new seq), the dir
        splice and the one commit are shared; only the data step forks,
        by a gate that reads metadata only (`_merge_gate`): a
        single-output merge reading at most `LOCAL_MAX_MERGE_BYTES` runs
        on the driver (`_merge_local`, no Spark job), anything else as
        Spark jobs (`_merge_distributed`). ``last_merge_placement`` and
        the commit summary's ``placement`` record which."""
        segs = sorted(set(int(s) for s in segments))
        if not segs:
            raise ValueError("segments must name at least one segment")
        dirs = {t: self.cat.table_dirs(t) for t in self._SEGMENTED_TABLES}
        has_meta = bool(self.cat.table_dirs("doc_meta"))
        if has_meta:
            dirs["doc_meta"] = self.cat.table_dirs("doc_meta")
        n_seg = len(dirs["packed"])
        bad_len = {t: len(d) for t, d in dirs.items() if len(d) != n_seg}
        if bad_len:
            raise RuntimeError(
                "compaction needs one data dir per segment in every"
                f" segmented table, but {bad_len} differ from packed's"
                f" {n_seg} — this snapshot's dir lists are corrupt and no"
                " merge can splice them; rebuild the index"
            )
        if segs[0] < 0 or segs[-1] >= n_seg:
            raise ValueError(
                f"segment indices {segs} out of range for {n_seg} segments"
            )
        del_dirs = self.cat.table_dirs("deleted_docs")
        sizes = self.segment_sizes()
        merged_bytes = sum(sizes[i] for i in segs)
        n_out = 1
        if target_bytes is not None and target_bytes > 0:
            n_out = max(1, -(-merged_bytes // target_bytes))  # ceil
        if len(segs) == 1 and not del_dirs and n_out <= 1:
            return None  # nothing to merge, drop, or split
        st = read_stats_pdf(self.index_dir).copy()
        m = _Merge(
            cat=self.cat, segs=segs, dirs=dirs, has_meta=has_meta,
            n_out=n_out, del_dirs=del_dirs, token=uuid.uuid4().hex[:12],
            new_seq=(self.cat.current_version() or 0) + 1,
            n_before=int(st["n_docs"].iloc[0]),
        )
        gate = self._merge_gate(m)
        #: the last merge's placement and the gate inputs that chose it
        self.last_merge_placement = gate
        if gate["placement"] == "local":
            n_docs, survivors = self._merge_local(m)
        else:
            n_docs, survivors = self._merge_distributed(m)

        changes: dict = {}
        st["n_docs"] = n_docs
        stats_dir = m.fresh("stats")
        os.makedirs(stats_dir, exist_ok=True)
        st.to_parquet(os.path.join(stats_dir, "stats.parquet"))
        changes["stats"] = ("set", m.new_rel["stats"])

        # splice: keep unmerged dirs in order, the n_out new dirs at the
        # merged run's first position (RELATIVE paths — the snapshot
        # stores relatives)
        keep = set(segs)
        for table in list(self._SEGMENTED_TABLES) + (
            ["doc_meta"] if has_meta else []
        ):
            snap_dirs = list(
                self.cat.load(self.cat.current_version())["tables"][table]
            )
            spliced = []
            for i, rel in enumerate(snap_dirs):
                if i == segs[0]:
                    spliced.extend(m.new_rel[table])
                if i not in keep:
                    spliced.append(rel)
            changes[table] = ("set", spliced)
        if del_dirs:
            changes["deleted_docs"] = (
                ("set", m.new_rel["deleted_docs"]) if survivors
                else ("drop", None)
            )

        return self.cat.commit(
            changes,
            "compact",
            {
                "stage_token": m.token,
                "n_removed": m.n_before - n_docs,
                "segments_merged": segs,
                "n_outputs": n_out,
                "n_segments_before": n_seg,
                "n_segments_after": n_seg - len(segs) + n_out,
                "placement": gate["placement"],
            },
        )

    def _merge_gate(self, m: "_Merge") -> dict:
        """Where a merge's data step runs, from metadata only: on the
        driver iff it writes one segment and the on-disk bytes it reads
        are at most `LOCAL_MAX_MERGE_BYTES`. Those are the merged
        segments' postings_flat, doclen, doc_meta and vocab dirs, plus,
        with tombstones, the delete vector and the unmerged segments'
        doclen (the survival check's reads)."""
        tables = ["postings_flat", "doclen", "vocab"] + (
            ["doc_meta"] if m.has_meta else []
        )
        read = [d for t in tables for d in m.merged_dirs(t)]
        if m.del_dirs:
            read += m.del_dirs + [m.dirs["doclen"][i] for i in m.unmerged]
        read_bytes = sum(dir_bytes(d) for d in read)
        local = m.n_out == 1 and read_bytes <= LOCAL_MAX_MERGE_BYTES
        return {
            "placement": "local" if local else "distributed",
            "n_out": m.n_out,
            "read_bytes": read_bytes,
        }

    def _merge_local(self, m: "_Merge") -> tuple[int, bool]:
        """The data step on the driver: pyarrow reads of the merged
        segments, the same rules and kernels as `_merge_distributed`
        (`catalog.hidden_rows` for seq-scoped tombstones, `n_versions`
        for the ledger, `pack_postings` over the sorted rows, the
        lineage hash of `LINEAGE_SPECS`), written as Spark lays the
        tables out (`catalog.write_arrow`); no Spark job. Returns the
        ledger's n_docs and whether tombstones survive (written to a
        fresh deleted_docs dir)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from information_retrieval_spark.index import pack as pack_mod

        del_docs, del_upto = arrow_deletes(m.del_dirs)

        def live(table: str):
            """The merged segments' live rows of ``table``, and the
            (doc_id, seq) of the rows tombstones hide."""
            tb = arrow_seq_table(table, m.merged_dirs(table))
            docs = tb.column("doc_id").to_numpy()
            seqs = tb.column("seg_seq").to_numpy()
            gone = hidden_rows(docs, seqs, del_docs, del_upto)
            return (
                tb.filter(pa.array(~gone)).drop_columns(["seg_seq"]),
                docs[gone], seqs[gone],
            )

        def put(table: str, tb, seq: bool = False, **kw) -> str:
            out = m.fresh(table)
            write_arrow(table, tb, out, **kw)
            if seq:
                write_segment_seq(out, m.new_seq)
            return out

        pf, _, _ = live("postings_flat")
        dl, gone_docs, gone_seqs = live("doclen")
        n_docs = m.n_before - n_versions(gone_docs, gone_seqs)
        put("postings_flat", pf, seq=True)
        put("doclen", dl, seq=True)
        if m.has_meta:
            meta, _, _ = live("doc_meta")
            put("doc_meta", meta.sort_by("doc_id"), seq=True,
                partition_by="category")
        vocab = pa.concat_tables(
            arrow_scan("vocab", d).to_table() for d in m.merged_dirs("vocab")
        )
        put("vocab", pa.table({"term": pc.unique(vocab.column("term"))}))
        df = pf.group_by("term").aggregate([("doc_id", "count_distinct")])
        put("term_df", pa.table({
            "term": df.column("term"),
            "df": df.column("doc_id_count_distinct"),
        }))
        packed_dir = m.fresh("packed")
        pack_mod.pack_postings(
            pf, dl, packed_dir, parts=pack_mod.pack_parts(self.spark)
        )
        write_segment_seq(packed_dir, m.new_seq)
        packed = arrow_scan("packed", packed_dir).to_table(
            columns=list(LINEAGE_SPECS["packed"])
        )
        put("lineage", lineage_arrow(
            {"postings_flat": pf, "doclen": dl, "packed": packed}
        ))

        if not m.del_dirs or not m.unmerged:
            return n_docs, False
        # a tombstone survives iff some unmerged segment still holds rows
        # it hides (seq-aware, as in _merge_distributed)
        u = arrow_seq_table(
            "doclen", [m.dirs["doclen"][i] for i in m.unmerged], ["doc_id"]
        )
        u_docs = u.column("doc_id").to_numpy()
        kept = u_docs[hidden_rows(
            u_docs, u.column("seg_seq").to_numpy(), del_docs, del_upto
        )]
        alive = np.isin(del_docs, kept)
        if not alive.any():
            return n_docs, False
        put("deleted_docs", pa.table(
            {"doc_id": del_docs[alive], "upto": del_upto[alive]}
        ))
        return n_docs, True

    def _merge_distributed(self, m: "_Merge") -> tuple[int, bool]:
        """The data step as Spark jobs (any merge the gate does not keep
        on the driver, and every hash-split one). Returns the ledger's
        n_docs and whether tombstones survive, as `_merge_local`."""
        from information_retrieval_spark.index import pack as pack_mod

        spark = self.spark
        d = self.deleted()
        n_out = m.n_out

        def union_dirs(table: str, which: list[int] | None = None):
            idxs = m.segs if which is None else which
            return read_seq_table(
                spark, self.index_dir, table,
                dirs=[m.dirs[table][i] for i in idxs],
            )

        def split_write(
            df: DataFrame,
            table: str,
            key: str = "doc_id",
            partition_cols: tuple = (),
        ) -> None:
            """Write ``df`` into ``n_out`` catalog dirs hash-split by
            ``key`` (deterministic xxhash64 — the same row always lands
            in the same split). n_out == 1 is the classic single-dir
            write. The K-way path evaluates df ONCE, writing partitioned
            by the split id into a scratch data dir (expire GCs it if we
            crash), then renames each partition subdir into its own
            catalog dir; a split that came out empty gets an explicit
            empty-but-schema'd write so readers can still infer."""
            if n_out == 1:
                w = df.write.mode("overwrite")
                if partition_cols:
                    w = w.partitionBy(*partition_cols)
                w.parquet(m.fresh(table))
                return
            scratch = self.cat.abspath(
                self.cat.new_data_dir(table, f"{m.token}scratch")
            )
            shutil.rmtree(scratch, ignore_errors=True)
            (
                df.withColumn(
                    "__split",
                    F.pmod(F.xxhash64(F.col(key)), F.lit(n_out)),
                )
                .write.mode("overwrite")
                .partitionBy("__split", *partition_cols)
                .parquet(scratch)
            )
            for j in range(n_out):
                dst = m.fresh(table, j)
                srcd = os.path.join(scratch, f"__split={j}")
                if os.path.isdir(srcd):
                    os.replace(srcd, dst)
                else:
                    spark.createDataFrame([], df.schema).repartition(
                        1
                    ).write.mode("overwrite").parquet(dst)
            shutil.rmtree(scratch, ignore_errors=True)

        n_docs = count_live_docs(m.n_before, union_dirs("doclen"), d)

        for table in ("postings_flat", "doclen"):
            split_write(filter_deleted(union_dirs(table), d), table)
            for rel in m.new_rel[table]:
                write_segment_seq(self.cat.abspath(rel), m.new_seq)

        if m.has_meta:
            split_write(
                filter_deleted(union_dirs("doc_meta"), d)
                .sortWithinPartitions("doc_id"),
                "doc_meta",
                partition_cols=("category",),
            )
            for rel in m.new_rel["doc_meta"]:
                write_segment_seq(self.cat.abspath(rel), m.new_seq)

        # merge-on-read aggregates, re-derived per output split so every
        # segmented table keeps exactly one dir per segment: term_df over
        # a split's postings is exact for that split's (disjoint) docs and
        # the cross-dir sum stays exact; vocab is term-keyed, so it splits
        # by TERM hash — the cross-dir distinct-union stays exact
        split_write(
            union_dirs("vocab").select("term").distinct(), "vocab", key="term"
        )

        for j in range(n_out):
            split = j if n_out > 1 else None
            pf_j = scan_dirs(
                spark, "postings_flat",
                self.cat.abspath(m.new_rel["postings_flat"][j]),
            )
            dl_j = scan_dirs(
                spark, "doclen", self.cat.abspath(m.new_rel["doclen"][j])
            )
            pf_j.groupBy("term").agg(
                F.countDistinct("doc_id").alias("df")
            ).write.mode("overwrite").parquet(m.fresh("term_df", split))
            packed_dir = m.fresh("packed", split)
            pack_mod.pack_postings(pf_j, dl_j, packed_dir)
            write_segment_seq(packed_dir, m.new_seq)
            lineage_frame(
                {
                    "postings_flat": pf_j,
                    "doclen": dl_j,
                    "packed": scan_dirs(spark, "packed", packed_dir),
                }
            ).write.mode("overwrite").parquet(m.fresh("lineage", split))

        if d is None or not m.unmerged:
            return n_docs, False
        # a tombstone survives iff some UNMERGED segment still holds rows
        # it hides (seq-aware: an unmerged segment NEWER than the
        # tombstone holding the doc's re-added rows does NOT keep it
        # alive). The scan is the unmerged doclen's doc_id column with the
        # mutation-sized vector broadcast — no shuffle. It is written
        # once; the footers say whether any row survived (no second job).
        kept_ids = filter_deleted(
            union_dirs("doclen", m.unmerged), d, hidden=True
        ).select("doc_id").distinct()
        out = m.fresh("deleted_docs")
        d.join(kept_ids, "doc_id", "semi").write.mode("overwrite").parquet(
            out
        )
        if footer_rows("deleted_docs", [out]):
            return n_docs, True
        shutil.rmtree(out)
        return n_docs, False
    # ------------------------------------------------------------------- GC

    def expire_snapshots(self, keep_last: int = 2) -> list[str]:
        """Drop old snapshots and delete the data dirs no kept snapshot
        references; then sweep dirs referenced by NO snapshot (debris of
        crashed operations) — UNLESS a frozen stage exists, whose
        already-moved-but-uncommitted dirs look like orphans and must
        survive for its recovery commit. Time travel reaches only kept
        snapshots afterwards. Call between mutations (single-writer
        schedule)."""
        dead = self.cat.expire(keep_last)
        if not self._frozen_stages():
            dead = dead + self.cat.sweep_orphans()
        return dead

    def _frozen_stages(self) -> list[str]:
        return [
            d
            for d in os.listdir(self.index_dir)
            if d.startswith("__stage")
            and self.is_staged(os.path.join(self.index_dir, d))
        ]

    def _unrecovered_stages(self) -> list[str]:
        """Frozen stages whose commit has NOT landed — the crash window
        between staging and the snapshot swap. (A frozen stage whose token
        already appears in the chain is merely awaiting cleanup.)"""
        return unrecovered_stage_names(self.index_dir)

    def recover_stages(self) -> list[str]:
        """Finish the commit of every frozen stage, then drop it. Stream
        batch stages (``__stage_batch_<id>``) re-derive their batch id
        from the directory name so the recovered commit still lands in
        the exactly-once ledger. Returns the recovered stage names."""
        recovered = []
        for d in self._frozen_stages():
            stage = os.path.join(self.index_dir, d)
            batch_id = None
            if d.startswith("__stage_batch_"):
                suffix = d[len("__stage_batch_"):]
                if suffix.isdigit():
                    batch_id = int(suffix)
            self.commit_add(stage, batch_id=batch_id)
            shutil.rmtree(stage)
            recovered.append(d)
        return recovered
