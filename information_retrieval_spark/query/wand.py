"""Block-max WAND top-k over the packed compressed index (north_star
query path).

Physical shape (SURVEY.md §3.1 redesign). A batch reads two frames, both
keyed and partitioned by the doc-hash ``bucket``
(``pmod(xxhash64(doc_id), n_buckets)``, fixed at build):

* the **shard** — the packed blocks of the batch's terms (query terms,
  their prefix expansions, filter terms), pruned by parquet row-group
  min/max on the term-sorted layout; cached per batch;
* the **side** — every doclen row, tombstone and category row of the
  engine's pinned snapshot (query/snapshot.py) with its segment sequence;
  built and cached on first use. The statistics pass reads its doclen,
  tombstone and filtered-on category rows; the scoring pass only its
  tombstone and filtered-on category rows.

Then two bucket-grouped ``applyInPandas`` passes over the same cached
frames, so neither adds an exchange:

1. **statistics** — each bucket decodes doc_ids only and emits partial
   sums of the BM25 quirks' inputs (Q1 N = |candidate set|, Q2 candidate
   avgdl per section, live df per query term). A doc lives in exactly one
   bucket, so the partials add up across buckets; the driver sums them
   (`_Bucket.stats` explains the prefix-mode has_exact gate);
2. **scoring** — classic WAND with block-granular skipping per bucket, one
   exact top-k list per (bucket, query), merged into the global top-k on
   the driver (SURVEY.md §7 M5).

A warm batch therefore runs 4 Spark jobs: the shard's exchange, its cache,
and one per pass.

Correctness stance: WAND is an EXACT top-k algorithm — results are
rank-identical to the exhaustive scorer (`query/engine.py`), which tests
assert; skipping only prunes work. Because a doc's bucket is a pure
function of doc_id, every posting of a doc lands in one bucket: bucket-local
scoring is complete, and per-bucket top-k ∪ global re-rank is exact.

Skipping levels:
* pivot selection uses per-(term,section) global upper bounds
  (max over blocks of ub(max_tf, min_dl)) — classic WAND;
* advancing a cursor to the pivot skips whole blocks on (last_doc < pivot)
  WITHOUT decoding them — the block-max/delta-gap layout's payoff;
* per-query idf and avgdl enter the bounds at query time (the blocks store
  tf-side components only — SURVEY.md §7 hard-part b).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from information_retrieval_spark.index.codec import decode_doc_gaps, varint_decode
from information_retrieval_spark.query.engine import K1, B, QuerySpec
from information_retrieval_spark.query.snapshot import IndexSnapshot

#: packed columns a bucket pass reads
_SHARD_COLS = (
    "bucket", "term", "section", "segment", "seg_seq", "block_id",
    "first_doc", "last_doc", "docs_bin", "tfs_bin", "dls_bin", "max_tf",
    "min_dl",
)

_STATS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("mask", T.StringType(), False),
        T.StructField("exact", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("dls", T.ArrayType(T.DoubleType(), False), False),
    ]
)

_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

_RESULT_SCHEMA = "query_id long, rank int, doc_id long, score double"


def _tf_norm(tf: float, dl: float, avgdl: float) -> float:
    return tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))


class _List:
    """Cursor over one (term, section) posting run within a bucket.

    ``dead`` (optional uint64 array) carries the doc_ids that seq-scoped
    tombstones hide in THIS segment while the doc stays live in a newer
    one (an updated doc awaiting compaction): those postings are filtered
    out at decode time, invisibly to the WAND machinery above. Block
    metadata (first/last doc, max bounds) stays the packed original —
    conservative, so exactness is preserved — which means ``cur_doc`` on
    an undecoded block is OPTIMISTIC (it may name a filtered doc);
    callers that are about to trust it call ``materialize()`` first.
    Fully-hidden docs (dead in every segment of the bucket) never reach
    this path — they ride `_wand_query`'s zero-decode ``deleted`` set."""

    __slots__ = ("blocks", "bi", "off", "docs", "tfs", "dls", "weight",
                 "avgdl", "ub", "dead")

    def __init__(self, blocks: list, weight: float, avgdl: float,
                 dead: np.ndarray | None = None):
        # blocks: list of (first_doc, last_doc, docs_bin, tfs_bin, dls_bin,
        #                  max_tf, min_dl) sorted by block_id
        self.blocks = blocks
        self.bi = 0
        self.off = 0
        self.docs = None  # decoded lazily
        self.tfs = None
        self.dls = None
        self.weight = weight  # mult * idf * section_weight
        self.avgdl = avgdl
        self.dead = dead if dead is not None and len(dead) else None
        self.ub = weight * max(
            _tf_norm(b[5], b[6], avgdl) for b in blocks
        )

    def exhausted(self) -> bool:
        return self.bi >= len(self.blocks)

    def cur_doc(self) -> int:
        if self.docs is None:
            return self.blocks[self.bi][0]  # first_doc — no decode;
            # optimistic under dead-filtering (see class docstring)
        return int(self.docs[self.off])

    def materialize(self) -> None:
        """Decode the current position so ``cur_doc`` is a real, live
        posting (or the cursor is exhausted). No-op when already decoded;
        in the common no-dead case this is the same decode that
        contribution()/advance() would do anyway."""
        if self.docs is None and not self.exhausted():
            self._decode()

    def _decode(self) -> None:
        """Decode the current block, dropping dead postings; blocks that
        filter to empty are skipped entirely (cursor may exhaust)."""
        while self.bi < len(self.blocks):
            b = self.blocks[self.bi]
            docs = decode_doc_gaps(b[2])
            tfs = varint_decode(b[3])
            dls = varint_decode(b[4])
            if self.dead is not None:
                mask = ~np.isin(docs, self.dead)
                if not mask.all():
                    docs, tfs, dls = docs[mask], tfs[mask], dls[mask]
            if len(docs):
                self.docs, self.tfs, self.dls = docs, tfs, dls
                return
            self.bi += 1
            self.off = 0
        self.docs = self.tfs = self.dls = None

    def contribution(self) -> float:
        if self.docs is None:
            self._decode()
        tf = float(self.tfs[self.off])
        dl = float(self.dls[self.off])
        return self.weight * _tf_norm(tf, dl, self.avgdl)

    def cur_tf_dl(self) -> tuple[float, float]:
        if self.docs is None:
            self._decode()
        return float(self.tfs[self.off]), float(self.dls[self.off])

    def advance(self) -> None:
        """Next posting."""
        if self.docs is None:
            self._decode()
            if self.docs is None:
                return  # dead-filtering exhausted the remaining blocks
        self.off += 1
        if self.off >= len(self.docs):
            self.bi += 1
            self.off = 0
            self.docs = self.tfs = self.dls = None

    def seek(self, target: int) -> None:
        """Advance to first doc ≥ target, skipping blocks undecoded."""
        while not self.exhausted() and self.blocks[self.bi][1] < target:
            self.bi += 1
            self.off = 0
            self.docs = self.tfs = self.dls = None
        if self.exhausted():
            return
        if self.docs is None:
            if self.blocks[self.bi][0] >= target:
                return  # first_doc already ≥ target; stay undecoded
            self._decode()
            if self.docs is None:
                return  # dead-filtering exhausted the remaining blocks
        j = int(np.searchsorted(self.docs[self.off :], target)) + self.off
        if j >= len(self.docs):
            self.bi += 1
            self.off = 0
            self.docs = self.tfs = self.dls = None
            self.seek(target)
        else:
            self.off = j


class _SegmentedList:
    """Cursor over the CONCATENATION of one (term, section)'s posting runs
    across LSM segments (index/maintenance.py: each incremental add commits
    a new packed segment instead of repacking). Segment doc-id sets are
    DISJOINT at the LIVE level: fresh adds use fresh doc_ids, and an
    updated doc's old-segment postings are dead (seq-scoped tombstones)
    and filtered out inside each run's `_List` — so at any point exactly
    one run holds the minimum doc — contribution/advance delegate to it,
    and the upper bound is the max of the per-segment bounds (tight,
    unlike a sum: no doc can combine tf across segments)."""

    __slots__ = ("runs", "weight", "avgdl", "ub", "blocks")

    def __init__(self, runs: list[_List], weight: float, avgdl: float):
        self.runs = runs
        self.weight = weight
        self.avgdl = avgdl
        # flattened view for _MergedList's Σ max_tf / min min_dl bound
        self.blocks = [b for r in runs for b in r.blocks]
        self.ub = max(r.ub for r in runs)

    def exhausted(self) -> bool:
        return all(r.exhausted() for r in self.runs)

    def _min_run(self) -> _List:
        best = None
        for r in self.runs:
            if not r.exhausted() and (
                best is None or r.cur_doc() < best.cur_doc()
            ):
                best = r
        return best

    def cur_doc(self) -> int:
        return self._min_run().cur_doc()

    def contribution(self) -> float:
        return self._min_run().contribution()

    def cur_tf_dl(self) -> tuple[float, float]:
        return self._min_run().cur_tf_dl()

    def advance(self) -> None:
        self._min_run().advance()

    def seek(self, target: int) -> None:
        for r in self.runs:
            if not r.exhausted():
                r.seek(target)

    def materialize(self) -> None:
        """Decode-verify the minimum position: dead-filtering may reveal
        a run's optimistic first_doc was hidden, shifting the min —
        loop until the min run(s) are decoded and stable."""
        while True:
            doc = None
            for r in self.runs:
                if not r.exhausted():
                    c = r.cur_doc()
                    if doc is None or c < doc:
                        doc = c
            if doc is None:
                return
            moved = False
            for r in self.runs:
                if not r.exhausted() and r.cur_doc() == doc:
                    r.materialize()
                    if r.exhausted() or r.cur_doc() != doc:
                        moved = True
            if not moved:
                return


class _MergedList:
    """Cursor over the UNION of several posting runs — the prefix-expansion
    semantics (`trie/phase1.py:17-36` via `engine.py::_matched`): a query
    term in prefix mode matches every vocabulary term it prefixes, and the
    per-doc tf is the SUM over the expansion. tf_norm is applied to the
    merged tf (not per-run), exactly like the exhaustive engine's
    ``groupBy(...).sum(tf)`` before scoring.

    ub uses tf_norm(Σ run-max tf, min run-min dl): tf_norm is monotone ↑ in
    tf and ↓ in dl, so this bounds any doc's merged contribution.
    """

    __slots__ = ("runs", "weight", "avgdl", "ub")

    def __init__(self, runs: list[_List], weight: float, avgdl: float):
        self.runs = runs
        self.weight = weight
        self.avgdl = avgdl
        max_tf_sum = sum(max(b[5] for b in r.blocks) for r in runs)
        min_dl = min(min(b[6] for b in r.blocks) for r in runs)
        self.ub = weight * _tf_norm(max_tf_sum, min_dl, avgdl)

    def exhausted(self) -> bool:
        return all(r.exhausted() for r in self.runs)

    def cur_doc(self) -> int:
        return min(r.cur_doc() for r in self.runs if not r.exhausted())

    def contribution(self) -> float:
        d = self.cur_doc()
        tf = 0.0
        dl = 0.0
        for r in self.runs:
            if not r.exhausted() and r.cur_doc() == d:
                t, l = r.cur_tf_dl()
                tf += t
                dl = l  # dl is per (doc, section): identical across runs
        return self.weight * _tf_norm(tf, dl, self.avgdl)

    def advance(self) -> None:
        d = self.cur_doc()
        for r in self.runs:
            if not r.exhausted() and r.cur_doc() == d:
                r.advance()

    def seek(self, target: int) -> None:
        for r in self.runs:
            if not r.exhausted():
                r.seek(target)

    def materialize(self) -> None:
        """Same min-stabilizing loop as `_SegmentedList.materialize` (the
        runs here are `_List`/`_SegmentedList`, both materializable)."""
        while True:
            doc = None
            for r in self.runs:
                if not r.exhausted():
                    c = r.cur_doc()
                    if doc is None or c < doc:
                        doc = c
            if doc is None:
                return
            moved = False
            for r in self.runs:
                if not r.exhausted() and r.cur_doc() == doc:
                    r.materialize()
                    if r.exhausted() or r.cur_doc() != doc:
                        moved = True
            if not moved:
                return


def _wand_query(
    lists: list, k: int, deleted: frozenset = frozenset(), allowed=None
) -> list[tuple[int, float]]:
    """Exact top-k (doc_id, score) under the FINAL output ordering
    (-round(score, 9), doc_id); ``deleted`` docs are advanced past without
    entering the heap. ``allowed`` (optional doc_id → bool) implements the
    category filter: failing docs are treated exactly like deleted ones.

    The heap is keyed by (round(score, 9), -doc_id) — the exact downstream
    ordering — so eviction can never discard a doc that out-ranks a kept
    one at a rounding-boundary near-tie (raw-score eviction had a
    1e-12..5e-10 collision band). The pivot threshold θ is therefore the
    ROUNDED k-th score; pruning keeps anything within 1e-9 of it, which
    covers the 5e-10 rounding half-step with margin."""
    heap: list[tuple[float, int, float]] = []  # (round9, -doc_id, raw)
    lists = [L for L in lists if not L.exhausted()]
    while True:
        lists = [L for L in lists if not L.exhausted()]
        if not lists:
            break
        lists.sort(key=lambda L: L.cur_doc())
        theta = heap[0][0] if len(heap) >= k else float("-inf")
        acc = 0.0
        pivot_idx = None
        for i, L in enumerate(lists):
            acc += L.ub
            # a doc with Σub just below θ can still round equal to the
            # k-th score and win its doc_id tie — don't skip it
            if acc >= theta - 1e-9:
                pivot_idx = i
                break
        if pivot_idx is None:
            break  # Σ ub ≪ θ: no remaining doc can enter the top-k
        pivot = lists[pivot_idx].cur_doc()
        if lists[0].cur_doc() == pivot:
            # decode-verify every claimant: under seq-scoped tombstones an
            # undecoded block's first_doc can be a hidden posting of an
            # updated doc — materialize() filters it and moves the cursor
            # forward. Cheap: claimants decode for contribution()/advance()
            # anyway; cursors only move forward, so the loop terminates.
            any_at_pivot = False
            for L in lists:
                if not L.exhausted() and L.cur_doc() == pivot:
                    L.materialize()
                    if not L.exhausted() and L.cur_doc() == pivot:
                        any_at_pivot = True
            if not any_at_pivot:
                continue  # the pivot doc was fully dead here; re-pick
            live = pivot not in deleted and (allowed is None or allowed(pivot))
            score = 0.0
            if live:
                for L in lists:
                    if not L.exhausted() and L.cur_doc() == pivot:
                        score += L.contribution()
            for L in lists:
                if not L.exhausted() and L.cur_doc() == pivot:
                    L.advance()
            if live:
                item = (round(score, 9), -pivot, score)
                if len(heap) < k:
                    heapq.heappush(heap, item)
                elif item[:2] > heap[0][:2]:
                    heapq.heapreplace(heap, item)
        else:
            # advance the laggard(s) to the pivot, skipping blocks
            lists[0].seek(pivot)
    return [(-nd, raw) for _, nd, raw in heap]


@dataclass(frozen=True)
class _Plan:
    """One query's bucket-side spec: its qterms, each with the index terms
    it matches (itself in exact mode, its prefix expansion otherwise; bit
    i of a candidate mask is the i-th qterm), and its filters (category,
    must-have terms, excluded terms)."""

    qterms: dict[str, list[str]]
    want: str | None
    must: tuple[str, ...]
    exclude: tuple[str, ...]

    @property
    def filtered(self) -> bool:
        return self.want is not None or bool(self.must or self.exclude)


class _Bucket:
    """One doc-hash bucket of a batch: the shard's blocks plus the side
    rows (doclen, tombstones, categories) of the same bucket that the pass
    reads. A doc's postings, doclen rows, tombstones and category all hash
    to one bucket, so everything a statistic or a score needs about a doc
    is here."""

    def __init__(self, shard: pd.DataFrame, side: pd.DataFrame,
                 sections: list[str]):
        # (term, section) → {segment → block run}: each LSM segment is its
        # own sorted, non-overlapping run
        self.by_ts: dict[tuple[str, str], dict[int, list]] = {}
        self.seq_of_seg: dict[int, int] = {}
        shard = shard.sort_values(["term", "section", "segment", "block_id"])
        for r in shard.itertuples(index=False):
            self.seq_of_seg[int(r.segment)] = int(r.seg_seq)
            self.by_ts.setdefault((r.term, r.section), {}).setdefault(
                int(r.segment), []
            ).append(
                (r.first_doc, r.last_doc, r.docs_bin, r.tfs_bin,
                 r.dls_bin, r.max_tf, r.min_dl)
            )
        # term → its (segment, block run)s over all sections
        self._runs: dict[str, list[tuple[int, list]]] = {}
        for (t, _), segs in self.by_ts.items():
            self._runs.setdefault(t, []).extend(segs.items())
        self._docs: dict[str, np.ndarray] = {}
        kind = side["kind"].to_numpy()
        docs = side["doc_id"].to_numpy(np.int64)
        vals = side["v"].to_numpy(np.int64)
        # a doc's tombstones collapse to the max upto, as in the delete
        # vector (IndexSnapshot.deletes)
        is_del = kind == "del"
        tomb = pd.Series(vals[is_del]).groupby(docs[is_del]).max()
        self.del_docs = tomb.index.to_numpy(np.int64)
        self.del_upto = tomb.to_numpy(np.int64)
        live = ~is_del
        live[live] = ~self.hidden(
            docs[live], side["seq"].to_numpy(np.int64)[live]
        )
        # live (doc, section, dl) rows, looked up for candidates only
        is_dl = live & (kind == "dl")
        self.sections = sections
        self.dl_rows = (docs[is_dl], side["s"].to_numpy()[is_dl], vals[is_dl])
        is_cat = live & (kind == "cat")
        self.cat_docs = docs[is_cat]
        self.cat_vals = side["s"].to_numpy()[is_cat]

    def hidden(self, docs: np.ndarray, seqs) -> np.ndarray:
        """Rows of ``docs`` (from segments with sequence ``seqs``) that a
        seq-scoped tombstone hides: some tombstone has ``upto >= seq``."""
        if not len(self.del_docs) or not len(docs):
            return np.zeros(len(docs), dtype=bool)
        i = np.minimum(
            np.searchsorted(self.del_docs, docs), len(self.del_docs) - 1
        )
        return (self.del_docs[i] == docs) & (self.del_upto[i] >= seqs)

    def dl_of(self, docs: np.ndarray) -> np.ndarray:
        """Per-section lengths of the sorted, unique live ``docs`` (one row
        per doc; a missing section has dl = 0, quirk Q2)."""
        out = np.zeros((len(docs), len(self.sections)))
        dl_docs, secs, vals = self.dl_rows
        if not len(docs) or not len(dl_docs):
            return out
        i = np.minimum(np.searchsorted(docs, dl_docs), len(docs) - 1)
        hit = docs[i] == dl_docs
        for j, s in enumerate(self.sections):
            m = hit & (secs == s)
            out[i[m], j] = vals[m]
        return out

    def docs_of(self, term: str) -> np.ndarray:
        """Sorted live doc_ids holding ``term`` in any section (doc_ids
        decoded only; memoized per term)."""
        got = self._docs.get(term)
        if got is None:
            parts = [np.empty(0, dtype=np.int64)]
            for seg, blocks in self._runs.get(term, ()):
                d = np.concatenate(
                    [decode_doc_gaps(b[2]) for b in blocks]
                ).astype(np.int64)
                parts.append(d[~self.hidden(d, self.seq_of_seg[seg])])
            got = self._docs[term] = np.unique(np.concatenate(parts))
        return got

    def admits(self, plan: _Plan):
        """doc_id → passes the query's filters (`_wand_query`'s
        ``allowed``); pivot docs are live already."""
        sets = [(set(self.docs_of(t).tolist()), True) for t in plan.must]
        sets += [(set(self.docs_of(t).tolist()), False) for t in plan.exclude]
        if plan.want is not None:
            cat = self.cat_docs[self.cat_vals == plan.want]
            sets.append((set(cat.tolist()), True))
        return lambda doc: all((doc in s) == need for s, need in sets)

    def keep(self, plan: _Plan, docs: np.ndarray) -> np.ndarray:
        """Which of ``docs`` pass the query's filters."""
        ok = np.ones(len(docs), dtype=bool)
        if plan.want is not None:
            ok &= np.isin(docs, self.cat_docs[self.cat_vals == plan.want])
        for t in plan.must:
            ok &= np.isin(docs, self.docs_of(t))
        for t in plan.exclude:
            ok &= ~np.isin(docs, self.docs_of(t))
        return ok

    def stats(self, plans: dict[int, _Plan]) -> pd.DataFrame:
        """Per query, this bucket's live, filter-passing candidates grouped
        by the set of qterms they match (``mask``, one '0'/'1' per qterm):
        the group's size and per-section dl sums. Plus ``exact``: which
        qterms' exact term has such a doc here.

        Every figure adds up across buckets, and the masks keep the
        prefix-mode has_exact gate exact: a qterm survives only if its
        exact term is live and passes the filters in SOME bucket — an OR
        no single bucket can decide. The driver ORs ``exact``, then sums
        only the groups whose mask hits a surviving qterm (n_cand, avgdl)
        and, per surviving qterm, the groups holding its bit (df)."""
        out: list[tuple] = []
        if not self.by_ts:
            return pd.DataFrame(out, columns=_STATS_SCHEMA.fieldNames())
        found = []  # (qid, candidates, qterm membership, exact bits)
        for qid, plan in plans.items():
            if not plan.qterms:
                continue
            per, exact = [], []
            for t, expand in plan.qterms.items():
                d = np.unique(
                    np.concatenate([self.docs_of(e) for e in expand])
                )
                e = self.docs_of(t)
                if plan.filtered:
                    d = d[self.keep(plan, d)]
                    e = e[self.keep(plan, e)]
                per.append(d)
                exact.append("1" if len(e) else "0")
            cands = np.unique(np.concatenate(per))
            if not len(cands):
                continue
            member = np.zeros((len(cands), len(per)), dtype=bool)
            for i, d in enumerate(per):
                member[np.searchsorted(cands, d), i] = True
            found.append((qid, cands, member, "".join(exact)))
        if not found:
            return pd.DataFrame(out, columns=_STATS_SCHEMA.fieldNames())
        every = np.unique(np.concatenate([f[1] for f in found]))
        every_dl = self.dl_of(every)
        for qid, cands, member, ex in found:
            groups, inv = np.unique(member, axis=0, return_inverse=True)
            inv = inv.reshape(-1)
            n = np.bincount(inv, minlength=len(groups))
            dls = every_dl[np.searchsorted(every, cands)]
            sums = np.stack(
                [np.bincount(inv, weights=dls[:, s], minlength=len(groups))
                 for s in range(dls.shape[1])],
                axis=1,
            )
            for g, bits in enumerate(groups.astype(int)):
                mask = "".join(map(str, bits))
                out.append((qid, mask, ex, int(n[g]), sums[g].tolist()))
        return pd.DataFrame(out, columns=_STATS_SCHEMA.fieldNames())

    def top_k(
        self, qmeta: dict[int, dict], plans: dict[int, _Plan]
    ) -> pd.DataFrame:
        """Exact per-query top-k of this bucket by block-max WAND."""
        out_q, out_d, out_s = [], [], []
        if not self.by_ts:
            return pd.DataFrame(
                {"query_id": out_q, "doc_id": out_d, "score": out_s}
            )
        # tombstones split two ways:
        # * upto >= every segment seq in this bucket → the doc is dead
        #   in ALL its postings here: zero-decode skip at pivot level
        #   (the classic delete path, `deleted` in _wand_query);
        # * upto below the newest seq (an updated doc whose re-added
        #   rows live in a newer segment) → per-segment dead arrays,
        #   filtered out inside `_List._decode`. Mutually exclusive by
        #   construction — advance() past a pivot-level-deleted doc
        #   must still SEE its posting, or it would skip a live one.
        max_seq = max(self.seq_of_seg.values())
        dead_all = frozenset(self.del_docs[self.del_upto >= max_seq].tolist())
        partial = self.del_upto < max_seq
        dead_of_seq: dict[int, np.ndarray | None] = {}
        for s in set(self.seq_of_seg.values()):
            ids = self.del_docs[partial & (self.del_upto >= s)]
            dead_of_seq[s] = ids.view(np.uint64) if len(ids) else None

        def cursor(key: tuple[str, str], weight: float, avgdl: float):
            segs = [
                _List(blocks, weight, avgdl,
                      dead=dead_of_seq[self.seq_of_seg[seg]])
                for seg, blocks in sorted(self.by_ts[key].items())
            ]
            return segs[0] if len(segs) == 1 else _SegmentedList(
                segs, weight, avgdl
            )

        for qid, meta in qmeta.items():
            plan = plans[qid]
            lists = []
            for (qterm, s), m in meta["terms"].items():
                runs = [
                    cursor((t, s), m["weight"], m["avgdl"])
                    for t in plan.qterms[qterm]
                    if (t, s) in self.by_ts
                ]
                if len(runs) == 1:
                    lists.append(runs[0])
                elif runs:
                    lists.append(_MergedList(runs, m["weight"], m["avgdl"]))
            if not lists:
                continue
            # filtered docs are skipped like deleted ones
            allowed = self.admits(plan) if plan.filtered else None
            k = meta["k"] if meta["k"] > 0 else 1 << 30
            for doc, score in _wand_query(lists, k, dead_all, allowed):
                out_q.append(qid)
                out_d.append(doc)
                out_s.append(score)
        return pd.DataFrame(
            {"query_id": out_q, "doc_id": out_d, "score": out_s}
        )


class WandEngine:
    """BM25 top-k via block-max WAND over ``<index_dir>/packed``.

    Concurrency: a ``SparkSession`` is thread-safe, an engine's CACHE
    handoff is not — ``search()`` swaps the previous batch's persisted
    shard out without a lock, so two threads sharing one engine would
    evict each other's shard mid-batch (correct but recompute-taxed).
    For concurrent serving hold ONE ENGINE PER WORKER THREAD over the
    same index_dir and ``close()`` each when done (per-engine executor
    storage is the bucket side frame + one query-term shard);
    measured throughput for that model: BENCH/BASELINE.md "Concurrent
    query throughput" (`scripts/bench_qps.py`)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        version: int | None = None,
        max_prefix_expand: int = 20_000,
    ):
        """``max_prefix_expand`` bounds how many dictionary terms a prefix
        batch may expand to: WAND collects the expansion to the driver
        (it becomes the packed scan's literal ``In`` pushdown and the
        per-query cursor set), which is safe for sane prefixes but would
        be a driver OOM for a 1-char prefix over a billion-term
        dictionary. Over-budget batches raise with guidance instead —
        ``SearchEngine``'s prefix expansion stays fully distributed and
        has no such bound.

        ``version`` pins a catalog snapshot (time travel; None = the
        current one, resolved once, here: query/snapshot.py). The packed
        table arrives with its LSM ``segment`` column (catalog.read_packed):
        incremental adds commit new segments instead of repacking, and the
        per-bucket scorer merges segment cursors."""
        self.spark = spark
        self.snapshot = IndexSnapshot(spark, index_dir, version)
        # resolved at open: its schema read is a Spark job that would
        # otherwise land in the first search()
        self.packed = self.snapshot.packed
        self.n_buckets = int(self.snapshot.config.get("n_buckets", 8))
        # partition count of both cached bucket frames: equal counts let
        # every bucket-grouped pass read them without a new exchange. At
        # most one task per core: a pandas-UDF task pays a fixed Python
        # hand-off, so a second wave of tasks costs more than it spreads
        self._partitions = max(
            1, min(self.n_buckets, spark.sparkContext.defaultParallelism)
        )
        self.max_prefix_expand = max_prefix_expand
        self._dl_map_df = None
        self._last_shard = None
        #: the last batch's corpus statistics per query_id: ``n_cand``
        #: (quirk Q1 N), ``avgdl`` per section (Q2) and live ``df`` per
        #: surviving qterm — what the BM25 weights were computed from
        self.last_stats: dict[int, dict] = {}

    def close(self) -> None:
        """Release this engine's persisted executor state (the bucket side
        frame and the last batch's term shard). A WandEngine keeps both
        cached across ``search()`` calls so a query stream amortizes them; a
        long-lived process that cycles through many engines (one per
        index/snapshot — e.g. a size sweep, a multi-tenant server) must
        close each one or the abandoned cache blocks accumulate in
        executor storage memory until eviction churn taxes every later
        job (measured: a 3-size sweep that skipped close() showed 2.7×
        on the LAST index's warm query batch vs the same batch isolated;
        BENCH/BASELINE.md corpus-size section). Idempotent; the engine
        remains usable after close() — the next search() re-caches."""
        if self._dl_map_df is not None:
            self._dl_map_df.unpersist()
            self._dl_map_df = None
        if self._last_shard is not None:
            self._last_shard.unpersist()
            self._last_shard = None

    def __enter__(self) -> "WandEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # ------------------------------------------------------------- helpers

    def _side(self) -> DataFrame:
        """The bucket side frame, built and cached on first use (and again
        after ``close()``): every doclen row, tombstone and category row of
        the snapshot (`IndexSnapshot.doc_rows`), partitioned like the
        per-batch shard. Rows keep their segment sequence; `_Bucket`
        resolves seq-scoped tombstones per bucket, so no anti-join runs
        here and nothing corpus-sized passes through the driver."""
        if self._dl_map_df is None:
            doc = F.col("doc_id").cast("long")
            self._dl_map_df = self.snapshot.doc_rows().select(
                F.pmod(F.xxhash64(doc), F.lit(self.n_buckets))
                .cast("int").alias("bucket"),
                doc.alias("doc_id"), "kind", "s",
                F.col("v").cast("long").alias("v"),
                F.col("seq").cast("long").alias("seq"),
            ).repartition(self._partitions, "bucket").persist()
        return self._dl_map_df

    # ---------------------------------------------------------------- main

    def _expand_prefix(self, qterms: set[str]) -> dict[str, list[str]]:
        """qterm → matching postings terms (prefix semantics,
        `trie/phase1.py:17-36`): every indexed term the qterm prefixes,
        GATED on the exact term existing (`has_exact` in engine._matched).
        One pushed-filter scan of the term dictionary. Under logical
        deletes the gate is re-checked against the LIVE matched stream in
        ``search`` (term_df is only refreshed at compact, so a fully
        deleted exact term must still suppress its expansion)."""
        from functools import reduce
        from operator import or_

        if not qterms:
            return {}
        cond = reduce(or_, [F.col("term").startswith(t) for t in qterms])
        cap = self.max_prefix_expand
        hits = self.snapshot.term_df.filter(cond).limit(cap + 1).collect()
        terms = [r.term for r in hits]
        if len(terms) > cap:
            raise ValueError(
                f"prefix expansion exceeds max_prefix_expand={cap} "
                f"dictionary terms for qterms {sorted(qterms)[:5]}...; "
                "narrow the prefixes, raise max_prefix_expand, or use "
                "SearchEngine (its prefix expansion is fully distributed)"
            )
        out: dict[str, list[str]] = {}
        have = set(terms)
        for q in qterms:
            if q in have:
                out[q] = [t for t in terms if t.startswith(q)]
        return out

    def search(self, queries: list[QuerySpec]) -> DataFrame:
        """(query_id, rank, doc_id, score) — rank-identical to the
        exhaustive engine for both match modes (okapi25).

        Runs the batch before returning: one statistics pass and one
        scoring pass, both bucket-grouped over the same cached frames, and
        a driver-side merge of the per-bucket top-k lists into the returned
        frame. That is at most ``n_buckets · k`` rows per query for k > 0;
        a k < 0 query ("all results") brings every candidate to the
        driver."""
        # The packed blocks carry BM25-shaped bounds (max_tf, min_dl);
        # tf-idf cosine would need per-block norm metadata the index
        # doesn't store. Refuse loudly rather than silently scoring a
        # ltn/ltc spec with BM25 (SearchEngine serves those methods).
        bad = sorted({q.method for q in queries} - {"okapi25"})
        if bad:
            raise ValueError(
                f"WandEngine scores okapi25 only (got {bad}); "
                "use SearchEngine for ltn-lnn / ltc-lnc"
            )
        modes = {q.match_mode for q in queries}
        assert len(modes) == 1, "mixed match modes: split the batch"
        mode = modes.pop()
        self.last_stats = {}
        qtoks: dict[int, dict[str, int]] = {}
        for q, toks in zip(queries, self.snapshot.query_terms(queries)):
            mult: dict[str, int] = {}
            for t in toks:
                mult[t] = mult.get(t, 0) + 1
            qtoks[q.query_id] = mult
        uniq_qterms = {t for m in qtoks.values() for t in m}
        if mode == "prefix":
            expansions = self._expand_prefix(uniq_qterms)
        else:
            expansions = {t: [t] for t in uniq_qterms}
        plans = {
            q.query_id: _Plan(
                qterms={
                    t: expansions[t]
                    for t in qtoks[q.query_id]
                    if t in expansions
                },
                want=q.filter_category,
                must=tuple(dict.fromkeys(q.filter_terms or ())),
                exclude=tuple(dict.fromkeys(q.exclude_terms or ())),
            )
            for q in queries
        }
        if not any(p.qterms for p in plans.values()):
            return self._result()
        if any(p.want is not None for p in plans.values()) and (
            self.snapshot.doc_meta is None
        ):
            raise ValueError(
                "filter_category requires an index built with"
                " IndexBuilder(category_col=...)"
            )
        # filter_terms / exclude_terms (Lucene filter context) ride in the
        # shard: a doc's presence is read off the filter terms' own blocks
        # in its bucket, live-filtered like every other posting
        shard_terms = sorted(
            {t for ts in expansions.values() for t in ts}
            | {t for p in plans.values() for t in p.must + p.exclude}
        )
        shard = (
            self.packed.filter(F.col("term").isin(shard_terms))
            .select(*_SHARD_COLS)
            .repartition(self._partitions, "bucket")
            .persist()
        )
        if self._last_shard is not None:
            self._last_shard.unpersist()
        self._last_shard = shard
        # each pass reads only the side rows it uses: tombstones, the
        # categories a query filters on, and (statistics only) doclen. A
        # filter keeps the cached frame's bucket partitioning, so neither
        # cogroup adds an exchange
        side = self._side()
        wants = sorted({p.want for p in plans.values() if p.want is not None})
        rows = F.col("kind") == "del"
        if wants:
            rows |= (F.col("kind") == "cat") & F.col("s").isin(wants)
        score_side = side.filter(rows)
        stats_side = side.filter(rows | (F.col("kind") == "dl"))
        sections = self.snapshot.sections

        # --- statistics pass: per-bucket partial sums, added on the driver
        def stats_bucket(
            left: pd.DataFrame, right: pd.DataFrame
        ) -> pd.DataFrame:
            return _Bucket(left, right, sections).stats(plans)

        stats = (
            shard.groupby("bucket")
            .cogroup(stats_side.groupby("bucket"))
            .applyInPandas(stats_bucket, _STATS_SCHEMA)
            .collect()
        )
        masks: dict[int, dict[str, list]] = {}
        exact: dict[int, set[int]] = {}
        for r in stats:
            acc = masks.setdefault(r.query_id, {}).setdefault(
                r.mask, [0, np.zeros(len(sections))]
            )
            acc[0] += r.n
            acc[1] += np.asarray(r.dls, dtype=np.float64)
            exact.setdefault(r.query_id, set()).update(
                i for i, c in enumerate(r.exact) if c == "1"
            )

        # --- corpus statistics per query: sum the bucket partials, gated
        # by the live has_exact OR (engine._matched; see `_Bucket.stats`)
        for q in queries:
            alive = exact.get(q.query_id, set())
            hits = [
                (n, dls, {i for i, c in enumerate(m) if c == "1"})
                for m, (n, dls) in masks.get(q.query_id, {}).items()
            ]
            cand = [(n, dls) for n, dls, bits in hits if bits & alive]
            nq = sum(n for n, _ in cand)
            self.last_stats[q.query_id] = {
                "n_cand": nq,
                "avgdl": dict(zip(
                    sections, (sum(d for _, d in cand) / nq).tolist()
                )) if nq else {},
                "df": {
                    t: sum(n for n, _, bits in hits if i in bits)
                    for i, t in enumerate(plans[q.query_id].qterms)
                    if i in alive
                },
            }

        # --- per-query scoring-term meta (weight = mult · idf · w_s) ------
        qmeta: dict[int, dict] = {}
        for q in queries:
            st = self.last_stats[q.query_id]
            nq = st["n_cand"]
            terms = {}
            for t, df in st["df"].items():
                idf = float(np.log((nq - df + 0.5) / (df + 0.5) + 1.0))
                for s, w in self.snapshot.weights(q).items():
                    a = st["avgdl"].get(s)
                    if a is None or a == 0:
                        continue
                    terms[(t, s)] = {
                        "weight": qtoks[q.query_id][t] * idf * w,
                        "avgdl": a,
                    }
            if terms:
                qmeta[q.query_id] = {"terms": terms, "k": q.k}
        if not qmeta:
            return self._result()

        # --- WAND pass per bucket: same cached frames, no new exchange ----
        def wand_bucket(
            left: pd.DataFrame, right: pd.DataFrame
        ) -> pd.DataFrame:
            return _Bucket(left, right, sections).top_k(qmeta, plans)

        per_query: dict[int, list[tuple[int, float]]] = {}
        for r in (
            shard.groupby("bucket")
            .cogroup(score_side.groupby("bucket"))
            .applyInPandas(wand_bucket, _TOPK_SCHEMA)
            .collect()
        ):
            per_query.setdefault(r.query_id, []).append((r.doc_id, r.score))
        # global top-k: the per-bucket lists are exact (a doc lives in one
        # bucket), re-ranked under the scorer's own ordering
        out = []
        for q in queries:
            ranked = sorted(
                per_query.get(q.query_id, ()),
                key=lambda ds: (-round(ds[1], 9), ds[0]),
            )
            if q.k >= 0:
                ranked = ranked[: q.k]
            out.extend(
                (q.query_id, rank, doc, score)
                for rank, (doc, score) in enumerate(ranked, 1)
            )
        return self._result(out)

    def _result(self, rows: list[tuple] = ()) -> DataFrame:
        # from pandas: Arrow turns a local result into a LocalRelation,
        # which the caller's action reads without a Spark job
        pdf = pd.DataFrame(
            list(rows), columns=["query_id", "rank", "doc_id", "score"]
        ).astype({"query_id": "int64", "rank": "int32", "doc_id": "int64",
                  "score": "float64"})
        return self.spark.createDataFrame(pdf, _RESULT_SCHEMA)
