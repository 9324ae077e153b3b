"""The ranked engine (``WandEngine``, also exported as
``query.engine.SearchEngine``): exact block-max top-k over the packed
compressed index for okapi25, ltn-lnn and ltc-lnc.

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
   sums of the quirks' inputs (Q1 N = |candidate set| for BM25, Q2
   candidate avgdl per section, live df per query term, which is also
   tf-idf's df). A doc lives in exactly one bucket, so the partials add up
   across buckets; the driver sums them (`_Bucket.stats` explains the
   prefix-mode has_exact gate);
2. **scoring** — an exact block-at-a-time top-k per bucket, one list per
   (bucket, query), merged into the global top-k on the driver (SURVEY.md
   §7 M5).

A warm batch therefore runs 4 Spark jobs: the shard's exchange, its cache,
and one per pass. An exact-mode batch holding a tf-idf query adds one
pushed-filter lookup of the term dictionary (its query weights count only
the indexed query terms); with deletes present, the first tf-idf batch
also counts the live corpus once (`IndexSnapshot.n_live`).

Correctness stance: the scorer is EXACT — tests check it against the
pure-Python oracle (`tests/oracle.py`) and a brute force over unpacked
postings (`tests/test_wand_scorer.py`); the block bounds only prune work.
Because a doc's bucket is a pure function of doc_id, every posting of a doc
lands in one bucket: bucket-local scoring is complete, and per-bucket
top-k ∪ global re-rank is exact.

Block-at-a-time scoring (`_Bucket.top_k`), per bucket and query:
* every block of the query's (qterm, section) lists — each prefix
  expansion term, each LSM segment — gets a bound on its list's
  contribution, clamped at 0 (a list with a negative section weight can
  only lower a score):
  - okapi25: weight · tf_norm(max_tf, min_dl, avgdl); per-query idf and
    avgdl enter at query time (the blocks store tf-side components only —
    SURVEY.md §7 hard-part b);
  - ltn-lnn: weight · (1 + ln max_tf);
  - ltc-lnc: weight, because a list's (1 + ln tf) / norm ≤ 1;
* the block boundaries cut the doc-id space into intervals; an interval's
  bound is the sum of the bounds of the blocks covering it (one cumulative
  sum). tf_norm is concave with tf_norm(0) = 0 and 1 + ln tf is
  subadditive for tf ≥ 1, so this sum also bounds a prefix-merged tf; the
  metadata is the packed original's, so it stays conservative under
  tombstones, and filters only remove docs;
* intervals are visited in descending bound, in rounds that double in
  size, and only the blocks covering a round's intervals are decoded, in
  one batched varint pass; tombstones and filters are numpy masks. A doc
  lies in one interval, so all its lists are decoded in the round that
  visits it;
* a doc's score is summed with ``np.unique``/``np.bincount`` (merged tf
  per (doc, list), ltc-lnc's norm per (doc, section) over the query's
  matched lists, then the lists' contributions); the scan stops when the
  next interval's bound is below θ − 1e-9, θ being the rounded k-th score
  under the final ordering (-round(score, 9), doc_id); the margin covers
  the 5e-10 rounding half-step.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from information_retrieval_spark.index.codec import decode_doc_gaps, varint_decode
from information_retrieval_spark.query.engine import (
    K1, B, QuerySpec, batch_match_mode,
)

#: the ranking methods a query may name
METHODS = ("okapi25", "ltn-lnn", "ltc-lnc")
from information_retrieval_spark.query.snapshot import IndexSnapshot

#: packed columns a bucket pass reads
_SHARD_COLS = (
    "bucket", "term", "section", "seg_seq", "n", "first_doc", "last_doc",
    "docs_bin", "tfs_bin", "dls_bin", "max_tf", "min_dl",
)

_STATS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("mask", T.StringType(), False),
        T.StructField("exact", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("dl_sums", T.ArrayType(T.DoubleType(), False), False),
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

_NO_ROWS = np.empty(0, dtype=np.intp)


def _round9(x: np.ndarray) -> np.ndarray:
    """``round(v, 9)`` of each score, equal to Python's. Scaling by 1e9,
    ``rint`` and unscaling agree with it unless the scaled value's own
    rounding error may cross a half step (or the scaled value is past
    2^52); those few take ``round``."""
    y = x * 1e9
    out = np.rint(y) / 1e9
    near = np.abs(np.abs(y - np.floor(y)) - 0.5) <= 2 * np.spacing(np.abs(y))
    odd = near | (np.abs(y) >= 2.0**52)
    out[odd] = [round(v, 9) for v in x[odd].tolist()]
    return out


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
        # the shard's blocks as columns, every LSM segment's runs side by
        # side; (term, section) and term map to their block rows
        self.rows_of = shard.groupby(["term", "section"]).indices
        self.rows_of_term = shard.groupby("term").indices
        self.n = shard["n"].to_numpy(np.int64)
        self.first_doc = shard["first_doc"].to_numpy(np.int64)
        self.last_doc = shard["last_doc"].to_numpy(np.int64)
        self.max_tf = shard["max_tf"].to_numpy(np.float64)
        self.min_dl = shard["min_dl"].to_numpy(np.float64)
        self.seq = shard["seg_seq"].to_numpy(np.int64)
        self.docs_bin = shard["docs_bin"].to_numpy()
        self.tfs_bin = shard["tfs_bin"].to_numpy()
        self.dls_bin = shard["dls_bin"].to_numpy()
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

    def doc_ids(self, rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """The doc_ids of blocks ``rows``, decoded in one batched varint
        pass, and each one's index in ``rows``."""
        n = self.n[rows]
        docs = decode_doc_gaps(b"".join(self.docs_bin[rows]))
        # the running sum crosses block boundaries, but each block's gaps
        # restart from its first doc: subtract what the earlier blocks added
        carry = np.zeros(len(n), dtype=np.uint64)
        carry[1:] = docs[np.cumsum(n)[:-1] - 1]
        docs -= np.repeat(carry, n)
        return docs.view(np.int64), np.repeat(np.arange(len(n)), n)

    def docs_of(self, term: str) -> np.ndarray:
        """Sorted live doc_ids holding ``term`` in any section (doc_ids
        decoded only; memoized per term)."""
        got = self._docs.get(term)
        if got is None:
            rows = self.rows_of_term.get(term, _NO_ROWS)
            docs, at = self.doc_ids(rows)
            live = ~self.hidden(docs, self.seq[rows][at])
            got = self._docs[term] = np.unique(docs[live])
        return got

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
        if not self.rows_of:
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
            cand_dl = every_dl[np.searchsorted(every, cands)]
            sums = np.stack(
                [np.bincount(inv, weights=cand_dl[:, s], minlength=len(groups))
                 for s in range(cand_dl.shape[1])],
                axis=1,
            )
            for g, bits in enumerate(groups.astype(int)):
                mask = "".join(map(str, bits))
                out.append((qid, mask, ex, int(n[g]), sums[g].tolist()))
        return pd.DataFrame(out, columns=_STATS_SCHEMA.fieldNames())

    def top_k(
        self, qmeta: dict[int, dict], plans: dict[int, _Plan]
    ) -> pd.DataFrame:
        """Per query, this bucket's exact top-k (every match for k < 0,
        none for k = 0), scored a block at a time (module docstring)."""
        out = [(_NO_ROWS, np.empty(0, np.int64), np.empty(0))]
        for qid, meta in qmeta.items():
            docs, scores = self._top(meta, plans[qid])
            out.append((np.full(len(docs), qid), docs, scores))
        q, d, s = (np.concatenate(c) for c in zip(*out))
        return pd.DataFrame({"query_id": q, "doc_id": d, "score": s})

    def _top(self, meta: dict, plan: _Plan) -> tuple[np.ndarray, np.ndarray]:
        k, method = meta["k"], meta["method"]
        # the query's blocks, each tagged with its list: one per (qterm,
        # section), over every expansion term and segment
        rows, lid, weight, avgdl, sec = [_NO_ROWS], [_NO_ROWS], [], [], []
        for (qterm, s), m in meta["terms"].items():
            for t in plan.qterms[qterm]:
                got = self.rows_of.get((t, s), _NO_ROWS)
                rows.append(got)
                lid.append(np.full(len(got), len(weight)))
            weight.append(m["weight"])
            avgdl.append(m.get("avgdl", 0.0))
            sec.append(s)
        rows, lid = np.concatenate(rows), np.concatenate(lid)
        top_d, top_s = np.empty(0, np.int64), np.empty(0)
        if k == 0 or not len(rows):
            return top_d, top_s
        weight, avgdl = np.array(weight), np.array(avgdl)
        names, sec = np.unique(sec, return_inverse=True)
        n_sec = len(names)

        def contrib(j, tf, dl, doc):
            """Lists j's contributions at merged tf and doc length dl; doc
            numbers the docs (ltc-lnc's norm is per doc and section)."""
            if method == "okapi25":
                norm = K1 * (1 - B + B * dl / avgdl[j])
                return weight[j] * tf * (K1 + 1) / (tf + norm)
            wtf = 1.0 + np.log(tf)
            if method == "ltn-lnn":
                return weight[j] * wtf
            cell = doc * n_sec + sec[j]
            return weight[j] * wtf / np.sqrt(np.bincount(cell, wtf * wtf))[cell]

        # doc-id intervals between consecutive block edges: an interval's
        # bound is the sum of the bounds of the blocks covering it
        ub = (
            weight[lid] if method == "ltc-lnc"
            else contrib(lid, self.max_tf[rows], self.min_dl[rows], None)
        )
        ub = np.maximum(ub, 0.0)
        lo_doc, hi_doc = self.first_doc[rows], self.last_doc[rows] + 1
        edges = np.unique(np.concatenate([lo_doc, hi_doc]))
        lo, hi = np.searchsorted(edges, lo_doc), np.searchsorted(edges, hi_doc)
        ne = len(edges)
        bound = np.cumsum(np.bincount(lo, ub, ne) - np.bincount(hi, ub, ne))
        order = np.argsort(-bound[:-1], kind="stable")
        fresh = np.ones(len(rows), dtype=bool)  # blocks not decoded yet
        # decoded postings of intervals not visited yet: (interval,
        # doc_id, list, tf, dl)
        pool = (_NO_ROWS,) * 5
        theta, done, size = -np.inf, 0, len(order) if k < 0 else 1
        while done < len(order) and bound[order[done]] >= theta - 1e-9:
            visit = np.zeros(ne, dtype=bool)
            visit[order[done:done + size]] = True
            done, size = done + size, 2 * size
            # decode the blocks covering a visited interval
            seen = np.concatenate([[0], np.cumsum(visit)])
            pick = fresh & (seen[hi] > seen[lo])
            fresh &= ~pick
            new = self._postings(rows[pick], lid[pick], plan)
            new = (np.searchsorted(edges, new[0], "right") - 1, *new)
            pool = tuple(np.concatenate(c) for c in zip(pool, new))
            now = visit[pool[0]]
            _, d, j, tf, dl = (c[now] for c in pool)
            pool = tuple(c[~now] for c in pool)
            # merged tf per (doc, list), then the lists' sum per doc
            docs, di = np.unique(d, return_inverse=True)
            key, first, inv = np.unique(
                di * len(weight) + j, return_index=True, return_inverse=True
            )
            doc = key // len(weight)
            part = contrib(key % len(weight), np.bincount(inv, tf),
                           dl[first], doc)
            top_d = np.concatenate([top_d, docs])
            top_s = np.concatenate([top_s, np.bincount(doc, part, len(docs))])
            if 0 < k <= len(top_s):
                best = np.lexsort((top_d, -_round9(top_s)))[:k]
                top_d, top_s = top_d[best], top_s[best]
                theta = _round9(top_s[-1:])[0]
        return top_d, top_s

    def _postings(self, rows: np.ndarray, lid: np.ndarray, plan: _Plan):
        """The live, filter-passing postings of blocks ``rows`` (of lists
        ``lid``) as (doc_id, list, tf, dl) arrays."""
        docs, at = self.doc_ids(rows)
        ok = ~self.hidden(docs, self.seq[rows][at])
        if plan.filtered:
            ok &= self.keep(plan, docs)
        tf = varint_decode(b"".join(self.tfs_bin[rows]))
        dl = varint_decode(b"".join(self.dls_bin[rows]))
        return (docs[ok], lid[at][ok], tf[ok].astype(np.float64),
                dl[ok].astype(np.float64))


def _list_meta(q: QuerySpec, mult: dict[str, int], st: dict,
               indexed: set[str], n_live: int,
               weights: dict[str, float]) -> dict[tuple, dict]:
    """(qterm, section) → the list's scoring inputs for query ``q``, from
    its qterm multiplicities ``mult`` and corpus statistics ``st``.

    okapi25: weight = mult · idf · w_s with idf over the candidate set
    (quirks Q1, Q3), plus the section's candidate avgdl (Q2; a section no
    candidate has scores nothing). ltn-lnn / ltc-lnc: weight = w_s · q_w ·
    idf with idf = ln(N / df) over the live corpus (Q1) and q_w = (1 +
    ln qtf) / qnorm (`common.py:26-56`), qnorm being 1 for ltn-lnn and the
    cosine norm over the query's ``indexed`` terms for ltc-lnc."""
    out = {}
    if q.method == "okapi25":
        nq = st["n_cand"]
        for t, df in st["df"].items():
            idf = float(np.log((nq - df + 0.5) / (df + 0.5) + 1.0))
            for s, w in weights.items():
                a = st["avgdl"].get(s)
                if a:
                    out[(t, s)] = {"weight": mult[t] * idf * w, "avgdl": a}
        return out
    wtf = {t: 1.0 + np.log(m) for t, m in mult.items() if t in indexed}
    qnorm = (
        np.sqrt(sum(v * v for v in wtf.values()))
        if q.method == "ltc-lnc" else 1.0
    )
    for t, df in st["df"].items():
        if t not in wtf:
            continue
        idf = float(np.log(n_live / df))
        for s, w in weights.items():
            out[(t, s)] = {"weight": w * wtf[t] / qnorm * idf}
    return out


class WandEngine:
    """Exact okapi25, ltn-lnn and ltc-lnc top-k over ``<index_dir>/packed``,
    scored a block at a time per doc-hash bucket and pruned by the blocks'
    bounds (module docstring).

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
        batch may expand to: the engine collects the expansion to the
        driver (it becomes the packed scan's literal ``In`` pushdown and
        each query's block lists), which is safe for sane prefixes but would
        be a driver OOM for a 1-char prefix over a billion-term
        dictionary. Over-budget batches raise with guidance instead.

        ``version`` pins a catalog snapshot (time travel; None = the
        current one, resolved once, here: query/snapshot.py). The packed
        table arrives with its LSM segment sequence (catalog.read_packed):
        incremental adds commit new segments instead of repacking, and the
        per-bucket scorer takes every segment's blocks into its lists,
        masking the postings that seq-scoped tombstones hide."""
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
        #: surviving qterm — what the list weights were computed from
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
        GATED on the exact term existing in the term dictionary.
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
                "narrow the prefixes or raise max_prefix_expand"
            )
        out: dict[str, list[str]] = {}
        have = set(terms)
        for q in qterms:
            if q in have:
                out[q] = [t for t in terms if t.startswith(q)]
        return out

    def _indexed(self, qterms: set[str]) -> set[str]:
        """Which of ``qterms`` are in the term dictionary: one pushed-filter
        scan, skipped when there are none."""
        if not qterms:
            return set()
        hits = self.snapshot.term_df.filter(F.col("term").isin(sorted(qterms)))
        return {r.term for r in hits.select("term").collect()}

    def search(self, queries: list[QuerySpec]) -> DataFrame:
        """(query_id, rank, doc_id, score) for a batch that may mix
        okapi25, ltn-lnn and ltc-lnc queries.

        Runs the batch before returning: one statistics pass and one
        scoring pass, both bucket-grouped over the same cached frames, and
        a driver-side merge of the per-bucket top-k lists into the returned
        frame. That is at most ``n_buckets · k`` rows per query for k > 0;
        a k < 0 query ("all results") brings every candidate to the
        driver.
        A batch mixing match modes, or naming an unknown method, raises
        ``ValueError``."""
        bad = sorted({q.method for q in queries} - set(METHODS))
        if bad:
            raise ValueError(
                f"unknown ranking method {bad}: use one of {list(METHODS)}"
            )
        mode = batch_match_mode(queries)
        self.last_stats = {}
        if not queries:
            return self._result()
        qtoks: dict[int, dict[str, int]] = {}
        for q, toks in zip(queries, self.snapshot.query_terms(queries)):
            mult: dict[str, int] = {}
            for t in toks:
                mult[t] = mult.get(t, 0) + 1
            qtoks[q.query_id] = mult
        uniq_qterms = {t for m in qtoks.values() for t in m}
        tfidf = {t for q in queries if q.method != "okapi25"
                 for t in qtoks[q.query_id]}
        if mode == "prefix":
            expansions = self._expand_prefix(uniq_qterms)
            indexed = set(expansions)
        else:
            expansions = {t: [t] for t in uniq_qterms}
            indexed = self._indexed(tfidf)
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
            acc[1] += np.asarray(r.dl_sums, dtype=np.float64)
            exact.setdefault(r.query_id, set()).update(
                i for i, c in enumerate(r.exact) if c == "1"
            )

        # --- corpus statistics per query: sum the bucket partials, gated
        # by the live has_exact OR (see `_Bucket.stats`)
        for q in queries:
            alive = exact.get(q.query_id, set())
            hits = [
                (n, dl_sums, {i for i, c in enumerate(m) if c == "1"})
                for m, (n, dl_sums) in masks.get(q.query_id, {}).items()
            ]
            cand = [(n, dl_sums) for n, dl_sums, bits in hits if bits & alive]
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

        # --- per-query scoring-term meta ---------------------------------
        n_live = self.snapshot.n_live if tfidf else 0
        qmeta: dict[int, dict] = {}
        for q in queries:
            st = self.last_stats[q.query_id]
            terms = _list_meta(q, qtoks[q.query_id], st, indexed, n_live,
                               self.snapshot.weights(q))
            if terms:
                qmeta[q.query_id] = {"terms": terms, "k": q.k,
                                     "method": q.method}
        if not qmeta:
            return self._result()

        # --- scoring pass per bucket: same cached frames, no new exchange -
        def score_bucket(
            left: pd.DataFrame, right: pd.DataFrame
        ) -> pd.DataFrame:
            return _Bucket(left, right, sections).top_k(qmeta, plans)

        per_query: dict[int, list[tuple[int, float]]] = {}
        for r in (
            shard.groupby("bucket")
            .cogroup(score_side.groupby("bucket"))
            .applyInPandas(score_bucket, _TOPK_SCHEMA)
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
