"""The ranked engine (``WandEngine``, also exported as
``query.engine.SearchEngine``): exact block-max top-k over the packed
compressed index for okapi25, ltn-lnn and ltc-lnc.

A batch reads two inputs of the engine's pinned snapshot
(query/snapshot.py):

* the **shard** — the packed blocks of the batch's terms (query terms,
  their prefix expansions, filter terms), pruned by parquet row-group
  min/max on the term-sorted layout;
* the **side** — every doclen row, tombstone and category row with its
  segment sequence (`IndexSnapshot.side_parts` names each dir once). The
  statistics pass reads its doclen, tombstone and filtered-on category
  rows; the scoring pass only its tombstone and category rows.

and runs two passes of `_Bucket`, the same code in either placement:

1. **statistics** — `_Bucket.stats` decodes doc_ids only and emits partial
   sums of the quirks' inputs (Q1 N = |candidate set| for BM25, Q2
   candidate avgdl per section, live df per query term, which is also
   tf-idf's df, and the doc versions tombstones hide, which tf-idf's N
   subtracts from the ledger's n_docs). A doc lives in exactly one
   doc-hash bucket (``pmod(xxhash64(doc_id), n_buckets)``, fixed at
   build), so the partials add up across buckets; the driver sums them
   (`_Bucket.stats` explains the prefix-mode has_exact gate);
2. **scoring** — `_Bucket.top_k`, an exact block-at-a-time top-k per
   (bucket, query), merged into the global top-k on the driver (SURVEY.md
   §7 M5).

**Placement.** Per batch, a gate that reads metadata only (no Spark job)
picks where the passes run:

* **local** — when the stats ledger's n_docs is at most `LOCAL_MAX_DOCS`
  and the packed row groups whose term min/max may hold a shard term sum
  to at most `LOCAL_MAX_SHARD_BYTES` (their parquet footers, read once
  per engine). The driver reads the shard's row groups with pyarrow (term
  filter pushed down) and the side rows once per engine, and runs both
  passes over ONE `_Bucket` holding every doc: no Spark job at all. The
  term-dictionary lookups read term_df the same way whenever n_docs is
  under its bound (they run before the shard's terms are known);
* **distributed** — otherwise: the shard and the side become two frames
  partitioned by ``bucket`` (min(n_buckets, cores) partitions, the shard
  cached per batch, the side per engine), and each pass is one
  bucket-grouped ``cogroup.applyInPandas`` over them, so neither adds an
  exchange. A warm batch placed here runs 4 Spark jobs (a local one runs
  none): the shard's exchange, its cache, and one per pass; an
  exact-mode batch holding a tf-idf query adds one pushed-filter lookup
  of the term dictionary (its query weights count only the indexed query
  terms).

Correctness stance: the scorer is EXACT — tests check it against the
pure-Python oracle (`tests/oracle.py`) and a brute force over unpacked
postings (`tests/test_wand_scorer.py`); the block bounds only prune work.
Because a doc's bucket is a pure function of doc_id, every posting of a doc
lands in one bucket: bucket-local scoring is complete, and per-bucket
top-k ∪ global re-rank is exact. The local placement's one bucket is the
union of them all; there one list's blocks from different buckets overlap
in doc-id range, which only loosens the interval bounds below, as LSM
segments already do.

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

from bisect import bisect_left
from dataclasses import dataclass
from functools import reduce
from operator import or_

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from information_retrieval_spark.index.catalog import (
    arrow_scan, hidden_rows, n_versions, scan_dirs, segment_seq,
)
from information_retrieval_spark.index.codec import decode_doc_gaps, varint_decode
from information_retrieval_spark.query.engine import (
    K1, B, QuerySpec, batch_match_mode,
)
from information_retrieval_spark.query.snapshot import IndexSnapshot

#: the ranking methods a query may name
METHODS = ("okapi25", "ltn-lnn", "ltc-lnc")

#: The placement gate (module docstring): a batch runs on the driver when
#: the stats ledger's n_docs is at most LOCAL_MAX_DOCS and the packed row
#: groups its terms may touch hold at most LOCAL_MAX_SHARD_BYTES
#: (uncompressed, from the footers). Both come from each placement forced
#: at 2k-80k docs (`scripts/bench_placement.py`, 4-vCPU host, local[4];
#: BENCH/BASELINE.md "Placement crossover").
#:
#: LOCAL_MAX_DOCS bounds the driver memory of the side rows, measured at
#: 0.29 KB/doc (23.4 MB at 80k docs): 200k docs ≈ 60 MB. A selective
#: batch (tiny shard) costs 1 µs/doc more locally per batch (0.025 s at
#: 2k docs, 0.083 s at 80k) against ~0.75-0.95 s distributed, a time
#: crossover near 0.9M docs, so memory binds first.
LOCAL_MAX_DOCS = 200_000
#: LOCAL_MAX_SHARD_BYTES: the broad batch's warm time, local vs
#: distributed, was 0.11 vs 1.02 s at a 1.2 MB shard, 0.34 vs 0.98 s at
#: 5.9 MB, 1.18 vs 1.39 s at 23.9 MB and 2.69 vs 2.45 s at 48.6 MB: local
#: grows ~47 ms/MB on one core, distributed ~23 ms/MB over four, and
#: they cross near 35 MB.
LOCAL_MAX_SHARD_BYTES = 32 << 20

#: packed columns a bucket pass reads
_SHARD_COLS = (
    "bucket", "term", "section", "seg_seq", "n", "first_doc", "last_doc",
    "docs_bin", "tfs_bin", "dls_bin", "max_tf", "min_dl",
)

_STATS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), True),
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


def _row_groups(member: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``np.unique(member, axis=0, return_inverse=True)`` of a bool matrix:
    its distinct rows in row order and each row's index among them. Up to
    62 columns a row packs into one int64 key, column 0 the highest bit so
    key order is row order: a sort of ints rather than of void rows."""
    q = member.shape[1]
    if q > 62:
        groups, inv = np.unique(member, axis=0, return_inverse=True)
        return groups, inv.reshape(-1)
    key = member @ (np.int64(1) << np.arange(q - 1, -1, -1, dtype=np.int64))
    _, first, inv = np.unique(key, return_index=True, return_inverse=True)
    return member[first], inv.reshape(-1)


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
        seq = side["seq"].to_numpy(np.int64)
        live = ~is_del
        live[live] = ~self.hidden(docs[live], seq[live])
        # the doc versions (doc_id, seq) whose doclen rows a tombstone
        # hides: tf-idf's N is the ledger's n_docs minus their sum over
        # buckets (`catalog.count_live_docs`, the same rule)
        gone = (kind == "dl") & ~live
        self.n_hidden = n_versions(docs[gone], seq[gone])
        # live (doc, section, dl) rows, looked up for candidates only
        is_dl = live & (kind == "dl")
        self.sections = sections
        self.dl_rows = (docs[is_dl], side["s"].to_numpy()[is_dl], vals[is_dl])
        is_cat = live & (kind == "cat")
        self.cat_docs = docs[is_cat]
        self.cat_vals = side["s"].to_numpy()[is_cat]

    def hidden(self, docs: np.ndarray, seqs) -> np.ndarray:
        """Rows of ``docs`` (from segments with sequence ``seqs``) that a
        seq-scoped tombstone hides (`catalog.hidden_rows`)."""
        return hidden_rows(docs, seqs, self.del_docs, self.del_upto)

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
        qterms' exact term has such a doc here. And one row with a null
        query_id and an empty mask whose ``n`` is `n_hidden` (none when it
        is 0), also from a bucket no query term reaches.

        Every figure adds up across buckets, and the masks keep the
        prefix-mode has_exact gate exact: a qterm survives only if its
        exact term is live and passes the filters in SOME bucket — an OR
        no single bucket can decide. The driver ORs ``exact``, then sums
        only the groups whose mask hits a surviving qterm (n_cand, avgdl)
        and, per surviving qterm, the groups holding its bit (df)."""
        out: list[tuple] = (
            [(None, "", "", self.n_hidden, [])] if self.n_hidden else []
        )
        if not self.rows_of:
            return _stats_frame(out)
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
            return _stats_frame(out)
        every = np.unique(np.concatenate([f[1] for f in found]))
        every_dl = self.dl_of(every)
        for qid, cands, member, ex in found:
            groups, inv = _row_groups(member)
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
        return _stats_frame(out)

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


def _stats_frame(rows: list[tuple]) -> pd.DataFrame:
    """`_Bucket.stats` rows as a frame; query_id is nullable ``Int64``, so
    a null next to a long id keeps every id exact."""
    out = pd.DataFrame([r[1:] for r in rows],
                       columns=_STATS_SCHEMA.fieldNames()[1:])
    out.insert(0, "query_id", pd.array([r[0] for r in rows], dtype="Int64"))
    return out


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


@dataclass(frozen=True)
class _RowGroup:
    """One row group of a packed file, from its parquet footer: its term
    range (None when the footer has no statistics: it may hold any
    term), its rows and uncompressed bytes, and where to read it."""

    lo: str | None
    hi: str | None
    rows: int
    nbytes: int
    frag: object  # the file's pyarrow ParquetFileFragment
    index: int
    seq: int  # the segment's sequence (`catalog.segment_seq`)

    def holds_any(self, terms: list[str]) -> bool:
        """Whether the sorted ``terms`` may have rows here."""
        if self.lo is None:
            return True
        i = bisect_left(terms, self.lo)
        return i < len(terms) and terms[i] <= self.hi


class WandEngine:
    """Exact okapi25, ltn-lnn and ltc-lnc top-k over ``<index_dir>/packed``,
    scored a block at a time and pruned by the blocks' bounds, on the
    driver or per doc-hash bucket on the executors as the placement gate
    decides per batch (module docstring).

    Concurrency: a ``SparkSession`` is thread-safe, an engine's CACHE
    handoff is not — ``search()`` swaps the previous batch's persisted
    shard out without a lock, so two threads sharing one engine would
    evict each other's shard mid-batch (correct but recompute-taxed).
    For concurrent serving hold ONE ENGINE PER WORKER THREAD over the
    same index_dir and ``close()`` each when done (per-engine state: the
    driver-side side rows and footers of the local placement, and the
    executor-side bucket side frame + one query-term shard of the
    distributed one); measured throughput for that model:
    BENCH/BASELINE.md "Concurrent query throughput"
    (`scripts/bench_qps.py`)."""

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
        block scorer takes every segment's blocks into its lists, masking
        the postings that seq-scoped tombstones hide."""
        self.spark = spark
        self.snapshot = IndexSnapshot(spark, index_dir, version)
        # resolved at open, with its declared schema: no Spark job
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
        # the local placement's per-engine reads (the snapshot is
        # immutable): every side row as one pandas frame, and the packed
        # files' row-group footers
        self._local_side: pd.DataFrame | None = None
        self._row_groups: list[_RowGroup] | None = None
        #: the last batch's corpus statistics per query_id: ``n_cand``
        #: (quirk Q1 N), ``avgdl`` per section (Q2), live ``df`` per
        #: surviving qterm and ``n_live`` (tf-idf's N) — what the list
        #: weights were computed from
        self.last_stats: dict[int, dict] = {}
        #: the last batch's placement ("local" / "distributed") and the
        #: gate's inputs: ``n_docs``, ``shard_rows``, ``shard_bytes``
        #: (None when ``n_docs`` alone decided)
        self.last_placement: dict = {}

    def close(self) -> None:
        """Release this engine's cached state: the local placement's side
        rows and footers on the driver, and the distributed placement's
        persisted executor state (the bucket side frame and the last
        batch's term shard). A WandEngine keeps them across ``search()``
        calls so a query stream amortizes them; a long-lived process that
        cycles through many engines (one per index/snapshot — e.g. a size
        sweep, a multi-tenant server) must close each one or the abandoned
        cache blocks accumulate in executor storage memory until eviction
        churn taxes every later job (measured: a 3-size sweep that skipped
        close() showed 2.7× on the LAST index's warm query batch vs the
        same batch isolated; BENCH/BASELINE.md corpus-size section).
        Idempotent; the engine remains usable after close() — the next
        search() reads or caches again."""
        self._local_side = None
        self._row_groups = None
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

    # ------------------------------------------------------------ the gate

    def _small(self) -> bool:
        """The corpus half of the gate: the stats ledger's ``n_docs`` is
        at most `LOCAL_MAX_DOCS`. It bounds the driver memory of the side
        rows, and alone places the term-dictionary lookups, which run
        before the shard's terms are known."""
        return self.snapshot.n_docs <= LOCAL_MAX_DOCS

    def _gate(self, terms: list[str]) -> list[_RowGroup] | None:
        """The batch's placement from metadata only (no Spark job), set in
        `last_placement`: local iff `_small` and the packed row groups
        whose term range may hold one of the sorted ``terms`` sum to at
        most `LOCAL_MAX_SHARD_BYTES`. Returns those row groups when local."""
        small = self._small()
        groups = (
            [g for g in self._footers() if g.holds_any(terms)] if small
            else []
        )
        nbytes = sum(g.nbytes for g in groups)
        local = small and nbytes <= LOCAL_MAX_SHARD_BYTES
        self.last_placement = {
            "placement": "local" if local else "distributed",
            "n_docs": self.snapshot.n_docs,
            "shard_rows": sum(g.rows for g in groups) if small else None,
            "shard_bytes": nbytes if small else None,
        }
        return groups if local else None

    def _footers(self) -> list[_RowGroup]:
        """Every packed row group of the snapshot, read once per engine
        from the files' footers."""
        if self._row_groups is None:
            self._row_groups = []
            for d in self.snapshot.table_dirs("packed"):
                seq = segment_seq(d)
                for frag in arrow_scan("packed", d).get_fragments():
                    md = frag.metadata
                    col = md.schema.names.index("term")
                    for i in range(md.num_row_groups):
                        rg = md.row_group(i)
                        st = rg.column(col).statistics
                        has = st is not None and st.has_min_max
                        self._row_groups.append(_RowGroup(
                            st.min if has else None, st.max if has else None,
                            rg.num_rows, rg.total_byte_size, frag, i, seq,
                        ))
        return self._row_groups

    # ---------------------------------------------------------- placements

    def _local(self, terms: list[str], groups: list[_RowGroup],
               plans: dict[int, _Plan]):
        """The local placement: one `_Bucket` holding every doc, on the
        driver. The shard is the ``terms``' rows of row groups ``groups``
        (pyarrow, term filter pushed down); the side rows are read once
        per engine (`IndexSnapshot.local_doc_rows`). A doc lives in one
        bucket, so the union of the buckets is complete; its block ranges
        overlap across buckets, which only loosens the interval bounds,
        as LSM segments already do. Returns the statistics rows and the
        scoring pass, as `_distributed` does."""
        files: dict[int, tuple] = {}
        for g in groups:
            files.setdefault(id(g.frag), (g.frag, g.seq, []))[2].append(
                g.index
            )
        where = pc.field("term").isin(terms)
        cols = [c for c in _SHARD_COLS if c not in ("bucket", "seg_seq")]
        parts = [
            frag.subset(row_group_ids=ids)
            .to_table(columns=cols, filter=where)
            .to_pandas()
            .assign(seg_seq=seq)
            for frag, seq, ids in files.values()
        ]
        shard = (
            pd.concat(parts, ignore_index=True) if parts
            else pd.DataFrame(columns=list(_SHARD_COLS))
        )
        if self._local_side is None:
            self._local_side = self.snapshot.local_doc_rows()
        bucket = _Bucket(shard, self._local_side, self.snapshot.sections)

        def score(qmeta):
            top = bucket.top_k(qmeta, plans)
            return top.itertuples(index=False, name=None)

        return bucket.stats(plans).itertuples(index=False, name=None), score

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

    def _distributed(self, terms: list[str], plans: dict[int, _Plan]):
        """The distributed placement: the ``terms``' packed blocks as a
        bucket-partitioned shard, cached for the batch, and two
        bucket-grouped passes over it and the cached side frame (module
        docstring). Runs the statistics pass; returns its rows and the
        scoring pass."""
        shard = (
            self.packed.filter(F.col("term").isin(terms))
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

        def score(qmeta):
            def score_bucket(
                left: pd.DataFrame, right: pd.DataFrame
            ) -> pd.DataFrame:
                return _Bucket(left, right, sections).top_k(qmeta, plans)

            return (
                shard.groupby("bucket")
                .cogroup(score_side.groupby("bucket"))
                .applyInPandas(score_bucket, _TOPK_SCHEMA)
                .collect()
            )

        return stats, score

    # ---------------------------------------------------------------- main

    def _expand_prefix(
        self, qterms: set[str], local: bool
    ) -> dict[str, list[str]]:
        """qterm → matching postings terms (prefix semantics,
        `trie/phase1.py:17-36`): every indexed term the qterm prefixes,
        GATED on the exact term existing in the term dictionary.
        One pushed-filter scan of the term dictionary, on the driver when
        ``local``. Under logical deletes the gate is re-checked against
        the LIVE matched stream in ``search`` (term_df is only refreshed at
        compact, so a fully deleted exact term must still suppress its
        expansion)."""
        if not qterms:
            return {}
        cap = self.max_prefix_expand
        if local:
            terms = self.snapshot.local_terms(reduce(
                or_, [pc.starts_with(pc.field("term"), t) for t in qterms]
            ))
        else:
            cond = reduce(or_, [F.col("term").startswith(t) for t in qterms])
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

    def _indexed(self, qterms: set[str], local: bool) -> set[str]:
        """Which of ``qterms`` are in the term dictionary: one pushed-filter
        scan (on the driver when ``local``), skipped when there are none.
        Membership needs no df, so a multi-dir term_df is read without its
        merge-on-read aggregate (a shuffle): one Spark job."""
        if not qterms:
            return set()
        where = sorted(qterms)
        if local:
            return set(self.snapshot.local_terms(pc.field("term").isin(where)))
        dirs = self.snapshot.table_dirs("term_df")
        hits = scan_dirs(self.spark, "term_df", *dirs).filter(
            F.col("term").isin(where)
        )
        return {r.term for r in hits.select("term").collect()}

    def search(self, queries: list[QuerySpec]) -> DataFrame:
        """(query_id, rank, doc_id, score) for a batch that may mix
        okapi25, ltn-lnn and ltc-lnc queries.

        Runs the batch before returning: one statistics pass and one
        scoring pass, on the driver or bucket-grouped over the same cached
        frames as the gate places it (`last_placement`), and a driver-side
        merge of the per-bucket top-k lists into the returned frame. That
        is at most ``n_buckets · k`` rows per query for k > 0; a k < 0
        query ("all results") brings every candidate to the driver.
        A batch mixing match modes, or naming an unknown method, raises
        ``ValueError``."""
        bad = sorted({q.method for q in queries} - set(METHODS))
        if bad:
            raise ValueError(
                f"unknown ranking method {bad}: use one of {list(METHODS)}"
            )
        mode = batch_match_mode(queries)
        self.last_stats = {}
        self.last_placement = {}
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
            expansions = self._expand_prefix(uniq_qterms, self._small())
            indexed = set(expansions)
        else:
            expansions = {t: [t] for t in uniq_qterms}
            indexed = self._indexed(tfidf, self._small())
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
        groups = self._gate(shard_terms)
        stats, score = (
            self._distributed(shard_terms, plans) if groups is None
            else self._local(shard_terms, groups, plans)
        )

        # --- statistics: sum the per-bucket partials
        sections = self.snapshot.sections
        masks: dict[int, dict[str, list]] = {}
        exact: dict[int, set[int]] = {}
        hidden = 0
        for qid, mask, ex, n, dl_sums in stats:
            if not mask:  # a bucket's hidden doc versions (`_Bucket.stats`)
                hidden += n
                continue
            acc = masks.setdefault(qid, {}).setdefault(
                mask, [0, np.zeros(len(sections))]
            )
            acc[0] += n
            acc[1] += np.asarray(dl_sums, dtype=np.float64)
            exact.setdefault(qid, set()).update(
                i for i, c in enumerate(ex) if c == "1"
            )

        # --- corpus statistics per query: sum the bucket partials, gated
        # by the live has_exact OR (see `_Bucket.stats`). tf-idf's N is the
        # live doc count: the ledger minus the hidden doc versions
        n_live = self.snapshot.n_docs - hidden
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
                "n_live": n_live,
            }

        # --- per-query scoring-term meta ---------------------------------
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

        # --- scoring, then the global top-k: the per-bucket lists are
        # exact (a doc lives in one bucket), re-ranked under the scorer's
        # own ordering
        per_query: dict[int, list[tuple[int, float]]] = {}
        for qid, doc, sc in score(qmeta):
            per_query.setdefault(qid, []).append((doc, sc))
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
