"""Batch query engine: BM25 (okapi25) + tf-idf (ltn-lnn / ltc-lnc) top-k.

Re-expresses the reference's per-query driver loop (`ui/backend/mir/search/
search/phase1.py:19-107`, `common.py:59-154`) as ONE declarative Spark plan
over a *batch* of queries: the tiny query-term table is broadcast against the
term-sorted postings table (predicate pushdown prunes row groups to the
query's terms), then per-query candidate stats, idf, and scores are plain
aggregations — Catalyst handles partial aggregation and join strategy.

Quirk replication (SURVEY.md §2.11) — all scoring constants derive from the
per-query candidate set exactly as the reference does:
  Q1 BM25 N = |candidates| (`common.py:126`), tf-idf N = full corpus
     (`common.py:67`);
  Q2 avgdl over candidates only, missing section ⇒ dl = 0 (`common.py:136-143`);
  Q3 query-term multiplicity multiplies its BM25 contribution
     (`common.py:147-154`);
  Q5 per-section scores fused w·abstract + (1−w)·title (`phase1.py:68-71`);
  Q7 spell-correction on the raw query string, driver-side, from the shared
     module `query/spell.py`;
  Q8 candidate set = OR over query terms (`common.py:73-75,120-122`);
  prefix artifact — `match_mode='prefix'` scores every doc containing any
     token with the query term as prefix, gated on the exact term existing
     (`trie/phase1.py:17-36`); implemented as a broadcast range join on the
     sorted term column.

Ranking ties are pinned to (-round(score, 9), doc_id) in engine AND oracle:
float-sum order across systems differs at ~1 ulp, so raw-double ordering of
exact ties would be nondeterministic (SURVEY.md §1.4-2).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from information_retrieval_spark.query.snapshot import IndexSnapshot

K1 = 1.2
B = 0.75
MAX_CHAR = "\U0010FFFF"


@dataclass
class QuerySpec:
    query_id: int
    text: str
    method: str = "okapi25"  # okapi25 | ltn-lnn | ltc-lnc
    k: int = 10
    section_weights: dict[str, float] = field(default_factory=dict)
    spell: bool = True
    match_mode: str = "prefix"  # prefix (reference parity) | exact
    # restrict the search to docs whose doc_meta category equals this value
    # (reference phase-2 category search, `search/phase2.py:64-71`); the
    # index must be built with IndexBuilder(category_col=...). All per-query
    # candidate stats (Q1 N, Q2 avgdl, df) recompute over the sub-corpus.
    filter_category: str | None = None
    # boolean constraints (Lucene filter context — they restrict matches
    # but never score): docs must contain ALL filter_terms and NONE of
    # exclude_terms, in any section. Terms are index-basis tokens (already
    # tokenized/lowercased). Candidate stats recompute over the filtered
    # set, same placement as filter_category.
    filter_terms: tuple[str, ...] = ()
    exclude_terms: tuple[str, ...] = ()


def batch_match_mode(queries: list[QuerySpec]) -> str | None:
    """The one match mode a batch is answered in (None for an empty batch).
    A batch mixing modes raises: split it by ``match_mode``."""
    modes = {q.match_mode for q in queries}
    if len(modes) > 1:
        raise ValueError(
            f"mixed match modes {sorted(modes)} in one batch: split the"
            " batch by match_mode"
        )
    return modes.pop() if modes else None


class SearchEngine:
    """Reads the index tables written by ``IndexBuilder`` and answers
    batches of ranked-retrieval queries."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        version: int | None = None,
    ):
        """``version`` pins a snapshot of the index's catalog (time travel):
        the engine answers every query against the index exactly as it was
        at that commit (index/catalog.py); None = the current one, resolved
        once, here (query/snapshot.py).

        Postings arrive live (query/snapshot.py): with deletes present the
        seq-scoped tombstone anti-join is baked into the frame BEFORE any
        candidate stats, and term filters still push through the join into
        each parquet scan; without deletes the plan is the plain multi-dir
        scan."""
        self.spark = spark
        self.snapshot = IndexSnapshot(spark, index_dir, version)
        self._n_live: int | None = None

    # --------------------------------------------------------------- plans

    def _matched(
        self,
        qterms: DataFrame,
        match_mode: str,
        cat: tuple[DataFrame, list[str]] | None = None,
        qterm_literals: list[str] | None = None,
        tfil: tuple[list, list] | None = None,
    ) -> DataFrame:
        """(query_id, qterm, mult, doc_id, section, tf) — tf merged over the
        prefix expansion when match_mode='prefix'. ``cat`` is the optional
        ((query_id, want_cat) table, distinct wanted categories): filtered
        queries are restricted to their category's docs like a per-query
        delete vector — BEFORE the has_exact gate and candidate stats, so
        the whole query runs against the sub-corpus.

        ``qterm_literals`` (the batch's distinct query terms, known
        driver-side) prunes the postings SCAN with literal predicates the
        broadcast join cannot supply: exact mode pushes In(term, ...),
        prefix mode an OR of [t, t+MAX) ranges — both land in parquet
        row-group min/max stats, so the term-sorted postings table is read
        only around the query's terms (the same trick WandEngine plays
        with its collected expansions)."""
        cat_df, wanted = cat if cat is not None else (None, [])
        # dls = the doc's full {section: dl} map embedded at build time
        # (index/build.py s_postings): scoring reads dl and derives the
        # per-query avgdl from matched rows alone — no corpus-sized doclen
        # join anywhere in the query path
        p = self.snapshot.postings.select("term", "section", "doc_id", "tf", "dls")
        if qterm_literals:
            terms = sorted(set(qterm_literals))
            if match_mode == "exact":
                p = p.filter(F.col("term").isin(terms))
            else:
                cond = None
                for t in terms:
                    c = (F.col("term") >= t) & (F.col("term") < t + MAX_CHAR)
                    cond = c if cond is None else (cond | c)
                p = p.filter(cond)
        # the seq-scoped delete anti-join is baked into the snapshot's
        # postings, so candidate N/avgdl quirks already recompute over live
        # docs only
        if match_mode == "exact":
            m = p.join(F.broadcast(qterms), p.term == qterms.qterm)
        else:
            # expand prefixes against the VOCABULARY-sized term dictionary
            # (a range join over term_df is a tiny nested loop), then
            # equi-join the postings on the expanded terms — range-joining
            # the postings table directly would be a nested-loop full scan
            # of the biggest table in the system. The expansion table is
            # |matches|·|qterms| rows (broadcastable for sane prefixes; a
            # pathological 1-char prefix blows up the MATCH SET itself, not
            # just this table). WandEngine additionally collects the
            # expansion to literal IN filters for parquet row-group pruning.
            cond = (self.snapshot.term_df.term >= qterms.qterm) & (
                self.snapshot.term_df.term < F.concat(qterms.qterm, F.lit(MAX_CHAR))
            )
            dict_terms = self.snapshot.term_df.select("term")
            if qterm_literals:
                rcond = None
                for t in sorted(set(qterm_literals)):
                    c = (F.col("term") >= t) & (F.col("term") < t + MAX_CHAR)
                    rcond = c if rcond is None else (rcond | c)
                dict_terms = dict_terms.filter(rcond)
            expanded = dict_terms.join(F.broadcast(qterms), cond)
            m = p.join(F.broadcast(expanded), "term")
        if cat_df is not None:
            if self.snapshot.doc_meta is None:
                raise ValueError(
                    "filter_category requires an index built with"
                    " IndexBuilder(category_col=...)"
                )
            # doc-keyed join on the term-pruned matched stream — the same
            # shape (and cost class) as the doclen join in scoring;
            # partition-pruned to the batch's wanted categories
            from information_retrieval_spark.index.catalog import (
                prune_doc_meta,
            )

            dm = prune_doc_meta(self.snapshot.doc_meta, wanted)
            m = (
                m.join(F.broadcast(cat_df), "query_id", "left")
                .join(dm, "doc_id", "left")
                .filter(
                    F.col("want_cat").isNull()
                    | (F.col("category") == F.col("want_cat"))
                )
                .drop("want_cat", "category")
            )
        if tfil is not None:
            m = self._apply_term_filters(m, tfil)
        if match_mode == "exact":
            # postings are unique per (term, section, doc_id) and qterms per
            # (query_id, qterm): the join output is already grouped — the
            # prefix path's merge aggregation would be a pure no-op shuffle
            return m.select(
                "query_id", "qterm", "mult", "doc_id", "section", "tf", "dls"
            )
        # is_end gate: the exact term must exist in the (live, category-
        # restricted) sub-corpus
        w = Window.partitionBy("query_id", "qterm")
        m = m.withColumn(
            "has_exact",
            F.max((F.col("term") == F.col("qterm")).cast("int")).over(w),
        ).filter(F.col("has_exact") == 1)
        # dls is per-doc (identical on every merged row); map columns can't
        # be group keys, so it rides through as first()
        return m.groupBy("query_id", "qterm", "mult", "doc_id", "section").agg(
            F.sum("tf").alias("tf"), F.first("dls").alias("dls")
        )

    def _cat_df(
        self, queries: list[QuerySpec]
    ) -> tuple[DataFrame, list[str]] | None:
        """((query_id, want_cat) frame, distinct wanted categories) — the
        list rides along driver-side so _matched can pre-prune doc_meta
        without a collect job."""
        rows = [
            (q.query_id, q.filter_category)
            for q in queries
            if q.filter_category is not None
        ]
        if not rows:
            return None
        df = self.spark.createDataFrame(
            rows, "query_id long, want_cat string"
        )
        return df, sorted({c for _, c in rows})

    def _term_filter_rows(
        self, queries: list[QuerySpec]
    ) -> tuple[list, list] | None:
        """(must rows (query_id, term, n_must), exclude rows (query_id,
        term)) from the batch's filter_terms / exclude_terms, or None when
        no query carries boolean constraints."""
        mu, ex = [], []
        for q in queries:
            ft = list(dict.fromkeys(q.filter_terms or ()))
            mu.extend((q.query_id, t, len(ft)) for t in ft)
            ex.extend(
                (q.query_id, t) for t in dict.fromkeys(q.exclude_terms or ())
            )
        return (mu, ex) if (mu or ex) else None

    def _apply_term_filters(
        self, m: DataFrame, tfil: tuple[list, list]
    ) -> DataFrame:
        """Restrict the matched stream to docs satisfying each query's
        boolean constraints (ALL filter_terms present, NO exclude_terms),
        BEFORE the has_exact gate and candidate stats. Presence is read
        from the postings table with a pushed In(filter terms) scan —
        filter-term postings only, never a corpus scan; queries without
        constraints pass through untouched (left-join + null checks, no
        semi-join that would drop them)."""
        mu_rows, ex_rows = tfil
        fterms = sorted(
            {t for _, t, _ in mu_rows} | {t for _, t in ex_rows}
        )
        fp = self.snapshot.postings.select("term", "doc_id").filter(
            F.col("term").isin(fterms)
        )
        # (self.snapshot.postings is already live-filtered under deletes)
        # no fp-wide distinct: presence repeats only across sections, and
        # both consumers dedup inherently (the exclude branch distincts its
        # own projection; the must branch counts DISTINCT mterm) — a
        # pre-distinct was one extra shuffle of the filter-term postings
        if ex_rows:
            ex_spec = self.spark.createDataFrame(
                ex_rows, "query_id long, xterm string"
            )
            ex = (
                fp.join(F.broadcast(ex_spec), fp.term == ex_spec.xterm)
                .select("query_id", "doc_id")
                .distinct()
            )
            m = m.join(ex, ["query_id", "doc_id"], "left_anti")
        if mu_rows:
            mu_spec = self.spark.createDataFrame(
                mu_rows, "query_id long, mterm string, n_must int"
            )
            mu_ok = (
                fp.join(F.broadcast(mu_spec), fp.term == mu_spec.mterm)
                .groupBy("query_id", "doc_id", "n_must")
                .agg(F.countDistinct("mterm").alias("got"))
                .filter(F.col("got") == F.col("n_must"))
                .select("query_id", "doc_id", F.lit(1).alias("__mok"))
            )
            has_must = self.spark.createDataFrame(
                [(qid, 1) for qid in sorted({r[0] for r in mu_rows})],
                "query_id long, __hm int",
            )
            m = (
                m.join(mu_ok, ["query_id", "doc_id"], "left")
                .join(F.broadcast(has_must), "query_id", "left")
                .filter(F.col("__hm").isNull() | F.col("__mok").isNotNull())
                .drop("__mok", "__hm")
            )
        return m

    def _cand_stats(self, matched: DataFrame):
        """Per-query N + per-(query, section) avgdl (Q1/Q2) from the
        matched stream ALONE: each row's embedded ``dls`` map supplies the
        doc's length in EVERY section (missing section ⇒ 0, quirk Q2), so
        the per-query candidate averages are two chained partial
        aggregations — no join against the corpus-sized doclen table and
        no candidates×sections expansion. Both outputs are ≤ |queries|·
        |sections| rows: AQE broadcast-joins them back into scoring."""
        cand = matched.groupBy("query_id", "doc_id").agg(
            F.first("dls").alias("dls")
        )
        aggs = [F.count("*").alias("n_cand")] + [
            F.sum(
                F.coalesce(F.element_at("dls", F.lit(s)), F.lit(0))
            ).alias(f"_dlsum_{i}")
            for i, s in enumerate(self.snapshot.sections)
        ]
        stats = cand.groupBy("query_id").agg(*aggs)
        pairs = F.array(
            *[
                F.struct(
                    F.lit(s).alias("section"),
                    (F.col(f"_dlsum_{i}") / F.col("n_cand")).alias("avgdl"),
                )
                for i, s in enumerate(self.snapshot.sections)
            ]
        )
        avgdl = stats.select("query_id", F.explode(pairs).alias("e")).select(
            "query_id", "e.section", "e.avgdl"
        )
        nq = stats.select("query_id", "n_cand")
        return nq, avgdl

    def _fuse_rank(
        self, contribs: DataFrame, weights_df: DataFrame, ks_df: DataFrame
    ) -> DataFrame:
        """``contribs`` is per-(query, doc, section, term) scoring rows;
        Q5's weighted section fusion is linear (Σ_s w_s·Σ_t c = Σ rows
        w_s·c), so one groupBy(query, doc) replaces the former two-level
        (query, doc, section) → (query, doc) aggregation — one less
        exchange per batch. Sections without a weight row drop here (inner
        join), as the old section-level fuse did."""
        fused = (
            contribs.join(
                F.broadcast(weights_df), ["query_id", "section"], "inner"
            )
            .groupBy("query_id", "doc_id")
            .agg(F.sum(F.col("contrib") * F.col("w")).alias("score"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc(F.round("score", 9)), F.asc("doc_id")
        )
        return (
            fused.withColumn("rank", F.row_number().over(w))
            .join(F.broadcast(ks_df), "query_id")
            .filter((F.col("rank") <= F.col("k")) | (F.col("k") < 0))
            .select("query_id", "rank", "doc_id", "score")
        )

    def _score_okapi(self, matched: DataFrame) -> DataFrame:
        """Fully in-plan BM25 (Q1-Q3): per-query stats are tiny chained
        aggregations over the term-pruned matched stream, joined back by
        AQE as broadcasts; dl comes from each row's embedded section-length
        map. Zero driver collects and zero corpus-sized joins — the plan
        shape is invariant to corpus size (it scales with the query's
        posting volume, not with N docs)."""
        nq, avgdl = self._cand_stats(matched)
        dfq = matched.groupBy("query_id", "qterm").agg(
            F.countDistinct("doc_id").alias("df")
        )
        scored = (
            matched.join(dfq, ["query_id", "qterm"])
            .join(nq, "query_id")
            .join(avgdl, ["query_id", "section"])
            .withColumn(
                "dl",
                F.coalesce(
                    F.element_at("dls", F.col("section")), F.lit(0)
                ),
            )
            .withColumn(
                "idf",
                F.log(
                    (F.col("n_cand") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                ),
            )
            .withColumn(
                "contrib",
                F.col("mult")
                * F.col("idf")
                * (F.col("tf") * (K1 + 1))
                / (
                    F.col("tf")
                    + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
                ),
            )
        )
        return scored.select("query_id", "doc_id", "section", "contrib")

    def _corpus_size(self) -> int:
        """tf-idf's N (quirk Q1): the live docs. The stats ledger's
        ``n_docs`` also counts doc versions that tombstones hide until the
        next compact purges them, so with deletes present N is counted from
        the live doclen (the count compact writes back to the ledger), once,
        on the first tf-idf batch."""
        if self._n_live is None:
            self._n_live = (
                self.snapshot.n_docs if self.snapshot.deletes is None
                else self.snapshot.doclen.select("doc_id").distinct().count()
            )
        return self._n_live

    def _score_tfidf(self, matched: DataFrame, doc_norm_cosine: bool) -> DataFrame:
        """ltn-lnn / ltc-lnc. ``matched`` must carry a ``q_w`` column (the
        driver-computed query weight, `common.py:26-56`)."""
        n = float(self._corpus_size())
        base = (
            matched.withColumn("d_wtf", 1.0 + F.log("tf"))
            .withColumn("idf", F.log(F.lit(n) / F.col("df_global")))
        )
        if doc_norm_cosine:
            wn = Window.partitionBy("query_id", "doc_id", "section")
            base = base.withColumn(
                "dnorm", F.sqrt(F.sum(F.col("d_wtf") * F.col("d_wtf")).over(wn))
            )
        else:
            base = base.withColumn("dnorm", F.lit(1.0))
        scored = base.withColumn(
            "contrib", F.col("q_w") * F.col("d_wtf") * F.col("idf") / F.col("dnorm")
        )
        return scored.select("query_id", "doc_id", "section", "contrib")

    # ---------------------------------------------------------------- main

    def search(self, queries: list[QuerySpec]) -> DataFrame:
        """Answer a batch of queries → (query_id, rank, doc_id, score)."""
        mode = batch_match_mode(queries)
        okapi = [q for q in queries if q.method == "okapi25"]
        tfidf = [q for q in queries if q.method != "okapi25"]
        outs = []
        if okapi:
            outs.append(self._search_okapi(okapi, mode))
        for doc_cos, grp in (
            (False, [q for q in tfidf if q.method == "ltn-lnn"]),
            (True, [q for q in tfidf if q.method == "ltc-lnc"]),
        ):
            if grp:
                outs.append(self._search_tfidf(grp, doc_cos, mode))
        if not outs:
            return self.spark.createDataFrame(
                [], "query_id long, rank int, doc_id long, score double"
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    def _qterm_rows(self, queries: list[QuerySpec]):
        """Driver-side query prep (query/snapshot.py: spell, tokenize,
        stop-filter) → (query_id, term, multiplicity) rows, plus each
        query's terms in batch order."""
        per_query = self.snapshot.query_terms(queries)
        rows = []
        for q, toks in zip(queries, per_query):
            seen = {}
            for t in toks:
                seen[t] = seen.get(t, 0) + 1
            rows.extend((q.query_id, t, m) for t, m in seen.items())
        return rows, per_query

    def _search_okapi(
        self, queries: list[QuerySpec], mode: str
    ) -> DataFrame:
        rows, _ = self._qterm_rows(queries)
        if not rows:
            return self.spark.createDataFrame(
                [], "query_id long, rank int, doc_id long, score double"
            )
        qterms = self.spark.createDataFrame(
            rows, "query_id long, qterm string, mult int"
        )
        matched = self._matched(
            qterms, mode, self._cat_df(queries),
            qterm_literals=[t for _, t, _ in rows],
            tfil=self._term_filter_rows(queries),
        )
        contribs = self._score_okapi(matched)
        weights_df = self._weights_df(queries)
        ks_df = self.spark.createDataFrame(
            [(q.query_id, q.k) for q in queries], "query_id long, k int"
        )
        return self._fuse_rank(contribs, weights_df, ks_df)

    def _search_tfidf(
        self, queries: list[QuerySpec], doc_cos: bool, mode: str
    ) -> DataFrame:
        rows, per_query_tokens = self._qterm_rows(queries)
        if not rows:
            return self.spark.createDataFrame(
                [], "query_id long, rank int, doc_id long, score double"
            )
        # presence + global df lookup (tiny pushed-filter scan, collected)
        all_terms = sorted({t for _, t, _ in rows})
        lookup = self.snapshot.term_df.filter(F.col("term").isin(all_terms))
        present = {r.term: r.df for r in lookup.collect()}
        # query weights (`common.py:26-56`): tf over dup tokens, 1+ln, then
        # cosine-normalize for *-lnc; df=0 terms dropped (documented deviation)
        qrows = []
        for q, toks in zip(queries, per_query_tokens):
            qtf = {t: toks.count(t) for t in set(toks) if t in present}
            if not qtf:
                continue
            wtf = {t: 1.0 + math.log(v) for t, v in qtf.items()}
            qnorm = (
                math.sqrt(sum(w * w for w in wtf.values()))
                if q.method.endswith("c")
                else 1.0
            )
            for t, wv in wtf.items():
                qrows.append(
                    (q.query_id, t, wv / qnorm, float(present[t]))
                )
        if not qrows:
            return self.spark.createDataFrame(
                [], "query_id long, rank int, doc_id long, score double"
            )
        qterms = self.spark.createDataFrame(
            qrows, "query_id long, qterm string, q_w double, df_global double"
        ).withColumn("mult", F.lit(1))
        matched = self._matched(
            qterms, mode, self._cat_df(queries),
            qterm_literals=[t for _, t, *_ in qrows],
            tfil=self._term_filter_rows(queries),
        )
        # re-attach q_w / df_global lost by the groupBy in _matched
        qmeta = qterms.select("query_id", "qterm", "q_w", "df_global")
        matched = matched.join(F.broadcast(qmeta), ["query_id", "qterm"])
        # prefix mode: df_global for idf must be the per-query expanded df
        # (the reference computes df from the trie lookup, `common.py:19-23`)
        dfq = matched.groupBy("query_id", "qterm").agg(
            F.countDistinct("doc_id").alias("df_q")
        )
        matched = matched.drop("df_global").join(
            dfq, ["query_id", "qterm"]
        ).withColumnRenamed("df_q", "df_global")
        contribs = self._score_tfidf(matched, doc_cos)
        weights_df = self._weights_df(queries)
        ks_df = self.spark.createDataFrame(
            [(q.query_id, q.k) for q in queries], "query_id long, k int"
        )
        return self._fuse_rank(contribs, weights_df, ks_df)

    def _weights_df(self, queries: list[QuerySpec]) -> DataFrame:
        wrows = []
        for q in queries:
            for s, w in self.snapshot.weights(q).items():
                wrows.append((q.query_id, s, float(w)))
        return self.spark.createDataFrame(
            wrows, "query_id long, section string, w double"
        )
