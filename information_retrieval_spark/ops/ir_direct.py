"""Driver-verifiable IR operators as single declarative Spark plans.

These run the index-build + ranked-retrieval math of SURVEY.md §2 *directly*
over the ``documents`` testdata table (simple tokenizer), with an exact ANSI
SQL twin for each so the driver's DuckDB oracle can value-check them. The
persisted-index engine (`index/build.py`, `query/engine.py`) implements the
same semantics over the code corpus and is oracle-checked by pytest.

Semantics replicated from the reference (citations per op):
* stop words = corpus top-K by frequency (quirk Q6,
  `ui/backend/mir/search/corpus/phase1.py:46-52`);
* candidate set = OR over query terms (quirk Q8,
  `ui/backend/mir/search/search/common.py:73-75,120-122`);
* BM25 N and avgdl from the per-query candidate set (quirks Q1/Q2,
  `common.py:126,136-143`), query-term multiplicity multiplies its
  contribution (quirk Q3, `common.py:147-154`);
* tf-idf ltn-lnn / ltc-lnc weighting (`common.py:8-16,26-69`);
* deterministic top-k tie-break (-round(score,9), doc_id)
  (SURVEY.md §1.4-2).

Scale notes (100 TB): every op is explode → hash-agg → (broadcast) join →
agg. The only wide shuffles key on (term) or (doc_id); the tiny query-term
/ per-query-stat tables broadcast. Scores round to 6 decimals ONLY in the
driver-compare projection (float-sum order across partitions is
nondeterministic at the ulp level in any engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from information_retrieval_spark.ops.common import (
    SQL_TOKENS,
    sql_stop,
    stop_terms_df,
    tokens_view,
)

K1 = 1.2
B = 0.75
STOP_K = 20
TOP_K = 10

# Inline reference query set over the testdata vocabulary (OLAP-ish words).
# (query_id, text). q3 repeats a term (quirk Q3); q5 has an absent term;
# q6 is a single stop-word-heavy query.
QUERY_SET: list[tuple[int, str]] = [
    (0, "hash join"),
    (1, "window aggregate scan"),
    (2, "merge sort stream"),
    (3, "table table filter"),
    (4, "query value part row"),
    (5, "zzznotfound batch"),
    (6, "data"),
    (7, "group order column line"),
]


def _queries_sql_values() -> str:
    rows = ", ".join(f"({i}, '{t}')" for i, t in QUERY_SET)
    return f"(VALUES {rows}) AS q(query_id, qtext)"


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --------------------------------------------------------------- basic aggs

def q_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global term frequency (A1, `preprocess.py:58-76`)."""
    t = tokens_view(load_documents(spark, sf_dir))
    return t.groupBy("term").agg(F.count("*").alias("cnt"))


SQL_TERM_COUNTS = f"SELECT term, count(*) AS cnt FROM ({SQL_TOKENS}) GROUP BY term"


def q_stop_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative stop words with deterministic rank (A1 + Q6)."""
    t = tokens_view(load_documents(spark, sf_dir))
    top = stop_terms_df(t, STOP_K)
    # rank assigned AFTER the limit (TakeOrderedAndProject does the
    # parallel top-K); the partition key must be NON-foldable — Catalyst
    # strips a literal like lit(0) from the partition spec and the K-row
    # ranking then plans (and warns) as a global all-data window. cnt*0
    # is NOT enough (Multiply-by-zero over the non-nullable count also
    # constant-folds); pmod(cnt, 1) is constant-valued but survives to
    # WindowExec as a real partition key.
    w = Window.partitionBy(F.pmod(F.col("cnt"), F.lit(1))).orderBy(
        F.desc("cnt"), F.asc("term")
    )
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "term", "cnt"
    )


SQL_STOP_TOPK = f"""
SELECT row_number() OVER (ORDER BY cnt DESC, term ASC) AS rank, term, cnt
FROM (SELECT term, count(*) AS cnt FROM ({SQL_TOKENS}) GROUP BY term)
ORDER BY cnt DESC, term ASC LIMIT {STOP_K}
"""


def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency per term (A3, `common.py:19-23`)."""
    t = tokens_view(load_documents(spark, sf_dir))
    return t.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))


SQL_TERM_DF = (
    f"SELECT term, count(DISTINCT doc_id) AS df FROM ({SQL_TOKENS}) GROUP BY term"
)


def q_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc length over NON-STOP tokens (A4, `common.py:136-143`)."""
    t = tokens_view(load_documents(spark, sf_dir))
    stop = stop_terms_df(t, STOP_K).select("term")
    ns = t.join(F.broadcast(stop), "term", "left_anti")
    return ns.groupBy("doc_id").agg(F.count("*").alias("dl"))


SQL_DOCLEN = f"""
SELECT doc_id, count(*) AS dl FROM ({SQL_TOKENS})
WHERE term NOT IN ({sql_stop(STOP_K)}) GROUP BY doc_id
"""


def q_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term frequency per (doc, term) over non-stop tokens (A2)."""
    t = tokens_view(load_documents(spark, sf_dir))
    stop = stop_terms_df(t, STOP_K).select("term")
    ns = t.join(F.broadcast(stop), "term", "left_anti")
    return ns.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


SQL_TF = f"""
SELECT doc_id, term, count(*) AS tf FROM ({SQL_TOKENS})
WHERE term NOT IN ({sql_stop(STOP_K)}) GROUP BY doc_id, term
"""


# ------------------------------------------------------- query-set plumbing

def _qterms(spark: SparkSession) -> DataFrame:
    """(query_id, qterm, mult) — tokenized inline query set with duplicate
    multiplicity (quirk Q3). Tiny: always broadcast."""
    q = spark.createDataFrame(QUERY_SET, "query_id int, qtext string")
    toks = F.split(F.lower(F.col("qtext")), "[^a-z0-9]+")
    return (
        q.select("query_id", F.explode(toks).alias("qterm"))
        .filter(F.col("qterm") != "")
        .groupBy("query_id", "qterm")
        .agg(F.count("*").alias("mult"))
    )


SQL_QTERMS = f"""
  SELECT query_id, qterm, count(*) AS mult
  FROM (
    SELECT query_id,
           unnest(string_split_regex(lower(qtext), '[^a-z0-9]+')) AS qterm
    FROM {_queries_sql_values()}
  )
  WHERE qterm <> ''
  GROUP BY query_id, qterm
"""


def q_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query candidate set: OR-union over query terms (U1/J1, quirk Q8,
    `common.py:73-75`). Broadcast-hash-join of postings against the tiny
    query-term table; Catalyst prunes the token scan to two columns."""
    tf = q_tf(spark, sf_dir)
    qt = _qterms(spark)
    m = tf.join(F.broadcast(qt), tf.term == qt.qterm)
    return m.select("query_id", "doc_id").distinct()


SQL_CANDIDATES = f"""
SELECT DISTINCT query_id, doc_id
FROM ({SQL_TF}) tf JOIN ({SQL_QTERMS}) qt ON tf.term = qt.qterm
"""


# ------------------------------------------------------------------- BM25

def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 per query, quirks Q1/Q2/Q3/Q8 intact.

    Plan shape: (tf hash-agg) ⨝broadcast (qterms) → per-query stats by two
    tiny hash-aggs (n_cand, avgdl, df) rebroadcast → scoring expressions in
    whole-stage codegen → per-query row_number window (partition = query_id,
    ~|candidates| rows each) → k cut. Score rounded to 6 decimals for the
    engine-portable compare only.
    """
    return _bm25_topk(spark, sf_dir, lang=None)


FILTER_LANG = "en"


def q_bm25_topk_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-restricted search (reference phase-2 `search/phase2.py:64-71`
    restricts postings to the requested category's docs before scoring):
    same BM25 plan, but the matched stream is semi-joined to lang='en' docs
    BEFORE the candidate stats, so Q1 n_cand / Q2 avgdl / df all recompute
    over the sub-corpus — identical semantics to the engines'
    ``QuerySpec.filter_category``. At scale the semi-join becomes partition
    pruning when the corpus is lang-partitioned; the stop list stays
    index-level (full corpus), as in the reference."""
    return _bm25_topk(spark, sf_dir, lang=FILTER_LANG)


# Per-query boolean constraints for FILTERED ranked search (Lucene "filter
# context": constrains matches, contributes nothing to the score):
# query_id -> (must terms, must_not terms). Queries absent here are
# unfiltered. Presence is defined over INDEXED (non-stop) terms — the same
# visibility search itself has.
BM25_FILTER_SET: dict[int, tuple[str, str]] = {
    0: ("data", ""),
    2: ("", "table"),
    4: ("scan merge", ""),
    7: ("data", "hash"),
}


def _filter_spec_rows(
    term_filters: dict[int, tuple[str, str]],
) -> tuple[list[tuple[int, str, int]], list[tuple[int, str]]]:
    """(must rows (query_id, term, n_must), exclude rows (query_id, term))."""
    must, excl = [], []
    for qid, (m, x) in sorted(term_filters.items()):
        mts = list(dict.fromkeys(m.split()))
        must.extend((qid, t, len(mts)) for t in mts)
        excl.extend((qid, t) for t in dict.fromkeys(x.split()))
    return must, excl


def _bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    lang: str | None,
    term_filters: dict[int, tuple[str, str]] | None = None,
    qterms_fn=None,
    prune_m: int | None = None,
) -> DataFrame:
    docs = load_documents(spark, sf_dir)
    # ONE corpus scan: aggregate to (doc_id, term, tf) first, then derive
    # stop list (Σ tf per term), non-stop tf, and dl (Σ non-stop tf per
    # doc) from that far smaller table. Without this the plan re-tokenizes
    # the corpus once per consumer branch — ruinous at 100 TB.
    tf_all = (
        tokens_view(docs)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()  # materialize once; all branches reuse (the
        # small-SF stand-in for the persisted postings table of the
        # engine path — measured 7× faster than recompute-per-branch)
    )
    stop = (
        tf_all.groupBy("term")
        .agg(F.sum("tf").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(STOP_K)
        .select("term")
    )
    tf = tf_all.join(F.broadcast(stop), "term", "left_anti")
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    # qterms_fn lets callers derive query terms FROM the indexed
    # vocabulary (wildcard expansion) instead of the inline query set.
    qt = qterms_fn(tf) if qterms_fn is not None else _qterms(spark)
    if prune_m is not None:
        # champion lists (static index pruning): keep only each term's
        # top-m postings by IMPACT — the doclen-normalized BM25 tf
        # quotient tf/(tf + K1·(1−B + B·dl/avgdl_global)) — not raw tf,
        # so short relevant docs survive pruning (IIR §7.1.2's refinement;
        # raw-tf champions systematically lose them). The global avgdl is
        # a one-row broadcast kept in-plan. Doc norms (dl) stay EXACT —
        # computed above from the unpruned postings, as a pruned index
        # stores true doclens — while matching, n_cand, avgdl and df all
        # see only the pruned lists (the pruned index IS the index). The
        # per-term window partitions are Zipf-tail-bounded: the head
        # terms that would skew it are exactly the index-level stop list
        # removed just above.
        g_avg = dl.agg(F.avg("dl").alias("g_avgdl"))
        wc = Window.partitionBy("term").orderBy(
            F.desc(F.round("impact", 9)), F.asc("doc_id")
        )
        tf = (
            tf.join(dl, "doc_id")
            .crossJoin(F.broadcast(g_avg))
            .withColumn(
                "impact",
                F.col("tf")
                / (
                    F.col("tf")
                    + K1 * (1 - B + B * F.col("dl") / F.col("g_avgdl"))
                ),
            )
            .withColumn("__rn", F.row_number().over(wc))
            .filter(F.col("__rn") <= prune_m)
            .select("doc_id", "term", "tf")
        )

    m = tf.join(F.broadcast(qt), tf.term == qt.qterm).select(
        "query_id", "qterm", "mult", "doc_id", "tf"
    )
    if lang is not None:
        lang_docs = docs.filter(F.col("lang") == lang).select("doc_id")
        m = m.join(lang_docs, "doc_id", "semi")
    if term_filters:
        # boolean constraints restrict the matched stream BEFORE the
        # candidate stats (same placement as the category filter): Q1
        # n_cand / Q2 avgdl / df all recompute over the filtered set
        must_rows, excl_rows = _filter_spec_rows(term_filters)
        pres = tf.select("doc_id", "term")  # (doc, term) unique already
        if excl_rows:
            ex_spec = spark.createDataFrame(
                excl_rows, "query_id int, xterm string"
            )
            ex = (
                pres.join(F.broadcast(ex_spec), pres.term == ex_spec.xterm)
                .select("query_id", "doc_id")
                .distinct()
            )
            m = m.join(ex, ["query_id", "doc_id"], "left_anti")
        if must_rows:
            mu_spec = spark.createDataFrame(
                must_rows, "query_id int, mterm string, n_must int"
            )
            mu_ok = (
                pres.join(F.broadcast(mu_spec), pres.term == mu_spec.mterm)
                .groupBy("query_id", "doc_id", "n_must")
                .agg(F.countDistinct("mterm").alias("got"))
                .filter(F.col("got") == F.col("n_must"))
                .select("query_id", "doc_id", F.lit(1).alias("__mok"))
            )
            has_must = spark.createDataFrame(
                [(qid, 1) for qid in sorted({r[0] for r in must_rows})],
                "query_id int, __hm int",
            )
            m = (
                m.join(mu_ok, ["query_id", "doc_id"], "left")
                .join(F.broadcast(has_must), "query_id", "left")
                .filter(F.col("__hm").isNull() | F.col("__mok").isNotNull())
                .drop("__mok", "__hm")
            )
    cand = m.select("query_id", "doc_id").distinct()
    nq = cand.groupBy("query_id").agg(F.count("*").alias("n_cand"))
    avgdl = (
        cand.join(dl, "doc_id")
        .groupBy("query_id")
        .agg(F.avg("dl").alias("avgdl"))
    )
    dfq = m.groupBy("query_id", "qterm").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        m.join(F.broadcast(dfq), ["query_id", "qterm"])
        .join(F.broadcast(nq), "query_id")
        .join(F.broadcast(avgdl), "query_id")
        .join(dl, "doc_id")
        .withColumn(
            "idf",
            F.log((F.col("n_cand") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
        )
        .withColumn(
            "contrib",
            F.col("mult") * F.col("idf") * (F.col("tf") * (K1 + 1))
            / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 9)), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "doc_id", F.round("score", 6).alias("score_r"))
    )


def _sql_bm25_topk(
    lang: str | None,
    term_filters: dict[int, tuple[str, str]] | None = None,
    qterms_sql: str | None = None,
    prune_m: int | None = None,
) -> str:
    lang_pred = (
        f"\n  WHERE tf.doc_id IN (SELECT doc_id FROM documents WHERE lang = '{lang}')"
        if lang is not None
        else ""
    )
    src = "champ" if prune_m is not None else "tf"
    champ_cte = (
        f""",
gavg AS (SELECT avg(dl) AS g_avgdl FROM dl),
champ AS (
  SELECT doc_id, term, tf FROM (
    SELECT tf.doc_id, tf.term, tf.tf, row_number() OVER (
      PARTITION BY tf.term
      ORDER BY round(
        tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / gavg.g_avgdl)), 9
      ) DESC, tf.doc_id ASC
    ) AS rn
    FROM tf JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN gavg
  ) WHERE rn <= {prune_m}
)"""
        if prune_m is not None
        else ""
    )
    if term_filters:
        must_rows, excl_rows = _filter_spec_rows(term_filters)
        mus = ", ".join(f"({q}, '{t}', {n})" for q, t, n in must_rows) or \
            "(NULL, NULL, NULL)"
        exs = ", ".join(f"({q}, '{t}')" for q, t in excl_rows) or \
            "(NULL, NULL)"
        filter_ctes = f"""m0 AS (
  SELECT qt.query_id, qt.qterm, qt.mult, tf.doc_id, tf.tf
  FROM {src} tf JOIN qt ON tf.term = qt.qterm{lang_pred}
),
mus AS (SELECT * FROM (VALUES {mus}) u(query_id, mterm, n_must)
        WHERE query_id IS NOT NULL),
exs AS (SELECT * FROM (VALUES {exs}) e(query_id, xterm)
        WHERE query_id IS NOT NULL),
ex AS (
  SELECT DISTINCT e.query_id, p.doc_id
  FROM tf p JOIN exs e ON p.term = e.xterm
),
mu AS (
  SELECT query_id, doc_id FROM (
    SELECT u.query_id, p.doc_id, u.n_must,
           count(DISTINCT u.mterm) AS got
    FROM tf p JOIN mus u ON p.term = u.mterm
    GROUP BY u.query_id, p.doc_id, u.n_must
  ) WHERE got = n_must
),
m AS (
  SELECT m0.* FROM m0
  LEFT JOIN ex ON m0.query_id = ex.query_id AND m0.doc_id = ex.doc_id
  WHERE ex.doc_id IS NULL
    AND (m0.query_id NOT IN (SELECT query_id FROM mus)
         OR EXISTS (SELECT 1 FROM mu
                    WHERE mu.query_id = m0.query_id
                      AND mu.doc_id = m0.doc_id))
)"""
    else:
        filter_ctes = f"""m AS (
  SELECT qt.query_id, qt.qterm, qt.mult, tf.doc_id, tf.tf
  FROM {src} tf JOIN qt ON tf.term = qt.qterm{lang_pred}
)"""
    return f"""
WITH toks AS ({SQL_TOKENS}),
stop AS ({sql_stop(STOP_K)}),
ns AS (SELECT * FROM toks WHERE term NOT IN (SELECT term FROM stop)),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ns GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM ns GROUP BY doc_id),
qt AS ({qterms_sql if qterms_sql is not None else SQL_QTERMS}){champ_cte},
{filter_ctes},
cand AS (SELECT DISTINCT query_id, doc_id FROM m),
nq AS (SELECT query_id, count(*) AS n_cand FROM cand GROUP BY query_id),
ad AS (
  SELECT c.query_id, avg(dl.dl) AS avgdl
  FROM cand c JOIN dl ON c.doc_id = dl.doc_id GROUP BY c.query_id
),
dfq AS (
  SELECT query_id, qterm, count(DISTINCT doc_id) AS df
  FROM m GROUP BY query_id, qterm
),
scored AS (
  SELECT m.query_id, m.doc_id,
    sum(
      m.mult
      * ln((nq.n_cand - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
      * (m.tf * ({K1} + 1))
      / (m.tf + {K1} * (1 - {B} + {B} * dl.dl / ad.avgdl))
    ) AS score
  FROM m
  JOIN dfq ON m.query_id = dfq.query_id AND m.qterm = dfq.qterm
  JOIN nq ON m.query_id = nq.query_id
  JOIN ad ON m.query_id = ad.query_id
  JOIN dl ON m.doc_id = dl.doc_id
  GROUP BY m.query_id, m.doc_id
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM (
  SELECT query_id, doc_id, score,
    row_number() OVER (
      PARTITION BY query_id ORDER BY round(score, 9) DESC, doc_id ASC
    ) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


SQL_BM25_TOPK = _sql_bm25_topk(None)
SQL_BM25_TOPK_LANG = _sql_bm25_topk(FILTER_LANG)
SQL_BM25_FILTERED = _sql_bm25_topk(None, BM25_FILTER_SET)

# champion-list size: per-term pruned posting prefix length (IIR §7.1.2)
CHAMP_M = 25
SQL_CHAMPION_TOPK = _sql_bm25_topk(None, prune_m=CHAMP_M)


def q_champion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Champion-list (impact-ordered static index pruning) BM25 top-10
    (beyond-ref; Manning IIR §7.1.2 — the reference scores every posting of
    every query term, `common.py:120-143`, which a web-scale first phase
    cannot afford): offline, each term keeps only its top-``CHAMP_M``
    postings by (tf desc, doc_id asc); a query unions ONLY those champion
    lists, so the candidate set is O(m·|q|) — independent of corpus size —
    and the full BM25 math (exact doclens, pruned-index df/n_cand/avgdl)
    reranks it.

    Plan shape: one extra per-term top-m window over the postings table
    (partition key = term; bounded because the Zipf head is exactly the
    index-level stop list removed first), then the standard BM25 plan over
    the far smaller pruned relation. At 100 TB the champion table is
    precomputed once at index-build time and replaces the postings scan in
    the hot path; df-by-term and the champion prefix are both per-term,
    so pruning adds no new shuffle key."""
    return _bm25_topk(spark, sf_dir, lang=None, prune_m=CHAMP_M)


def q_bm25_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ranked search (Lucene filter-context semantics, beyond the
    reference's pure OR ranking): BM25 over the query terms, candidates
    restricted to docs containing ALL of the query's must terms and NONE
    of its must_not terms (BM25_FILTER_SET); filter terms never score.
    Q1 n_cand / Q2 avgdl / df recompute over the filtered candidate set —
    identical semantics to ``QuerySpec(filter_terms=, exclude_terms=)`` on
    both persisted-index engines (rank-identity pytest-asserted).

    Plan shape: the must/exclude doc sets are two extra postings-grain
    aggregates over the SAME (doc, term, tf) table (at scale: pushed
    In(term) scans of the filter terms' postings only), anti-/left-joined
    into the matched stream doc-grain — no corpus scan is added."""
    return _bm25_topk(spark, sf_dir, lang=None, term_filters=BM25_FILTER_SET)


# --------------------------------------------------------------- highlight

HIGHLIGHT_TERMS = ("hash", "join", "data", "stream")


def q_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, marked, n_marks): corpus-scale match highlighting (F13,
    `common.py:158-170` semantics as a declarative scan-wide op): every
    whole-word, case-insensitive occurrence of a query term is wrapped in
    <mark>…</mark>. One JVM-side regexp_replace — no UDF, no shuffle; at
    100 TB this is scan-speed snippet generation. (The engine's result-row
    highlighter uses the index's stored offsets instead —
    `query/highlight.py`, pytest-covered.)"""
    alt = "|".join(HIGHLIGHT_TERMS)
    d = load_documents(spark, sf_dir)
    marked = F.regexp_replace(
        F.col("text"), f"(?i)\\b({alt})\\b", "<mark>$1</mark>"
    )
    return d.select(
        "doc_id",
        marked.alias("marked"),
        (
            (F.length(marked) - F.length("text"))
            / (len("<mark></mark>"))
        ).cast("int").alias("n_marks"),
    )


SQL_HIGHLIGHT = f"""
SELECT doc_id,
       regexp_replace(text, '\\b({"|".join(HIGHLIGHT_TERMS)})\\b',
                      '<mark>\\1</mark>', 'gi') AS marked,
       ((length(regexp_replace(text, '\\b({"|".join(HIGHLIGHT_TERMS)})\\b',
                               '<mark>\\1</mark>', 'gi')) - length(text))
        / {len("<mark></mark>")})::INT AS n_marks
FROM documents
"""


# ------------------------------------------------------------------ tf-idf

def _tfidf(
    spark: SparkSession,
    sf_dir: str,
    cosine: bool,
    seeds: list[int] | None = None,
) -> DataFrame:
    """ltn-lnn (cosine=False) / ltc-lnc (cosine=True) top-10.

    Doc weight (1+ln tf)·ln(N/df) with N = FULL corpus size (quirk Q1 —
    `common.py:66-69`); query weight (1+ln qtf), cosine-normalized for
    *-lnc over the query vector and over the doc's MATCHED terms
    (`common.py:15-16,26-56`).

    ``seeds``: more-like-this mode — the "queries" are whole documents
    (query_id = seed doc_id, qterm multiplicity = the seed's tf), the
    seed itself excluded from its own result.
    """
    docs = load_documents(spark, sf_dir)
    n_docs = docs.count()  # tiny scalar; at 10^12 rows read from stats table
    # single-scan structure as in q_bm25_topk: everything derives from the
    # aggregated (doc_id, term, tf) table
    tf_all = (
        tokens_view(docs)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()  # materialize once; all branches reuse (the
        # small-SF stand-in for the persisted postings table of the
        # engine path — measured 7× faster than recompute-per-branch)
    )
    stop = (
        tf_all.groupBy("term")
        .agg(F.sum("tf").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(STOP_K)
        .select("term")
    )
    tf = tf_all.join(F.broadcast(stop), "term", "left_anti")
    tdf = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    if seeds is None:
        qt = _qterms(spark)
    else:
        qt = tf.filter(F.col("doc_id").isin(seeds)).select(
            F.col("doc_id").alias("query_id"),
            F.col("term").alias("qterm"),
            F.col("tf").alias("mult"),
        )
    qt = qt.withColumn("q_w", 1.0 + F.log("mult"))
    if cosine:
        wq = Window.partitionBy("query_id")
        qt = qt.withColumn(
            "q_w", F.col("q_w") / F.sqrt(F.sum(F.col("q_w") ** 2).over(wq))
        )
    m = (
        tf.join(F.broadcast(qt), tf.term == qt.qterm)
        .join(F.broadcast(tdf), "term")
        .withColumn("d_w", (1.0 + F.log("tf")) * F.log(F.lit(float(n_docs)) / F.col("df")))
    )
    if seeds is not None:
        m = m.filter(F.col("doc_id") != F.col("query_id"))
    if cosine:
        wd = Window.partitionBy("query_id", "doc_id")
        m = m.withColumn("d_w", F.col("d_w") / F.sqrt(F.sum(F.col("d_w") ** 2).over(wd)))
    scored = m.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("q_w") * F.col("d_w")).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 9)), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "doc_id", F.round("score", 6).alias("score_r"))
    )


def q_tfidf_ltn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tfidf(spark, sf_dir, cosine=False)


def q_tfidf_ltc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tfidf(spark, sf_dir, cosine=True)


def _sql_tfidf(cosine: bool, seeds: list[int] | None = None) -> str:
    qw = "1.0 + ln(mult)"
    qnorm = (
        "/ sqrt(sum(power(1.0 + ln(mult), 2)) OVER (PARTITION BY query_id))"
        if cosine
        else ""
    )
    dnorm = (
        "d_w_raw / sqrt(sum(power(d_w_raw, 2)) OVER (PARTITION BY query_id, doc_id))"
        if cosine
        else "d_w_raw"
    )
    if seeds is None:
        qt0 = SQL_QTERMS
        self_excl = ""
    else:
        ids = ", ".join(str(s) for s in seeds)
        qt0 = (
            "SELECT doc_id AS query_id, term AS qterm, tf AS mult"
            f" FROM tf WHERE doc_id IN ({ids})"
        )
        self_excl = " AND tf.doc_id <> qt.query_id"
    return f"""
WITH toks AS ({SQL_TOKENS}),
stop AS ({sql_stop(STOP_K)}),
ns AS (SELECT * FROM toks WHERE term NOT IN (SELECT term FROM stop)),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ns GROUP BY doc_id, term),
tdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
nd AS (SELECT count(*) AS n_docs FROM documents),
qt0 AS ({qt0}),
qt AS (SELECT query_id, qterm, ({qw}) {qnorm} AS q_w FROM qt0),
m AS (
  SELECT qt.query_id, tf.doc_id, qt.q_w,
         (1.0 + ln(tf.tf)) * ln(nd.n_docs::DOUBLE / tdf.df) AS d_w_raw
  FROM tf
  JOIN qt ON tf.term = qt.qterm{self_excl}
  JOIN tdf ON tf.term = tdf.term
  CROSS JOIN nd
),
m2 AS (
  SELECT query_id, doc_id, q_w, {dnorm} AS d_w FROM m
),
scored AS (
  SELECT query_id, doc_id, sum(q_w * d_w) AS score
  FROM m2 GROUP BY query_id, doc_id
)
SELECT query_id, rank, doc_id, round(score, 6) AS score_r
FROM (
  SELECT query_id, doc_id, score,
    row_number() OVER (
      PARTITION BY query_id ORDER BY round(score, 9) DESC, doc_id ASC
    ) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


SQL_TFIDF_LTN = _sql_tfidf(cosine=False)
SQL_TFIDF_LTC = _sql_tfidf(cosine=True)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both tf-idf weighting schemes (ltn-lnn and ltc-lnc) as ONE battery
    entry: the union of the two top-10 rankings tagged by ``scheme``, so a
    single driver row value-checks both scoring formulas. The narrow
    :func:`q_tfidf_ltn` / :func:`q_tfidf_ltc` remain the user-facing API."""
    ltn = _tfidf(spark, sf_dir, cosine=False).select(
        F.lit("ltn").alias("scheme"), "query_id", "rank", "doc_id", "score_r"
    )
    ltc = _tfidf(spark, sf_dir, cosine=True).select(
        F.lit("ltc").alias("scheme"), "query_id", "rank", "doc_id", "score_r"
    )
    return ltn.unionByName(ltc)


SQL_TFIDF_TOPK = f"""
SELECT 'ltn' AS scheme, query_id, rank, doc_id, score_r FROM ({SQL_TFIDF_LTN})
UNION ALL
SELECT 'ltc' AS scheme, query_id, rank, doc_id, score_r FROM ({SQL_TFIDF_LTC})
"""


# ------------------------------------------------ more-like-this + facets

# Seed documents for more-like-this: the whole document is the query
# (Lucene MoreLikeThis semantics, scored ltc-lnc like tfidf_ltc). Small
# ids exist at every scale factor.
MLT_SEEDS = [0, 7, 42]


def q_mlt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this: top-10 docs most similar to each seed DOCUMENT by
    ltc-lnc cosine (the seed's own tf vector is the query; the seed is
    excluded from its result). Beyond-reference fulltext feature; same
    single-scan plan shape as tfidf_ltc — the seed vectors are a tiny
    broadcast side, so MLT costs one postings-grain join regardless of
    corpus size."""
    return _tfidf(spark, sf_dir, cosine=True, seeds=MLT_SEEDS)


SQL_MLT_TOPK = _sql_tfidf(cosine=True, seeds=MLT_SEEDS)


def q_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted navigation counts: per query, how many candidate docs fall
    in each ``lang`` facet (the sidebar counts every fulltext UI shows
    next to ranked results). One broadcast-joined doc-grain hash-agg over
    the candidate set; the facet column would be dictionary-encoded at
    100 TB — scan-speed."""
    cand = q_candidates(spark, sf_dir)
    d = load_documents(spark, sf_dir).select("doc_id", "lang")
    return cand.join(d, "doc_id").groupBy("query_id", "lang").agg(
        F.count("*").alias("n_docs")
    )


SQL_FACETS = f"""
SELECT query_id, lang, count(*) AS n_docs
FROM ({SQL_CANDIDATES}) c JOIN documents d USING (doc_id)
GROUP BY query_id, lang
"""


# ------------------------------------------------------------ bigram index

def q_bigram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spell-correction bigram dictionary (A6, `bigram_index/phase1.py:45-59`):
    char-2-grams over '#'||word||'#' of every DISTINCT term, with the
    bigram's multiplicity inside the word. All JVM-side: sequence +
    transform + explode (no UDF)."""
    t = tokens_view(load_documents(spark, sf_dir))
    vocab = t.select("term").distinct().withColumn(
        "padded", F.concat(F.lit("#"), F.col("term"), F.lit("#"))
    )
    bgs = vocab.select(
        F.col("term").alias("word"),
        F.explode(
            F.expr("transform(sequence(1, length(padded) - 1), i -> substring(padded, i, 2))")
        ).alias("bigram"),
    )
    return bgs.groupBy("bigram", "word").agg(F.count("*").alias("cnt"))


SQL_BIGRAM_INDEX = f"""
WITH vocab AS (SELECT DISTINCT term FROM ({SQL_TOKENS})),
padded AS (SELECT term AS word, '#' || term || '#' AS p FROM vocab),
bgs AS (
  SELECT word, substring(p, i, 2) AS bigram
  FROM padded, unnest(generate_series(1, length(p) - 1)) AS t(i)
)
SELECT bigram, word, count(*) AS cnt FROM bgs GROUP BY bigram, word
"""


# ----------------------------------------------------------- phrase search

# Inline phrase query set (fulltext positional search). q1 repeats a term
# (overlapping occurrences must each count); q2/q4 are 3-term phrases; q5
# contains an absent term (zero hits for that query, not an error).
PHRASE_SET: list[tuple[int, str]] = [
    (0, "hash join"),
    (1, "table table"),
    (2, "fast merge batch"),
    (3, "window table"),
    (4, "slow filter value"),
    (5, "scan zzznotfound"),
]


def phrase_terms_rows() -> list[tuple[int, int, str, int]]:
    """(query_id, idx, qterm, n_terms) — the phrase token table the
    SQL_PHRASE_TOPK oracle inlines."""
    import re

    rows: list[tuple[int, int, str, int]] = []
    for qid, text in PHRASE_SET:
        terms = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        rows.extend((qid, i, w, len(terms)) for i, w in enumerate(terms))
    return rows


def _phrase_sql_values() -> str:
    return ", ".join(
        f"({qid}, {i}, '{t}', {n})" for qid, i, t, n in phrase_terms_rows()
    )


SQL_TOKENS_POS = """
  SELECT doc_id, pos, term FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term,
           unnest(range(len(string_split_regex(lower(text), '[^a-z0-9]+'))))
             AS pos
    FROM documents
  ) WHERE term <> ''
"""

SQL_PHRASE_TOPK = f"""
WITH toks AS ({SQL_TOKENS_POS}),
q AS (SELECT * FROM (VALUES {{values}}) v(query_id, idx, qterm, n)),
hits AS (
  SELECT q.query_id, t.doc_id, t.pos - q.idx AS start, q.idx, q.n
  FROM toks t JOIN q ON t.term = q.qterm
),
occ AS (
  SELECT query_id, doc_id, start
  FROM hits GROUP BY query_id, doc_id, start, n
  HAVING count(DISTINCT idx) = n
),
scored AS (
  SELECT query_id, doc_id, count(*) AS n_occ FROM occ
  GROUP BY query_id, doc_id
)
SELECT query_id, rank, doc_id, n_occ FROM (
  SELECT query_id, doc_id, n_occ,
         row_number() OVER (
           PARTITION BY query_id ORDER BY n_occ DESC, doc_id ASC
         ) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
""".replace("{values}", _phrase_sql_values())


# -------------------------------------------------------- proximity search

# Distinct-term queries (proximity is co-occurrence, not sequence); q4 has
# an absent term. Window in token positions.
PROX_SET: list[tuple[int, str]] = [
    (0, "hash join"),
    (1, "merge sort stream"),
    (2, "window scan filter"),
    (3, "big vector"),
    (4, "scan zzznotfound"),
]
PROX_WINDOW = 4


def _prox_sql_values() -> str:
    import re as _re

    rows = []
    for qid, text in PROX_SET:
        terms = [w for w in _re.split(r"[^a-z0-9]+", text.lower()) if w]
        uniq = list(dict.fromkeys(terms))
        rows.extend((qid, i, w, len(uniq)) for i, w in enumerate(uniq))
    return ", ".join(f"({qid}, {i}, '{t}', {n})" for qid, i, t, n in rows)


SQL_PROX_TOPK = f"""
WITH toks AS ({SQL_TOKENS_POS}),
q AS (SELECT * FROM (VALUES {{values}}) v(query_id, idx, qterm, n)),
h AS (
  SELECT q.query_id, t.doc_id, q.idx, q.n, t.pos
  FROM toks t JOIN q ON t.term = q.qterm
),
anchors AS (SELECT query_id, doc_id, pos AS anchor, n FROM h WHERE idx = 0),
others AS (SELECT query_id, doc_id, idx, pos FROM h WHERE idx > 0),
wit AS (
  SELECT a.query_id, a.doc_id, a.anchor
  FROM anchors a
  JOIN others o ON a.query_id = o.query_id AND a.doc_id = o.doc_id
  WHERE abs(o.pos - a.anchor) <= {PROX_WINDOW}
  GROUP BY a.query_id, a.doc_id, a.anchor, a.n
  HAVING count(DISTINCT o.idx) = a.n - 1
),
wit1 AS (SELECT query_id, doc_id, anchor FROM anchors WHERE n = 1),
witness AS (SELECT * FROM wit UNION ALL SELECT * FROM wit1),
scored AS (
  SELECT query_id, doc_id, count(*) AS n_win FROM witness
  GROUP BY query_id, doc_id
)
SELECT query_id, rank, doc_id, n_win FROM (
  SELECT query_id, doc_id, n_win,
         row_number() OVER (
           PARTITION BY query_id ORDER BY n_win DESC, doc_id ASC
         ) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
""".replace("{values}", _prox_sql_values())


# -------------------------------------------------- boolean retrieval

# (query_id, must, should, must_not) — beyond-reference fulltext feature
# (the reference ranks OR-unions only; every serious fulltext index also
# answers must/should/must-not). Semantics: a doc qualifies iff it contains
# EVERY must term, NO must_not term, and (when the must list is empty) at
# least one should term; score = number of DISTINCT should terms present,
# rank by (n_should desc, doc_id asc), top-K per query. q5's absent must
# term proves the empty-result path.
BOOL_QUERY_SET: list[tuple[int, str, str, str]] = [
    (0, "hash join", "stream merge", ""),
    (1, "window", "aggregate scan sort", "hash"),
    (2, "", "merge sort stream", "table"),
    (3, "data row", "", "join"),
    (4, "group", "order line column", "zzznotfound"),
    (5, "zzznotfound", "batch", ""),
]


def bool_spec_rows() -> list[tuple[int, str, str, int]]:
    """(query_id, term, role, n_must) rows; terms deduped per role, and a
    term listed in several roles keeps each (same as any boolean engine —
    must+must_not on one term simply never matches)."""
    import re as _re

    def toks(s: str) -> list[str]:
        return list(
            dict.fromkeys(w for w in _re.split(r"[^a-z0-9]+", s.lower()) if w)
        )

    rows: list[tuple[int, str, str, int]] = []
    for qid, must, should, nots in BOOL_QUERY_SET:
        m = toks(must)
        for t in m:
            rows.append((qid, t, "must", len(m)))
        for t in toks(should):
            rows.append((qid, t, "should", len(m)))
        for t in toks(nots):
            rows.append((qid, t, "not", len(m)))
    return rows


def _bool_sql_values() -> str:
    return ", ".join(
        f"({qid}, '{t}', '{role}', {n})" for qid, t, role, n in bool_spec_rows()
    )


SQL_BOOL_TOPK = f"""
WITH dt AS (SELECT DISTINCT doc_id, term FROM ({SQL_TOKENS})),
spec AS (
  SELECT * FROM (VALUES {{values}}) s(query_id, term, role, n_must)
),
agg AS (
  SELECT query_id, doc_id, n_must,
         count(CASE WHEN role = 'must' THEN 1 END) AS must_hit,
         count(CASE WHEN role = 'should' THEN 1 END) AS n_should,
         count(CASE WHEN role = 'not' THEN 1 END) AS not_hit
  FROM dt JOIN spec USING (term)
  GROUP BY query_id, doc_id, n_must
)
SELECT query_id, rank, doc_id, n_should FROM (
  SELECT query_id, doc_id, n_should,
         row_number() OVER (
           PARTITION BY query_id ORDER BY n_should DESC, doc_id ASC
         ) AS rank
  FROM agg
  WHERE must_hit = n_must AND not_hit = 0
    AND (n_must > 0 OR n_should > 0)
) WHERE rank <= {TOP_K}
""".replace("{values}", _bool_sql_values())


# -------------------------------------------------------- autocomplete

# Suggester prefixes: first-letter and two-letter probes. Data-driven
# results — the vocabulary differs per scale factor by design.
SUGGEST_PREFIXES = ["s", "pa", "co"]
SUGGEST_K = 10


def q_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(prefix, rank, term, df): query autocomplete — top-10 completions
    per prefix ranked by document frequency (the suggester every search
    box needs; ties term-ascending).

    Scale shape: each prefix is a SARGABLE range predicate on the term
    dictionary (StartsWith pushes to the parquet scan as a min/max
    row-group filter — the term dictionary is written term-sorted in the
    persisted index), NOT a nested-loop prefix join; per-prefix top-K is
    a K-row window over the pruned slice. Same dictionary-expansion trick
    the WAND engine's prefix match mode uses (`query/wand.py`)."""
    tdf = (
        tokens_view(load_documents(spark, sf_dir))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    parts = [
        tdf.filter(F.col("term").startswith(p)).withColumn("prefix", F.lit(p))
        for p in SUGGEST_PREFIXES
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    w = Window.partitionBy("prefix").orderBy(F.desc("df"), F.asc("term"))
    return (
        u.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SUGGEST_K)
        .select("prefix", "rank", "term", "df")
    )


SQL_SUGGEST = f"""
WITH tdf AS ({SQL_TERM_DF}),
hits AS (
  {" UNION ALL ".join(
    f"SELECT '{p}' AS prefix, term, df FROM tdf WHERE term LIKE '{p}%'"
    for p in SUGGEST_PREFIXES
  )}
)
SELECT prefix, rank, term, df FROM (
  SELECT prefix, term, df,
         row_number() OVER (
           PARTITION BY prefix ORDER BY df DESC, term ASC
         ) AS rank
  FROM hits
) WHERE rank <= {SUGGEST_K}
"""


# ------------------------------------------------------- wildcard search

#: (query_id, SQL-LIKE pattern). The user-facing syntax is ``*`` (Lucene);
#: stored here pre-translated to LIKE ``%`` so the Spark plan and the
#: DuckDB twin share one literal. Covers prefix, suffix, both-anchored
#: and infix shapes.
WILDCARD_QUERY_SET: list[tuple[int, str]] = [
    (0, "va%"),      # prefix
    (1, "%dow"),     # suffix
    (2, "s%t"),      # prefix + suffix
    (3, "qu%ry"),    # infix hole
]


def q_wildcard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, rank, doc_id, score_r): wildcard ranked search — each
    pattern expands against the INDEXED vocabulary (stop words are never
    indexed, exactly Lucene's multi-term rewrite), every expansion scores
    as a weight-1 query term, then the standard candidate-set BM25 ranks
    (scoring-boolean rewrite, not constant-score).

    Scale shape: expansion runs on the term dictionary, never the
    postings. Patterns with a literal prefix are SARGABLE (Catalyst turns
    ``LIKE 'va%'`` into StartsWith → min/max row-group pruning on the
    term-sorted dictionary); suffix-anchored patterns would use the
    reversed-term dictionary in the persisted index (same trick,
    reverse(term)-sorted) — here the dictionary is derived in-plan so all
    four shapes share the one tiny vocabulary frame."""

    def expand(tf: DataFrame) -> DataFrame:
        vocab = tf.select("term").distinct()
        parts = [
            vocab.filter(F.col("term").like(pat)).select(
                F.lit(qid).alias("query_id"),
                F.col("term").alias("qterm"),
                F.lit(1).alias("mult"),
            )
            for qid, pat in WILDCARD_QUERY_SET
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u

    return _bm25_topk(spark, sf_dir, None, qterms_fn=expand)


SQL_WILDCARD_QTERMS = f"""
  SELECT p.query_id, v.term AS qterm, 1 AS mult
  FROM (SELECT DISTINCT term FROM tf) v,
       (VALUES {", ".join(f"({q}, '{p}')" for q, p in WILDCARD_QUERY_SET)})
         p(query_id, pat)
  WHERE v.term LIKE p.pat
"""

SQL_WILDCARD_TOPK = _sql_bm25_topk(None, qterms_sql=SQL_WILDCARD_QTERMS)
