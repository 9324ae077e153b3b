"""Driver-verifiable entries that exercise the PERSISTED-index engine path
(build → pack → block-max WAND) and the distributed spell corrector.

``wand_topk`` is the strongest correctness statement in the battery: the
compressed block-max WAND physical path must produce values identical to
``SQL_BM25_TOKK``'s declarative math in DuckDB — same logical query, two
radically different execution strategies, value-hash-equal results.

The index for a given input builds once into a /tmp cache named by the
input's fingerprint (`input_key`), so a rewritten ``documents.parquet``
gets a fresh index rather than the old one (manifest-gated, same resume
machinery as production builds).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from information_retrieval_spark.index.build import IndexBuilder
from information_retrieval_spark.ops.ir_direct import QUERY_SET
from information_retrieval_spark.query.engine import QuerySpec

STOP_K = 20

# one engine per sf_dir, over its input's current index: WandEngine
# persists its bucket side frame + last term shard across search() calls,
# so every battery entry that constructs a fresh engine re-pays the side
# frame's build AND strands the old copy in executor storage (the
# accumulation tax measured in BENCH/BASELINE.md's corpus-size section).
# Entries share one; a rewritten input's new index closes the old engine.
_ENGINES: dict = {}


def get_wand_engine(spark: SparkSession, sf_dir: str):
    """The shared engine over ``documents``' index at sf_dir."""
    from information_retrieval_spark.query.wand import WandEngine

    idx = ensure_documents_index(spark, sf_dir)
    eng = _ENGINES.get(sf_dir)
    if eng is not None and eng.spark is spark:
        if eng.snapshot.index_dir == idx:
            return eng
        eng.close()
    eng = WandEngine(spark, idx)
    _ENGINES[sf_dir] = eng
    return eng


def input_key(path: str) -> str:
    """A cache key for the parquet input at ``path`` (one file, or a dir
    of part files): md5 over the path and each data file's name, size,
    mtime and footer row count. Rewriting the input at the same path
    changes it; computing it reads footers only (no Spark job)."""
    import pyarrow.parquet as pq

    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(root, f)
        for root, _dirs, names in os.walk(path)
        for f in names
        if not f.startswith(("_", "."))
    )
    h = hashlib.md5(path.encode())
    for f in files:
        st = os.stat(f)
        rows = pq.ParquetFile(f).metadata.num_rows
        h.update(
            f"{os.path.relpath(f, path)}:{st.st_size}:{st.st_mtime_ns}:"
            f"{rows}\n".encode()
        )
    return h.hexdigest()[:16]


def _documents(sf_dir: str) -> str:
    return f"{sf_dir}/documents.parquet"


def _ensure_built(spark: SparkSession, sf_dir: str, prefix: str,
                  **config) -> str:
    """Build (once per input version) an index over ``documents`` into
    /tmp; a complete build is reused without any Spark job."""
    idx = f"/tmp/{prefix}_{input_key(_documents(sf_dir))}"
    manifest = os.path.join(idx, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            if "catalog" in json.load(f)["stages"]:
                return idx
    IndexBuilder(
        spark, idx, sections={"body": "text"}, tokenizer="simple", **config
    ).build(
        spark.read.parquet(_documents(sf_dir)),
        resume=os.path.exists(manifest),
    )
    return idx


def ensure_documents_index(spark: SparkSession, sf_dir: str) -> str:
    """The persisted index over ``documents`` at sf_dir."""
    return _ensure_built(spark, sf_dir, "ir_docs_index", stop_k=STOP_K)


def q_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 via block-max WAND over the packed index — must equal
    the declarative BM25 plan (oracle: SQL_BM25_TOPK)."""
    eng = get_wand_engine(spark, sf_dir)
    specs = [
        QuerySpec(qid, text, "okapi25", 10, spell=False, match_mode="exact")
        for qid, text in QUERY_SET
    ]
    out = eng.search(specs)
    return out.select(
        F.col("query_id").cast("int").alias("query_id"),
        "rank",
        "doc_id",
        F.round("score", 6).alias("score_r"),
    )


# ------------------------------------------------------------------- spell

MISSPELLED = ["tabel", "jion", "windoow", "scann", "merrge", "stremm"]


def q_spell_correct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qword, corrected): bigram-Jaccard + Levenshtein spell correction as
    a DISTRIBUTED plan (`bigram_index/phase1.py:80-103` re-expressed):
    query-bigram table ⨝broadcast bigram index → hits agg → Jaccard-ish
    score → top-20 window → min-Levenshtein window. Ties pinned
    (-score, word) then (lev, -score, word) as in query/spell.py."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.lower(F.col("text")), "[^a-z0-9]+")
    vocab = (
        docs.select(F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
        .withColumn("padded", F.concat(F.lit("#"), F.col("word"), F.lit("#")))
    )
    bindex = (
        vocab.select(
            "word",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(padded) - 1),"
                    " i -> substring(padded, i, 2))"
                )
            ).alias("bigram"),
        )
        .groupBy("bigram", "word")
        .agg(F.count("*").alias("cnt"))
    )
    qrows = []
    for qw in MISSPELLED:
        p = "#" + qw + "#"
        counts: dict[str, int] = {}
        for i in range(len(p) - 1):
            bg = p[i : i + 2]
            counts[bg] = counts.get(bg, 0) + 1
        for bg, c in counts.items():
            qrows.append((qw, bg, c))
    qb = spark.createDataFrame(qrows, "qword string, bigram string, qcnt int")
    hits = (
        bindex.join(F.broadcast(qb), "bigram")
        .groupBy("qword", "word")
        .agg(F.sum(F.col("cnt") * F.col("qcnt")).alias("hits"))
        .withColumn(
            "score",
            F.col("hits")
            / (F.length("qword") + F.length("word") + 2 - F.col("hits")),
        )
    )
    w20 = Window.partitionBy("qword").orderBy(F.desc("score"), F.asc("word"))
    top = hits.withColumn("r", F.row_number().over(w20)).filter(F.col("r") <= 20)
    wbest = Window.partitionBy("qword").orderBy(
        F.asc(F.levenshtein("word", "qword")), F.desc("score"), F.asc("word")
    )
    return (
        top.withColumn("rb", F.row_number().over(wbest))
        .filter(F.col("rb") == 1)
        .select("qword", F.col("word").alias("corrected"))
    )


def _q_values() -> str:
    return ", ".join(f"('{w}')" for w in MISSPELLED)


def _sql_qbigrams() -> str:
    """VALUES of (qword, bigram, qcnt) computed in SQL itself."""
    return f"""
  SELECT qword, bigram, count(*) AS qcnt
  FROM (
    SELECT qword, substring(p, i, 2) AS bigram
    FROM (SELECT qword, '#' || qword || '#' AS p
          FROM (VALUES {_q_values()}) AS v(qword)),
         unnest(generate_series(1, length(p) - 1)) AS t(i)
  )
  GROUP BY qword, bigram
"""


SQL_SPELL_CORRECT = f"""
WITH vocab AS (
  SELECT DISTINCT word FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
    FROM documents
  ) WHERE word <> ''
),
bindex AS (
  SELECT bigram, word, count(*) AS cnt
  FROM (
    SELECT word, substring(p, i, 2) AS bigram
    FROM (SELECT word, '#' || word || '#' AS p FROM vocab),
         unnest(generate_series(1, length(p) - 1)) AS t(i)
  )
  GROUP BY bigram, word
),
qb AS ({_sql_qbigrams()}),
hits AS (
  SELECT qb.qword, b.word, sum(b.cnt * qb.qcnt) AS hits
  FROM bindex b JOIN qb ON b.bigram = qb.bigram
  GROUP BY qb.qword, b.word
),
scored AS (
  SELECT qword, word, hits,
         hits::DOUBLE / (length(qword) + length(word) + 2 - hits) AS score
  FROM hits
),
top AS (
  SELECT * FROM (
    SELECT qword, word, score,
      row_number() OVER (PARTITION BY qword ORDER BY score DESC, word ASC) AS r
    FROM scored
  ) WHERE r <= 20
)
SELECT qword, word AS corrected FROM (
  SELECT qword, word,
    row_number() OVER (
      PARTITION BY qword
      ORDER BY levenshtein(word, qword) ASC, score DESC, word ASC
    ) AS rb
  FROM top
) WHERE rb = 1
"""


# ------------------------------------------------------------------ phrase

def ensure_documents_posindex(spark: SparkSession, sf_dir: str) -> str:
    """The phrase-serving positional index over ``documents``:
    ``stop_terms=[]`` so postings keep EVERY term's offset set — a
    stop-filtered index cannot answer phrases containing stop words
    (query/phrase.py module docstring)."""
    return _ensure_built(spark, sf_dir, "ir_docs_posidx", stop_terms=[])


def q_phrase_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase top-10 via the PERSISTED positional index
    (query/phrase.py) — must equal the declarative token-position plan
    (oracle: SQL_PHRASE_TOPK): stored offset sets with a pushed In(term)
    scan instead of a corpus re-tokenize."""
    from information_retrieval_spark.ops.ir_direct import PHRASE_SET
    from information_retrieval_spark.query.phrase import phrase_search

    idx = ensure_documents_posindex(spark, sf_dir)
    out = phrase_search(spark, idx, PHRASE_SET, k=10)
    return out.select(
        F.col("query_id").cast("int").alias("query_id"),
        "rank",
        "doc_id",
        "n_occ",
    )


def q_prox_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity top-10 via the persisted positional index
    (query/phrase.py::proximity_search) — must equal the declarative
    token-position plan (oracle: SQL_PROX_TOPK)."""
    from information_retrieval_spark.ops.ir_direct import (
        PROX_SET,
        PROX_WINDOW,
    )
    from information_retrieval_spark.query.phrase import proximity_search

    idx = ensure_documents_posindex(spark, sf_dir)
    out = proximity_search(spark, idx, PROX_SET, window=PROX_WINDOW, k=10)
    return out.select(
        F.col("query_id").cast("int").alias("query_id"),
        "rank",
        "doc_id",
        "n_win",
    )


def q_bool_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean must/should/must-not retrieval via the PERSISTED index
    (query/boolean.py) — must equal the declarative token plan (oracle:
    SQL_BOOL_TOPK). Served from the stop_terms=[] positional index so no
    query term can be silently absent."""
    from information_retrieval_spark.ops.ir_direct import BOOL_QUERY_SET, TOP_K
    from information_retrieval_spark.query.boolean import boolean_search

    idx = ensure_documents_posindex(spark, sf_dir)
    out = boolean_search(spark, idx, BOOL_QUERY_SET, k=TOP_K)
    return out.select(
        F.col("query_id").cast("int").alias("query_id"),
        "rank",
        "doc_id",
        "n_should",
    )


def q_wand_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ranked search via block-max WAND: BM25 over the packed
    index with per-query must/must_not constraints
    (QuerySpec.filter_terms / exclude_terms) — must equal the declarative
    filtered plan (oracle: SQL_BM25_FILTERED). The filter terms ride the
    per-batch shard; each bucket masks the disallowed docs out of the
    postings it decodes."""
    from information_retrieval_spark.ops.ir_direct import BM25_FILTER_SET
    eng = get_wand_engine(spark, sf_dir)
    specs = []
    for qid, text in QUERY_SET:
        m, x = BM25_FILTER_SET.get(qid, ("", ""))
        specs.append(
            QuerySpec(
                qid, text, "okapi25", 10, spell=False, match_mode="exact",
                filter_terms=tuple(m.split()),
                exclude_terms=tuple(x.split()),
            )
        )
    out = eng.search(specs)
    return out.select(
        F.col("query_id").cast("int").alias("query_id"),
        "rank",
        "doc_id",
        F.round("score", 6).alias("score_r"),
    )
