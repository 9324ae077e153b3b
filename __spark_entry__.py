"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator battery over the driver testdata
tables; ``oracle_sql()`` gives the DuckDB twin for every SQL-expressible op.
Every entry carries a DuckDB value oracle — including HITS (unrolled CTEs
with one-row norm subqueries) and the multimodal binary pipeline (the stub
decoder is a pure function of sha256(payload), re-derivable in SQL).

The battery is EXACTLY 50 entries so the driver's 50-entry verification
window covers every operator — one driver entry per distinct oracle.
Physical twins that share an oracle with a battery entry (bm25_topk≡
wand_topk, bm25_filtered≡wand_filtered, grep_topk≡grep_index — each the
declarative plan the index-backed one is measured against) and narrow
per-doc ops that are fused into a merged battery entry (text_stats =
token_count+quality+langid+fingerprint; tfidf_topk = ltn ∪ ltc) live in
``twin_queries()`` / ``twin_oracle_sql()``: they are NOT driver-run, but
scripts/verify_entry.py, the sf1.0 battery, bench.py and pytest still
exercise all of them. phrase_index, prox_index and bool_index have no
twin: their SQL oracle checks them directly.

Column-name / rounding convention: every computed column is aliased
identically on both sides; float score columns are rounded to 6 decimals
(suffix ``_r``) INSIDE both queries so cross-engine float-sum ulp noise
cannot break the driver's value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from information_retrieval_spark.ops import (
    dedup,
    engine_entry,
    events,
    graph,
    grep,
    hygiene,
    ir_direct,
    metrics,
    ml,
    multimodal,
    recsys,
    similarity,
    textstats,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 over documents at sf0.001 (one declarative
    plan: tokenize → stop-filter → tf/dl aggs → broadcast qterms join →
    candidate-set BM25 → per-query window top-k)."""
    return ir_direct.q_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # --- IR core (SURVEY.md §2.1-2.8) over `documents` -----------------
        "stop_topk": ir_direct.q_stop_topk,           # A1 + Q6
        "term_df": ir_direct.q_term_df,               # A3
        "doclen": ir_direct.q_doclen,                 # A4
        "tf": ir_direct.q_tf,                         # A2
        "candidates": ir_direct.q_candidates,         # U1/J1 + Q8
        "bm25_topk_lang": ir_direct.q_bm25_topk_lang, # P4/U4 category filter
        "champion_topk": ir_direct.q_champion_topk,   # pruned champion lists
        "tfidf_topk": ir_direct.q_tfidf_topk,         # F6/F7/F9 (ltn ∪ ltc)
        "mlt_topk": ir_direct.q_mlt_topk,             # more-like-this
        "facets": ir_direct.q_facets,                 # facet counts
        "suggest": ir_direct.q_suggest,               # autocomplete
        "wildcard_topk": ir_direct.q_wildcard_topk,   # wildcard multi-term
        # index-backed physical plans (oracle = the declarative plan's SQL,
        # also pytest-asserted in tests/):
        "wand_topk": engine_entry.q_wand_topk,        # F8/F10 + T1, packed index
        "wand_filtered": engine_entry.q_wand_filtered, # WAND + must/must_not
        "spell_correct": engine_entry.q_spell_correct, # A6 + F3-F5 + Q7
        "phrase_index": engine_entry.q_phrase_index,  # positional phrase
        "prox_index": engine_entry.q_prox_index,      # positional proximity
        "bool_index": engine_entry.q_bool_index,      # must/should/must-not
        "grep_index": grep.q_grep_persisted,  # regex search, persisted trigrams
        # --- text analysis (fused per-doc stats; narrow ops in twins) ------
        "text_stats": textstats.q_text_stats,
        "sample": textstats.q_sample,             # S4 (deterministic)
        # --- corpus hygiene (decontamination / repetition / collocations) --
        "contamination": hygiene.q_contamination,
        "repetition": hygiene.q_repetition,
        "collocations": hygiene.q_collocations,
        # --- deduplication -------------------------------------------------
        "dedup_exact": dedup.q_dedup_exact,
        "minhash_pairs": dedup.q_minhash_pairs,
        "simhash": dedup.q_simhash,
        "jaccard_pairs": dedup.q_jaccard_pairs,
        "embedding_dups": similarity.q_embedding_dups,
        # --- similarity search over `embeddings` ---------------------------
        "cosine_topk": similarity.q_cosine_topk,
        "ann_lsh_topk": similarity.q_ann_lsh_topk,
        "ann_ivf_topk": similarity.q_ann_ivf_topk,
        # --- event analytics (beyond-reference: time windows, JSON) --------
        "event_windows": events.q_event_windows,
        "sessionize": events.q_sessionize,
        "event_json": events.q_event_json,
        # --- IR evaluation + multimodal plumbing ---------------------------
        "eval_metrics": metrics.q_eval_metrics,       # A10/A11
        "media_features": multimodal.q_media_features, # binary cols pipeline
        # --- graph scoring -------------------------------------------------
        "pagerank": graph.q_pagerank,                 # G1 (fixed iters)
        "ppr": graph.q_ppr,                           # G1 personalized
        "rank_fusion": graph.q_rank_fusion,           # F11/F12
        "hits": graph.q_hits,                         # G2
        "author_hits": graph.q_author_hits,           # G2 bipartite
        # --- ML parity (G3/G5) ---------------------------------------------
        "naive_bayes": ml.q_naive_bayes,
        "kmeans": ml.q_kmeans,
        "purity": ml.q_purity,                        # A9 confusion + purity
        "plsa_topics": ml.q_plsa_topics,              # G4 (deterministic PLSA)
        "cluster_topics": ml.q_cluster_topics,        # G4 1-3gram feature space
        # --- recommenders (G7/G8) ------------------------------------------
        "user_knn": recsys.q_user_knn,
        "user_knn_lsh": recsys.q_user_knn_lsh,  # G7 scale path (SRP LSH)
        "content_recs": recsys.q_content_recs,
    }
    assert len(out) == 50, f"driver battery must be exactly 50, got {len(out)}"
    return out


def oracle_sql() -> dict[str, str]:
    return {
        "stop_topk": ir_direct.SQL_STOP_TOPK,
        "term_df": ir_direct.SQL_TERM_DF,
        "doclen": ir_direct.SQL_DOCLEN,
        "tf": ir_direct.SQL_TF,
        "candidates": ir_direct.SQL_CANDIDATES,
        "bm25_topk_lang": ir_direct.SQL_BM25_TOPK_LANG,
        "champion_topk": ir_direct.SQL_CHAMPION_TOPK,
        "tfidf_topk": ir_direct.SQL_TFIDF_TOPK,
        "mlt_topk": ir_direct.SQL_MLT_TOPK,
        "facets": ir_direct.SQL_FACETS,
        "suggest": ir_direct.SQL_SUGGEST,
        "wildcard_topk": ir_direct.SQL_WILDCARD_TOPK,
        # WAND over the packed binary index must equal the declarative BM25
        # plan — same logical query, different physical strategy:
        "wand_topk": ir_direct.SQL_BM25_TOPK,
        "wand_filtered": ir_direct.SQL_BM25_FILTERED,
        "spell_correct": engine_entry.SQL_SPELL_CORRECT,
        # persisted positional/boolean/trigram indexes must equal the
        # declarative token plans — two physical strategies, one oracle:
        "phrase_index": ir_direct.SQL_PHRASE_TOPK,
        "prox_index": ir_direct.SQL_PROX_TOPK,
        "bool_index": ir_direct.SQL_BOOL_TOPK,
        "grep_index": grep.SQL_GREP_TOPK,
        "text_stats": textstats.SQL_TEXT_STATS,
        "sample": textstats.SQL_SAMPLE,
        "contamination": hygiene.SQL_CONTAMINATION,
        "repetition": hygiene.SQL_REPETITION,
        "collocations": hygiene.SQL_COLLOCATIONS,
        "dedup_exact": dedup.SQL_DEDUP_EXACT,
        "minhash_pairs": dedup.SQL_MINHASH_PAIRS,
        "simhash": dedup.SQL_SIMHASH,
        "jaccard_pairs": dedup.SQL_JACCARD_PAIRS,
        "embedding_dups": similarity.SQL_EMBEDDING_DUPS,
        "cosine_topk": similarity.SQL_COSINE_TOPK,
        "ann_lsh_topk": similarity.SQL_ANN_LSH_TOPK,
        "ann_ivf_topk": similarity.SQL_ANN_IVF_TOPK,
        "event_windows": events.SQL_EVENT_WINDOWS,
        "sessionize": events.SQL_SESSIONIZE,
        "event_json": events.SQL_EVENT_JSON,
        "eval_metrics": metrics.SQL_EVAL_METRICS,
        # the stub decoder is a pure function of sha256(payload), so the
        # binary pipeline IS value-checkable — the twin re-derives the
        # float32 features from the hex digest (multimodal._sql_media_features)
        "media_features": multimodal.SQL_MEDIA_FEATURES,
        "pagerank": graph.SQL_PAGERANK,
        "ppr": graph.SQL_PPR,
        "rank_fusion": graph.SQL_RANK_FUSION,
        # per-iteration L2 norm is a one-row scalar CTE cross-join, same
        # unrolling pattern as SQL_PAGERANK:
        "hits": graph.SQL_HITS,
        "author_hits": graph.SQL_AUTHOR_HITS,
        "naive_bayes": ml.SQL_NAIVE_BAYES,
        "kmeans": ml.SQL_KMEANS,
        "purity": ml.SQL_PURITY,
        "plsa_topics": ml.SQL_PLSA_TOPICS,
        "cluster_topics": ml.SQL_CLUSTER_TOPICS,
        "user_knn": recsys.SQL_USER_KNN,
        "user_knn_lsh": recsys.SQL_USER_KNN_LSH,
        "content_recs": recsys.SQL_CONTENT_RECS,
    }


# --------------------------------------------------------------------------
# Non-driver battery: physical twins and narrow ops subsumed by merged
# entries. Verified by scripts/verify_entry.py (sf0.01 + sf1.0) and pytest;
# benched by bench.py. NOT part of the driver's 50-entry window.
# --------------------------------------------------------------------------

def twin_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # declarative twins of the index-backed battery entries:
        "bm25_topk": ir_direct.q_bm25_topk,           # ≡ wand_topk
        "bm25_filtered": ir_direct.q_bm25_filtered,   # ≡ wand_filtered
        "grep_topk": grep.q_grep_topk,                # ≡ grep_index (brute)
        # narrow ops fused into merged battery entries:
        "token_count": textstats.q_token_count,       # ⊂ text_stats
        "quality": textstats.q_quality,               # ⊂ text_stats
        "langid": textstats.q_langid,                 # ⊂ text_stats
        "fingerprint": textstats.q_fingerprint,       # ⊂ text_stats
        "tfidf_ltn": ir_direct.q_tfidf_ltn,           # ⊂ tfidf_topk
        "tfidf_ltc": ir_direct.q_tfidf_ltc,           # ⊂ tfidf_topk
        # subsumed by downstream battery entries:
        "term_counts": ir_direct.q_term_counts,       # ⊂ stop_topk ranking
        "bigram_index": ir_direct.q_bigram_index,     # ⊂ spell_correct oracle
        "highlight": ir_direct.q_highlight,           # markup twin, pytest
        "minhash_sig": dedup.q_minhash_signatures,    # ⊂ minhash_pairs
        "srp_buckets": similarity.q_srp_buckets,      # ⊂ ann_lsh_topk oracle
    }


def twin_oracle_sql() -> dict[str, str]:
    return {
        "bm25_topk": ir_direct.SQL_BM25_TOPK,
        "bm25_filtered": ir_direct.SQL_BM25_FILTERED,
        "grep_topk": grep.SQL_GREP_TOPK,
        "token_count": textstats.SQL_TOKEN_COUNT,
        "quality": textstats.SQL_QUALITY,
        "langid": textstats.SQL_LANGID,
        "fingerprint": textstats.SQL_FINGERPRINT,
        "tfidf_ltn": ir_direct.SQL_TFIDF_LTN,
        "tfidf_ltc": ir_direct.SQL_TFIDF_LTC,
        "term_counts": ir_direct.SQL_TERM_COUNTS,
        "bigram_index": ir_direct.SQL_BIGRAM_INDEX,
        "highlight": ir_direct.SQL_HIGHLIGHT,
        "minhash_sig": dedup.SQL_MINHASH_SIG,
        "srp_buckets": similarity.SQL_SRP_BUCKETS,
    }
