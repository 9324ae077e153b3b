"""Bigram-index spell correction (reference parity, deterministic ties).

Replicates `ui/backend/mir/search/bigram_index/phase1.py` semantics:

* dictionary = char-2-grams over ``¶word¶`` of every *distinct* token in the
  cleaned corpus; ``dict[bigram][word]`` = multiplicity of the bigram within
  that word (`phase1.py:45-59`).
* per query word: hits = Σ_b m_query(b)·m_word(b); Jaccard-ish score
  ``hits / (len(q)+len(w)+2-hits)`` (`phase1.py:80-94`); top-20 by score,
  then minimum Levenshtein among them (`phase1.py:95-103`).
* the corrected word replaces **all substring occurrences** in the query
  (``str.replace``, quirk Q7 — `phase1.py:102`).

Deviations (documented, deterministic): the reference's top-20 cut and its
first-strict-min edit-distance scan inherit Python dict order; we pin ties to
``(-score, word)`` and ``(distance, -score, word)``.

Degenerate denominator: hits multiply bigram multiplicities, so for words
with repeated bigrams they can reach or pass ``len(q)+len(w)+2`` (the two
words' bigram count). There the reference divides by zero (``'aaaaa'`` vs
``'aaa'``: 10 hits over 10 bigrams) or by a negative number, which ranks
the most similar candidate last (``'aaaa'`` vs itself: 11 hits, −1). We
floor the denominator at 1: the reference formula wherever its denominator
is positive, the raw hit count otherwise — so a degenerate candidate ranks
at least as high as any candidate with as many hits. Both the driver and
the Spark path apply the same floor.

This module is pure Python: it runs on the **driver** over the broadcast
dictionary (vocabulary-sized) in the engine, and inside `tests/oracle.py` —
shared verbatim, so the two agree by construction.
"""

from __future__ import annotations

from collections.abc import Iterable

WORD_BOUNDARY_CHAR = "¶"  # ¶


def word_bigrams(word: str) -> list[str]:
    w = WORD_BOUNDARY_CHAR + word + WORD_BOUNDARY_CHAR
    return [w[i : i + 2] for i in range(len(w) - 1)]


def build_bigram_dict(words: Iterable[str]) -> dict[str, dict[str, int]]:
    """bigram → word → multiplicity of the bigram inside the word."""
    index: dict[str, dict[str, int]] = {}
    seen: set[str] = set()
    for word in words:
        if word in seen:
            continue
        seen.add(word)
        for bg in word_bigrams(word):
            bucket = index.setdefault(bg, {})
            bucket[word] = bucket.get(word, 0) + 1
    return index


def levenshtein(a: str, b: str) -> int:
    """Plain edit distance (ins/del/sub cost 1), matching nltk defaults."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def correct_word(
    bigram_dict: dict[str, dict[str, int]], word: str, similar_words_limit: int = 20
) -> str:
    hits: dict[str, int] = {}
    for bg in word_bigrams(word):
        for cand, mult in bigram_dict.get(bg, {}).items():
            hits[cand] = hits.get(cand, 0) + mult
    if not hits:
        return word
    scores = {
        cand: n / max(len(word) + len(cand) + 2 - n, 1)
        for cand, n in hits.items()
    }
    similar = sorted(scores, key=lambda wd: (-scores[wd], wd))[:similar_words_limit]
    return min(similar, key=lambda wd: (levenshtein(wd, word), -scores[wd], wd))


def correct_text(bigram_dict: dict[str, dict[str, int]], text: str) -> str:
    """Correct each whitespace token; replace ALL substring occurrences
    (reference `str.replace` semantics, quirk Q7)."""
    return apply_corrections(
        text, lambda token: correct_word(bigram_dict, token)
    )


def apply_corrections(text: str, fix) -> str:
    """Shared replace semantics for any token→correction function."""
    corrected = text
    for token in text.split():
        fixed = fix(token)
        if fixed != token:
            corrected = corrected.replace(token, fixed)
    return corrected


# ------------------------------------------------ distributed (vocab-scale)

# Driver-side spell dict is only built when the term dictionary provably
# fits: ~1M terms ≈ tens of MB of dict — safe; a web-scale vocabulary
# (billions of terms at 10^12 files) must NEVER be collected.
MAX_SPELL_VOCAB_COLLECT = 1_000_000


def bigram_dict_if_small(
    spark,
    index_dir: str,
    version: int | None = None,
    cap: int | None = None,
) -> dict[str, dict[str, int]] | None:
    """Build the driver-side bigram dict ONLY when the vocabulary fits
    under ``cap`` terms; returns ``None`` otherwise, and the caller routes
    through :func:`correct_words_spark` / :func:`spell_map_for_texts`
    (the fully distributed path). The vocab dirs' parquet footers bound
    the distinct term count: at or under the cap the terms are read on
    the driver with pyarrow, no Spark job (`build_bigram_dict` drops a
    term repeated across delta dirs). Over it, a bounded ``limit(cap+1)``
    probe of the distinct vocabulary decides — never an unconditional
    vocabulary collect."""
    from information_retrieval_spark.index.catalog import (
        arrow_scan,
        footer_rows,
        read_vocab,
        table_dirs,
    )

    if cap is None:  # read at call time so tests can shrink the cap
        cap = MAX_SPELL_VOCAB_COLLECT
    dirs = table_dirs(index_dir, "vocab", version)
    if footer_rows("vocab", dirs) <= cap:
        return build_bigram_dict(
            t
            for d in dirs
            for t in arrow_scan("vocab", d).to_table()["term"].to_pylist()
        )
    vocab_df = read_vocab(spark, index_dir, version)
    probe = vocab_df.select("term").limit(cap + 1).collect()
    if len(probe) > cap:
        return None
    return build_bigram_dict([r.term for r in probe])


def spell_map_for_texts(
    spark, index_dir: str, texts: list[str], version: int | None = None
) -> dict[str, str]:
    """Batch token→correction map for a query batch via the distributed
    bigram join over the index's vocab table."""
    from information_retrieval_spark.index.catalog import read_vocab

    tokens = [t for text in texts for t in text.split()]
    if not tokens:
        return {}
    vocab = read_vocab(spark, index_dir, version)
    return correct_words_spark(vocab, tokens)


def correct_words_spark(
    vocab, words: list[str], similar_words_limit: int = 20
) -> dict[str, str]:
    """Same correction as ``correct_word`` computed WITHOUT collecting the
    vocabulary: the scale path for vocab >> driver RAM.

    Plan: vocab → char-bigram explode + (term, bg) multiplicity agg (one
    shuffle at bigram grain), joined against the broadcast query-bigram
    multiplicities; hits = Σ m_q·m_w per (word, term); the Jaccard-ish
    score, top-20 window and min-Levenshtein pick reproduce the driver
    path's ordering exactly (ties pinned identically), verified by an
    equivalence test. Returns {word: best} for words with ≥1 candidate.

    ``vocab`` is a (term) DataFrame (the index's ``vocab`` table).
    """
    from pyspark.sql import Window, functions as F

    spark = vocab.sparkSession
    qrows = []
    for word in dict.fromkeys(words):  # distinct, order-preserving
        counts: dict[str, int] = {}
        for bg in word_bigrams(word):
            counts[bg] = counts.get(bg, 0) + 1
        for bg, mq in counts.items():
            qrows.append((word, bg, mq, len(word)))
    if not qrows:
        return {}
    q = spark.createDataFrame(qrows, "word string, bg string, mq int, wlen int")

    padded = F.concat(
        F.lit(WORD_BOUNDARY_CHAR), F.col("term"), F.lit(WORD_BOUNDARY_CHAR)
    )
    vb = (
        vocab.select("term", padded.alias("w"))
        .select(
            "term",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("bg"),
        )
        .groupBy("term", "bg")
        .agg(F.count("*").alias("mw"))
    )
    scored = (
        vb.join(F.broadcast(q), "bg")
        .groupBy("word", "term")
        .agg(
            F.sum(F.col("mq") * F.col("mw")).alias("hits"),
            F.first("wlen").alias("wlen"),
        )
        .withColumn(
            "score",
            F.col("hits")
            / F.greatest(
                F.col("wlen") + F.length("term") + 2 - F.col("hits"), F.lit(1)
            ),
        )
    )
    w_top = Window.partitionBy("word").orderBy(F.desc("score"), F.asc("term"))
    w_best = Window.partitionBy("word").orderBy(
        F.asc("lev"), F.desc("score"), F.asc("term")
    )
    best = (
        scored.withColumn("r", F.row_number().over(w_top))
        .filter(F.col("r") <= similar_words_limit)
        .withColumn("lev", F.levenshtein("term", "word"))
        .withColumn("r2", F.row_number().over(w_best))
        .filter(F.col("r2") == 1)
        .select("word", "term")
    )
    return {r.word: r.term for r in best.collect()}
