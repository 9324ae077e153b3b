"""Spell-correction units (reference semantics, `bigram_index/phase1.py`)."""

from information_retrieval_spark.query.spell import (
    build_bigram_dict,
    correct_text,
    correct_word,
    levenshtein,
    word_bigrams,
)


def test_word_bigrams_boundary():
    assert word_bigrams("ab") == ["¶a", "ab", "b¶"]


def test_levenshtein():
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("", "abc") == 3
    assert levenshtein("abc", "abc") == 0
    assert levenshtein("ab", "ba") == 2  # no transposition op (nltk default)


def test_correct_word_picks_min_edit_distance():
    d = build_bigram_dict(["tokenizer", "tokens", "parser"])
    assert correct_word(d, "tokeniezr") == "tokenizer"
    assert correct_word(d, "tokenizer") == "tokenizer"  # exact self-match
    assert correct_word(d, "xyzzyq") == "xyzzyq"  # no bigram hits → unchanged


def test_correct_text_replaces_all_occurrences():
    # "then" must be in the dict: the reference corrects ANY word with a
    # single shared bigram to its min-edit-distance candidate (no threshold)
    d = build_bigram_dict(["scan", "merge", "then"])
    # quirk Q7: str.replace-all on the raw text
    assert correct_text(d, "sacn then sacn") == "scan then scan"


def test_bigram_multiplicity_counts():
    d = build_bigram_dict(["aaa"])  # ¶a,aa,aa,a¶ → 'aa' multiplicity 2
    assert d["aa"]["aaa"] == 2


def test_correct_word_zero_denominator():
    """Repeated bigrams multiply: 'aaaaa' vs 'aaa' has hits 1 + 4·2 + 1 =
    10 = len(q) + len(w) + 2, so the reference formula divides by zero.
    The only candidate must still be returned."""
    assert correct_word(build_bigram_dict(["aaa"]), "aaaaa") == "aaa"


def test_correct_word_negative_denominator_keeps_exact_match():
    """'aaaa' vs itself: hits 1 + 3·3 + 1 = 11 > 4 + 4 + 2, a negative
    denominator. The exact match must not sink below the 20 weakly
    similar words (one shared bigram each) and fall out of the top-20."""
    weak = [f"a{chr(ord('b') + i)}" for i in range(20)]
    d = build_bigram_dict(["aaaa"] + weak)
    assert correct_word(d, "aaaa") == "aaaa"


def test_distributed_correction_matches_driver_on_repeated_bigrams(spark):
    """The Spark path applies the same degenerate-denominator rule."""
    from information_retrieval_spark.query.spell import correct_words_spark

    vocab = ["aaa", "aaaa"] + [f"a{chr(ord('b') + i)}" for i in range(20)]
    vocab_df = spark.createDataFrame([(t,) for t in vocab], "term string")
    d = build_bigram_dict(vocab)
    words = ["aaaaa", "aaaa", "aaaaaa", "ab"]
    got = correct_words_spark(vocab_df, words)
    for w in words:
        assert got.get(w, w) == correct_word(d, w), w


def test_distributed_correction_matches_driver(spark, index_dir):
    """correct_words_spark (bigram-table join, vocab never collected) must
    pick the SAME correction as the driver-dict path for every token —
    including exact-vocab words, misspellings, and no-candidate gibberish."""
    from information_retrieval_spark.query.spell import (
        build_bigram_dict,
        correct_word,
        correct_words_spark,
    )

    vocab_df = spark.read.parquet(f"{index_dir}/vocab")
    vocab = [r.term for r in vocab_df.collect()]
    d = build_bigram_dict(vocab)
    words = ["tokeniezr", "steram", "buffre", "tokenizer", "zzqqxx",
             "parsre", "matrxi", "a"]
    got = correct_words_spark(vocab_df, words)
    for w in words:
        assert got.get(w, w) == correct_word(d, w), w


def test_spell_over_cap_falls_back_to_distributed(spark, index_dir, monkeypatch):
    """When the vocabulary exceeds MAX_SPELL_VOCAB_COLLECT, the engine
    must answer spelled queries identically WITHOUT collecting the vocab —
    the driver-dict path auto-routes to the distributed bigram join."""
    from information_retrieval_spark.query import spell as spell_mod
    from information_retrieval_spark.query.engine import QuerySpec, SearchEngine

    specs = [
        QuerySpec(1, "tokeniezr steram", "okapi25", 10, match_mode="exact"),
        QuerySpec(2, "buffre matrxi parsre", "okapi25", 10, match_mode="exact"),
    ]

    def res(engine):
        return sorted(
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in engine.search(specs).collect()
        )

    want = res(SearchEngine(spark, index_dir))
    assert want, "misspelled queries should still match after correction"

    monkeypatch.setattr(spell_mod, "MAX_SPELL_VOCAB_COLLECT", 1)
    se = SearchEngine(spark, index_dir)
    assert res(se) == want
    # the driver dict was never built: the cap forced the distributed path
    assert se.snapshot._bigram_dict is None and se.snapshot._vocab_over_cap
