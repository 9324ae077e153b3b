"""Block-max WAND over the packed index == the pure-Python oracle
(`tests/oracle.py`, an exhaustive scorer of the reference semantics),
SURVEY.md §7 M5: ranks exactly, scores to rel 1e-9.
"""

import pytest

from information_retrieval_spark.fixtures import make_queries
from information_retrieval_spark.query.engine import QuerySpec
from tests.oracle import assert_ranked_equal, ranked_rows
from tests.placement import each_placement, forced


@pytest.fixture(scope="module")
def wand(spark, index_dir):
    from information_retrieval_spark.query.wand import WandEngine

    return WandEngine(spark, index_dir)


def _matches_oracle(wand, oracle, specs):
    got = each_placement(lambda: ranked_rows(wand.search(specs)))
    want = {s.query_id: oracle.answer(s) for s in specs}
    want = {q: v for q, v in want.items() if v}
    assert set(got) == set(want), (set(got) ^ set(want))
    for qid in want:
        assert_ranked_equal(got[qid], want[qid], f"query {qid}")


def test_wand_matches_exhaustive_on_query_set(wand, oracle):
    specs = [
        QuerySpec(q.query_id, q.query_text, "okapi25", 10,
                  spell=False, match_mode="exact")
        for q in make_queries(30)
        if q.method == "okapi25"
    ]
    _matches_oracle(wand, oracle, specs)


def test_wand_k_all(wand, oracle):
    spec = [QuerySpec(900, "tokenizer stream buffer", "okapi25", -1,
                      spell=False, match_mode="exact")]
    _matches_oracle(wand, oracle, spec)


def test_wand_absent_term_only(wand):
    spec = [QuerySpec(901, "zzzneverseen", "okapi25", 10,
                      spell=False, match_mode="exact")]
    assert each_placement(lambda: wand.search(spec).count()) == 0


def test_mixed_match_modes_raise(wand):
    """A batch is answered in one match mode: a prefix query behind an
    exact one must not silently get exact answers."""
    batch = [
        QuerySpec(904, "tokenizer", "okapi25", 10, spell=False,
                  match_mode="exact"),
        QuerySpec(905, "tok", "okapi25", 10, spell=False,
                  match_mode="prefix"),
    ]
    with pytest.raises(ValueError, match="mixed match modes"):
        wand.search(batch)


def test_empty_batch(wand):
    assert wand.search([]).collect() == []


def test_search_engine_is_the_one_engine():
    from information_retrieval_spark.query import engine
    from information_retrieval_spark.query.wand import WandEngine

    assert engine.SearchEngine is WandEngine
    with pytest.raises(AttributeError):
        engine.NoSuchEngine


def test_packed_df_matches_term_df(spark, index_dir):
    """Σ block n per (term, ANY section) distinct-doc count == term_df —
    the no-decode df shortcut WAND's idf relies on (single-section terms)."""
    import pyspark.sql.functions as F

    from information_retrieval_spark.index.pack import packed_stats

    ps = packed_stats(spark, index_dir)
    # per-section df sums to flat postings rows per section
    flat = spark.read.parquet(f"{index_dir}/postings_flat")
    flat_df = flat.groupBy("term", "section").agg(F.count("*").alias("rows"))
    joined = ps.join(flat_df, ["term", "section"], "full")
    bad = joined.filter(
        F.coalesce("df_sec", F.lit(-1)) != F.coalesce("rows", F.lit(-2))
    ).count()
    assert bad == 0


def test_head_term_postings_split_across_buckets(spark, index_dir):
    """Skew evidence: a head term's posting list must spread over (nearly)
    all doc-hash buckets, so no single pack/WAND task owns it (SURVEY §4.1
    explicit skew handling)."""
    import pyspark.sql.functions as F

    packed = spark.read.parquet(f"{index_dir}/packed")
    # head terms appear in ~85% of fixture docs ('self' survives stop-K=20
    # only sometimes; use the most frequent non-stop term instead)
    top = (
        spark.read.parquet(f"{index_dir}/postings_flat")
        .groupBy("term")
        .count()
        .orderBy(F.desc("count"))
        .first()
        .term
    )
    n_buckets = (
        packed.filter(F.col("term") == top)
        .select("bucket")
        .distinct()
        .count()
    )
    assert n_buckets >= 6, f"head term '{top}' concentrated in {n_buckets} buckets"


def test_wand_prefix_mode_matches_exhaustive(wand, oracle):
    """Prefix matching (the reference's DEFAULT trie semantics) through the
    prefix-merged block lists must equal the oracle's prefix semantics,
    including spell correction (quirk Q7)."""
    specs = [
        QuerySpec(q.query_id, q.query_text, "okapi25", 10,
                  spell=True, match_mode="prefix")
        for q in make_queries(30)
        if q.method == "okapi25"
    ]
    _matches_oracle(wand, oracle, specs)


def test_wand_empty_query_prefix_mode(wand, oracle):
    """A batch whose queries tokenize to zero terms (empty / stop-word-only
    text) must return an empty frame in prefix mode, not crash in
    _expand_prefix (prefix is the QuerySpec default)."""
    specs = [
        QuerySpec(902, "", "okapi25", 10, spell=False, match_mode="prefix"),
        QuerySpec(903, "the", "okapi25", 10, spell=False, match_mode="prefix"),
    ]
    assert each_placement(lambda: wand.search(specs).count()) == 0
    assert all(not oracle.answer(s) for s in specs)


def test_unknown_method_raises(spark, index_dir):
    """A method outside okapi25 / ltn-lnn / ltc-lnc is refused by name,
    never answered with nothing."""
    from information_retrieval_spark.query.engine import SearchEngine

    spec = [QuerySpec(903, "tokenizer stream", "okapi25", 5, spell=False,
                      match_mode="exact"),
            QuerySpec(904, "tokenizer stream", "bm25", 5, spell=False,
                      match_mode="exact")]
    with pytest.raises(ValueError, match="unknown ranking method.*'bm25'"):
        SearchEngine(spark, index_dir).search(spec)


def test_wand_prefix_expansion_cap(spark, index_dir, wand):
    """The driver-side prefix expansion is bounded: an over-budget batch
    raises with guidance (instead of collecting an unbounded slice of the
    term dictionary), and a generous cap leaves results untouched."""
    import pytest as _pytest

    from information_retrieval_spark.query.wand import WandEngine

    spec = [QuerySpec(1, "t", "okapi25", 5,
                      spell=False, match_mode="prefix")]
    tiny = WandEngine(spark, index_dir, max_prefix_expand=1)
    roomy = WandEngine(spark, index_dir, max_prefix_expand=100_000)

    def run():
        with _pytest.raises(ValueError, match="max_prefix_expand"):
            tiny.search(spec).collect()
        got = [tuple(r) for r in roomy.search(spec).collect()]
        assert got == [tuple(r) for r in wand.search(spec).collect()]
        return got

    each_placement(run)


def test_wand_close_releases_cache_and_engine_survives(spark, index_dir):
    """close() must drop BOTH persisted blocks (doclen map + last shard)
    from executor storage — a long-lived process cycling engines leaks
    storage memory otherwise (measured 2.7× query-tax in the corpus-size
    sweep, BENCH/BASELINE.md) — and the engine must stay usable: the next
    search() re-caches and answers identically. (The distributed
    placement's cache; `test_placement.py` covers the local one.)"""
    from pyspark import StorageLevel

    from information_retrieval_spark.query.wand import WandEngine

    none = StorageLevel(False, False, False, False, 1)
    spec = [QuerySpec(950, "tokenizer stream", "okapi25", 5,
                      spell=False, match_mode="exact")]
    with forced("distributed"), WandEngine(spark, index_dir) as eng:
        first = [tuple(r) for r in eng.search(spec).collect()]
        dl, shard = eng._dl_map_df, eng._last_shard
        assert dl is not None and dl.storageLevel != none
        assert shard is not None and shard.storageLevel != none
        eng.close()
        # blocks unpersisted AND references dropped (nothing retains them)
        assert dl.storageLevel == none and shard.storageLevel == none
        assert eng._dl_map_df is None and eng._last_shard is None
        eng.close()  # idempotent
        again = [tuple(r) for r in eng.search(spec).collect()]
        assert again == first  # still usable after close: re-caches
        dl2 = eng._dl_map_df
        assert dl2 is not None and dl2.storageLevel != none
    assert dl2.storageLevel == none  # __exit__ released the re-cache
