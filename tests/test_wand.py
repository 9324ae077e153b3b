"""Block-max WAND == exhaustive BM25 (rank-identical), SURVEY.md §7 M5.

The WAND path must agree with the exhaustive scorer (`query/engine.py`,
itself oracle-checked in test_rank_identity.py) on the full reference query
set — scores to 1e-9 after rounding, ranks exactly.
"""

import pytest

from information_retrieval_spark.fixtures import make_queries
from information_retrieval_spark.query.engine import QuerySpec, SearchEngine


@pytest.fixture(scope="module")
def wand(spark, index_dir):
    from information_retrieval_spark.query.wand import WandEngine

    return WandEngine(spark, index_dir)


@pytest.fixture(scope="module")
def exhaustive(spark, index_dir):
    return SearchEngine(spark, index_dir)


def _rows(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, []).append(
            (r.rank, r.doc_id, round(r.score, 6))
        )
    for v in out.values():
        v.sort()
    return out


def test_wand_matches_exhaustive_on_query_set(wand, exhaustive):
    specs = [
        QuerySpec(q.query_id, q.query_text, "okapi25", 10,
                  spell=False, match_mode="exact")
        for q in make_queries(30)
        if q.method == "okapi25"
    ]
    got = _rows(wand.search(specs))
    want = _rows(exhaustive.search(specs))
    assert set(got) == set(want), (set(got) ^ set(want))
    for qid in want:
        assert got[qid] == want[qid], f"query {qid}: {got[qid]} != {want[qid]}"


def test_wand_k_all(wand, exhaustive):
    spec = [QuerySpec(900, "tokenizer stream buffer", "okapi25", -1,
                      spell=False, match_mode="exact")]
    got = _rows(wand.search(spec))
    want = _rows(exhaustive.search(spec))
    assert got == want


def test_wand_absent_term_only(wand):
    spec = [QuerySpec(901, "zzzneverseen", "okapi25", 10,
                      spell=False, match_mode="exact")]
    assert wand.search(spec).count() == 0


def test_mixed_match_modes_raise(wand, exhaustive):
    """A batch is answered in one match mode: a prefix query behind an
    exact one must not silently get exact answers."""
    batch = [
        QuerySpec(904, "tokenizer", "okapi25", 10, spell=False,
                  match_mode="exact"),
        QuerySpec(905, "tok", "okapi25", 10, spell=False,
                  match_mode="prefix"),
    ]
    for engine in (wand, exhaustive):
        with pytest.raises(ValueError, match="mixed match modes"):
            engine.search(batch)


def test_empty_batch(wand, exhaustive):
    assert wand.search([]).collect() == []
    assert exhaustive.search([]).collect() == []


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


def test_wand_prefix_mode_matches_exhaustive(wand, exhaustive):
    """Prefix matching (the reference's DEFAULT trie semantics) through the
    prefix-merged block lists must equal the exhaustive engine's prefix path,
    including spell correction (quirk Q7)."""
    from information_retrieval_spark.fixtures import make_queries

    specs = [
        QuerySpec(q.query_id, q.query_text, "okapi25", 10,
                  spell=True, match_mode="prefix")
        for q in make_queries(30)
        if q.method == "okapi25"
    ]
    got = _rows(wand.search(specs))
    want = _rows(exhaustive.search(specs))
    assert set(got) == set(want), (set(got) ^ set(want))
    for qid in want:
        assert got[qid] == want[qid], f"query {qid}: {got[qid]} != {want[qid]}"


def test_wand_empty_query_prefix_mode(wand, exhaustive):
    """A batch whose queries tokenize to zero terms (empty / stop-word-only
    text) must return an empty frame in prefix mode, not crash in
    _expand_prefix (prefix is the QuerySpec default)."""
    specs = [
        QuerySpec(902, "", "okapi25", 10, spell=False, match_mode="prefix"),
        QuerySpec(903, "the", "okapi25", 10, spell=False, match_mode="prefix"),
    ]
    assert wand.search(specs).count() == 0
    assert exhaustive.search(specs).count() == 0


def test_wand_rejects_tfidf_methods(wand):
    """The packed blocks carry BM25 bounds only — a ltn/ltc spec must be
    refused loudly, never silently scored as BM25 (SearchEngine is the
    tf-idf path)."""
    import pytest as _pytest

    for method in ("ltn-lnn", "ltc-lnc"):
        spec = [QuerySpec(903, "tokenizer stream", method, 5, spell=False,
                          match_mode="exact")]
        with _pytest.raises(ValueError, match="okapi25"):
            wand.search(spec)


def test_wand_prefix_expansion_cap(spark, index_dir, wand):
    """The driver-side prefix expansion is bounded: an over-budget batch
    raises with guidance (instead of collecting an unbounded slice of the
    term dictionary), and a generous cap leaves results untouched."""
    import pytest as _pytest

    from information_retrieval_spark.query.wand import WandEngine

    spec = [QuerySpec(1, "t", "okapi25", 5,
                      spell=False, match_mode="prefix")]
    tiny = WandEngine(spark, index_dir, max_prefix_expand=1)
    with _pytest.raises(ValueError, match="max_prefix_expand"):
        tiny.search(spec).collect()
    roomy = WandEngine(spark, index_dir, max_prefix_expand=100_000)
    assert [tuple(r) for r in roomy.search(spec).collect()] == [
        tuple(r) for r in wand.search(spec).collect()
    ]


def test_wand_close_releases_cache_and_engine_survives(spark, index_dir):
    """close() must drop BOTH persisted blocks (doclen map + last shard)
    from executor storage — a long-lived process cycling engines leaks
    storage memory otherwise (measured 2.7× query-tax in the corpus-size
    sweep, BENCH/BASELINE.md) — and the engine must stay usable: the next
    search() re-caches and answers identically."""
    from pyspark import StorageLevel

    from information_retrieval_spark.query.wand import WandEngine

    none = StorageLevel(False, False, False, False, 1)
    spec = [QuerySpec(950, "tokenizer stream", "okapi25", 5,
                      spell=False, match_mode="exact")]
    with WandEngine(spark, index_dir) as eng:
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
