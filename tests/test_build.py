"""Index-build invariants: determinism, resume, lineage, sha256 invariant."""

import json
import os
import shutil

from information_retrieval_spark.index.build import (
    IndexBuilder,
    index_content_hash,
    sha256_invariant,
)

SECTIONS = {"title": "path", "abstract": "content"}


def test_rebuild_determinism(spark, corpus_df, index_dir, tmp_path):
    d2 = str(tmp_path / "idx2")
    IndexBuilder(spark, d2, SECTIONS, tokenizer="code").build(corpus_df)
    assert index_content_hash(spark, index_dir) == index_content_hash(spark, d2)


def test_resume_skips_completed_stages(spark, corpus_df, index_dir, tmp_path):
    d2 = str(tmp_path / "idx_resume")
    shutil.copytree(index_dir, d2)
    # drop one stage from the manifest → resume must redo ONLY that stage
    with open(os.path.join(d2, "manifest.json")) as f:
        man = json.load(f)
    before = {k: v for k, v in man["stages"].items()}
    del man["stages"]["lineage"]
    del man["stages"]["ALL"]
    with open(os.path.join(d2, "manifest.json"), "w") as f:
        json.dump(man, f)
    IndexBuilder(spark, d2, SECTIONS, tokenizer="code").build(
        corpus_df, resume=True
    )
    with open(os.path.join(d2, "manifest.json")) as f:
        man2 = json.load(f)
    # untouched stages keep their original wall-clock entries (not re-run)
    for st in ("stats", "stop", "doclen", "postings", "term_df", "vocab"):
        assert man2["stages"][st] == before[st]
    assert "lineage" in man2["stages"]
    assert index_content_hash(spark, index_dir) == index_content_hash(spark, d2)


def test_lineage_partitions_cover_core_tables(spark, index_dir):
    from pyspark.sql import functions as F

    lin = spark.read.parquet(os.path.join(index_dir, "lineage"))
    for table in ("postings_flat", "doclen", "packed"):
        t = spark.read.parquet(os.path.join(index_dir, table))
        total = (
            lin.filter(F.col("table") == table).groupBy().sum("rows").collect()[0][0]
        )
        assert total == t.count(), table


def test_sha256_invariant_matches_python(spark, corpus_df, fixture_corpus):
    import hashlib

    got = {
        r.doc_id: r.content_sha256
        for r in sha256_invariant(corpus_df).select("doc_id", "content_sha256").collect()
    }
    for row in fixture_corpus[:20]:
        assert got[row.doc_id] == hashlib.sha256(row.content.encode()).hexdigest()


def test_stopwords_are_top_k_by_frequency(spark, index_dir, oracle):
    stop = spark.read.parquet(os.path.join(index_dir, "stopwords"))
    assert {r.term for r in stop.collect()} == oracle.stop_tokens


def test_tokenize_postings_equals_declarative_aggregate(spark, corpus_df):
    """The in-UDF per-doc aggregation (tokenize_postings) must produce
    EXACTLY the rows of the declarative plan it replaced — tokenize to
    token grain, then groupBy(term, section, doc_id) with sorted distinct
    offsets — for both tokenizers, including docs with null/empty text and
    heavy within-doc term repetition."""
    from pyspark.sql import functions as F

    from information_retrieval_spark.index.build import (
        tokenize_corpus,
        tokenize_postings,
    )

    extra = spark.createDataFrame(
        [
            (90001, "r", "", "c", "py", None),  # null content
            (90002, "r", "x.py", "c", "py", ""),  # empty content
            (90003, "r", "a_b.py", "c", "py", "foo foo foo fooBar foo_bar"),
        ],
        corpus_df.schema.simpleString().replace("struct<", "").rstrip(">"),
    )
    corpus = corpus_df.unionByName(extra)
    sections = {"title": "path", "abstract": "content"}
    for tok in ("code", "simple"):
        fused = tokenize_postings(corpus, sections, tok, n_buckets=8)
        ref = (
            tokenize_corpus(corpus, sections, tok)
            .groupBy("term", "section", "doc_id")
            .agg(F.array_sort(F.collect_set("pos")).alias("positions"))
            .withColumn("tf", F.size("positions"))
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int"),
            )
        )
        cols = ["term", "section", "doc_id", "positions", "tf", "bucket"]
        a = sorted(map(tuple, fused.select(*cols).collect()))
        b = sorted(map(tuple, ref.select(*cols).collect()))
        assert a == b, f"tokenizer={tok}: fused != declarative aggregate"
        assert a, f"tokenizer={tok}: empty output"


def test_tokenize_postings_chunking_boundary(spark, corpus_df):
    """The byte-bounded sub-chunking inside tokenize_postings must not
    change output: force a tiny budget (captured by value into the UDF
    closure, so it reaches executor workers) so every Arrow batch splits
    into many bulk scans — including single-doc over-budget chunks — and
    compare against the unchunked run."""
    from information_retrieval_spark.index import build as build_mod

    sections = {"title": "path", "abstract": "content"}
    cols = ["term", "section", "doc_id", "positions", "tf", "bucket"]
    full = sorted(
        map(
            tuple,
            build_mod.tokenize_postings(corpus_df, sections, "code")
            .select(*cols)
            .collect(),
        )
    )
    chunked = sorted(
        map(
            tuple,
            build_mod.tokenize_postings(
                corpus_df, sections, "code", chunk_bytes=100
            )
            .select(*cols)
            .collect(),
        )
    )
    assert chunked == full and full


def test_build_tables_have_their_declared_schemas(spark, index_dir):
    """Each table a fresh build writes holds exactly its declared column
    names and types (`catalog.TABLE_SCHEMAS`), so the build's and fsck's
    declared reads of them drop and recast nothing."""
    from information_retrieval_spark.index.catalog import TABLE_SCHEMAS

    def cols(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    checked = set()
    for table, schema in TABLE_SCHEMAS.items():
        path = os.path.join(index_dir, table)
        if os.path.isdir(path):
            assert cols(spark.read.parquet(path).schema) == cols(schema), table
            checked.add(table)
    assert checked == {
        "postings_all", "postings_flat", "stopwords", "doclen", "term_df",
        "vocab", "packed", "lineage",
    }
