"""One pinned snapshot of an index: the front end every query path reads.

Opening a snapshot resolves the catalog's CURRENT version once (unless a
``version`` is given) and names that version in every later read, so a
commit that lands while an engine is open, or between its first and its
hundredth query, can never pair one version's tables with another's (e.g.
v1's packed blocks with v2's tombstones, which would hide an updated doc
in both). Legacy indexes without a catalog read their plain table dirs.

At open it reads only driver-side files: the manifest config and the stop
list. Every table is built on first use from the pinned version, and
reads with its declared schema (`catalog.TABLE_SCHEMAS`), so building a
table's frame runs no Spark job.

It also owns the ranked engine's query preparation: the index's tokenizer,
stop filtering, one batched spell correction per batch (quirk Q7) and the
default section weights (quirk Q5).
"""

from __future__ import annotations

import json
import os
from functools import cached_property

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from information_retrieval_spark.index.catalog import (
    GLOBAL_UPTO,
    Catalog,
    count_live_docs,
    filter_deleted,
    read_deletes,
    read_doc_meta,
    read_live_postings,
    read_live_table,
    read_packed,
    read_seq_table,
    read_stats_pdf,
    read_term_df,
    scan_dirs,
    segment_seq,
    table_dirs,
)
from information_retrieval_spark.query.spell import (
    apply_corrections,
    bigram_dict_if_small,
    correct_word,
    spell_map_for_texts,
)
from information_retrieval_spark.tokenize import code_terms, simple_tokens


class IndexSnapshot:
    """The tables and query preparation of one index version."""

    def __init__(
        self, spark: SparkSession, index_dir: str, version: int | None = None
    ):
        self.spark = spark
        self.index_dir = index_dir
        # None only for a legacy index without a catalog
        self.version = (
            Catalog(index_dir).current_version() if version is None else version
        )
        with open(os.path.join(index_dir, "manifest.json")) as f:
            self.config = json.load(f)["config"]
        self.sections = list(self.config["sections"].keys())
        self.tokenizer = self.config["tokenizer"]
        # the stop list is a few rows: pandas reads it without a Spark job
        self.stop_terms = {
            t
            for d in self._dirs("stopwords")
            for t in pd.read_parquet(d, columns=["term"])["term"]
        }
        # spell dictionary: built on the first spelled batch, or left None
        # when the vocabulary is over spell.MAX_SPELL_VOCAB_COLLECT
        self._bigram_dict: dict | None = None
        self._vocab_over_cap = False

    def _dirs(self, table: str) -> list[str]:
        return table_dirs(self.index_dir, table, self.version)

    # -------------------------------------------------------------- tables

    @cached_property
    def deletes(self) -> DataFrame | None:
        """The delete vector ``(doc_id, upto)`` (catalog.read_deletes)."""
        return read_deletes(self.spark, self.index_dir, self.version)

    @cached_property
    def postings(self) -> DataFrame | None:
        """postings_flat, live rows only: seq-scoped tombstones applied."""
        return read_live_postings(self.spark, self.index_dir, self.version)

    @cached_property
    def doclen(self) -> DataFrame | None:
        """(doc_id, section, dl), live rows only."""
        return read_live_table(self.spark, self.index_dir, "doclen", self.version)

    @cached_property
    def packed(self) -> DataFrame | None:
        """The packed block-max table with its LSM ``segment`` and
        ``seg_seq`` columns (catalog.read_packed)."""
        return read_packed(self.spark, self.index_dir, self.version)

    @cached_property
    def term_df(self) -> DataFrame | None:
        return read_term_df(self.spark, self.index_dir, self.version)

    @cached_property
    def doc_meta(self) -> DataFrame | None:
        """(doc_id, category), live rows only — an update that moves a doc
        to another category leaves its old row in an older segment, hidden
        by the update's tombstone. None when the index has no categories."""
        meta = read_doc_meta(
            self.spark, self.index_dir, self.version, with_seq=True
        )
        return None if meta is None else filter_deleted(meta, self.deletes)

    @cached_property
    def n_docs(self) -> int:
        """The stats ledger's doc count (it includes doc versions that
        tombstones hide until the next compact)."""
        stats = read_stats_pdf(self.index_dir, self.version)
        return int(stats["n_docs"].iloc[0])

    @cached_property
    def n_live(self) -> int:
        """The live doc count, tf-idf's N (quirk Q1): ``n_docs`` minus the
        doc versions tombstones hide until the next compact purges them
        (`catalog.count_live_docs`, the rule compaction writes the ledger
        by). With deletes present that is one Spark job, once."""
        if self.deletes is None:
            return self.n_docs
        return count_live_docs(
            self.n_docs,
            read_seq_table(self.spark, self.index_dir, "doclen", self.version),
            self.deletes,
        )

    def doc_rows(self) -> DataFrame:
        """Every doclen row, tombstone and category row as ``(doc_id, kind,
        s, v, seq)`` with its segment sequence, tombstones NOT applied:
        kind ``dl`` (s = section, v = dl), ``del`` (v = upto; legacy doc_id-
        only rows hide the doc everywhere) and ``cat`` (s = category). For
        readers that resolve seq-scoped tombstones themselves. Every read
        carries its schema, so building this frame runs no Spark job."""
        parts = [
            scan_dirs(self.spark, "doclen", d)
            .select(
                "doc_id", F.lit("dl").alias("kind"),
                F.col("section").alias("s"), F.col("dl").alias("v"),
                F.lit(segment_seq(d)).cast("long").alias("seq"),
            )
            for d in self._dirs("doclen")
        ]
        dirs = self._dirs("deleted_docs")
        if dirs:
            parts.append(
                scan_dirs(self.spark, "deleted_docs", *dirs)
                .select(
                    "doc_id", F.lit("del").alias("kind"),
                    F.lit(None).cast("string").alias("s"),
                    F.coalesce("upto", F.lit(GLOBAL_UPTO)).alias("v"),
                    F.lit(0).cast("long").alias("seq"),
                )
            )
        meta = read_doc_meta(
            self.spark, self.index_dir, self.version, with_seq=True
        )
        if meta is not None:
            parts.append(
                meta.select(
                    "doc_id", F.lit("cat").alias("kind"),
                    F.col("category").alias("s"),
                    F.lit(0).cast("long").alias("v"),
                    F.col("seg_seq").alias("seq"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # --------------------------------------------------------- query prep

    def tokens(self, text: str) -> list[str]:
        """``text`` in the index's token basis (stop terms kept)."""
        if self.tokenizer == "code":
            return code_terms(text)
        return simple_tokens(text)

    def query_terms(self, queries: list) -> list[list[str]]:
        """Each query's terms, in batch order: spell-corrected when
        ``spell`` is set, tokenized, stop terms removed."""
        spelled = [q.text for q in queries if q.spell]
        fix = self._speller(spelled) if spelled else None
        return [
            [
                t
                for t in self.tokens(
                    apply_corrections(q.text, fix) if q.spell else q.text
                )
                if t not in self.stop_terms
            ]
            for q in queries
        ]

    def _speller(self, texts: list[str]):
        """token → correction for a batch of spelled texts: the driver
        bigram dict when the vocabulary fits, else one distributed
        bigram-join job for the whole batch (the vocabulary is never
        collected)."""
        if self._bigram_dict is None and not self._vocab_over_cap:
            self._bigram_dict = bigram_dict_if_small(
                self.spark, self.index_dir, self.version
            )
            self._vocab_over_cap = self._bigram_dict is None
        if self._bigram_dict is not None:
            bd = self._bigram_dict
            return lambda t: correct_word(bd, t)
        fixes = spell_map_for_texts(
            self.spark, self.index_dir, texts, self.version
        )
        return lambda t: fixes.get(t, t)

    def weights(self, q) -> dict[str, float]:
        """The query's section weights, else the defaults: the reference's
        0.8 title / 0.2 abstract, or all weight on the first section."""
        if q.section_weights:
            return q.section_weights
        if set(self.sections) == {"title", "abstract"}:
            return {"abstract": 0.2, "title": 0.8}
        return {self.sections[0]: 1.0}
