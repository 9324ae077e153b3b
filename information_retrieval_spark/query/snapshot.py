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
table's frame runs no Spark job. The ranked engine's local placement
reads the side rows and the term dictionary of the same version on the
driver with pyarrow (`local_doc_rows`, `local_terms`).

It also owns the ranked engine's query preparation: the index's tokenizer,
stop filtering, one batched spell correction per batch (quirk Q7) and the
default section weights (quirk Q5).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from information_retrieval_spark.index.catalog import (
    GLOBAL_UPTO,
    Catalog,
    arrow_scan,
    filter_deleted,
    read_deletes,
    read_doc_meta,
    read_live_postings,
    read_live_table,
    read_packed,
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


@dataclass(frozen=True)
class SidePart:
    """One data dir of the side rows: its rows of ``table`` become kind
    ``kind`` rows with segment sequence ``seq``, ``s`` read from column
    ``s_col`` and ``v`` from ``v_col`` (None: no such column; a null or
    absent ``v`` reads as ``v_null``)."""

    table: str
    dir: str
    kind: str
    seq: int
    s_col: str | None
    v_col: str | None
    v_null: int = 0


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
            for d in self.table_dirs("stopwords")
            for t in pd.read_parquet(d, columns=["term"])["term"]
        }
        # spell dictionary: built on the first spelled batch, or left None
        # when the vocabulary is over spell.MAX_SPELL_VOCAB_COLLECT
        self._bigram_dict: dict | None = None
        self._vocab_over_cap = False

    def table_dirs(self, table: str) -> list[str]:
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
    def side_parts(self) -> list[SidePart]:
        """The data dirs of the side rows (`doc_rows`), each named once:
        every doclen dir (its segment's seq), every delete-vector dir and
        every doc_meta dir. Both readers build their rows from this list
        alone, so the Spark and the driver-side side rows cannot drift."""
        return (
            [SidePart("doclen", d, "dl", segment_seq(d), "section", "dl")
             for d in self.table_dirs("doclen")]
            + [SidePart("deleted_docs", d, "del", 0, None, "upto", GLOBAL_UPTO)
               for d in self.table_dirs("deleted_docs")]
            + [SidePart("doc_meta", d, "cat", segment_seq(d), "category", None)
               for d in self.table_dirs("doc_meta")]
        )

    def doc_rows(self) -> DataFrame:
        """Every doclen row, tombstone and category row as ``(doc_id, kind,
        s, v, seq)`` with its segment sequence, tombstones NOT applied:
        kind ``dl`` (s = section, v = dl), ``del`` (v = upto; legacy doc_id-
        only rows hide the doc everywhere) and ``cat`` (s = category). For
        readers that resolve seq-scoped tombstones themselves. Every read
        carries its schema, so building this frame runs no Spark job."""
        parts = [
            scan_dirs(self.spark, p.table, p.dir).select(
                "doc_id",
                F.lit(p.kind).alias("kind"),
                (F.col(p.s_col) if p.s_col else F.lit(None).cast("string"))
                .alias("s"),
                (F.coalesce(p.v_col, F.lit(p.v_null)) if p.v_col
                 else F.lit(p.v_null)).cast("long").alias("v"),
                F.lit(p.seq).cast("long").alias("seq"),
            )
            for p in self.side_parts
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def local_doc_rows(self) -> pd.DataFrame:
        """`doc_rows` as a pandas frame, read on the driver with pyarrow
        from the same `side_parts`: no Spark job."""
        frames = []
        for p in self.side_parts:
            cols = ["doc_id", *(c for c in (p.s_col, p.v_col) if c)]
            tb = arrow_scan(p.table, p.dir).to_table(columns=cols)
            n = tb.num_rows
            frames.append(pd.DataFrame({
                "doc_id": tb.column("doc_id").to_numpy(),
                "kind": p.kind,
                "s": tb.column(p.s_col).to_pandas() if p.s_col
                else np.full(n, None, dtype=object),
                "v": pc.fill_null(tb.column(p.v_col), p.v_null).to_numpy()
                if p.v_col else np.full(n, p.v_null, dtype=np.int64),
                "seq": np.full(n, p.seq, dtype=np.int64),
            }))
        return pd.concat(frames, ignore_index=True)

    def local_terms(self, where) -> list[str]:
        """The sorted distinct term_df terms matching the pyarrow
        expression ``where``, read on the driver (no Spark job); the
        driver-side twin of a filtered `term_df` scan."""
        return sorted({
            t
            for d in self.table_dirs("term_df")
            for t in arrow_scan("term_df", d)
            .to_table(columns=["term"], filter=where)
            .column("term").to_pylist()
        })

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
