"""Snapshot catalog: an Iceberg-style metadata layer over the index tables.

The round-1 maintenance design mutated tables with rmtree-then-rename swaps
and documented its non-atomic windows ("a production deployment puts a
transactional table format under these swaps"). This module IS that layer,
re-expressed minimally for a filesystem: the same snapshot/manifest/commit
design Iceberg uses (snapshot = immutable metadata listing the data files of
every table; commit = atomic pointer swap; readers pin a snapshot), without
the external runtime the sandbox cannot install.

Layout under ``<index_dir>``::

    catalog/v{N}.json   immutable snapshot metadata (never rewritten)
    catalog/CURRENT     text file holding N; writers swap it atomically
    data/<table>-<tok>/ immutable data directories committed by mutations

Snapshot metadata::

    {"version": N, "parent": N-1, "operation": "build|add|remove|compact",
     "summary": {...},               # stage token, stream batch id, ...
     "tables": {"postings_flat": ["postings_flat", "data/postings_flat-a1"],
                "packed": ["packed", "data/packed-a1"], ...}}

A table's value is an ORDERED list of directories (paths relative to the
index root). Appending a directory is how incremental adds commit — for
``packed`` the list order is the LSM segment order (index/maintenance.py);
for row tables it is a plain multi-directory scan. ``spark.read.parquet``
takes the whole list, so a snapshot read is one scan with full predicate
pushdown regardless of how many commits produced it.

Guarantees (single concurrent writer, any number of readers):

* **Atomicity** — a commit is one ``os.replace`` of CURRENT; every earlier
  step only creates new files. A crash anywhere before the swap leaves the
  previous snapshot fully intact and every query path untouched.
* **Isolation** — readers that resolved their table lists keep reading the
  directories of their snapshot; commits never modify or delete a directory
  a live snapshot references (GC is explicit, `expire`).
* **Time travel** — every resolver takes ``version=``; old snapshots stay
  queryable until expired.
* **Single writer** — the snapshot file is created with O_EXCL, but its
  crashed-commit reclaim can delete a racing live writer's file, so two
  concurrent writers can both report the same version; one writer at a
  time is required (ROADMAP item 3).

Legacy interop: an index built before this layer (plain ``<index_dir>/<t>``
directories, no ``catalog/``) resolves through the legacy fallback in
`table_dirs`; the first mutation bootstraps v1 referencing those directories
in place (`Catalog.ensure`).

Reference analogue: the reference persists its whole index as one pickle
blob swapped wholesale (`ui/backend/mir/util/pickle_cache.py:8-33`) — the
atomic-replace idea at driver scale; this is its multi-table, multi-file,
cluster-scale form.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from information_retrieval_spark.index.pack import PACKED_SCHEMA

CATALOG_SUBDIR = "catalog"
DATA_SUBDIR = "data"
CURRENT = "CURRENT"

#: strict snapshot-file name — stray files in catalog/ (editor backups,
#: "v1.json.orig" artifacts) must be IGNORED, not parsed: a ValueError out
#: of versions() would brick every read path (load/history/table_dirs)
_SNAPSHOT_RE = re.compile(r"^v(\d+)\.json$")


class Catalog:
    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.cat_dir = os.path.join(index_dir, CATALOG_SUBDIR)

    # ----------------------------------------------------------- inspection

    @staticmethod
    def exists(index_dir: str) -> bool:
        return os.path.exists(
            os.path.join(index_dir, CATALOG_SUBDIR, CURRENT)
        )

    def current_version(self) -> int | None:
        p = os.path.join(self.cat_dir, CURRENT)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def load(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no catalog under {self.index_dir}")
        with open(os.path.join(self.cat_dir, f"v{v}.json")) as f:
            return json.load(f)

    def versions(self) -> list[int]:
        """Committed versions only: a v{N}.json ABOVE CURRENT is the
        orphan of a commit that crashed before the pointer swap — it was
        never visible and must not count as history (the next commit
        reclaims its file, `commit`)."""
        cur = self.current_version()
        if cur is None or not os.path.isdir(self.cat_dir):
            return []
        out = []
        for fn in os.listdir(self.cat_dir):
            m = _SNAPSHOT_RE.match(fn)
            if m:
                v = int(m.group(1))
                if v <= cur:
                    out.append(v)
        return sorted(out)

    def table_dirs(self, table: str, version: int | None = None) -> list[str]:
        """Absolute data directories of ``table`` in a snapshot ([] if the
        snapshot has no such table)."""
        snap = self.load(version)
        return [
            os.path.join(self.index_dir, d)
            for d in snap["tables"].get(table, [])
        ]

    def history(self) -> list[dict]:
        """Snapshot chain, oldest first (operation/summary per version)."""
        return [self.load(v) for v in self.versions()]

    # ------------------------------------------------------------- writing

    def new_data_dir(self, table: str, token: str | None = None) -> str:
        """Reserve a fresh RELATIVE data-directory name for ``table``.
        Deterministic when ``token`` is given — crash-retried commits must
        re-derive the same destination names from their stage token."""
        tok = token if token is not None else uuid.uuid4().hex[:12]
        os.makedirs(os.path.join(self.index_dir, DATA_SUBDIR), exist_ok=True)
        return os.path.join(DATA_SUBDIR, f"{table}-{tok}")

    def abspath(self, rel: str) -> str:
        return os.path.join(self.index_dir, rel)

    def commit(
        self,
        changes: dict[str, tuple[str, list[str] | None]],
        operation: str,
        summary: dict | None = None,
    ) -> int:
        """Apply ``changes`` to the current snapshot's table lists and swap
        CURRENT. ``changes`` maps table → ("set", [reldirs]) |
        ("append", [reldirs]) | ("drop", None). Returns the new version."""
        cur = self.current_version()
        tables: dict[str, list[str]] = (
            {} if cur is None else dict(self.load(cur)["tables"])
        )
        for table, (op, dirs) in changes.items():
            if op == "set":
                tables[table] = list(dirs or [])
            elif op == "append":
                tables[table] = tables.get(table, []) + list(dirs or [])
            elif op == "drop":
                tables.pop(table, None)
            else:
                raise ValueError(f"unknown table op {op!r}")
        new_v = 1 if cur is None else cur + 1
        summary = dict(summary or {})
        # running stream high-water mark: carried forward through EVERY
        # commit so it survives compaction and snapshot expiry — the
        # streaming exactly-once check reads it from the current snapshot
        # alone (O(1), no history walk)
        prev_max = (
            self.load(cur)["summary"].get("max_stream_batch")
            if cur is not None
            else None
        )
        this_b = summary.get("stream_batch_id")
        hw = max(
            (x for x in (prev_max, this_b) if x is not None), default=None
        )
        if hw is not None:
            summary["max_stream_batch"] = int(hw)
        snap = {
            "version": new_v,
            "parent": cur,
            "operation": operation,
            "summary": summary,
            "tables": tables,
        }
        os.makedirs(self.cat_dir, exist_ok=True)
        # O_EXCL catches a second committer only once the first has swapped
        # CURRENT. An existing file at new_v with CURRENT still below it is
        # taken for the orphan of a commit that crashed before the pointer
        # swap (versions() never exposes it) and reclaimed — which is wrong
        # if a live writer is between its create and its swap, so a single
        # writer is required (ROADMAP item 3).
        path = os.path.join(self.cat_dir, f"v{new_v}.json")
        try:
            fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            cur_now = self.current_version()
            if cur_now is not None and cur_now >= new_v:
                raise  # a concurrent writer committed first: genuine fence
            os.remove(path)  # crashed-commit orphan (single live writer)
            fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        with os.fdopen(fd, "w") as f:
            json.dump(snap, f, indent=1, sort_keys=True)
        tmp = os.path.join(self.cat_dir, CURRENT + ".tmp")
        with open(tmp, "w") as f:
            f.write(str(new_v))
        os.replace(tmp, os.path.join(self.cat_dir, CURRENT))
        return new_v

    def committed_token(self, token: str, since: int | None = None) -> bool:
        """True if a snapshot carries ``stage_token == token`` — the
        idempotence check for crash-retried staged commits. ``since``
        bounds the scan to versions AFTER it (the stage records the
        catalog version it was staged against, so a fresh commit checks
        zero-or-one snapshots instead of the whole history)."""
        vs = self.versions()
        if since is not None:
            vs = [v for v in vs if v > since]
        return any(
            self.load(v).get("summary", {}).get("stage_token") == token
            for v in reversed(vs)
        )

    def last_stream_batch(self) -> int | None:
        """The stream high-water mark: ``max_stream_batch`` is carried
        forward through every commit (see `commit`), so ONE read of the
        current snapshot answers — it survives compaction and expire()."""
        cur = self.current_version()
        if cur is None:
            return None
        b = self.load(cur)["summary"].get("max_stream_batch")
        return int(b) if b is not None else None

    def ensure(self, legacy_tables: list[str]) -> None:
        """Bootstrap v1 from a legacy plain-directory index: reference the
        existing table directories in place (no data movement)."""
        if self.current_version() is not None:
            return
        tables = {
            t: [t]
            for t in legacy_tables
            if os.path.isdir(os.path.join(self.index_dir, t))
        }
        self.commit(
            {t: ("set", dirs) for t, dirs in tables.items()},
            "bootstrap",
        )

    # ------------------------------------------------------------------ GC

    def expire(self, keep_last: int = 2) -> list[str]:
        """Drop all but the last ``keep_last`` snapshots and delete data
        directories no kept snapshot references. Legacy in-place table dirs
        (not under ``data/``) are also eligible once unreferenced — e.g.
        the original ``packed`` after a compact rewrote it. Returns the
        deleted paths.

        Retention contract for long-running readers: an engine resolves
        its snapshot's dirs at construction, so ``keep_last`` must exceed
        the oldest live reader's age in snapshots. A reader that outlives
        retention fails LOUDLY at its next query (missing parquet inputs
        — pinned by `tests/test_maintenance.py::
        test_live_reader_on_expired_snapshot_fails_loudly`), the same
        contract Iceberg documents for expire_snapshots vs in-flight
        scans."""
        vs = self.versions()
        if len(vs) <= keep_last:
            return []
        drop, keep = vs[:-keep_last], vs[-keep_last:]
        kept_dirs = set()
        for v in keep:
            for dirs in self.load(v)["tables"].values():
                kept_dirs.update(dirs)
        dead: list[str] = []
        for v in drop:
            for dirs in self.load(v)["tables"].values():
                for d in dirs:
                    if d not in kept_dirs and d not in dead:
                        dead.append(d)
        for d in dead:
            shutil.rmtree(os.path.join(self.index_dir, d), ignore_errors=True)
        for v in drop:
            os.remove(os.path.join(self.cat_dir, f"v{v}.json"))
        return dead

    def sweep_orphans(self) -> list[str]:
        """Delete ``data/`` dirs referenced by NO snapshot — the debris of
        crashed operations (their dirs were moved/written but the commit
        never happened). Only safe when no mutation is in flight
        (single-writer assumption makes that the caller's schedule)."""
        # orphan snapshot files above CURRENT (crashed commits) go too
        cur = self.current_version()
        if cur is not None and os.path.isdir(self.cat_dir):
            for fn in list(os.listdir(self.cat_dir)):
                m = _SNAPSHOT_RE.match(fn)
                if m and int(m.group(1)) > cur:
                    os.remove(os.path.join(self.cat_dir, fn))
        data_root = os.path.join(self.index_dir, DATA_SUBDIR)
        if not os.path.isdir(data_root):
            return []
        referenced = set()
        for v in self.versions():
            for dirs in self.load(v)["tables"].values():
                referenced.update(dirs)
        dead = []
        for fn in sorted(os.listdir(data_root)):
            rel = os.path.join(DATA_SUBDIR, fn)
            if rel not in referenced:
                shutil.rmtree(os.path.join(data_root, fn), ignore_errors=True)
                dead.append(rel)
        return dead


# ------------------------------------------------------------ segment seqs

#: ``upto`` written for legacy delete-vector rows that predate seq-scoped
#: tombstones (doc_id-only schema): hide the doc in EVERY segment, the old
#: global semantics. Far above any catalog version a real index reaches.
GLOBAL_UPTO = 1 << 62

#: sidecar file carrying a data dir's segment sequence number. Underscore
#: prefix keeps Spark's parquet reader from touching it (same convention as
#: _SUCCESS). Dirs without one (legacy indexes, the builder's in-place
#: tables) default to seq 0 — older than every committed tombstone, so a
#: global delete still hides them.
_SEQ_FILE = "_SEQ"


def write_segment_seq(data_dir: str, seq: int) -> None:
    """Stamp ``data_dir`` with its segment sequence (the catalog version
    its commit will land as). Written while the dir is still private to
    the writing operation — the dir stays immutable after publication."""
    with open(os.path.join(data_dir, _SEQ_FILE), "w") as f:
        f.write(str(int(seq)))


def segment_seq(data_dir: str) -> int:
    p = os.path.join(data_dir, _SEQ_FILE)
    if not os.path.exists(p):
        return 0
    with open(p) as f:
        return int(f.read().strip())


# ---------------------------------------------------------------- resolvers

#: every table the engines read; builder snapshots exactly these
CORE_TABLES = [
    "stats",
    "stopwords",
    "postings_flat",
    "doclen",
    "term_df",
    "vocab",
    "doc_meta",
    "packed",
    "lineage",
    "deleted_docs",
]


def table_dirs(
    index_dir: str, table: str, version: int | None = None
) -> list[str]:
    """Resolve a table to its data directories: through the snapshot
    catalog when one exists, else the legacy ``<index_dir>/<table>``
    directory. [] when the table is absent either way."""
    if Catalog.exists(index_dir):
        return Catalog(index_dir).table_dirs(table, version)
    legacy = os.path.join(index_dir, table)
    return [legacy] if os.path.isdir(legacy) else []


def _schema(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in cols])


_STR, _INT, _LONG = T.StringType(), T.IntegerType(), T.LongType()

#: the declared schema of each table whose data dirs are read one by one
#: or often. A scan given its schema plans with no Spark job (inference
#: runs one job per scan to read a parquet footer) and keeps the declared
#: types: inference would read a numeric-looking doc_meta category
#: ("007") back as int.
TABLE_SCHEMAS: dict[str, T.StructType] = {
    "postings_all": _schema(
        ("term", _STR), ("section", _STR), ("doc_id", _LONG),
        ("positions", T.ArrayType(_INT)), ("tf", _INT), ("bucket", _INT),
    ),
    "postings_flat": _schema(
        ("term", _STR), ("section", _STR), ("doc_id", _LONG),
        ("positions", T.ArrayType(_INT)), ("tf", _INT), ("bucket", _INT),
    ),
    "stopwords": _schema(("term", _STR), ("cnt", _LONG), ("rank", _INT)),
    "doclen": _schema(("doc_id", _LONG), ("section", _STR), ("dl", _LONG)),
    "vocab": _schema(("term", _STR)),
    "term_df": _schema(("term", _STR), ("df", _LONG)),
    "doc_meta": _schema(("doc_id", _LONG), ("category", _STR)),
    # legacy dirs lack upto: the parquet reader fills it with null
    "deleted_docs": _schema(("doc_id", _LONG), ("upto", _LONG)),
    "packed": PACKED_SCHEMA,
    "lineage": _schema(
        ("table", _STR), ("part_id", _INT), ("rows", _LONG),
        ("content_hash", _LONG),
    ),
}


def scan_dirs(spark: SparkSession, table: str, *dirs: str) -> DataFrame:
    """One scan of some data dirs of ``table``, with its declared schema
    (`TABLE_SCHEMAS`) when it has one: exactly the declared columns, in
    order, so columns an older layout wrote and no reader uses drop out."""
    schema = TABLE_SCHEMAS.get(table)
    if schema is None:
        return spark.read.parquet(*dirs)
    return (
        spark.read.schema(schema).parquet(*dirs).select(*schema.fieldNames())
    )


def arrow_schema(table: str):
    """``table``'s declared schema (`TABLE_SCHEMAS`) as a pyarrow schema."""
    import pyarrow as pa

    return pa.schema(
        [(f.name, _arrow_type(f.dataType)) for f in TABLE_SCHEMAS[table]]
    )


def arrow_scan(table: str, data_dir: str):
    """One data dir of ``table`` as a ``pyarrow.dataset`` with its
    declared schema: the driver-side twin of `scan_dirs`, for readers that
    run no Spark job. Files miss a declared column read it as null (a
    legacy delete vector's ``upto``); a hive-partitioned dir (doc_meta's
    ``category=…`` subdirs) reads the partition value as the declared
    string, so "007" stays "007" and ``__HIVE_DEFAULT_PARTITION__`` is
    null. Spark's ``_SUCCESS`` / ``_SEQ`` sidecars and ``.crc`` files are
    skipped (pyarrow ignores ``_`` and ``.`` prefixes)."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    schema = arrow_schema(table)
    names = os.listdir(data_dir)
    hive = [
        f for f in schema if any(n.startswith(f.name + "=") for n in names)
    ]
    return ds.dataset(
        data_dir, schema=schema, format="parquet",
        partitioning=(
            ds.partitioning(pa.schema(hive), flavor="hive") if hive else None
        ),
    )


def _arrow_type(t: T.DataType):
    import pyarrow as pa

    if isinstance(t, T.ArrayType):
        return pa.list_(_arrow_type(t.elementType))
    return {
        "string": pa.string(), "int": pa.int32(), "bigint": pa.int64(),
        "binary": pa.binary(),
    }[t.simpleString()]


def arrow_seq_table(table: str, dirs: list[str], columns=None):
    """The driver-side twin of `read_seq_table`: ``dirs`` of ``table``
    concatenated as one pyarrow table with each row's ``seg_seq``."""
    import pyarrow as pa

    parts = []
    for d in dirs:
        tb = arrow_scan(table, d).to_table(columns=columns)
        parts.append(tb.append_column(
            "seg_seq", pa.array(np.full(tb.num_rows, segment_seq(d)))
        ))
    return pa.concat_tables(parts)


def arrow_deletes(dirs: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """The driver-side twin of `read_deletes` over ``dirs``: sorted unique
    doc_ids and each one's max ``upto`` (legacy null → `GLOBAL_UPTO`)."""
    docs, upto = [], []
    for d in dirs:
        tb = arrow_scan("deleted_docs", d).to_table()
        docs.append(tb.column("doc_id").to_numpy(zero_copy_only=False))
        upto.append(
            tb.column("upto").fill_null(GLOBAL_UPTO).to_numpy()
        )
    if not docs:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    s = pd.Series(np.concatenate(upto)).groupby(np.concatenate(docs)).max()
    return s.index.to_numpy(np.int64), s.to_numpy(np.int64)


def hidden_rows(
    docs: np.ndarray, seqs, del_docs: np.ndarray, del_upto: np.ndarray
) -> np.ndarray:
    """`filter_deleted`'s rule in numpy: which rows (``docs`` from
    segments with sequence ``seqs``) a tombstone hides, i.e. some
    tombstone for the doc has ``upto >= seq``. ``del_docs`` is sorted and
    unique (one max ``upto`` each, `arrow_deletes`)."""
    if not len(del_docs) or not len(docs):
        return np.zeros(len(docs), dtype=bool)
    i = np.minimum(np.searchsorted(del_docs, docs), len(del_docs) - 1)
    return (del_docs[i] == docs) & (del_upto[i] >= seqs)


def n_versions(docs: np.ndarray, seqs: np.ndarray) -> int:
    """Distinct doc versions ``(doc_id, seq)`` among the rows: over the
    hidden doclen rows, what `count_live_docs` subtracts."""
    if not len(docs):
        return 0
    return np.unique(np.stack([docs, seqs]), axis=1).shape[1]


#: the characters Spark escapes as ``%XX`` in a partition dir's value
#: (``ExternalCatalogUtils.escapePathName``); a null or empty value is
#: written as `HIVE_NULL`
_HIVE_ESCAPE = frozenset(map(chr, range(1, 32))) | frozenset(
    '"#%\'*/:=?\\\x7f{[]^'
)
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _hive_dir_value(v: str | None) -> str:
    if v is None or v == "":
        return HIVE_NULL
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPE else c for c in v)


def write_arrow(
    table: str,
    tb,
    out_dir: str,
    row_group_size: int | None = None,
    partition_by: str | None = None,
) -> None:
    """Write the pyarrow table ``tb`` as a data dir of ``table`` laid out
    as a Spark write lays it out, so every reader takes it as it takes a
    Spark-written dir: the declared columns (`TABLE_SCHEMAS`),
    snappy-compressed with dictionary encoding (Spark's parquet defaults),
    a ``_SUCCESS`` marker, and with ``partition_by`` one
    ``<col>=<value>`` subdir per value (escaped as Spark escapes it, a
    null or empty value under `HIVE_NULL`) holding the other columns in
    ``tb``'s order. An unpartitioned empty table still writes one
    schema'd file, as Spark does."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    schema = arrow_schema(table)
    tb = tb.select(schema.names).cast(schema)
    name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"

    def put(t, d: str) -> None:
        pq.write_table(
            t, os.path.join(d, name), compression="snappy",
            use_dictionary=True, row_group_size=row_group_size or None,
        )

    if partition_by is None:
        put(tb, out_dir)
    else:
        col = tb.column(partition_by)
        col = pc.if_else(pc.equal(col, ""), None, col)
        rest = tb.drop_columns([partition_by])
        for v in pc.unique(col).to_pylist():
            d = os.path.join(out_dir, f"{partition_by}={_hive_dir_value(v)}")
            os.makedirs(d)
            put(rest.filter(
                pc.is_null(col) if v is None else pc.equal(col, v)
            ), d)
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()


def footer_rows(table: str, dirs: list[str]) -> int:
    """Rows in ``dirs`` of ``table``, summed from the parquet footers (no
    data page read, no Spark job)."""
    return sum(
        frag.metadata.num_rows
        for d in dirs
        for frag in arrow_scan(table, d).get_fragments()
    )


def read_table(
    spark: SparkSession,
    index_dir: str,
    table: str,
    version: int | None = None,
) -> DataFrame | None:
    """One scan over all of a table's committed directories (None when the
    table is absent). Multi-directory reads keep predicate pushdown and
    partition pruning — the file list is metadata, not a plan barrier."""
    dirs = table_dirs(index_dir, table, version)
    if not dirs:
        return None
    return scan_dirs(spark, table, *dirs)


def read_seq_table(
    spark: SparkSession,
    index_dir: str,
    table: str,
    version: int | None = None,
    dirs: list[str] | None = None,
) -> DataFrame | None:
    """Like `read_table`, plus a ``seg_seq`` column carrying each row's
    segment sequence (the `_SEQ` sidecar of the data dir it came from;
    0 for legacy dirs). Dirs are scanned separately and unioned — filters
    still push into every per-dir scan — so seq-scoped tombstones
    (`filter_deleted`) can hide a doc's OLD rows while its re-added rows
    in newer segments stay visible. ``dirs`` names the data dirs to read
    (some of one snapshot's segments) instead of the snapshot's whole
    list."""
    if dirs is None:
        dirs = table_dirs(index_dir, table, version)
    if not dirs:
        return None
    parts = [
        scan_dirs(spark, table, d).withColumn(
            "seg_seq", F.lit(segment_seq(d)).cast("long")
        )
        for d in dirs
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_deletes(
    spark: SparkSession,
    index_dir: str,
    version: int | None = None,
) -> DataFrame | None:
    """The delete vector as ``(doc_id, upto)``: the tombstone hides the
    doc's rows in every segment with ``seg_seq <= upto`` (sequence-scoped,
    Iceberg sequence-number semantics). Legacy doc_id-only rows read as
    ``upto = GLOBAL_UPTO`` (hide everywhere — the old global semantics).
    Duplicate tombstones for one doc collapse to the max upto (a tiny
    aggregate over the vector — never corpus-sized)."""
    dirs = table_dirs(index_dir, "deleted_docs", version)
    if not dirs:
        return None
    # a legacy dir's null upto coalesces to the global sentinel
    dd = scan_dirs(spark, "deleted_docs", *dirs)
    return dd.groupBy("doc_id").agg(
        F.max(F.coalesce("upto", F.lit(GLOBAL_UPTO))).alias("upto")
    )


def filter_deleted(
    df: DataFrame, deletes: DataFrame | None, hidden: bool = False
) -> DataFrame:
    """Split rows by seq-scoped tombstones: a row is dead iff some
    tombstone for its doc_id has ``upto >= seg_seq``. ``df`` must carry
    the ``seg_seq`` column (`read_seq_table`). By default the live rows
    are returned, ``seg_seq`` dropped; ``hidden=True`` returns the dead
    rows instead, ``seg_seq`` kept (a hidden doc VERSION is its
    ``(doc_id, seg_seq)``).

    Plan shape: ONE broadcast hash join (anti for live, semi for hidden)
    — doc_id is the equi key, ``upto >= seg_seq`` rides as the join's
    extra condition, so this stays a BroadcastHashJoin (no nested loop)
    at any corpus size; the delete vector side is mutation-sized, never
    corpus-sized."""
    if deletes is None:
        return df.limit(0) if hidden else df.drop("seg_seq")
    d = deletes.select(
        F.col("doc_id").alias("__dd_doc"), F.col("upto").alias("__dd_upto")
    )
    out = df.join(
        F.broadcast(d),
        (df["doc_id"] == d["__dd_doc"]) & (d["__dd_upto"] >= df["seg_seq"]),
        "semi" if hidden else "left_anti",
    )
    return out if hidden else out.drop("seg_seq")


def count_live_docs(
    n_docs: int, doclen: DataFrame, deletes: DataFrame | None
) -> int:
    """The one live-doc rule: the stats ledger's ``n_docs`` minus the
    distinct doc VERSIONS ``(doc_id, seg_seq)`` of ``doclen`` (a
    `read_seq_table` frame) that tombstones hide. The ledger counts every
    added doc, so a live doc with no indexed tokens (no doclen rows)
    stays counted, as a fresh build counts it; a hidden version that
    never had doclen rows stays counted too, until a rebuild.

    Over all of a snapshot's doclen this is tf-idf's N. Over the doclen of
    the segments a compaction merges it is the ledger that compaction
    writes: those versions are purged and their tombstones applied, and
    versions in unmerged segments stay counted until their own merge."""
    if deletes is None:
        return n_docs
    return n_docs - (
        filter_deleted(doclen, deletes, hidden=True)
        .select("doc_id", "seg_seq")
        .distinct()
        .count()
    )


def read_live_table(
    spark: SparkSession,
    index_dir: str,
    table: str,
    version: int | None = None,
) -> DataFrame | None:
    """A doc-row table restricted to LIVE rows: seq-scoped tombstones
    applied when a delete vector exists, otherwise the plain (cheaper)
    multi-dir scan. An updated doc awaiting compaction has rows in both
    its old and new segments — every per-doc consumer (doclen maps,
    scoring joins) must read through this or it double-counts them."""
    dd = read_deletes(spark, index_dir, version)
    if dd is None:
        return read_table(spark, index_dir, table, version)
    t = read_seq_table(spark, index_dir, table, version)
    return None if t is None else filter_deleted(t, dd)


def read_live_postings(
    spark: SparkSession, index_dir: str, version: int | None = None
) -> DataFrame | None:
    """postings_flat restricted to LIVE rows — the shared read for every
    query path that consumes flat postings (boolean, phrase/proximity,
    highlighting)."""
    return read_live_table(spark, index_dir, "postings_flat", version)


def read_packed(
    spark: SparkSession, index_dir: str, version: int | None = None
) -> DataFrame | None:
    """The packed block-max table with its LSM ``segment`` column: directory
    list order IS segment order (0 = the oldest/base segment). Each segment
    keeps its own sorted, non-overlapping block runs; the block scorer
    takes every segment's blocks into a (term, section) list at query time
    (query/wand.py). ``seg_seq`` carries each segment's sequence number
    for seq-scoped tombstones (note position order ≠ seq order after a
    tiered compact's splice — the merged segment is newer than unmerged
    tail segments)."""
    dirs = table_dirs(index_dir, "packed", version)
    if not dirs:
        return None
    parts = [
        scan_dirs(spark, "packed", d)
        .withColumn("segment", F.lit(i).cast("int"))
        .withColumn("seg_seq", F.lit(segment_seq(d)).cast("long"))
        for i, d in enumerate(dirs)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_term_df(
    spark: SparkSession,
    index_dir: str,
    version: int | None = None,
) -> DataFrame | None:
    """term_df with MERGE-ON-READ semantics: incremental adds commit
    delta (term, df) dirs (delta docs are new, so df contributions ADD);
    multi-dir snapshots re-aggregate on read. Query-term filters push
    down to every directory scan BEFORE the aggregation, so a lookup
    still reads only the matching row groups; compact() collapses back
    to one pre-aggregated dir. This keeps an add's write cost at delta
    grain — rewriting the merged table per add would be a full
    vocabulary-sized rewrite (at 10^12 code files the term dictionary is
    itself huge)."""
    dirs = table_dirs(index_dir, "term_df", version)
    if not dirs:
        return None
    df = scan_dirs(spark, "term_df", *dirs)
    if len(dirs) > 1:
        df = df.groupBy("term").agg(F.sum("df").alias("df"))
    return df


def read_vocab(
    spark: SparkSession,
    index_dir: str,
    version: int | None = None,
) -> DataFrame | None:
    """vocab with merge-on-read distinct across delta dirs (same economics
    as `read_term_df`; duplicate terms across deltas must collapse —
    the bigram spell join scores per vocab ROW)."""
    dirs = table_dirs(index_dir, "vocab", version)
    if not dirs:
        return None
    v = scan_dirs(spark, "vocab", *dirs)
    return v.distinct() if len(dirs) > 1 else v


def read_doc_meta(
    spark: SparkSession,
    index_dir: str,
    version: int | None = None,
    with_seq: bool = False,
) -> DataFrame | None:
    """doc_meta (doc_id, category), category-HIVE-PARTITIONED on disk so
    a category-restricted search prunes whole partition directories
    (PartitionFilters, no data files of other categories touched). Dirs
    are scanned separately and unioned (`read_seq_table`) — Spark's
    multi-root partition discovery needs a shared basePath that committed
    data dirs don't have — which preserves per-scan pruning. Tolerates
    legacy unpartitioned dirs (same columns either way)."""
    meta = read_seq_table(spark, index_dir, "doc_meta", version)
    if meta is None or with_seq:
        return meta
    return meta.drop("seg_seq")


def prune_doc_meta(doc_meta: DataFrame, wanted: list[str]) -> DataFrame:
    """Restrict doc_meta to a batch's wanted categories — shared by both
    engines so the pruning (and its semantics) stay in lockstep. The
    filter lands as a PartitionFilter on the hive-partitioned layout, so
    other categories' files are never read. Semantics-preserving under
    the engines' later LEFT join + want_cat comparison: a doc outside
    ``wanted`` joins category=null and fails the comparison exactly as
    its real category would."""
    return doc_meta.filter(F.col("category").isin(sorted(set(wanted))))


def read_stats_pdf(index_dir: str, version: int | None = None):
    """The one-row stats table as a pandas frame (driver-side scalar)."""
    import pandas as pd

    dirs = table_dirs(index_dir, "stats", version)
    if not dirs:
        raise FileNotFoundError(f"no stats table under {index_dir}")
    frames = [pd.read_parquet(d) for d in dirs]
    return frames[0] if len(frames) == 1 else pd.concat(frames)
