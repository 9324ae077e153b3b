"""Index integrity checker (report-only) for the snapshot catalog.

At 10^12 files an index is operated, not just built: crashes, partial
GCs and operator error leave states whose FIRST symptom would otherwise
be a wrong or failing query. ``fsck`` walks the catalog metadata and
answers "is this index internally consistent, and how many bytes are
dead weight?" WITHOUT a Spark session (driver-side metadata + pyarrow
over the mutation-sized delete vector only — never corpus-sized I/O),
so it can run from a cron on the metadata host.

Checks
  * every committed snapshot parses and every data dir it references
    exists (a missing dir = a query-time failure waiting on that
    snapshot / time-travel read),
  * LSM segment order: each table list's ``_SEQ`` stamps are
    nondecreasing and never exceed the snapshot's version (seq-scoped
    tombstone semantics depend on this ordering),
  * delete vector: tombstones scoped to a FUTURE segment seq
    (``upto`` > current version, excluding the legacy global sentinel)
    are flagged — they would pre-hide segments that don't exist yet,
  * orphans: ``data/`` dirs no committed snapshot references and
    ``v{N}.json`` files above CURRENT (crash debris) — reported with
    reclaimable bytes; ``Catalog.sweep_orphans`` deletes them,
  * frozen uncommitted stages (``recover`` finishes them) and partial
    stage dirs with no ``_STAGED`` marker (plain debris).

Findings are split ``errors`` (the index will answer wrongly or fail)
vs ``warnings`` (operational debt: frozen stages, legacy global
tombstones, reclaimable orphans). Report-only by design — the repair
verbs already exist (``recover``, ``compact``, ``expire``,
``sweep_orphans``) and each has its own safety preconditions; an
auto-fixing fsck would have to re-implement their single-writer
scheduling assumptions.

Reference analogue: the reference's single pickle blob is self-
consistent by construction (`ui/backend/mir/util/pickle_cache.py`);
a multi-file LSM catalog needs this checked explicitly.
"""

from __future__ import annotations

import json
import os

from information_retrieval_spark.index.catalog import (
    CATALOG_SUBDIR,
    Catalog,
    DATA_SUBDIR,
    GLOBAL_UPTO,
    _SNAPSHOT_RE,
    scan_dirs,
    segment_seq,
)


def dir_bytes(path: str) -> int:
    """Recursive on-disk bytes of ``path`` (the shared helper — the bench
    scripts import it too)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if os.path.isfile(p):
                total += os.path.getsize(p)
    return total


def _read_delete_vector(dirs: list[str]) -> tuple[int, int, int, int]:
    """(n_tombstones, max_upto, n_seq_scoped, n_legacy_global) via
    pyarrow — the vector is mutation-sized by construction, never
    corpus-sized."""
    import pyarrow.parquet as pq

    n = 0
    max_upto = -1
    n_legacy = 0
    uptos: list[int] = []
    for d in dirs:
        if not os.path.isdir(d):
            continue
        for fn in os.listdir(d):
            if not fn.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(d, fn))
            n += t.num_rows
            if "upto" in t.column_names:
                for v in t.column("upto").to_pylist():
                    if v is None or int(v) >= GLOBAL_UPTO:
                        n_legacy += 1
                    else:
                        uptos.append(int(v))
            else:
                n_legacy += t.num_rows
    if uptos:
        max_upto = max(uptos)
    return n, max_upto, len(uptos), n_legacy


def fsck_deep(spark, index_dir: str, version: int | None = None) -> dict:
    """`fsck` plus a DATA-integrity pass (needs a SparkSession): for each
    lineage-covered table (postings_flat / doclen / packed) recompute the
    partition-invariant aggregates — total rows and the XOR of the
    per-row content hashes — over the snapshot's physical parquet and
    compare them to the lineage log's totals (`index/build.lineage_frame`
    records per-partition (rows, bit_xor(hash)); XOR and SUM are
    associative, so the log's totals must equal a fresh scan's no matter
    how partitions moved). A lost or duplicated part file, a bit flip in
    any hashed column, or a lineage log that missed a commit all flip the
    comparison. Cost: one scan per table — run it scheduled, not per
    query."""
    from pyspark.sql import functions as F

    from information_retrieval_spark.index.build import (
        LINEAGE_SPECS,
        lineage_hash,
    )

    report = fsck(index_dir)
    if not Catalog.exists(index_dir):
        return report
    cat = Catalog(index_dir)
    deep: dict = {}
    report["deep"] = deep
    try:
        lin_dirs = cat.table_dirs("lineage", version)
    except (OSError, ValueError, json.JSONDecodeError) as e:
        report["errors"].append(f"deep: snapshot unreadable: {e}")
        report["ok"] = False
        return report
    if not lin_dirs:
        report["errors"].append("no lineage table in the snapshot")
        report["ok"] = False
        return report
    missing_lin = [d for d in lin_dirs if not os.path.isdir(d)]
    if missing_lin:
        # the shallow pass already recorded the missing dirs as errors;
        # the comparison baseline is gone — report, don't crash
        report["errors"].append(
            f"deep: lineage dir(s) missing, cannot compare: {missing_lin}"
        )
        report["ok"] = False
        return report
    lin = {
        r["table"]: (int(r["rows"]), r["xor"])
        for r in scan_dirs(spark, "lineage", *lin_dirs)
        .groupBy("table")
        .agg(
            F.sum("rows").alias("rows"),
            F.expr("bit_xor(content_hash)").alias("xor"),
        )
        .collect()
    }
    for table in LINEAGE_SPECS:
        dirs = cat.table_dirs(table, version)
        if not dirs:
            continue
        if any(not os.path.isdir(d) for d in dirs):
            # shallow already errored on the missing dir(s); scanning the
            # survivors would mismatch trivially — skip with a marker so
            # deep fsck stays usable on exactly the broken indexes it's
            # for, instead of raising PATH_NOT_FOUND
            deep[table] = {"skipped": "missing data dir(s)"}
            continue
        row = (
            scan_dirs(spark, table, *dirs)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.expr(f"bit_xor({lineage_hash(table)})").alias("xor"),
            )
            .collect()[0]
        )
        got = (int(row["rows"]), row["xor"])
        want = lin.get(table, (0, None))
        deep[table] = {
            "rows_physical": got[0], "rows_lineage": want[0],
            "hash_physical": got[1], "hash_lineage": want[1],
            "match": got == want,
        }
        if got != want:
            report["errors"].append(
                f"deep: {table} physical rows/hash {got} != lineage log "
                f"{want} — lost/duplicated part file, bit flip, or a "
                "commit missing from the lineage log"
            )
    report["ok"] = not report["errors"]
    return report


def fsck(index_dir: str) -> dict:
    """Integrity report for ``index_dir`` (see module docstring).
    ``result["ok"]`` is True iff ``errors`` is empty."""
    errors: list[str] = []
    warnings: list[str] = []
    report: dict = {"index_dir": index_dir, "errors": errors,
                    "warnings": warnings}

    if not Catalog.exists(index_dir):
        # legacy plain-directory index: only existence checks apply
        if not os.path.isdir(index_dir):
            errors.append(f"index dir does not exist: {index_dir}")
        elif not os.path.exists(os.path.join(index_dir, "manifest.json")):
            errors.append("neither a snapshot catalog nor a builder "
                          "manifest found — not an index")
        else:
            warnings.append("pre-catalog legacy index (no catalog/); any "
                            "maintenance command bootstraps v1")
        report["ok"] = not errors
        return report

    cat = Catalog(index_dir)
    cur = cat.current_version()
    versions = cat.versions()
    report["current_version"] = cur
    report["versions"] = versions

    # -- snapshots parse; every referenced dir exists; seq order holds ----
    referenced: set[str] = set()
    unreadable: set[int] = set()
    for v in versions:
        try:
            snap = cat.load(v)
        except (OSError, ValueError, json.JSONDecodeError) as e:
            errors.append(f"snapshot v{v} unreadable: {e}")
            unreadable.add(v)
            continue
        for table, dirs in snap["tables"].items():
            referenced.update(dirs)
            seqs = []
            for rel in dirs:
                ab = cat.abspath(rel)
                if not os.path.isdir(ab):
                    errors.append(
                        f"v{v}/{table}: missing data dir {rel!r} — "
                        f"queries pinned to v{v} will fail"
                    )
                    continue
                seqs.append((rel, segment_seq(ab)))
            for (r1, s1), (r2, s2) in zip(seqs, seqs[1:]):
                if s2 < s1:
                    errors.append(
                        f"v{v}/{table}: segment seq regresses "
                        f"{r1!r}({s1}) -> {r2!r}({s2}) — seq-scoped "
                        "tombstones would mis-hide rows"
                    )
            for rel, s in seqs:
                if s > v:
                    errors.append(
                        f"v{v}/{table}: dir {rel!r} stamped _SEQ={s} above "
                        f"its snapshot version {v}"
                    )

    # -- delete vector sanity --------------------------------------------
    if cur is not None and cur not in unreadable:
        dd_dirs = [cat.abspath(r)
                   for r in cat.load(cur)["tables"].get("deleted_docs", [])]
        if dd_dirs:
            n, max_upto, n_scoped, n_legacy = _read_delete_vector(dd_dirs)
            report["tombstones"] = {
                "rows": n, "seq_scoped": n_scoped,
                "legacy_global": n_legacy, "max_upto": max_upto,
            }
            if max_upto > cur:
                errors.append(
                    f"delete vector has upto={max_upto} beyond current "
                    f"version {cur} — tombstones scoped to segments that "
                    "don't exist yet"
                )
            if n_legacy:
                warnings.append(
                    f"{n_legacy} legacy global tombstone row(s) (hide in "
                    "EVERY segment; a re-add of those doc_ids stays "
                    "hidden until compact purges them)"
                )

    # -- orphans (report-only; Catalog.sweep_orphans deletes) -------------
    # with any snapshot unreadable the referenced set is incomplete, so
    # "unreferenced" cannot be decided — a dir held only by the corrupt
    # snapshot is NOT reclaimable (and sweep_orphans would crash on the
    # same load) — report nothing rather than mislabel live data
    orphan_dirs: list[str] = []
    orphan_bytes = 0
    data_root = os.path.join(index_dir, DATA_SUBDIR)
    if unreadable:
        warnings.append(
            "orphan detection skipped: unreadable snapshot(s) make the "
            "referenced-dir set incomplete — repair the catalog first"
        )
    elif os.path.isdir(data_root):
        for fn in sorted(os.listdir(data_root)):
            rel = os.path.join(DATA_SUBDIR, fn)
            if rel not in referenced:
                orphan_dirs.append(rel)
                orphan_bytes += dir_bytes(os.path.join(data_root, fn))
    cat_dir = os.path.join(index_dir, CATALOG_SUBDIR)
    orphan_snaps = []
    if cur is not None and os.path.isdir(cat_dir):
        for fn in sorted(os.listdir(cat_dir)):
            m = _SNAPSHOT_RE.match(fn)
            if m and int(m.group(1)) > cur:
                orphan_snaps.append(fn)
    report["orphans"] = {
        "data_dirs": orphan_dirs,
        "snapshot_files": orphan_snaps,
        "reclaimable_bytes": orphan_bytes,
    }
    if orphan_dirs or orphan_snaps:
        warnings.append(
            f"{len(orphan_dirs)} orphan data dir(s) + "
            f"{len(orphan_snaps)} orphan snapshot file(s), "
            f"{orphan_bytes} reclaimable bytes — Catalog.sweep_orphans() "
            "deletes them (schedule it writer-idle)"
        )

    # -- stages -----------------------------------------------------------
    from information_retrieval_spark.index.maintenance import (
        unrecovered_stage_names,
    )

    frozen = unrecovered_stage_names(index_dir)
    report["frozen_stages"] = frozen
    if frozen:
        warnings.append(
            f"{len(frozen)} frozen uncommitted stage(s) — run `recover` "
            "to finish their commits before compact/rebuild"
        )
    partial, leftover = [], []
    for d in sorted(os.listdir(index_dir)):
        if not d.startswith("__stage") or d in frozen:
            continue
        if os.path.exists(os.path.join(index_dir, d, "_STAGED")):
            leftover.append(d)  # frozen AND committed: crash after commit,
            # before cleanup — replay no-ops on it; plain debris
        else:
            partial.append(d)
    if partial:
        warnings.append(
            f"{len(partial)} partial stage dir(s) with no _STAGED marker "
            f"(crash before freeze; no live effects): {partial}"
        )
    if leftover:
        warnings.append(
            f"{len(leftover)} committed leftover stage dir(s) (crash "
            f"after commit, before cleanup; safe to delete): {leftover}"
        )

    report["ok"] = not errors
    return report
