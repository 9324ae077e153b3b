"""spark-submit entry point for index maintenance (snapshot catalog).

Cluster:
  spark-submit --py-files dist/information_retrieval_spark.zip \\
      scripts/maintain_index.py --index-dir s3://bucket/idx <command> [...]

Commands:
  add --delta <parquet>          append a delta corpus as a new LSM segment
      [--auto-compact N]         merge segments once an add leaves > N
      [--compact-mode full|tiered]  what the trigger merges (tiered =
                                 delta segments only)
  remove --doc-ids 1,2,3         logical delete (delete-vector commit)
  update --delta <parquet>       replace docs under the SAME doc_ids:
                                 seq-scoped tombstone + re-add (cost is
                                 delta-sized even for base-resident docs;
                                 the purge rides the next compact)
  compact [--segments 1,2 | --to N]  drop deletes + merge segments: one
                                 merge path; with --segments, a TIERED
                                 merge of only those segment indices
                                 (0 = base) — cost ∝ their bytes, base
                                 never rewritten; without, the same merge
                                 over every segment (refuses over a
                                 frozen uncommitted stage)
  recover                        finish the commit of crashed (frozen) stages
  expire [--keep-last N]         drop old snapshots + GC data dirs
  history                        print the snapshot chain as JSON lines
  fsck [--deep]                  integrity report (metadata-only, no Spark):
                                 missing dirs, seq order, delete-vector
                                 sanity, orphan bytes, frozen stages;
                                 --deep also rescans each table and
                                 compares rows + content-hash XOR to the
                                 lineage log; exit 1 on errors
  sweep                          delete orphan data dirs + crashed-commit
                                 snapshot files fsck reported (run it
                                 writer-idle)

Sandbox: python scripts/maintain_index.py --index-dir /tmp/idx history
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-dir", required=True)
    sub = ap.add_subparsers(dest="command", required=True)

    p_add = sub.add_parser("add")
    p_add.add_argument("--delta", required=True, help="parquet path of new docs")
    p_add.add_argument("--auto-compact", type=int, default=None)
    p_add.add_argument("--compact-mode", choices=("full", "tiered"),
                       default="full")

    p_rm = sub.add_parser("remove")
    p_rm.add_argument("--doc-ids", required=True, help="comma list of doc ids")

    p_upd = sub.add_parser("update")
    p_upd.add_argument("--delta", required=True,
                       help="parquet path of replacement docs (same doc_ids)")

    p_cp = sub.add_parser("compact")
    p_cp.add_argument("--segments", default=None,
                      help="comma list of segment indices for a tiered"
                           " (partial) merge; omit to merge every segment"
                           " (the same merge, clearing the delete vector)")
    p_cp.add_argument("--to", type=int, default=None, dest="to_segments",
                      help="size-tiered plan: merge the cheapest subset"
                           " that brings the segment count down to N"
                           " (plan_compaction); mutually exclusive with"
                           " --segments")
    p_cp.add_argument("--target-bytes", type=int, default=None,
                      help="cap each OUTPUT segment at ~this many packed"
                           " bytes: the merged rows hash-split by doc_id"
                           " into ceil(input/cap) sibling segments, so no"
                           " future rewrite unit exceeds the cap (splits"
                           " an oversized base)")

    sub.add_parser("recover")

    p_exp = sub.add_parser("expire")
    p_exp.add_argument("--keep-last", type=int, default=2)

    sub.add_parser("history")
    p_fsck = sub.add_parser("fsck")
    p_fsck.add_argument(
        "--deep", action="store_true",
        help="also recompute per-table row counts + content-hash XORs "
             "and compare to the lineage log (one scan per table; needs "
             "a Spark session)",
    )
    sub.add_parser("sweep")

    args = ap.parse_args()

    from information_retrieval_spark.index.catalog import Catalog

    if args.command == "fsck":
        # metadata-only unless --deep, like history
        from information_retrieval_spark.index.fsck import fsck, fsck_deep

        if args.deep:
            from information_retrieval_spark.session import get_spark

            report = fsck_deep(get_spark("fsck"), args.index_dir)
        else:
            report = fsck(args.index_dir)
        print(json.dumps(report, sort_keys=True))
        raise SystemExit(0 if report["ok"] else 1)

    if args.command == "sweep":
        # fsck's repair verb for orphan debris; metadata-only. Only safe
        # writer-idle (single-writer schedule is the operator's contract).
        if not Catalog.exists(args.index_dir):
            print(f"no snapshot catalog under {args.index_dir!r}",
                  file=sys.stderr)
            raise SystemExit(2)
        print(json.dumps(
            {"swept": Catalog(args.index_dir).sweep_orphans()}
        ))
        return

    if args.command == "history":
        # metadata-only: no Spark session needed. Fail loudly on a missing
        # catalog — silence would be indistinguishable from a healthy
        # empty history (mistyped path, pre-catalog legacy index).
        if not Catalog.exists(args.index_dir):
            print(
                f"no snapshot catalog under {args.index_dir!r} (wrong"
                " path, or a pre-catalog index: run any maintenance"
                " command to bootstrap v1)",
                file=sys.stderr,
            )
            raise SystemExit(2)
        for snap in Catalog(args.index_dir).history():
            print(json.dumps(snap, sort_keys=True))
        return

    from information_retrieval_spark.index.maintenance import IndexMaintenance
    from information_retrieval_spark.session import get_spark

    spark = get_spark("index_maintenance")
    maint = IndexMaintenance(
        spark,
        args.index_dir,
        auto_compact_segments=getattr(args, "auto_compact", None),
        auto_compact_mode=getattr(args, "compact_mode", "full"),
    )
    if args.command == "add":
        n = maint.add_documents(spark.read.parquet(args.delta))
        out = {"added": n}
    elif args.command == "remove":
        ids = [int(x) for x in args.doc_ids.split(",") if x]
        maint.remove_documents(ids)
        out = {"removed": len(ids)}
    elif args.command == "update":
        n = maint.update_documents(spark.read.parquet(args.delta))
        out = {"updated": n}
    elif args.command == "compact":
        if args.segments and args.to_segments is not None:
            raise SystemExit("--segments and --to are mutually exclusive")
        if args.to_segments is not None:
            segs = maint.plan_compaction(
                args.to_segments, target_bytes=args.target_bytes
            )
            if segs is None:
                print(json.dumps({"compacted": False, "reason": "already"
                                  " within bound",
                                  "version": maint.cat.current_version()}))
                return
        else:
            segs = (
                [int(x) for x in args.segments.split(",") if x]
                if args.segments
                else None
            )
        # compact() returns the committed snapshot version, or None when
        # there was nothing to do (e.g. --segments naming one segment with
        # no delete vector) — report the no-op honestly
        new_v = maint.compact(segments=segs, target_bytes=args.target_bytes)
        out = {
            "compacted": new_v is not None,
            "segments": segs,
        }
        if new_v is None:
            out["reason"] = "nothing to merge or drop"
    elif args.command == "recover":
        out = {"recovered_stages": maint.recover_stages()}
    elif args.command == "expire":
        out = {"expired_dirs": maint.expire_snapshots(args.keep_last)}
    print(json.dumps({**out, "version": maint.cat.current_version()}))


if __name__ == "__main__":
    main()
