"""CLI entry point — the ``linz_bde_uploader`` command surface
(reference bin/linz_bde_uploader.pl:78-148) on Spark.

    python -m linz_bde_uploader_spark -full -repo REPO -target TGT -meta META \
        -config tables.conf [-before YYYYMMDD] [-rebuild] [-tables a b] [-exclude c]
    python -m linz_bde_uploader_spark -incremental ...
    python -m linz_bde_uploader_spark -purge -meta META
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="linz_bde_uploader_spark", prefix_chars="-",
        description="PySpark BDE uploader",
    )
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("-full", action="store_true", help="apply level-0 updates")
    mode.add_argument(
        "-full-incremental", action="store_true", dest="full_incremental",
        help="apply level-0 snapshots as full-compare diffs",
    )
    mode.add_argument("-incremental", action="store_true", help="apply level-5 updates")
    mode.add_argument("-purge", action="store_true", help="purge expired jobs/locks")
    ap.add_argument("-rebuild", action="store_true", help="force level-0 reload")
    ap.add_argument("-before", default=None, help="only datasets before this date")
    ap.add_argument("-repo", default=None, help="BDE repository directory")
    ap.add_argument("-target", default=None, help="target table root directory")
    ap.add_argument("-meta", required=True, help="metadata store directory")
    ap.add_argument("-config", default=None, help="tables.conf path")
    ap.add_argument("-tables", nargs="*", default=None, help="subset of tables (P12)")
    ap.add_argument("-exclude", nargs="*", default=None, help="tables to skip (P12)")
    ap.add_argument("-override-locks", action="store_true", dest="override_locks")
    ap.add_argument("-expiry-hours", type=float, default=3.0)
    args = ap.parse_args(argv)

    from linz_bde_uploader_spark.meta.store import MetaStore

    meta = MetaStore(args.meta)
    if args.purge:
        released = meta.release_expired(args.expiry_hours)
        purged = meta.purge_old()
        print(f"released {len(released)} expired uploads, purged {purged} old jobs")
        return 0

    for req in ("repo", "target", "config"):
        if getattr(args, req) is None:
            ap.error(f"-{req} is required for -full/-incremental")

    from linz_bde_uploader_spark.plans.uploader import (
        BdeUploader,
        parse_tables_conf,
        select_tables,
    )
    from linz_bde_uploader_spark.session import get_spark

    with open(args.config) as fh:
        defs = parse_tables_conf(fh.read())
    defs = select_tables(defs, subset=args.tables, exclude=args.exclude)

    spark = get_spark("linz_bde_uploader")
    up = BdeUploader(
        spark, args.repo, args.target, meta, defs, override_locks=args.override_locks
    )
    if args.full or args.full_incremental:
        reports = up.run_level0(
            before=args.before, rebuild=args.rebuild,
            full_incremental=args.full_incremental,
        )
    else:
        reports = up.run_level5(before=args.before)
    for r in reports:
        print(
            f"{r.table} {r.dataset} L{r.level}: +{r.ninsert} ~{r.nupdate} "
            f"0:{r.nnullupdate} -{r.ndelete} [{r.continuity}]"
        )
    if not reports:
        print("nothing to do (watermarks up to date)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
