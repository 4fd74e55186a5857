"""Command-line entry point: the operational surface a platform team
actually runs.

The reference positions compaction as a managed background service over
streaming-ingested tables (README.md "Why Compaction"); this CLI is
that service's front door for the Spark engine — point it at a
warehouse and a table:

    python -m iceberg_compaction_spark show      --warehouse WH --table T
    python -m iceberg_compaction_spark history   --warehouse WH --table T
    python -m iceberg_compaction_spark compact   --warehouse WH --table T
    python -m iceberg_compaction_spark maintain  --warehouse WH --table T

Every command prints ONE JSON object (machine-parseable; cron/airflow
friendly).  ``compact`` runs plan -> rewrite -> CAS commit through the
retry loop; ``maintain`` chains auto-compaction, delete consolidation,
snapshot expiration, and orphan cleanup (service.py) — each idempotent,
safe to re-run.  The warehouse may be any FileIO scheme the engine
knows (local path, ``file://``, ``mem://``, fsspec object stores).
"""

from __future__ import annotations

import argparse
import json
import sys
from dataclasses import asdict, is_dataclass

from iceberg_compaction_spark.commit import load_head


def _json_default(o):
    if is_dataclass(o) and not isinstance(o, type):
        return asdict(o)
    return str(o)


def _build_session(master: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(master)
        .appName("iceberg-compaction-spark-cli")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _catalog(warehouse: str):
    from iceberg_compaction_spark.sources.catalog import FileCatalog

    return FileCatalog(warehouse=warehouse)


def cmd_show(args, spark=None) -> dict:
    m = _catalog(args.warehouse).load_table(args.table)
    deletes = {t.data_file_path: len(t.deletes) for t in m.data_files}
    return {
        "table": args.table,
        "snapshot_id": m.snapshot_id,
        "sequence_number": m.sequence_number,
        "operation": m.operation,
        "format_version": m.format_version,
        "data_files": len(m.data_files),
        "total_bytes": sum(t.file_size_in_bytes for t in m.data_files),
        "total_records": sum(t.record_count for t in m.data_files),
        "files_with_deletes": sum(1 for n in deletes.values() if n),
        "delete_attachments": sum(deletes.values()),
    }


def cmd_history(args, spark=None) -> dict:
    cat = _catalog(args.warehouse)
    return {
        "table": args.table,
        "snapshots": cat.table_history(args.table),
        "refs": cat.list_refs(args.table),
    }


def cmd_compact(args, spark=None) -> dict:
    from dataclasses import replace

    from iceberg_compaction_spark.compaction import Compaction
    from iceberg_compaction_spark.config import CompactionConfig

    spark = spark or _build_session(args.master)
    cfg = CompactionConfig.small_files()
    cfg = replace(
        cfg,
        writer=replace(
            cfg.writer,
            target_file_size_bytes=args.target_file_size,
            enforce_size_band=args.enforce_size_band,
        ),
    )
    cat = _catalog(args.warehouse)
    br = getattr(args, "to_branch", None)
    before = load_head(cat, args.table, br)
    new, stats = Compaction(spark=spark, config=cfg).compact_catalog(
        cat, args.table, to_branch=br, where=getattr(args, "where", None)
    )
    return {
        "table": args.table,
        "snapshot_before": before.snapshot_id,
        "snapshot_after": new.snapshot_id,
        "stats": stats,
    }


def cmd_maintain(args, spark=None) -> dict:
    from iceberg_compaction_spark.service import (
        MaintenancePolicy,
        maintain,
    )

    spark = spark or _build_session(args.master)
    policy = MaintenancePolicy(
        keep_snapshots=args.keep_snapshots,
        convert_eq_deletes=args.convert_eq_deletes,
        orphan_older_than_s=args.orphan_grace_s,
        refresh_column_stats=getattr(args, "refresh_stats", False),
        refresh_partition_stats=getattr(
            args, "refresh_partition_stats", False
        ),
    )
    report = maintain(
        spark,
        _catalog(args.warehouse),
        args.table,
        policy,
        to_branch=getattr(args, "to_branch", None),
    )
    return {
        "table": report.table,
        "snapshot_before": report.snapshot_before,
        "snapshot_after": report.snapshot_after,
        "compaction_groups": len(report.compaction.plans),
        "stats": report.stats,
        "expired_snapshots": report.expired_snapshots,
        "orphans_removed": len(report.orphans_removed),
        "delete_rewrite": report.delete_rewrite,
        "eq_convert": report.eq_convert,
        "manifest_rewrite": report.manifest_rewrite,
        **(
            {"column_ndv": report.column_ndv}
            if report.column_ndv
            else {}
        ),
        **(
            {"partition_stats_partitions": report.partition_stats_partitions}
            if report.partition_stats_partitions
            else {}
        ),
    }


def cmd_delete(args, spark=None) -> dict:
    from iceberg_compaction_spark.sources.ingest import delete_where

    spark = spark or _build_session(args.master)
    cat = _catalog(args.warehouse)
    br = getattr(args, "to_branch", None)
    before = load_head(cat, args.table, br)
    new = delete_where(spark, cat, args.table, args.where, to_branch=br)
    d = {
        x.path
        for t in new.data_files
        for x in t.deletes
        if x.sequence_number == new.sequence_number
    }
    return {
        "table": args.table,
        "where": args.where,
        "snapshot_before": before.snapshot_id,
        "snapshot_after": new.snapshot_id,
        "committed": new.snapshot_id != before.snapshot_id,
        "delete_files_written": sorted(d)
        if new.snapshot_id != before.snapshot_id
        else [],
    }


def cmd_update(args, spark=None) -> dict:
    """``UPDATE t SET col=expr[, ...] WHERE pred`` in merge-on-read
    mode — one snapshot: position delete over matched rows + a data
    file with the SET expressions applied (ingest.update_where)."""
    from iceberg_compaction_spark.sources.ingest import update_where

    spark = spark or _build_session(args.master)
    cat = _catalog(args.warehouse)
    set_exprs = {}
    for s in args.set:
        col, _, expr = s.partition("=")
        if not _ or not col.strip() or not expr.strip():
            raise SystemExit(f"--set needs col=expr, got {s!r}")
        set_exprs[col.strip()] = expr.strip()
    br = getattr(args, "to_branch", None)
    before = load_head(cat, args.table, br)
    new = update_where(
        spark, cat, args.table, args.where, set_exprs, to_branch=br
    )
    return {
        "table": args.table,
        "where": args.where,
        "set": set_exprs,
        "snapshot_before": before.snapshot_id,
        "snapshot_after": new.snapshot_id,
        "committed": new.snapshot_id != before.snapshot_id,
        "rows_updated": sum(
            t.record_count
            for t in new.data_files
            if t.sequence_number == new.sequence_number
        )
        if new.snapshot_id != before.snapshot_id
        else 0,
    }


def cmd_rollback(args, spark=None) -> dict:
    """Roll the table back to an earlier snapshot as a NEW commit
    (history stays append-only; catalog.rollback_table)."""
    from iceberg_compaction_spark.sources.catalog import rollback_table

    cat = _catalog(args.warehouse)
    before = cat.load_table(args.table)
    new = rollback_table(cat, args.table, args.snapshot)
    return {
        "table": args.table,
        "rolled_back_to": args.snapshot,
        "snapshot_before": before.snapshot_id,
        "snapshot_after": new.snapshot_id,
        "committed": new.snapshot_id != before.snapshot_id,
    }


def cmd_branch(args, spark=None) -> dict:
    """Branch administration for write-audit-publish: create an audit
    branch, publish via fast-forward, or drop a finished ref — all
    metadata-only CASed ref moves (sources/catalog.py TableRefs)."""
    cat = _catalog(args.warehouse)
    if getattr(args, "retention", None) and not args.create:
        raise SystemExit(
            "--retention applies to --create only (a ref's policy is "
            "declared at creation; moves preserve it)"
        )
    if args.create:
        retention = None
        if getattr(args, "retention", None):
            retention = {}
            for kv in args.retention:
                k, _, v = kv.partition("=")
                retention[k.replace("-", "_")] = int(v)
        ref = cat.create_branch(
            args.table, args.create, args.snapshot, retention=retention
        )
        return {"table": args.table, "created": args.create, "ref": ref}
    if args.fast_forward:
        if args.snapshot is None:
            raise SystemExit("--fast-forward needs --snapshot")
        ref = cat.fast_forward(args.table, args.fast_forward, args.snapshot)
        return {
            "table": args.table,
            "fast_forwarded": args.fast_forward,
            "ref": ref,
        }
    if args.drop:
        cat.drop_ref(args.table, args.drop)
        return {"table": args.table, "dropped": args.drop}
    return {"table": args.table, "refs": cat.list_refs(args.table)}


def cmd_metadata(args, spark=None) -> dict:
    """Print a metadata relation (files/snapshots/entries/manifests/
    all_* ...) as JSON rows — commit forensics from a shell, no Spark
    session needed (the row builders are pure driver-side functions)."""
    from iceberg_compaction_spark.sources.metadata_tables import (
        metadata_rows,
        metadata_schema,
    )

    rows = metadata_rows(
        _catalog(args.warehouse),
        args.table,
        args.kind,
        snapshot_id=args.snapshot,
    )
    return {
        "table": args.table,
        "kind": args.kind,
        "columns": metadata_schema(args.kind).fieldNames(),
        "rows": [list(r) for r in rows],
    }


def cmd_add_files(args, spark=None) -> dict:
    """Metadata-only import of existing parquet (Iceberg's add_files
    procedure): register, never rewrite."""
    from iceberg_compaction_spark.sources.ingest import add_files

    m = add_files(
        _catalog(args.warehouse),
        args.table,
        args.src_dir,
        to_branch=args.to_branch,
    )
    return {
        "table": args.table,
        "snapshot_id": m.snapshot_id,
        "imported_dir": args.src_dir,
        "to_branch": args.to_branch,
    }


def cmd_rewrite_manifests(args, spark=None) -> dict:
    """Manifest-metadata compaction (Iceberg's rewrite_manifests): merge
    the head snapshot's undersized Avro manifests and commit ONE new
    manifest list as a metadata-only replace — pure driver-side
    metadata work, no Spark session needed."""
    from dataclasses import asdict

    from iceberg_compaction_spark.sources.manifest_rewrite import (
        rewrite_manifests,
    )

    stats = rewrite_manifests(
        _catalog(args.warehouse),
        args.table,
        target_manifest_size_bytes=args.target_size or None,
        min_count_to_merge=args.min_count,
        to_branch=args.to_branch,
    )
    return {"table": args.table, **asdict(stats)}


def cmd_analyze(args, spark=None) -> dict:
    """ANALYZE: one-pass per-column NDV/null/min-max over the current
    snapshot, committed into table properties stamped with the
    analyzed snapshot id (operators/stats.py)."""
    from iceberg_compaction_spark.operators.stats import analyze_table

    spark = spark or _build_session(args.master)
    m = analyze_table(
        spark,
        _catalog(args.warehouse),
        args.table,
        columns=args.columns,
        approx=not args.exact,
        to_branch=args.to_branch,
    )
    return {
        "table": args.table,
        "snapshot_id": m.snapshot_id,
        "stats": {
            k: v
            for k, v in (m.properties or {}).items()
            if k.startswith("stats.")
        },
    }


def cmd_compute_stats(args, spark=None) -> dict:
    """compute_table_stats: theta-sketch NDV per column written as an
    apache-datasketches-theta-v1 puffin StatisticsFile and registered
    in the table's statistics list (operators/stats.py)."""
    from iceberg_compaction_spark.operators.stats import (
        compute_table_stats,
    )

    spark = spark or _build_session(args.master)
    m, ndv = compute_table_stats(
        spark,
        _catalog(args.warehouse),
        args.table,
        columns=args.columns,
        lg_k=args.lg_k,
        to_branch=args.to_branch,
    )
    return {
        "table": args.table,
        "snapshot_id": m.snapshot_id,
        "ndv": ndv,
        "statistics_files": [
            s["statistics-path"] for s in m.statistics_files
        ],
    }


def cmd_snapshot_table(args, spark=None) -> dict:
    """snapshot_table: zero-copy fork of a table (gc disabled on the
    fork; new writes land under the fork's own root)."""
    from iceberg_compaction_spark.sources.catalog import snapshot_table

    m = snapshot_table(_catalog(args.warehouse), args.table, args.dest)
    return {
        "source": args.table,
        "dest": args.dest,
        "snapshot_id": m.snapshot_id,
        "files": len(m.data_files),
        "gc_enabled": m.properties.get("gc.enabled"),
    }


def cmd_register_table(args, spark=None) -> dict:
    """register_table: adopt an existing table by its metadata file
    (real metadata.json or engine manifest JSON)."""
    from iceberg_compaction_spark.sources.catalog import register_table

    m = register_table(
        _catalog(args.warehouse), args.table, args.metadata_file
    )
    return {
        "table": args.table,
        "snapshot_id": m.snapshot_id,
        "files": len(m.data_files),
        "rows": sum(t.record_count for t in m.data_files),
    }


def cmd_migrate_table(args, spark=None) -> dict:
    """migrate_table: in-place adoption of a plain parquet directory
    (footer-only bootstrap; gc stays enabled — the table owns its
    files, so compact-the-backlog maintenance applies immediately)."""
    from iceberg_compaction_spark.sources.catalog import migrate_table

    m = migrate_table(
        _catalog(args.warehouse),
        args.table,
        args.parquet_dir,
        recursive=args.recursive,
    )
    return {
        "table": args.table,
        "files": len(m.data_files),
        "rows": sum(t.record_count for t in m.data_files),
        "snapshot_id": m.snapshot_id,
    }


def cmd_orphans(args, spark=None) -> dict:
    """Orphan-file cleanup, DRY-RUN by default: report what would be
    removed; pass --apply to actually unlink (the audit-then-apply
    workflow operators expect from destructive maintenance)."""
    cat = _catalog(args.warehouse)
    removed = cat.remove_orphan_files(
        args.table,
        older_than_s=args.older_than_s,
        dry_run=not args.apply,
    )
    if hasattr(cat, "remove_orphan_metadata"):
        removed = removed + cat.remove_orphan_metadata(
            args.table,
            older_than_s=args.older_than_s,
            dry_run=not args.apply,
        )
    return {
        "table": args.table,
        "dry_run": not args.apply,
        ("removed" if args.apply else "would_remove"): removed,
    }


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m iceberg_compaction_spark",
        description=__doc__.splitlines()[0],
    )
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp):
        sp.add_argument("--warehouse", required=True)
        sp.add_argument("--table", required=True)
        sp.add_argument("--master", default="local[*]")

    common(sub.add_parser("show", help="snapshot + file summary"))
    common(sub.add_parser("history", help="snapshot ids + refs"))
    c = sub.add_parser("compact", help="plan -> rewrite -> CAS commit")
    common(c)
    c.add_argument(
        "--target-file-size", type=int, default=1024 * 1024 * 1024
    )
    c.add_argument("--enforce-size-band", action="store_true")
    c.add_argument(
        "--to-branch",
        default=None,
        help="plan against and commit onto this branch (WAP)",
    )
    c.add_argument(
        "--where",
        default=None,
        help="scope the rewrite to files whose stats may match "
        "(col OP value [AND ...]; Iceberg rewrite_data_files where)",
    )
    d = sub.add_parser(
        "delete", help="predicate DELETE -> position-delete commit"
    )
    common(d)
    d.add_argument("--where", required=True, help="SQL predicate")
    d.add_argument("--to-branch", default=None)
    u = sub.add_parser(
        "update",
        help="predicate UPDATE -> position-delete + data-file commit",
    )
    common(u)
    u.add_argument("--where", required=True, help="SQL predicate")
    u.add_argument(
        "--set",
        required=True,
        nargs="+",
        help="col=expr assignments (Spark SQL expressions)",
    )
    u.add_argument("--to-branch", default=None)
    rb = sub.add_parser(
        "rollback", help="roll back to a snapshot (new append-only commit)"
    )
    common(rb)
    rb.add_argument("--snapshot", type=int, required=True)
    m = sub.add_parser("maintain", help="full maintenance pass")
    common(m)
    m.add_argument("--keep-snapshots", type=int, default=3)
    m.add_argument("--convert-eq-deletes", action="store_true")
    m.add_argument(
        "--orphan-grace-s", type=float, default=3 * 24 * 3600
    )
    m.add_argument("--to-branch", default=None)
    m.add_argument(
        "--refresh-stats", action="store_true",
        help="recompute the theta-NDV StatisticsFile after maintenance",
    )
    m.add_argument(
        "--refresh-partition-stats", action="store_true",
        help="recompute the partition-statistics file after maintenance",
    )
    b = sub.add_parser(
        "branch", help="create / fast-forward / drop / list table refs"
    )
    common(b)
    b.add_argument("--create", default=None, help="create this branch")
    b.add_argument(
        "--fast-forward", default=None, help="move this branch forward"
    )
    b.add_argument("--drop", default=None, help="drop this ref")
    b.add_argument(
        "--snapshot",
        type=int,
        default=None,
        help="target snapshot for --create/--fast-forward",
    )
    b.add_argument(
        "--retention",
        nargs="+",
        default=None,
        help="per-ref retention for --create, k=v pairs "
        "(max-ref-age-ms / max-snapshot-age-ms / min-snapshots-to-keep)",
    )
    md = sub.add_parser(
        "metadata", help="print a metadata relation as JSON rows"
    )
    common(md)
    md.add_argument(
        "--kind",
        required=True,
        help="files|delete_files|partitions|snapshots|history|refs|"
        "manifests|entries|all_files|all_entries|all_manifests",
    )
    md.add_argument("--snapshot", type=int, default=None)
    af = sub.add_parser(
        "add-files", help="metadata-only import of existing parquet"
    )
    common(af)
    af.add_argument("--src-dir", required=True)
    af.add_argument("--to-branch", default=None)
    o = sub.add_parser(
        "orphans", help="orphan-file report (dry-run) / cleanup (--apply)"
    )
    common(o)
    o.add_argument("--older-than-s", type=float, default=3 * 24 * 3600)
    o.add_argument("--apply", action="store_true")
    rm = sub.add_parser(
        "rewrite-manifests",
        help="merge undersized Avro manifests (metadata compaction)",
    )
    common(rm)
    rm.add_argument(
        "--target-size", type=int, default=0,
        help="target manifest bytes (0 = table property / 8MB default)",
    )
    rm.add_argument("--min-count", type=int, default=2)
    rm.add_argument("--to-branch", default=None)
    an = sub.add_parser(
        "analyze", help="compute + commit per-column table statistics"
    )
    common(an)
    an.add_argument("--columns", nargs="+", default=None)
    an.add_argument(
        "--exact", action="store_true",
        help="exact count-distinct instead of HLL approx",
    )
    an.add_argument("--to-branch", default=None)
    cs = sub.add_parser(
        "compute-stats",
        help="theta-sketch NDV -> puffin StatisticsFile + registration",
    )
    common(cs)
    cs.add_argument("--columns", nargs="+", default=None)
    cs.add_argument(
        "--lg-k", type=int, default=None,
        help="log2 nominal sketch entries (default 12 = 4096)",
    )
    cs.add_argument("--to-branch", default=None)
    sn = sub.add_parser(
        "snapshot-table", help="zero-copy fork (gc disabled on the fork)"
    )
    common(sn)
    sn.add_argument("--dest", required=True)
    rg = sub.add_parser(
        "register-table", help="adopt an existing table by metadata file"
    )
    common(rg)
    rg.add_argument("--metadata-file", required=True)
    mg = sub.add_parser(
        "migrate-table",
        help="adopt a plain parquet dir in place (gc stays enabled)",
    )
    common(mg)
    mg.add_argument("--parquet-dir", required=True)
    mg.add_argument("--recursive", action="store_true")
    return p


COMMANDS = {
    "show": cmd_show,
    "history": cmd_history,
    "compact": cmd_compact,
    "delete": cmd_delete,
    "update": cmd_update,
    "rollback": cmd_rollback,
    "maintain": cmd_maintain,
    "branch": cmd_branch,
    "metadata": cmd_metadata,
    "add-files": cmd_add_files,
    "orphans": cmd_orphans,
    "rewrite-manifests": cmd_rewrite_manifests,
    "analyze": cmd_analyze,
    "compute-stats": cmd_compute_stats,
    "snapshot-table": cmd_snapshot_table,
    "register-table": cmd_register_table,
    "migrate-table": cmd_migrate_table,
}


def main(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    out = COMMANDS[args.command](args, spark=spark)
    print(json.dumps(out, default=_json_default))
    return 0


if __name__ == "__main__":
    sys.exit(main())
