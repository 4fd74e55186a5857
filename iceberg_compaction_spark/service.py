"""Table maintenance service: the cron-able entry point a platform runs
per table.

Composes the engine's pieces in the order a production table service
executes them (the reference's positioning — compaction as a managed
background service over streaming-ingested tables, README.md "Why
Compaction" — extended with the snapshot-hygiene steps Iceberg
deployments schedule alongside):

1. **auto-compact** — stats-driven candidate selection
   (plans/auto.py); commits through the catalog CAS seam, so it
   coexists with live writers (racing upserts keep their sequence
   semantics, commit.py).
2. **rewrite manifests** — the same small-file thesis applied to the
   table's OWN metadata: merge the head snapshot's undersized Avro
   manifests so scan planning stops opening O(commits) files
   (Iceberg's ``rewrite_manifests`` procedure; full-fidelity tier
   only — engine-tier versions are already one consolidated manifest).
3. **expire snapshots** — bound time-travel history.
4. **remove orphan files** — reclaim storage unreachable from any
   retained snapshot (includes files superseded by the expiration in
   step 2).

Each step is independently safe to re-run; the whole service is
idempotent at its fixed point: a second run on a maintained table does
nothing.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from iceberg_compaction_spark.compaction import (
    AutoCompaction,
    Compaction,
    CompactionStats,
    DeleteRewriteStats,
    EqConvertStats,
    convert_equality_deletes,
    rewrite_position_deletes,
)
from iceberg_compaction_spark.commit import load_head
from iceberg_compaction_spark.config import CompactionConfig
from iceberg_compaction_spark.plans.auto import (
    AutoCompactionConfig,
    AutoPlanReport,
)
from iceberg_compaction_spark.sources.manifest import Manifest
from iceberg_compaction_spark.sources.manifest_rewrite import (
    ManifestRewriteStats,
    rewrite_manifests,
)


def _maintenance_engine_config() -> CompactionConfig:
    """Maintenance default: enforce the reference's output-size band.
    The service's whole job is file hygiene — emitting out-of-band
    files would schedule its own next pass; the re-cut costs one extra
    output-sized write, paid only when pass-1 output actually landed
    out of band (sources/writer.py enforce_size_band)."""
    from dataclasses import replace

    cfg = CompactionConfig()
    return replace(cfg, writer=replace(cfg.writer, enforce_size_band=True))


@dataclass
class MaintenancePolicy:
    auto: AutoCompactionConfig = field(default_factory=AutoCompactionConfig)
    engine: CompactionConfig = field(default_factory=_maintenance_engine_config)
    keep_snapshots: int = 3
    clean_orphans: bool = True
    # consolidate parquet position-delete files when more than this many
    # are live (Iceberg's rewrite_position_delete_files); 0 disables
    rewrite_deletes_min_files: int = 2
    # convert equality deletes to position deletes before consolidation
    # (pays the key anti-join once; every later read is a scan mask).
    # Off by default: full compaction subsumes it when it runs anyway.
    convert_eq_deletes: bool = False
    # merge the head snapshot's undersized Avro manifests when a
    # (content, spec) group holds at least this many below target size
    # (Iceberg's rewrite_manifests procedure); 0 disables.  Only acts
    # on catalogs with a physical manifest tier — the engine tier's
    # version files are already one consolidated manifest each.
    rewrite_manifests_min_count: int = 8
    # grace window before an unreferenced file is deletable (Iceberg's
    # olderThan, default 3 days): protects files staged by in-flight
    # writers that have not yet CAS-committed
    orphan_older_than_s: float = 3 * 24 * 3600
    # upgrade the table's Iceberg format version first (None = leave as
    # is; 3 = v3: the same pass then folds parquet position-delete
    # trails into puffin deletion vectors — the full v2->v3 migration)
    upgrade_to_version: int | None = None
    # refresh statistics AFTER the row-set maintenance (so they describe
    # the maintained head): theta-NDV puffin StatisticsFile
    # (compute_table_stats) and/or the partition-statistics parquet.
    # Off by default — stats refresh is an explicit operator ask.
    refresh_column_stats: bool = False
    refresh_partition_stats: bool = False


@dataclass
class MaintenanceReport:
    table: str
    snapshot_before: int
    snapshot_after: int
    compaction: AutoPlanReport
    stats: CompactionStats
    expired_snapshots: list[int]
    orphans_removed: list[str]
    delete_rewrite: DeleteRewriteStats = field(
        default_factory=DeleteRewriteStats
    )
    eq_convert: EqConvertStats = field(default_factory=EqConvertStats)
    manifest_rewrite: "ManifestRewriteStats" = field(
        default_factory=lambda: ManifestRewriteStats()
    )
    # refreshed statistics (empty when the policy leaves them off)
    column_ndv: dict = field(default_factory=dict)
    partition_stats_partitions: int = 0


def maintain(
    spark: SparkSession,
    catalog,
    table_name: str,
    policy: MaintenancePolicy | None = None,
    to_branch: str | None = None,
) -> MaintenanceReport:
    """Run one maintenance pass over a catalog table; see module doc.

    ``to_branch`` runs the ROW-SET maintenance steps (auto-compaction,
    equality-delete conversion, position-delete consolidation) against
    and onto a named branch — the WAP pattern where the audit branch is
    maintained before publish, main untouched.  The snapshot-HYGIENE
    steps (format upgrade, expiration, orphan cleanup) operate on the
    table as a whole, so ``upgrade_to_version`` is rejected with a
    branch target (it would commit on main) and expiration/orphan
    cleanup keep their global, ref-protecting semantics.
    """
    from iceberg_compaction_spark.compaction import upgrade_format_version
    from iceberg_compaction_spark.plans.datamodel import POSITION_DELETE
    from iceberg_compaction_spark.sources.puffin import is_puffin_file

    policy = policy or MaintenancePolicy()
    branch = to_branch or "main"
    engine = Compaction(spark=spark, config=policy.engine)

    before = load_head(catalog, table_name, to_branch).snapshot_id
    if policy.upgrade_to_version is not None:
        if to_branch:
            raise ValueError(
                "upgrade_to_version is a whole-table structural change; "
                "run it without to_branch"
            )
        upgrade_format_version(catalog, table_name, policy.upgrade_to_version)
    manifest = load_head(catalog, table_name, to_branch)

    # All three row-set steps commit through the engine's ONE catalog
    # commit (Compaction.commit_catalog): a concurrent writer racing the
    # long Spark job turns into a re-load + retry instead of aborting
    # the whole maintenance pass.
    report = AutoCompaction(spark, policy.auto).plan(manifest, branch)
    results, stats = engine.execute_plans(manifest, report.plans)
    if results:
        engine.commit_catalog(
            catalog,
            table_name,
            lambda current: engine.commit_manager.rewrite_files(
                current, results, branch=branch
            ),
            to_branch,
        )

    eqc = EqConvertStats()
    if policy.convert_eq_deletes and any(
        d.content != POSITION_DELETE
        for t in load_head(catalog, table_name, to_branch).data_files
        for d in t.deletes
    ):
        eq_stats: list[EqConvertStats] = []

        def build_eq(current: Manifest) -> Manifest | None:
            new_m, stats_eq = convert_equality_deletes(spark, current)
            eq_stats.append(stats_eq)
            if not stats_eq.input_equality_files:
                return None  # raced away: nothing left to convert
            new_m.snapshot_id = current.snapshot_id + 1
            return new_m

        engine.commit_catalog(catalog, table_name, build_eq, to_branch)
        eqc = eq_stats[-1]

    drw = DeleteRewriteStats()
    if policy.rewrite_deletes_min_files:
        # gate on driver-scale manifest metadata BEFORE the Spark job:
        # below the threshold the consolidation would only be abandoned
        # (its output files left orphaned) — never start it
        cur_m = load_head(catalog, table_name, to_branch)
        pos_live = {
            d.path
            for t in cur_m.data_files
            for d in t.deletes
            if d.content == POSITION_DELETE and not is_puffin_file(d.path)
        }
        # a v3 table converts parquet trails to deletion vectors even
        # BELOW the consolidation threshold — one lingering trail after
        # a format upgrade still needs the representation migration
        if len(pos_live) >= policy.rewrite_deletes_min_files or (
            cur_m.format_version >= 3 and pos_live
        ):
            drw_stats: list[DeleteRewriteStats] = []

            def build_drw(current: Manifest) -> Manifest | None:
                new_m, stats_d = rewrite_position_deletes(spark, current)
                drw_stats.append(stats_d)
                worth = stats_d.input_delete_files >= (
                    policy.rewrite_deletes_min_files
                ) or (
                    current.format_version >= 3
                    and stats_d.input_delete_files
                )
                if not (worth and stats_d.output_delete_files):
                    return None  # raced below the threshold
                new_m.snapshot_id = current.snapshot_id + 1
                return new_m

            engine.commit_catalog(catalog, table_name, build_drw, to_branch)
            drw = drw_stats[-1]

    # manifest-metadata hygiene BEFORE expiration: the rewrite's replace
    # snapshot supersedes the fragmented one, and the expire pass that
    # follows reference-counts the now-unreferenced small Avro away
    # under the same retention policy as everything else.  Driver-only
    # metadata work (no Spark job); fixed-point no-op when the head
    # list is already consolidated.
    mrw = ManifestRewriteStats()
    if policy.rewrite_manifests_min_count and (
        hasattr(catalog, "commit_snapshot")      # full-fidelity local
        or hasattr(catalog, "_spec_base_md")     # REST client spec wire
    ):
        mrw = rewrite_manifests(
            catalog,
            table_name,
            min_count_to_merge=policy.rewrite_manifests_min_count,
            to_branch=to_branch,
        )

    # statistics refresh rides AFTER the row-set maintenance so the
    # registered files describe the maintained head
    column_ndv: dict = {}
    n_part_stats = 0
    if policy.refresh_column_stats:
        from iceberg_compaction_spark.operators.stats import (
            compute_table_stats,
        )

        _, column_ndv = compute_table_stats(
            spark, catalog, table_name, to_branch=to_branch
        )
    if policy.refresh_partition_stats:
        from iceberg_compaction_spark.operators.stats import (
            compute_partition_stats,
        )

        _, prows = compute_partition_stats(
            catalog, table_name, to_branch=to_branch
        )
        n_part_stats = len(prows)

    # snapshot-hygiene steps: skipped entirely on gc-disabled tables
    # (snapshot_table forks / register_table adoptions share files with
    # their source — expiring or sweeping here could unlink data the
    # owning table still reads; Iceberg's procedures refuse the same
    # way, and maintain treats that as "nothing to do", not a failure)
    props = load_head(catalog, table_name, to_branch).properties or {}
    gc_off = str(props.get("gc.enabled", "true")).lower() == "false"
    expired = (
        []
        if gc_off
        else catalog.expire_snapshots(table_name, policy.keep_snapshots)
    )
    orphans = (
        catalog.remove_orphan_files(
            table_name, older_than_s=policy.orphan_older_than_s
        )
        if policy.clean_orphans and not gc_off
        else []
    )
    if (
        policy.clean_orphans
        and not gc_off
        and hasattr(catalog, "remove_orphan_metadata")
    ):
        # the metadata-tier counterpart: Avro no retained version
        # references (crash leftovers from spec-wire writers / manifest
        # rewrites), swept under the same grace window
        orphans = orphans + catalog.remove_orphan_metadata(
            table_name, older_than_s=policy.orphan_older_than_s
        )
    after = load_head(catalog, table_name, to_branch).snapshot_id
    return MaintenanceReport(
        table=table_name,
        snapshot_before=before,
        snapshot_after=after,
        compaction=report,
        stats=stats,
        expired_snapshots=expired,
        orphans_removed=orphans,
        delete_rewrite=drw,
        eq_convert=eqc,
        manifest_rewrite=mrw,
        column_ndv=column_ndv,
        partition_stats_partitions=n_part_stats,
    )
