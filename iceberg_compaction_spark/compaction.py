"""Top-level compaction workflows (§3 query lifecycle).

Mirrors the reference's three entry points:

1. ``Compaction.compact()`` — managed plan → rewrite → commit → validate
   (core/src/compaction/mod.rs:259-303);
2. plan-driven: ``plan() / rewrite(plan) / commit(results)`` with the
   caller owning concurrency (mod.rs:189-199);
3. ``AutoCompaction`` — stats-driven strategy selection (plans/auto.py).

Concurrency: the reference runs up to ``max_concurrent_compaction_plans``
rewrites via buffer_unordered (mod.rs:523-540).  On Spark, concurrent
jobs on one SparkSession come from a thread pool — the scheduler
interleaves their stages across executors, which is exactly the same
resource-sharing model.
"""

from __future__ import annotations

import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from iceberg_compaction_spark.commit import (
    CommitManager,
    RewriteResult,
    commit_catalog,
    load_head,
)
from iceberg_compaction_spark.config import CompactionConfig
from iceberg_compaction_spark.metrics import CompactionMetrics
from iceberg_compaction_spark.operators.mor import (
    group_has_lineage,
    rewrite_file_group,
    rewrite_file_group_with_lineage,
)
from iceberg_compaction_spark.operators.validator import validate_row_counts
from iceberg_compaction_spark.plans.datamodel import CompactionPlan
from iceberg_compaction_spark.plans.strategy import PlanStrategy
from iceberg_compaction_spark.sources.manifest import Manifest, scan_data_files
from iceberg_compaction_spark.sources.scan import (
    driver_frame,
    read_listed_parquet,
)
from iceberg_compaction_spark.sources.writer import (
    SortField,
    estimate_row_size,
    write_sized_parquet,
)


@dataclass
class CompactionStats:
    """A3: input/output bookkeeping (core/src/executor/mod.rs:79-111)."""

    input_files_count: int = 0
    output_files_count: int = 0
    input_total_bytes: int = 0
    output_total_bytes: int = 0

    def merge(self, other: "CompactionStats") -> None:
        self.input_files_count += other.input_files_count
        self.output_files_count += other.output_files_count
        self.input_total_bytes += other.input_total_bytes
        self.output_total_bytes += other.output_total_bytes


@dataclass
class Compaction:
    spark: SparkSession
    config: CompactionConfig = field(default_factory=CompactionConfig)
    sort_order: list[SortField] | None = None
    commit_manager: CommitManager | None = None
    metrics: CompactionMetrics = field(default_factory=CompactionMetrics)

    def __post_init__(self) -> None:
        if self.commit_manager is None:
            self.commit_manager = CommitManager(retry=self.config.retry)

    # --- entry point 2: plan-driven ----------------------------------------

    def plan(
        self,
        manifest: Manifest,
        branch: str = "main",
        where=None,
    ) -> list[CompactionPlan]:
        """Plan against a manifest; ``branch`` stamps every plan with
        the ref the rewrite targets (the reference plans per-branch,
        ``core/src/compaction/mod.rs:97,1307-1336``) — T3 then rejects
        any commit mixing plans built for different branches.

        ``where`` (an iterable of ``plans.pruning.ColumnPredicate``
        conjuncts, or a simple SQL-ish string ``col op value [AND …]``)
        scopes the rewrite the way Iceberg's ``rewrite_data_files
        (where => …)`` does: only files whose footer bounds MIGHT
        contain matching rows are candidates (files without bounds stay
        in — scoping prunes, never guesses), evaluated against the
        manifest's per-file stats at plan time, no data IO."""
        tasks = scan_data_files(manifest)
        if where:
            from iceberg_compaction_spark.plans.pruning import (
                parse_where,
                prune_tasks,
            )

            preds = parse_where(where) if isinstance(where, str) else where
            tasks = prune_tasks(tasks, preds)
        groups = PlanStrategy.from_config(self.config.planning).run(tasks)
        return plans_from_groups(manifest, groups, branch)

    def _effective_sort(self, plan: CompactionPlan) -> list[SortField] | None:
        """Explicit Compaction(sort_order=...) wins; otherwise the
        table's DECLARED order from the plan; zorder config suppresses
        both (mutually exclusive write clusterings)."""
        if self.sort_order:
            # explicit order passes through even beside zorder config so
            # the writer's mutual-exclusion error still surfaces
            return self.sort_order
        if self.config.writer.zorder_by:
            return None
        if plan.sort_order:
            return [
                SortField(
                    column=c,
                    ascending=d != "desc",
                    nulls_first={"nulls-first": True, "nulls-last": False}.get(
                        no
                    ),
                )
                for c, d, no in plan.sort_order
            ]
        return None

    def rewrite(self, plan: CompactionPlan, out_dir: str | None = None) -> RewriteResult:
        g = plan.file_group
        t_start = time.monotonic()
        self.metrics.plan_file_count.observe(g.input_file_count)
        self.metrics.plan_size_bytes.observe(g.input_size)
        out_dir = out_dir or os.path.join(
            "/tmp", f"icspark-rewrite-{uuid.uuid4().hex[:12]}"
        )
        # v3 row lineage: when every input file carries lineage, the
        # rewrite MATERIALIZES _row_id / _last_updated_sequence_number
        # into its output (spec: positions change under a rewrite, so
        # writers must carry the ids as columns) — compaction preserves
        # row identity across the file swap.  Tables without lineage
        # (v2, or pre-assignment v3) take the plain path unchanged.
        lineage = g.format_version >= 3 and group_has_lineage(g)
        df = (
            rewrite_file_group_with_lineage(self.spark, g)
            if lineage
            else rewrite_file_group(self.spark, g)
        )

        wcfg = self.config.writer
        rows = sum(t.record_count for t in g.data_files)
        if wcfg.estimated_row_size_bytes is None:
            row_size = estimate_row_size(g.total_data_size, rows)
            from dataclasses import replace

            wcfg = replace(wcfg, estimated_row_size_bytes=row_size)

        spec_fields = None
        if plan.partition_spec:
            from iceberg_compaction_spark.functions.transforms import (
                PartitionField,
            )

            spec_fields = [
                PartitionField(source=s, transform=tr, name=nm)
                for s, tr, nm in plan.partition_spec
            ]
        order = self._effective_sort(plan)
        added = write_sized_parquet(
            df,
            out_dir,
            wcfg,
            output_parallelism=g.output_parallelism,
            sort_order=order,
            partition_spec=spec_fields,
            input_bytes=g.input_size,
            rows=rows,
        )
        if wcfg.enforce_size_band and not spec_fields:
            from iceberg_compaction_spark.sources.writer import (
                enforce_size_band,
            )

            added = enforce_size_band(
                self.spark,
                out_dir,
                added,
                wcfg,
                sort_order=order if not wcfg.zorder_by else None,
            )
        for t in added:
            # outputs are written under the table's CURRENT spec — this
            # rewrite IS the spec-evolution migration path for any
            # old-spec input files in the group
            t.spec_id = plan.spec_id
            if lineage:
                # ids live in the materialized columns now (the spec's
                # "null first-row-id" state; -1 is this engine's marker)
                t.first_row_id = -1
        # rewritten files stay in their group's partition (a group never
        # spans partitions in PARTITION scope); when a spec drove the
        # write, the fan-out writer already parsed the real partition
        # values from the hive paths — don't clobber them
        if g.partition is not None and not spec_fields:
            for t in added:
                t.partition = tuple(g.partition)
        res = RewriteResult(plan=plan, added_files=added)
        if self.config.enable_validate_compaction:
            out_df = read_listed_parquet(
                self.spark, [t.data_file_path for t in added]
            )
            v = validate_row_counts(rewrite_file_group(self.spark, g), out_df)
            res.input_rows, res.output_rows = v.input_rows, v.output_rows
        m = self.metrics
        m.plan_execution_duration.observe((time.monotonic() - t_start) * 1000)
        m.input_files_count.inc(g.input_file_count)
        m.output_files_count.inc(len(added))
        m.input_bytes_total.inc(g.input_size)
        m.output_bytes_total.inc(sum(t.file_size_in_bytes for t in added))
        return res

    def commit(self, manifest: Manifest, results: list[RewriteResult]) -> Manifest:
        """Commit against the CURRENT persisted snapshot, not the one the
        plans were built from — mirrors the reference reloading the table
        inside every commit attempt (compaction/mod.rs:988).  The whole
        load -> validate -> save sequence runs under the table's commit
        mutex (manifest_lock), so a concurrent writer can't slip a new
        snapshot in between the staleness checks and the rename — the
        local-backend analog of a catalog's compare-and-swap.  Plans
        whose rewritten files were taken by a concurrent commit fail the
        per-file existence check (T4) and retry/raise; non-overlapping
        commits succeed on the reloaded manifest."""
        from iceberg_compaction_spark.commit import CommitConflict
        from iceberg_compaction_spark.sources.manifest import (
            ManifestLockTimeout,
            manifest_lock,
        )

        def attempt() -> Manifest:
            path = manifest.manifest_path()
            try:
                with manifest_lock(path) as still_held:
                    current = (
                        Manifest.load(path) if os.path.exists(path) else manifest
                    )
                    new = self.commit_manager.rewrite_files(current, results)
                    if not still_held():
                        # a stale-lock breaker stole our lock mid-commit
                        # (manifest_lock's documented best-effort window):
                        # another writer may now be inside the critical
                        # section — abort retryably, never double-write
                        raise CommitConflict(
                            f"commit lock stolen mid-commit: {path}.lock"
                        )
                    new.save()
                    return new
            except ManifestLockTimeout as e:
                raise CommitConflict(str(e)) from e  # retryable

        t0 = time.monotonic()
        try:
            new = self.commit_manager.commit_with_retry(attempt)
        except Exception:
            self.metrics.commit_failed_counter.inc()
            raise
        self.metrics.commit_counter.inc()
        self.metrics.commit_duration.observe((time.monotonic() - t0) * 1000)
        return new

    # --- entry point 1: managed --------------------------------------------

    def execute_plans(
        self,
        manifest: Manifest,
        plans: list[CompactionPlan],
        out_root: str | None = None,
    ) -> tuple[list[RewriteResult], CompactionStats]:
        """Run the rewrites for pre-built plans (no commit): the shared
        execution phase of every entry point."""
        stats = CompactionStats()
        if not plans:
            return [], stats
        # Bounded-memory contract (core/src/config/mod.rs:464-488): size
        # input splits so concurrent tasks stay inside the budget after
        # decode inflation, failing fast (try_grow analog) when the
        # budget is infeasible — BEFORE any rewrite launches.  The conf
        # change is scoped to the rewrites (restored after), matching
        # the reference's per-execution memory pool rather than leaking
        # into unrelated queries on the shared session.
        mem = self.config.memory
        saved_conf: dict[str, str | None] = {}
        if mem.max_memory_bytes is not None:
            parallelism = self.spark.sparkContext.defaultParallelism
            for key, val in mem.spark_conf(parallelism).items():
                if key == "spark.local.dir":
                    continue  # session-fixed; builder-time only
                saved_conf[key] = self.spark.conf.get(key, None)
                self.spark.conf.set(key, val)
        out_root = out_root or os.path.join(
            manifest.table_root, f"compacted-{manifest.next_snapshot()}"
        )
        pool = ThreadPoolExecutor(self.config.max_concurrent_compaction_plans)
        try:
            futures = [
                pool.submit(self.rewrite, p, os.path.join(out_root, f"group-{i}"))
                for i, p in enumerate(plans)
            ]
            results = [f.result() for f in futures]
        finally:
            # Wait for (and cancel) outstanding rewrites BEFORE restoring
            # the memory-budget confs: shutdown(wait=False) would leave
            # surviving rewrite threads planning their scans with the
            # unbounded maxPartitionBytes — defeating the budget exactly
            # when memory pressure likely caused the first failure.
            pool.shutdown(wait=True, cancel_futures=True)
            for key, val in saved_conf.items():
                if val is None:
                    self.spark.conf.unset(key)
                else:
                    self.spark.conf.set(key, val)

        for r in results:
            stats.merge(
                CompactionStats(
                    input_files_count=r.plan.file_group.input_file_count,
                    output_files_count=len(r.added_files),
                    input_total_bytes=r.plan.file_group.input_size,
                    output_total_bytes=sum(
                        t.file_size_in_bytes for t in r.added_files
                    ),
                )
            )
        return results, stats

    def compact_plans(
        self,
        manifest: Manifest,
        plans: list[CompactionPlan],
        out_root: str | None = None,
    ) -> tuple[Manifest, CompactionStats]:
        """Execute + commit pre-built plans (shared by compact() and
        AutoCompaction)."""
        results, stats = self.execute_plans(manifest, plans, out_root)
        if not results:
            return manifest, stats
        new_manifest = self.commit(manifest, results)
        return new_manifest, stats

    def compact(
        self,
        manifest: Manifest,
        out_root: str | None = None,
        where=None,
    ) -> tuple[Manifest, CompactionStats]:
        return self.compact_plans(
            manifest, self.plan(manifest, where=where), out_root
        )

    def compact_catalog(
        self,
        catalog,
        table_name: str,
        out_root: str | None = None,
        to_branch: str | None = None,
        where=None,
        groups_per_commit: int | None = None,
    ) -> tuple[Manifest, CompactionStats]:
        """Entry point 1 against a CATALOG table: load -> plan -> rewrite
        -> CAS commit with retry (the reference's managed flow,
        compaction/mod.rs:259-303, which loads the table from its
        catalog and commits through it).  Each retry reloads the table
        so non-overlapping concurrent commits land; the catalog's
        exclusive version-file create supplies the atomicity.

        ``to_branch`` plans against and commits ONTO a named branch
        (the reference's ``to_branch``, compaction/mod.rs:97,1307-1336):
        the branch's snapshot is the planning base, the new snapshot
        lands with the branch ref moved atomically, and main stays
        untouched until a fast-forward publishes — write-audit-publish
        with maintenance running on the audit branch.

        ``groups_per_commit`` turns on partial progress (Iceberg's
        ``partial-progress.enabled``): commit after every that many
        file groups instead of once at the end.  At 100 TB a plan can
        hold hundreds of groups and run for hours; a single terminal
        failure (spot-instance loss, a poison file) must not discard
        every completed group's work.  On failure the exception
        propagates but all previously committed batches stay durable
        and visible, and a re-run plans only the remaining
        fragmentation.  Safe because file groups are disjoint and
        rewrite_files validates per-file liveness, not head equality —
        batch k commits cleanly on top of batch k-1's new head.  The
        trade-off: readers may observe intermediate snapshots (each
        fully consistent), and history grows by one snapshot per batch.
        """
        manifest = load_head(catalog, table_name, to_branch)
        branch = to_branch or "main"
        plans = self.plan(manifest, branch=branch, where=where)
        stats = CompactionStats()
        committed = manifest
        step = max(1, groups_per_commit or len(plans))
        base = out_root or os.path.join(
            manifest.table_root, f"compacted-{manifest.next_snapshot()}"
        )
        for i in range(0, len(plans), step):
            results, batch_stats = self.execute_plans(
                manifest,
                plans[i : i + step],
                os.path.join(base, f"batch-{i}") if groups_per_commit else base,
            )
            if not results:
                continue
            committed = self.commit_catalog(
                catalog,
                table_name,
                lambda current: self.commit_manager.rewrite_files(
                    current, results, branch=branch
                ),
                to_branch,
            )
            stats.merge(batch_stats)
        return committed, stats

    def commit_catalog(
        self,
        catalog,
        table_name: str,
        build,
        to_branch: str | None = None,
    ) -> Manifest:
        """:func:`~iceberg_compaction_spark.commit.commit_catalog` under
        this engine's retry policy, recording the commit metrics.
        ``build`` returning None means nothing is left to commit on that
        head (a race took the work away); the head is then returned and
        no commit counts."""
        built: list[bool] = []

        def counted(head: Manifest) -> Manifest | None:
            new = build(head)
            built.append(new is not None)
            return new

        t0 = time.monotonic()
        try:
            new = commit_catalog(
                catalog, table_name, counted, to_branch,
                self.commit_manager.retry,
            )
        except Exception:
            self.metrics.commit_failed_counter.inc()
            raise
        if built[-1]:
            self.metrics.commit_counter.inc()
            self.metrics.commit_duration.observe((time.monotonic() - t0) * 1000)
        return new


def plans_from_groups(
    manifest: Manifest, groups, branch: str = "main"
) -> list[CompactionPlan]:
    """The one plan builder of every entry point (``Compaction.plan``,
    :class:`AutoCompaction`, ``service.maintain``): each group gets the
    table's scan state (``Manifest.stamp_group``) and becomes a plan
    pinned to ``manifest`` — snapshot, sequence number, schema id and
    columns, current partition spec and declared sort order, i.e. the
    state the rewrite writes under and the commit validates against.
    ``branch`` is the ref the rewrite targets (the reference plans
    per-branch, ``core/src/compaction/mod.rs:97,1307-1336``)."""
    cols = tuple(manifest.properties.get("schema.columns") or ())
    spec = tuple(
        (f["source"], f.get("transform", "identity"), f.get("name"))
        for f in manifest.partition_spec
    )
    order = tuple(
        (f["source"], f.get("direction", "asc"), f.get("null-order"))
        for f in manifest.sort_order
    )
    return [
        CompactionPlan(
            file_group=manifest.stamp_group(g),
            snapshot_id=manifest.snapshot_id,
            branch=branch,
            starting_sequence_number=manifest.sequence_number,
            schema_id=manifest.schema_id,
            schema_columns=cols,
            partition_spec=spec,
            spec_id=manifest.default_spec_id,
            sort_order=order,
        )
        for g in groups
    ]


@dataclass
class AutoCompaction:
    """Entry point 3 — stats-driven managed workflow
    (core/src/compaction/auto.rs:421-468): ONE snapshot scan feeds stats,
    candidate selection (delete plan preferred over small-files, Full
    never auto-selected), then the same execute/commit path as
    :class:`Compaction`.  Returns the report alongside the result so
    callers can observe why (no) work was chosen."""

    spark: SparkSession
    config: "AutoCompactionConfig | None" = None
    sort_order: list[SortField] | None = None
    # engine-level knobs for the execute/commit phase (writer sizing,
    # validation, retry, plan concurrency); planning comes from `config`
    engine_config: CompactionConfig = field(default_factory=CompactionConfig)

    def plan(self, manifest: Manifest, branch: str = "main") -> "AutoPlanReport":
        """Select and group candidates from ONE scan of ``manifest``;
        the report's plans come out of :func:`plans_from_groups`, stamped
        exactly like manual plans."""
        from iceberg_compaction_spark.plans.auto import (
            AutoCompactionConfig,
            AutoCompactionPlanner,
        )

        report = AutoCompactionPlanner(
            self.config or AutoCompactionConfig()
        ).plan_report(scan_data_files(manifest))
        report.plans = plans_from_groups(
            manifest, [p.file_group for p in report.plans], branch
        )
        return report

    def compact(
        self, manifest: Manifest, out_root: str | None = None
    ) -> tuple[Manifest, CompactionStats, "AutoPlanReport"]:
        report = self.plan(manifest)
        inner = Compaction(self.spark, self.engine_config, self.sort_order)
        new_manifest, stats = inner.compact_plans(
            manifest, report.plans, out_root
        )
        return new_manifest, stats, report


@dataclass
class DeleteRewriteStats:
    input_delete_files: int = 0
    output_delete_files: int = 0
    positions_kept: int = 0
    dangling_positions_dropped: int = 0


def upgrade_format_version(catalog, table_name: str, to_version: int = 3):
    """Iceberg's format-version upgrade: a metadata-only commit flipping
    ``format_version`` (the spec allows upgrades, NEVER downgrades).

    Existing parquet position-delete trails remain readable on v3 (the
    planner still applies them); the next maintenance pass
    (:func:`rewrite_position_deletes`) folds them into puffin deletion
    vectors — the spec's one-DV-per-data-file representation — which is
    the complete v2 -> v3 migration story.  Rows are untouched, so the
    commit stamps the row-preserving ``replace`` operation (streaming
    readers skip it silently)."""

    def build(cur: Manifest) -> Manifest | None:
        if to_version < cur.format_version:
            raise ValueError(
                f"format version can never downgrade "
                f"(v{cur.format_version} -> v{to_version})"
            )
        if to_version not in (2, 3):
            raise ValueError(f"unsupported format version {to_version}")
        if to_version == cur.format_version:
            return None
        new = cur.successor("replace")
        new.format_version = to_version
        if to_version >= 3:
            # v3 row lineage: the upgrade commit assigns first_row_id to
            # every pre-existing data file (spec: existing rows get ids
            # on upgrade), so _row_id is readable immediately afterwards
            new.assign_row_ids()
        return new

    return commit_catalog(catalog, table_name, build)


def rewrite_position_deletes(
    spark: SparkSession,
    manifest: Manifest,
    out_dir: str | None = None,
) -> "tuple[Manifest, DeleteRewriteStats]":
    """Iceberg's ``rewrite_position_delete_files`` maintenance action:
    consolidate the table's parquet position-delete files into one
    sorted, deduplicated file and drop DANGLING positions (references to
    data files no longer live in the snapshot).

    Streaming upserts leave a trail of tiny per-commit delete files;
    every MOR read pays their open/footers even when the data files are
    already compact.  This action is the delete-side twin of data
    compaction: all delete content is read DISTRIBUTED
    (``spark.read.parquet`` over the delete set — never a driver list),
    anti-joined against the live path set (driver-scale manifest
    metadata, broadcast), deduplicated on (path, pos) and written back
    sorted by (path, pos) so reader-side application scans runs.

    Puffin deletion vectors are left untouched (they are already
    compact bitmaps); equality deletes are NOT merged — their semantics
    depend on exact sequence numbers, which is why Iceberg's action is
    position-only too.

    Returns ``(new_manifest, stats)``; the caller commits.  The new
    manifest is unchanged when there is nothing to consolidate.
    """
    from pyspark.sql import functions as F

    from iceberg_compaction_spark.plans.datamodel import POSITION_DELETE
    from iceberg_compaction_spark.sources.puffin import is_puffin_file
    from iceberg_compaction_spark.sources.scan import (
        HIDDEN_FILE_PATH,
        HIDDEN_POS,
        _normalize_path,
        normalize_path_str,
        read_parquet_files,
    )

    v3 = manifest.format_version >= 3
    pos_files = {}
    puffin_files = {}
    for t in manifest.data_files:
        for d in t.deletes:
            if d.content != POSITION_DELETE:
                continue
            (puffin_files if is_puffin_file(d.path) else pos_files)[
                d.path
            ] = d
    consolidated = dict(pos_files)
    if v3:
        # v3 maintenance consolidates parquet position deletes AND the
        # existing per-commit DV files into one new puffin (the spec
        # allows at most ONE DV per data file — merging is the point)
        consolidated.update(puffin_files)
    stats = DeleteRewriteStats(input_delete_files=len(consolidated))
    if len(consolidated) <= 1 and not (v3 and pos_files):
        # nothing to merge — except a v3 table still holding parquet
        # position deletes, which converts to the DV representation
        return Manifest.from_dict(manifest.to_dict()), stats

    live = {
        normalize_path_str(t.data_file_path): t.data_file_path
        for t in manifest.data_files
    }
    raw = None
    if pos_files:
        raw = read_parquet_files(spark, sorted(pos_files)).select(
            _normalize_path(F.col(HIDDEN_FILE_PATH)).alias(HIDDEN_FILE_PATH),
            F.col(HIDDEN_POS),
        )
    if v3 and puffin_files:
        from iceberg_compaction_spark.operators.mor import puffin_dv_frame

        dvf = puffin_dv_frame(spark, sorted(puffin_files)).select(
            F.col("__dv_path").alias(HIDDEN_FILE_PATH),
            F.col("__dv_pos").alias(HIDDEN_POS),
        )
        raw = dvf if raw is None else raw.unionByName(dvf)
    distinct_total = raw.dropDuplicates([HIDDEN_FILE_PATH, HIDDEN_POS]).count()
    live_df = F.broadcast(
        driver_frame(
            spark, [(p,) for p in sorted(live)], f"{HIDDEN_FILE_PATH} string"
        )
    )
    merged = raw.join(live_df, HIDDEN_FILE_PATH).dropDuplicates(
        [HIDDEN_FILE_PATH, HIDDEN_POS]
    )  # the join drops dangling references
    new, kept_positions = _replace_position_deletes(
        spark,
        manifest,
        merged,
        out_dir,
        "pos-deletes",
        max(d.sequence_number for d in consolidated.values()),
        lambda d: d.content == POSITION_DELETE and d.path in consolidated,
    )
    stats.output_delete_files = int(kept_positions > 0)
    stats.positions_kept = kept_positions
    # distinct positions that referenced no live data file
    stats.dangling_positions_dropped = distinct_total - kept_positions
    return new, stats


def _replace_position_deletes(
    spark, manifest, positions, out_dir, stem, sequence_number, detach
) -> "tuple[Manifest, int]":
    """Write ``positions`` (``(path, pos)`` rows) as ONE position-delete
    file under ``out_dir`` (default: the table root) — a puffin deletion
    vector on v3, a sorted parquet trail on v2 — and return a
    row-preserving copy of ``manifest`` in which the ``detach``-selected
    delete files are dropped and the new file attaches to every data
    file it references, plus the number of positions written."""
    from iceberg_compaction_spark.plans.datamodel import (
        POSITION_DELETE,
        DeleteFile,
    )
    from iceberg_compaction_spark.sources.fileio import fileio_for
    from iceberg_compaction_spark.sources.ingest import (
        _write_position_artifact,
    )
    from iceberg_compaction_spark.sources.scan import normalize_path_str

    ext = ".puffin" if manifest.format_version >= 3 else ".parquet"
    path = os.path.join(
        out_dir or manifest.table_root, f"{stem}-{uuid.uuid4().hex[:12]}{ext}"
    )
    refs, n = _write_position_artifact(spark, manifest, positions, path)
    written = (
        DeleteFile(
            path=path,
            content=POSITION_DELETE,
            file_size_in_bytes=fileio_for(path).size(path),
            record_count=n,
            sequence_number=sequence_number,
        )
        if n
        else None  # nothing written: refs is empty too
    )
    new = Manifest.from_dict(manifest.to_dict())
    new.operation = "replace"  # live rows unchanged: streams skip it
    for t in new.data_files:
        t.deletes = [d for d in t.deletes if not detach(d)]
        if normalize_path_str(t.data_file_path) in refs:
            t.deletes.append(written)
    return new, n


@dataclass
class EqConvertStats:
    input_equality_files: int = 0
    output_position_files: int = 0
    positions_written: int = 0


def convert_equality_deletes(
    spark: SparkSession,
    manifest: Manifest,
    out_dir: str | None = None,
) -> "tuple[Manifest, EqConvertStats]":
    """Convert equality deletes to position deletes — the maintenance
    step between streaming ingestion and full compaction (Flink's
    Iceberg sink does this inline; the reference exists because nobody
    did it for RisingWave's sink).

    An equality delete makes EVERY subsequent read pay a key anti-join
    against the full data side; a position delete is a per-file row mask
    applied in the scan.  This action pays the join ONCE: scan the data
    files with hidden (path, pos) columns, inner-join the (broadcast)
    delete keys under the strictly-lower-sequence rule, and write the
    matched positions as one sorted position-delete parquet (a puffin
    deletion vector on v3; run :func:`rewrite_position_deletes`
    afterwards to fold it into pre-existing DVs).  The new snapshot
    carries only position deletes for the converted content — same
    live rows (pinned in tests), cheaper every read after.

    Scale shape: one distributed scan of the affected data files; the
    delete-key side broadcasts (delete files are small next to data —
    when they are not, run full compaction instead).  Output positions
    never touch the driver: the matched (path, pos) frame is written
    directly by executors.

    Groups equality deletes by their exact (keys, sequence) semantics:
    each distinct sequence number converts against the data files it
    strictly postdates, so mixed-sequence histories stay correct.
    """
    from pyspark.sql import functions as F

    from iceberg_compaction_spark.plans.datamodel import EQUALITY_DELETE
    from iceberg_compaction_spark.sources.scan import (
        HIDDEN_FILE_PATH,
        HIDDEN_POS,
        HIDDEN_SEQ,
        read_data_files,
    )

    eq_files = {
        d.path: d
        for t in manifest.data_files
        for d in t.deletes
        if d.content == EQUALITY_DELETE
    }
    stats = EqConvertStats(input_equality_files=len(eq_files))
    if not eq_files:
        return Manifest.from_dict(manifest.to_dict()), stats

    seq_by_path = {
        t.data_file_path: t.sequence_number for t in manifest.data_files
    }
    data = read_data_files(
        spark,
        [t.data_file_path for t in manifest.data_files],
        need_seq_num=True,
        need_file_path_and_pos=True,
        seq_by_path=seq_by_path,
    )

    # One join per DISTINCT key set, not per delete file: a CDC history
    # carries thousands of per-commit delete files with the same keys,
    # and a per-file loop would grow the plan (and the number of
    # broadcasts) linearly.  Files in a group are read as one multi-path
    # scan; each row's effective sequence is its baked per-row value
    # (ingest.upsert writes one) with the file's manifest-level sequence
    # as fallback, delivered via a path->seq literal map on the scan's
    # _metadata column — the same planner-metadata device the data scan
    # uses for seq_by_path.
    from iceberg_compaction_spark.sources.scan import (
        _normalize_path,
        normalize_path_str,
    )

    by_keys: dict[tuple, list] = {}
    for d in eq_files.values():
        by_keys.setdefault(tuple(d.equality_ids), []).append(d)

    matched = None
    for keys_t, group in sorted(by_keys.items()):
        keys = list(keys_t)
        raw = read_listed_parquet(
            spark, [d.path for d in group], mergeSchema="true"
        )
        seq_map = F.create_map(
            *[
                x
                for d in group
                for x in (
                    F.lit(normalize_path_str(d.path)),
                    F.lit(int(d.sequence_number)),
                )
            ]
        )
        file_seq = seq_map[_normalize_path(F.col("_metadata.file_path"))]
        seq_col = (
            F.coalesce(F.col(HIDDEN_SEQ), file_seq)
            if HIDDEN_SEQ in raw.columns
            else file_seq
        )
        del_df = raw.select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            seq_col.alias("__dseq"),
        ).dropDuplicates()
        cond = F.lit(True)
        for k in keys:
            cond = cond & (F.col(k) == F.col(f"__k_{k}"))
        cond = cond & (F.col(HIDDEN_SEQ) < F.col("__dseq"))
        hit = (
            data.join(F.broadcast(del_df), on=cond, how="left_semi")
            .select(F.col(HIDDEN_FILE_PATH), F.col(HIDDEN_POS))
        )
        matched = hit if matched is None else matched.unionByName(hit)

    new, n = _replace_position_deletes(
        spark,
        manifest,
        matched.dropDuplicates([HIDDEN_FILE_PATH, HIDDEN_POS]),
        out_dir,
        "eq-convert",
        max(d.sequence_number for d in eq_files.values()),
        lambda d: d.content == EQUALITY_DELETE,
    )
    stats.output_position_files = int(n > 0)
    stats.positions_written = n
    return new, stats
