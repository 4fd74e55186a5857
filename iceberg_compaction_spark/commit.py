"""Optimistic commit layer (T1-T4).

The reference commits a compaction as one atomic Iceberg ``RewriteFiles``
transaction: add new files, remove rewritten ones, pin new files to the
starting snapshot's sequence number so concurrent newer deletes still
apply, retry on conflicts with exponential backoff
(core/src/compaction/mod.rs:950-1061, retry config :765-782).

Every catalog writer commits through :func:`commit_catalog`, the one
commit path: load the target ref's head (:func:`load_head`), ``build``
the successor manifest from it, compare-and-swap it onto that ref with
the catalog's ``commit_table``, and on :class:`CommitConflict` retry the
whole attempt against a freshly loaded head.  Compaction, maintenance,
the DML statements, the DataSource sinks, statistics, rollback,
cherry-pick and the format upgrade differ only in their ``build``.  The
two remaining ``commit_with_retry`` users are below the catalog tier:
``Compaction.commit`` (the local manifest file under ``manifest_lock``)
and ``sources/manifest_rewrite.py`` (the Avro manifest-list tier).
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, field
from typing import Callable

from iceberg_compaction_spark.config import CommitRetryConfig
from iceberg_compaction_spark.plans.datamodel import (
    EQUALITY_DELETE,
    CompactionPlan,
    DeleteFile,
    FileScanTask,
)
from iceberg_compaction_spark.sources.manifest import Manifest


#: Iceberg snapshot-summary keys auto-computed during snapshot
#: production (compaction/mod.rs:1187-1211).  They must NOT be copied
#: from the previous snapshot — a new snapshot recomputes them — so only
#: keys outside this list (and not ``partitions.``-prefixed) are custom
#: metadata that carries forward.
KNOWN_SNAPSHOT_SUMMARY_KEYS = frozenset(
    {
        "added-data-files",
        "added-delete-files",
        "added-equality-delete-files",
        "added-position-delete-files",
        "added-files-size",
        "added-records",
        "added-equality-deletes",
        "added-position-deletes",
        "deleted-data-files",
        "removed-delete-files",
        "removed-equality-delete-files",
        "removed-position-delete-files",
        "removed-files-size",
        "deleted-records",
        "removed-equality-deletes",
        "removed-position-deletes",
        "total-data-files",
        "total-delete-files",
        "total-files-size",
        "total-records",
        "total-equality-deletes",
        "total-position-deletes",
        "changed-partition-count",
    }
)


def custom_snapshot_properties(properties: dict) -> dict:
    """Extract the CUSTOM subset of a snapshot's summary properties —
    everything except auto-computed summary keys and per-partition
    rollups (compaction/mod.rs:1214-1224)."""
    return {
        k: v
        for k, v in properties.items()
        if k not in KNOWN_SNAPSHOT_SUMMARY_KEYS and not k.startswith("partitions.")
    }


class CommitConflict(RuntimeError):
    """Retryable commit failure (catalog conflict analog)."""


class InconsistentPlansError(ValueError):
    pass


class SchemaMismatchError(CommitConflict):
    """Table schema evolved between planning and commit.  Classified as
    retryable like the reference (it retries DataInvalid errors after
    reloading the table, compaction/mod.rs:1090-1100) — with a reload
    callback a planner can re-plan against the new schema."""


@dataclass
class RewriteResult:
    """Outcome of executing one CompactionPlan (executor output)."""

    plan: CompactionPlan
    added_files: list[FileScanTask]
    input_rows: int = 0
    output_rows: int = 0


def validate_consistency(
    results: list[RewriteResult], branch: str | None = None
) -> None:
    """T3: all plans in a commit must share branch + snapshot id
    (core/src/compaction/mod.rs:55-76); when the commit's TARGET branch
    is known, the plans must have been built for it (mod.rs:55-76 checks
    the task branch against the commit branch) — a plan built against
    main must never land on an audit branch or vice versa."""
    if not results:
        return
    branches = {r.plan.branch for r in results}
    snapshots = {r.plan.snapshot_id for r in results}
    if len(branches) != 1 or len(snapshots) != 1:
        raise InconsistentPlansError(
            f"inconsistent commit: branches={branches} snapshots={snapshots}"
        )
    if branch is not None and branches != {branch}:
        raise InconsistentPlansError(
            f"plans built for branch {branches} but commit targets "
            f"{branch!r}"
        )


@dataclass
class CommitManager:
    retry: CommitRetryConfig = field(default_factory=CommitRetryConfig)

    def rewrite_files(
        self,
        manifest: Manifest,
        results: list[RewriteResult],
        snapshot_properties: dict | None = None,
        branch: str | None = None,
    ) -> Manifest:
        """T1: swap rewritten files for added ones, atomically.

        New files are pinned to each plan's ``starting_sequence_number``
        so equality deletes committed concurrently (with higher sequence
        numbers) still apply to the rewritten rows.  ``branch``, when
        given, is the commit's target ref — T3 then also rejects plans
        built for a different branch.
        """
        validate_consistency(results, branch)
        # The starting snapshot must EXIST, but need not be current: the
        # reference only requires the table to still contain the starting
        # snapshot, the schema to match, and every rewritten file to still
        # be live (check_file_existence) — so non-overlapping concurrent
        # commits succeed after a reload (compaction/mod.rs:968-1000).
        # Requiring equality here would make the retry loop dead code: a
        # reload can never change the plans' pinned id.  The local JSON
        # backend keeps only the latest snapshot, so "exists" means the
        # pinned id is not in the future.
        if results and results[0].plan.snapshot_id > manifest.snapshot_id:
            raise CommitConflict(
                f"plans pinned to unknown snapshot {results[0].plan.snapshot_id}, "
                f"table is at {manifest.snapshot_id}"
            )
        if results and results[0].plan.schema_id != manifest.schema_id:
            # Re-plan-on-evolution: an ADDITIVE evolution (every column
            # the plan was built against still exists — add-column,
            # which in Iceberg never rewrites data files) lets the
            # commit adopt the current schema id: the rewritten
            # old-schema parquet stays valid, readers fill the new
            # column with nulls.  Anything else (drop/retype, or no
            # column metadata to judge with) stays a retryable
            # mismatch so the caller re-plans.
            plan_cols = results[0].plan.schema_columns
            cur_cols = manifest.properties.get("schema.columns")
            additive = (
                bool(plan_cols)
                and isinstance(cur_cols, (list, tuple))
                and set(plan_cols) <= set(cur_cols)
            )
            if not additive:
                raise SchemaMismatchError(
                    f"schema id mismatch: expected "
                    f"{results[0].plan.schema_id}, found "
                    f"{manifest.schema_id} (not provably additive)"
                )

        # T4: resolve each plan's input paths against the current listing
        by_path = manifest.by_path()
        # Equality deletes committed AFTER the plan was built (sequence
        # above the pin) must still apply to the rewritten rows — the
        # whole point of sequence pinning.  In this manifest model
        # deletes attach per data file, so the swap has to RE-ATTACH
        # every such newer delete to the added files; dropping them
        # would resurrect concurrently-deleted rows the moment the
        # compaction commit lands.  (Position deletes address (path,
        # pos) of the OLD files, which cease to exist — they never
        # transfer; the reference behaves identically because v2 pos
        # deletes are resolved against file paths,
        # compaction/mod.rs:968-1000.)
        current_eq_deletes: dict[str, DeleteFile] = {}
        for t in manifest.data_files:
            for d in t.deletes:
                if d.content == EQUALITY_DELETE:
                    current_eq_deletes[d.path] = d
        removed: set[str] = set()
        added: list[FileScanTask] = []
        for r in results:
            for t in r.plan.file_group.data_files:
                if t.data_file_path not in by_path:
                    raise CommitConflict(
                        f"rewritten file no longer in snapshot: {t.data_file_path}"
                    )
                removed.add(t.data_file_path)
            pin = r.plan.starting_sequence_number
            newer = [
                d
                for d in current_eq_deletes.values()
                if d.sequence_number > pin
            ]
            for f in r.added_files:
                f.sequence_number = pin
                f.deletes = list(f.deletes) + newer
                added.append(f)

        # the successor carries the table-level state a rewrite must
        # never lose (sort order, column-id and row-id high-water marks,
        # registered statistics files); row-preserving, so streaming
        # consumers skip it
        new = manifest.successor("replace")
        new.data_files = [
            t for t in new.data_files if t.data_file_path not in removed
        ] + added
        new.properties = {
            **custom_snapshot_properties(manifest.properties),
            **(snapshot_properties or {}),
        }
        return new

    def overwrite_files(
        self,
        manifest: Manifest,
        added_files: list[FileScanTask],
        rewritten_files: list[FileScanTask],
        pin_sequence_number: int | None = None,
        snapshot_properties: dict | None = None,
    ) -> Manifest:
        """T2: the ``OverwriteFiles``-action analog
        (core/src/compaction/mod.rs:1068-1177).

        Same swap shape as :meth:`rewrite_files` but caller-supplied
        added/rewritten lists with file-existence checking; sequence
        pinning is optional (``use_starting_sequence_number``): when
        ``pin_sequence_number`` is given, added files adopt it so newer
        concurrent deletes still apply.
        """
        by_path = manifest.by_path()
        removed: set[str] = set()
        for t in rewritten_files:
            if t.data_file_path not in by_path:  # check_file_existence
                raise CommitConflict(
                    f"overwritten file no longer in snapshot: {t.data_file_path}"
                )
            removed.add(t.data_file_path)
        # pinned mode = rewrite semantics: newer equality deletes must
        # follow the rows onto the added files (see rewrite_files)
        newer: list[DeleteFile] = []
        if pin_sequence_number is not None:
            seen: dict[str, DeleteFile] = {}
            for t in manifest.data_files:
                for d in t.deletes:
                    if (
                        d.content == EQUALITY_DELETE
                        and d.sequence_number > pin_sequence_number
                    ):
                        seen[d.path] = d
            newer = list(seen.values())
        added: list[FileScanTask] = []
        for f in added_files:
            if pin_sequence_number is not None:
                f.sequence_number = pin_sequence_number
                f.deletes = list(f.deletes) + newer
            added.append(f)

        new = manifest.successor("overwrite")
        # T2 keeps the table's data sequence number; added files carry
        # the pin when one is given, else their own
        new.sequence_number = manifest.sequence_number
        new.data_files = [
            t for t in new.data_files if t.data_file_path not in removed
        ] + added
        new.properties = {
            **custom_snapshot_properties(manifest.properties),
            **(snapshot_properties or {}),
        }
        return new

    def commit_with_retry(
        self, do_commit: Callable[[], Manifest], reload: Callable[[], None] | None = None
    ) -> Manifest:
        """Retry loop with exponential backoff on CommitConflict
        (3 tries, 1s -> 10s in the reference; tests shrink the backoff)."""
        backoff = self.retry.initial_backoff_s
        last: Exception | None = None
        for attempt in range(self.retry.max_retries + 1):
            try:
                return do_commit()
            except CommitConflict as e:  # retryable class only
                last = e
                if attempt == self.retry.max_retries:
                    break
                if reload is not None:
                    reload()
                time.sleep(min(backoff, self.retry.max_backoff_s) * random.uniform(0.8, 1.0))
                backoff = min(backoff * 2, self.retry.max_backoff_s)
        raise last  # type: ignore[misc]


def load_head(catalog, table: str, to_branch: str | None = None) -> Manifest:
    """The head of the ref a commit targets: the named branch's snapshot
    under ``to_branch`` (reference: branch-targeted commits,
    core/src/compaction/mod.rs:97,1307-1336), else the table head."""
    if to_branch:
        return catalog.load_table_ref(table, to_branch)
    return catalog.load_table(table)


def commit_catalog(
    catalog,
    table: str,
    build: Callable[[Manifest], Manifest | None],
    to_branch: str | None = None,
    retry: CommitRetryConfig | None = None,
) -> Manifest:
    """The one catalog commit: load the target ref's head (``to_branch``,
    default main), ``build`` the new manifest from it, and CAS-commit it
    onto that ref with ``commit_table``.  A :class:`CommitConflict`
    retries the whole attempt against a freshly loaded head, so any work
    that depends on the head (re-sequencing, re-scanning positions,
    replay checks) belongs in ``build``.

    ``build`` returning None means nothing is left to commit on that
    head; the head is then returned unchanged and no commit is made."""

    def attempt() -> Manifest:
        head = load_head(catalog, table, to_branch)
        new = build(head)
        if new is None:
            return head
        return catalog.commit_table(
            table, head.snapshot_id, new, to_branch=to_branch
        )

    return CommitManager(retry or CommitRetryConfig()).commit_with_retry(
        attempt
    )
