"""File-selection strategy pipeline (L1-L11).

Behavioral re-implementation of the reference's planning pipeline
(core/src/file_selection/strategy.rs:17-26):

    file filters -> grouping (within a scope) -> group filters
                 -> per-group parallelism

All of this is driver-side metadata manipulation over `FileScanTask`
lists; the actual data never moves until a `FileGroup` is handed to the
Spark rewrite.  At 100 TB the manifest is ~1e5 entries — Python is fine
and keeps planning instantaneous and deterministic.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from iceberg_compaction_spark.config import (
    CompactionPlanningConfig,
    CompactionType,
    FileGroupScope,
)
from iceberg_compaction_spark.plans.datamodel import FileGroup, FileScanTask
from iceberg_compaction_spark.plans.packer import ListPacker
from iceberg_compaction_spark.plans.parallelism import calculate_parallelism

# --- L1/L2: file filters (strategy.rs:505-583) ------------------------------

FileFilter = Callable[[list[FileScanTask]], list[FileScanTask]]


@dataclass(frozen=True)
class SizeFilter:
    """Keep files with min <= length < max (L1; strategy.rs:505-544)."""

    min_bytes: int | None = None
    max_bytes: int | None = None

    def __call__(self, tasks: list[FileScanTask]) -> list[FileScanTask]:
        out = []
        for t in tasks:
            if self.min_bytes is not None and t.length < self.min_bytes:
                continue
            if self.max_bytes is not None and t.length >= self.max_bytes:
                continue
            out.append(t)
        return out


@dataclass(frozen=True)
class DeleteFileCountFilter:
    """Keep files with >= min_count attached deletes (L2; strategy.rs:549-583)."""

    min_count: int

    def __call__(self, tasks: list[FileScanTask]) -> list[FileScanTask]:
        return [t for t in tasks if len(t.deletes) >= self.min_count]


# --- L3/L4: partition grouping + scope (strategy.rs:943-971; config 101-108) -


def group_files_by_partition(
    tasks: list[FileScanTask],
) -> dict[tuple[Any, ...], list[FileScanTask]]:
    """Hash-group tasks by (spec_id, partition value) (L3).  The spec id
    is part of the key because partition tuples are only comparable
    WITHIN one spec: after partition-spec evolution, a spec-0 ``(5,)``
    (say, identity(id)) and a spec-1 ``(5,)`` (bucket(id, 8)) mean
    different row sets and must not co-group under PARTITION scope.
    Unpartitioned tables all share one key, yielding one scope."""
    out: dict[tuple[Any, ...], list[FileScanTask]] = {}
    for t in tasks:
        out.setdefault((t.spec_id, *tuple(t.partition)), []).append(t)
    return out


# --- L5/L6: grouping strategies (strategy.rs:436-487) ------------------------

GroupingStrategy = Callable[[list[FileScanTask]], list[list[FileScanTask]]]


def single_grouping(tasks: list[FileScanTask]) -> list[list[FileScanTask]]:
    """All files into one group (L5)."""
    return [list(tasks)] if tasks else []


@dataclass(frozen=True)
class BinPackGrouping:
    """FFD bin-packing by file_size_in_bytes into bins of target_group_size
    with lookback=1 (L6; strategy.rs:461-487 + packer.rs)."""

    target_group_size: int
    lookback: int = 1

    def __call__(self, tasks: list[FileScanTask]) -> list[list[FileScanTask]]:
        packer = ListPacker(self.target_group_size, self.lookback)
        return packer.pack_decreasing(tasks, lambda t: t.file_size_in_bytes)


# --- L7/L8: group filters (strategy.rs:588-633) ------------------------------

GroupFilter = Callable[[list[FileGroup]], list[FileGroup]]


@dataclass(frozen=True)
class MinGroupSize:
    min_bytes: int

    def __call__(self, groups: list[FileGroup]) -> list[FileGroup]:
        return [g for g in groups if g.total_data_size >= self.min_bytes]


@dataclass(frozen=True)
class MinGroupFileCount:
    min_count: int

    def __call__(self, groups: list[FileGroup]) -> list[FileGroup]:
        return [g for g in groups if g.data_file_count >= self.min_count]


# --- L11: composed pipeline (strategy.rs:678-902) ----------------------------


@dataclass
class PlanStrategy:
    """Composable planning pipeline: run() produces sized FileGroups."""

    file_filters: list[FileFilter] = field(default_factory=list)
    grouping: GroupingStrategy = single_grouping
    group_filters: list[GroupFilter] = field(default_factory=list)
    scope: FileGroupScope = FileGroupScope.PARTITION
    config: CompactionPlanningConfig = field(default_factory=CompactionPlanningConfig)

    def run(self, tasks: list[FileScanTask]) -> list[FileGroup]:
        for f in self.file_filters:
            tasks = f(tasks)
        if not tasks:
            return []

        groups: list[FileGroup] = []
        if self.scope == FileGroupScope.PARTITION:
            for key, part_tasks in group_files_by_partition(tasks).items():
                for chunk in self.grouping(part_tasks):
                    g = FileGroup.from_tasks(chunk)
                    # key is (spec_id, *partition); the group's partition
                    # identity is the tuple without the spec prefix
                    g.partition = key[1:]
                    groups.append(g)
        else:
            groups = [FileGroup.from_tasks(c) for c in self.grouping(tasks)]

        for gf in self.group_filters:
            groups = gf(groups)

        for g in groups:
            g.output_parallelism = calculate_parallelism(g, self.config)
        return groups

    # --- factories (strategy.rs:678-902 / config/mod.rs:127-292) -----------

    @staticmethod
    def from_small_files(config: CompactionPlanningConfig) -> "PlanStrategy":
        """SmallFiles: size-filter below threshold, binpack, group filters."""
        return PlanStrategy(
            file_filters=[SizeFilter(max_bytes=config.small_file_threshold_bytes)],
            grouping=BinPackGrouping(config.target_group_size_bytes),
            group_filters=_group_filters(config),
            scope=config.group_scope,
            config=config,
        )

    @staticmethod
    def from_full(config: CompactionPlanningConfig) -> "PlanStrategy":
        """Full: never filters — every file is rewritten (strategy.rs:781-800)."""
        return PlanStrategy(
            file_filters=[],
            grouping=single_grouping,
            group_filters=[],
            scope=config.group_scope,
            config=config,
        )

    @staticmethod
    def from_files_with_deletes(config: CompactionPlanningConfig) -> "PlanStrategy":
        """FilesWithDeletes: delete-count filter, binpack, group filters."""
        return PlanStrategy(
            file_filters=[DeleteFileCountFilter(config.min_delete_file_count)],
            grouping=BinPackGrouping(config.target_group_size_bytes),
            group_filters=_group_filters(config),
            scope=config.group_scope,
            config=config,
        )

    @staticmethod
    def from_config(config: CompactionPlanningConfig) -> "PlanStrategy":
        if config.compaction_type == CompactionType.FULL:
            return PlanStrategy.from_full(config)
        if config.compaction_type == CompactionType.FILES_WITH_DELETES:
            return PlanStrategy.from_files_with_deletes(config)
        return PlanStrategy.from_small_files(config)


def _group_filters(config: CompactionPlanningConfig) -> list[GroupFilter]:
    out: list[GroupFilter] = []
    if config.min_group_size_bytes is not None:
        out.append(MinGroupSize(config.min_group_size_bytes))
    if config.min_group_file_count is not None:
        out.append(MinGroupFileCount(config.min_group_file_count))
    return out
