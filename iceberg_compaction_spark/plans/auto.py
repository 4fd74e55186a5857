"""Auto-compaction planner (L12).

Behavioral re-implementation of `AutoCompactionPlanner`
(core/src/compaction/auto.rs:102-322; candidate selection
core/src/config/mod.rs:596-659; contract
docs/compaction-strategy-contract.md:54-97):

- ONE scan of the snapshot feeds both stats and grouping (no double IO);
- candidates: FilesWithDeletes if delete-heavy file count crosses its
  threshold, SmallFiles if small-file count crosses its threshold;
  Full is never auto-selected;
- decision order is fixed: a non-empty delete plan wins, else small
  files, else an empty report;
- plans are capped at ``max_auto_plans_per_run`` (reason=BUDGET_CAPPED);
- the report carries rewrite_ratio and a reason enum.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field

from iceberg_compaction_spark.config import (
    DEFAULT_MIN_DELETE_FILE_COUNT,
    DEFAULT_SMALL_FILE_THRESHOLD,
    CompactionPlanningConfig,
    CompactionType,
)
from iceberg_compaction_spark.plans.datamodel import (
    CompactionPlan,
    FileScanTask,
    SnapshotStats,
)
from iceberg_compaction_spark.plans.strategy import PlanStrategy

DEFAULT_MIN_SMALL_FILES_COUNT = 5  # config/mod.rs:47
DEFAULT_MIN_DELETE_HEAVY_FILES_COUNT = 1  # DEFAULT_MIN_FILES_WITH_DELETES_COUNT


class AutoPlanReason(enum.Enum):
    RECOMMENDED = "recommended"
    NO_SNAPSHOT = "no_snapshot"
    NO_CANDIDATE = "no_candidate"
    NO_PLANS_PRODUCED = "no_plans_produced"
    BUDGET_CAPPED = "budget_capped"


@dataclass
class AutoCompactionConfig:
    small_file_threshold_bytes: int = DEFAULT_SMALL_FILE_THRESHOLD
    min_delete_file_count_threshold: int = DEFAULT_MIN_DELETE_FILE_COUNT
    min_small_files_count: int = DEFAULT_MIN_SMALL_FILES_COUNT
    min_delete_heavy_files_count: int = DEFAULT_MIN_DELETE_HEAVY_FILES_COUNT
    max_auto_plans_per_run: int | None = None  # None == unbounded
    base_planning: CompactionPlanningConfig = field(
        default_factory=CompactionPlanningConfig
    )

    def _planning(self, ctype: CompactionType) -> CompactionPlanningConfig:
        from dataclasses import replace

        return replace(
            self.base_planning,
            compaction_type=ctype,
            small_file_threshold_bytes=self.small_file_threshold_bytes,
            min_delete_file_count=self.min_delete_file_count_threshold,
        )

    def files_with_deletes_candidate(
        self, stats: SnapshotStats
    ) -> CompactionPlanningConfig | None:
        if stats.total_data_files <= 1:
            return None
        if (
            self.min_delete_file_count_threshold == 0
            or self.min_delete_heavy_files_count == 0
        ):
            return None
        if stats.delete_heavy_files_count >= self.min_delete_heavy_files_count:
            return self._planning(CompactionType.FILES_WITH_DELETES)
        return None

    def small_files_candidate(
        self, stats: SnapshotStats
    ) -> CompactionPlanningConfig | None:
        if stats.total_data_files <= 1:
            return None
        if self.min_small_files_count == 0:
            return None
        if stats.small_files_count >= self.min_small_files_count:
            return self._planning(CompactionType.SMALL_FILES)
        return None


@dataclass
class AutoPlanReport:
    plans: list[CompactionPlan] = field(default_factory=list)
    selected_strategy: CompactionType | None = None
    planned_input_bytes: int = 0
    planned_input_files: int = 0
    rewrite_ratio: float = 0.0
    reason: AutoPlanReason = AutoPlanReason.NO_PLANS_PRODUCED

    @staticmethod
    def empty(reason: AutoPlanReason) -> "AutoPlanReport":
        return AutoPlanReport(reason=reason)


class AutoCompactionPlanner:
    def __init__(self, config: AutoCompactionConfig | None = None) -> None:
        self.config = config or AutoCompactionConfig()

    def plan_report(self, tasks: list[FileScanTask] | None) -> AutoPlanReport:
        """Single-pass: stats + candidate selection + grouping.

        ``tasks=None`` models a branch with no snapshot.
        """
        if tasks is None:
            return AutoPlanReport.empty(AutoPlanReason.NO_SNAPSHOT)

        cfg = self.config
        total_data_bytes = sum(t.length for t in tasks)
        stats = SnapshotStats.collect(
            tasks,
            cfg.small_file_threshold_bytes,
            max(1, cfg.min_delete_file_count_threshold),
        )

        delete_cand = cfg.files_with_deletes_candidate(stats)
        small_cand = cfg.small_files_candidate(stats)
        if delete_cand is None and small_cand is None:
            return AutoPlanReport.empty(AutoPlanReason.NO_CANDIDATE)

        def build(pcfg: CompactionPlanningConfig) -> AutoPlanReport:
            groups = PlanStrategy.from_config(pcfg).run(list(tasks))
            plans = [CompactionPlan(file_group=g) for g in groups if g.data_files]
            return self._report_from_plans(
                pcfg.compaction_type, plans, total_data_bytes, AutoPlanReason.RECOMMENDED
            )

        # fixed preference: delete plan wins when it produces plans
        if delete_cand is not None:
            report = build(delete_cand)
            if report.plans:
                return self._cap(report, total_data_bytes)
        if small_cand is not None:
            report = build(small_cand)
            if report.plans:
                return self._cap(report, total_data_bytes)
        return AutoPlanReport.empty(AutoPlanReason.NO_PLANS_PRODUCED)

    def _cap(self, report: AutoPlanReport, total_data_bytes: int) -> AutoPlanReport:
        cap = self.config.max_auto_plans_per_run
        if cap is None or len(report.plans) <= cap:
            return report
        return self._report_from_plans(
            report.selected_strategy,
            report.plans[:cap],
            total_data_bytes,
            AutoPlanReason.BUDGET_CAPPED,
        )

    @staticmethod
    def _report_from_plans(
        strategy: CompactionType | None,
        plans: list[CompactionPlan],
        total_data_bytes: int,
        reason: AutoPlanReason,
    ) -> AutoPlanReport:
        planned_data = sum(p.file_group.total_data_size for p in plans)
        return AutoPlanReport(
            plans=plans,
            selected_strategy=strategy,
            planned_input_bytes=sum(p.file_group.input_size for p in plans),
            planned_input_files=sum(p.file_group.input_file_count for p in plans),
            rewrite_ratio=(planned_data / total_data_bytes) if total_data_bytes else 0.0,
            reason=reason,
        )
