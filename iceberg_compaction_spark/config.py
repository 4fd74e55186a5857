"""Configuration for the compaction engine.

Semantics and default values match the reference implementation
(nimtable/iceberg-compaction, `core/src/config/mod.rs`), re-expressed as
Python dataclasses.  Citations are file:line into /root/reference.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field

# --- defaults (core/src/config/mod.rs:29-55) -------------------------------
DEFAULT_TARGET_FILE_SIZE = 1024 * 1024 * 1024  # 1 GiB (mod.rs:29)
DEFAULT_MAX_RECORD_BATCH_ROWS = 1024  # (mod.rs:31)
# the one parquet codec of every data, delete and statistics file this
# engine writes (writer props, mod.rs:295-303)
DEFAULT_COMPRESSION = "zstd"
DEFAULT_SMALL_FILE_THRESHOLD = 32 * 1024 * 1024  # 32 MiB (mod.rs:39)
DEFAULT_MAX_CONCURRENT_COMPACTION_PLANS = 4  # (mod.rs:42)
DEFAULT_MIN_DELETE_FILE_COUNT = 128  # (mod.rs:43)
DEFAULT_TARGET_GROUP_SIZE = 100 * 1024 * 1024 * 1024  # 100 GiB (mod.rs:52)

# Iceberg-ported output sizing ratios (strategy.rs:335-343) live as
# integer math in plans/parallelism.py: min = target*3//4, max = target*9//5.


class CompactionType(enum.Enum):
    """Which files a run targets (core/src/config/mod.rs:127-292)."""

    FULL = "full"
    SMALL_FILES = "small_files"
    FILES_WITH_DELETES = "files_with_deletes"


class FileGroupScope(enum.Enum):
    """Grouping scope (core/src/config/mod.rs:101-108).

    PARTITION (default): group files within each Iceberg partition.
    TABLE: group across all selected files.
    """

    PARTITION = "partition"
    TABLE = "table"


@dataclass
class WriterConfig:
    """Output-writer knobs (S10/S11; core/src/config/mod.rs:29-35,295-303)."""

    target_file_size_bytes: int = DEFAULT_TARGET_FILE_SIZE
    # Spark sizes files by rows, not bytes: estimated average row width is
    # used to translate target bytes -> maxRecordsPerFile (SURVEY.md §7.3).
    estimated_row_size_bytes: int | None = None
    # Z-order clustering (extension beyond the reference's identity-only
    # sort orders): output files are range-partitioned and sorted by the
    # Morton code of these columns, tightening per-file min-max stats on
    # EVERY listed dimension.  Mutually exclusive with a sort order.
    zorder_by: tuple[str, ...] | None = None
    zorder_bits: int = 12
    # Enforce the reference's output-size band (0.75x-1.8x of target,
    # core/src/file_selection/strategy.rs:335-343): pass 1 sizes files
    # from INPUT bytes, and consolidated files compress better than
    # their fragmented inputs; when pass-1 output lands out of band,
    # re-cut it once into round(output bytes / target) files of equal
    # row counts — the Spark-first stand-in for the reference's
    # byte-exact rolling writer.  Off by default: the re-cut re-reads
    # and re-writes only the output bytes, but that is still a second
    # write of the group.
    enforce_size_band: bool = False


@dataclass
class CompactionPlanningConfig:
    """Planning-pipeline knobs (L1-L12).

    Mirrors per-strategy config in core/src/config/mod.rs:127-292.
    """

    compaction_type: CompactionType = CompactionType.SMALL_FILES
    group_scope: FileGroupScope = FileGroupScope.PARTITION

    # L1 SizeFilter (strategy.rs:505-544)
    small_file_threshold_bytes: int = DEFAULT_SMALL_FILE_THRESHOLD
    # L2 DeleteFileCountFilter (strategy.rs:549-583)
    min_delete_file_count: int = DEFAULT_MIN_DELETE_FILE_COUNT
    # L6 BinPack (packer.rs:31-132); 0 => single bin
    target_group_size_bytes: int = DEFAULT_TARGET_GROUP_SIZE
    # L7/L8 group filters (strategy.rs:588-633); None => disabled
    min_group_size_bytes: int | None = None
    min_group_file_count: int | None = None

    # L10 parallelism (strategy.rs:180-343; caps mod.rs:141-147)
    target_file_size_bytes: int = DEFAULT_TARGET_FILE_SIZE
    max_output_parallelism: int = 32  # reference: CPUs


class MemoryBudgetExceeded(RuntimeError):
    """Fail-fast analog of DataFusion's ``ResourcesExhausted``: the
    configured ``max_memory_bytes`` cannot accommodate the requested
    parallelism even at the minimum useful input-split size."""


# Decoded-Arrow inflation of ZSTD parquet: the reference documents 5-20x
# (core/src/config/mod.rs:471-473); 8x is the planning midpoint.
DEFAULT_DECODE_INFLATION = 8
# A sort holds decoded input plus sort buffers (~2x; mod.rs:472-474).
DEFAULT_SORT_MULTIPLIER = 2
# Below this per-task split size, scheduling overhead dominates and the
# budget is effectively infeasible — fail fast instead of thrashing.
MIN_USEFUL_PARTITION_BYTES = 4 * 1024 * 1024


@dataclass
class ExecutionMemoryConfig:
    """Bounded-memory execution (core/src/config/mod.rs:464-488).

    The reference maps ``max_memory_bytes`` to a DataFusion
    ``FairSpillPool`` + ``DiskManager`` (spill instead of OOM) and
    charges every decoded batch to the pool with fail-fast ``try_grow``
    (iceberg_file_task_scan.rs:55-69, 378-386).  Spark's unified memory
    manager already gives sort/agg/join spill-to-disk (O2); what the
    budget must control Spark-side is the DECODED INPUT footprint per
    task, and the lever for that is ``spark.sql.files.maxPartitionBytes``
    — on-disk split size × decode inflation × sort multiplier is the
    peak per-task memory a compaction rewrite holds.

    ``max_memory_bytes=None`` (default) preserves unbounded behavior,
    exactly like the reference's ``Option::None``.
    """

    max_memory_bytes: int | None = None
    spill_dir: str | None = None
    decode_inflation: int = DEFAULT_DECODE_INFLATION
    sort_multiplier: int = DEFAULT_SORT_MULTIPLIER

    def max_partition_bytes(self, parallelism: int) -> int | None:
        """On-disk split ceiling so ``parallelism`` concurrent tasks stay
        inside the budget after decode + sort amplification."""
        if self.max_memory_bytes is None:
            return None
        per_task = self.max_memory_bytes // max(parallelism, 1)
        return per_task // (self.decode_inflation * self.sort_multiplier)

    def validate(self, parallelism: int) -> None:
        """Fail fast (the ``try_grow`` contract) when the budget cannot
        fit the parallelism at any useful split size."""
        mpb = self.max_partition_bytes(parallelism)
        if mpb is not None and mpb < MIN_USEFUL_PARTITION_BYTES:
            raise MemoryBudgetExceeded(
                f"max_memory_bytes={self.max_memory_bytes} supports only "
                f"{mpb} on-disk bytes per task at parallelism={parallelism} "
                f"(x{self.decode_inflation} decode, x{self.sort_multiplier} "
                f"sort); minimum useful is {MIN_USEFUL_PARTITION_BYTES}. "
                "Lower parallelism or raise the budget."
            )

    def spark_conf(self, parallelism: int) -> dict[str, str]:
        """Spark conf entries realizing the budget.

        ``spark.sql.files.maxPartitionBytes`` is runtime-settable and is
        applied by :class:`~iceberg_compaction_spark.compaction.Compaction`
        automatically; ``spark.local.dir`` (the spill directory) is
        session-fixed — pass it to the ``SparkSession`` builder.
        """
        self.validate(parallelism)
        conf: dict[str, str] = {}
        mpb = self.max_partition_bytes(parallelism)
        if mpb is not None:
            conf["spark.sql.files.maxPartitionBytes"] = str(mpb)
        if self.spill_dir is not None:
            conf["spark.local.dir"] = self.spill_dir
        return conf


@dataclass
class CommitRetryConfig:
    """Optimistic-commit retry (core/src/compaction/mod.rs:765-782)."""

    max_retries: int = 3
    initial_backoff_s: float = 1.0
    max_backoff_s: float = 10.0


@dataclass
class CompactionConfig:
    """Top-level engine config (core/src/config/mod.rs)."""

    planning: CompactionPlanningConfig = field(default_factory=CompactionPlanningConfig)
    writer: WriterConfig = field(default_factory=WriterConfig)
    retry: CommitRetryConfig = field(default_factory=CommitRetryConfig)
    memory: ExecutionMemoryConfig = field(default_factory=ExecutionMemoryConfig)
    max_concurrent_compaction_plans: int = DEFAULT_MAX_CONCURRENT_COMPACTION_PLANS
    enable_validate_compaction: bool = False

    @staticmethod
    def small_files(**kw) -> "CompactionConfig":
        return CompactionConfig(
            planning=CompactionPlanningConfig(
                compaction_type=CompactionType.SMALL_FILES, **kw
            )
        )

    @staticmethod
    def full(**kw) -> "CompactionConfig":
        return CompactionConfig(
            planning=CompactionPlanningConfig(compaction_type=CompactionType.FULL, **kw)
        )

    @staticmethod
    def files_with_deletes(**kw) -> "CompactionConfig":
        return CompactionConfig(
            planning=CompactionPlanningConfig(
                compaction_type=CompactionType.FILES_WITH_DELETES, **kw
            )
        )
