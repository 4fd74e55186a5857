"""Parallelism calculation (L10).

Behavioral re-implementation of the reference's Iceberg-ported sizing math
(core/src/file_selection/strategy.rs:180-343; defaults
core/src/config/mod.rs:141-147):

- expected output files from input size vs target file size, with
  remainder rules so a small tail is folded into the last file instead of
  producing a tiny file;
- a heuristic forcing a single output file when total data is smaller
  than one target file.

In the Spark engine the output parallelism is the number of files the
sized writer cuts a group into: one narrow task writes them when the
group fits in one input split, an exchange to that many writer tasks
otherwise (sources/writer.py `write_sized_parquet`).  The reference's
input parallelism has no counterpart: Spark's scan splits come from
`spark.sql.files.maxPartitionBytes`.  All integer math, matching the
reference (3/4 and 9/5 ratios instead of floats).
"""

from __future__ import annotations

from iceberg_compaction_spark.config import CompactionPlanningConfig
from iceberg_compaction_spark.plans.datamodel import FileGroup


def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


def default_min_file_size(target_file_size: int) -> int:
    """0.75 x target as integer math (3/4)."""
    return target_file_size * 3 // 4


def default_max_file_size(target_file_size: int) -> int:
    """1.8 x target as integer math (9/5)."""
    return target_file_size * 9 // 5


def write_max_file_size(target_file_size: int, max_file_size: int) -> int:
    """target + (max - target)/2 — avoids tiny remainder files."""
    diff = max(0, max_file_size - target_file_size)
    return target_file_size + diff // 2


def expected_output_files(
    input_size: int,
    target_file_size: int,
    min_file_size: int | None = None,
    max_file_size: int | None = None,
) -> int:
    """Iceberg's `expectedOutputFiles` remainder logic."""
    if target_file_size == 0 or input_size < target_file_size:
        return 1
    if min_file_size is None:
        min_file_size = default_min_file_size(target_file_size)
    if max_file_size is None:
        max_file_size = default_max_file_size(target_file_size)

    with_remainder = _ceil_div(input_size, target_file_size)
    without_remainder = input_size // target_file_size
    if without_remainder == 0:
        return 1

    remainder = input_size % target_file_size
    avg_without_remainder = input_size // without_remainder
    write_max = write_max_file_size(target_file_size, max_file_size)

    if remainder > min_file_size:
        return with_remainder
    if avg_without_remainder <= min(target_file_size + target_file_size // 10, write_max):
        return without_remainder
    return with_remainder


def calculate_parallelism(
    group: FileGroup, config: CompactionPlanningConfig
) -> int:
    """Return the output parallelism (file count) for a file group.

    Raises ValueError when the group is empty (reference errors on
    input_total_bytes == 0).
    """
    input_size = group.input_size
    if input_size == 0:
        raise ValueError("No files to calculate task parallelism")

    target = config.target_file_size_bytes
    out = expected_output_files(input_size, target)
    out = max(1, min(out, config.max_output_parallelism))

    # Heuristic: a group whose *data* is smaller than one target file gets a
    # single writer, preventing several small outputs (strategy.rs:227-250).
    if out > 1 and 0 < group.total_data_size < target:
        out = 1
    return out
