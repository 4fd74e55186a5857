"""L10 parallelism-math golden tests (strategy.rs:180-343 semantics)."""

import pytest

from iceberg_compaction_spark.config import CompactionPlanningConfig
from iceberg_compaction_spark.plans.datamodel import FileGroup, FileScanTask
from iceberg_compaction_spark.plans.parallelism import (
    calculate_parallelism,
    default_max_file_size,
    default_min_file_size,
    expected_output_files,
    write_max_file_size,
)

GB = 1024**3
MB = 1024**2


def group_of(sizes, deletes_bytes=0):
    tasks = [
        FileScanTask(data_file_path=f"f{i}", length=s, record_count=100)
        for i, s in enumerate(sizes)
    ]
    return FileGroup.from_tasks(tasks)


def test_ratios_integer_math():
    assert default_min_file_size(GB) == GB * 3 // 4
    assert default_max_file_size(GB) == GB * 9 // 5
    assert write_max_file_size(GB, default_max_file_size(GB)) == GB + (GB * 9 // 5 - GB) // 2


def test_expected_output_smaller_than_target_is_one():
    assert expected_output_files(10 * MB, GB) == 1
    assert expected_output_files(GB - 1, GB) == 1


def test_expected_output_zero_target_is_one():
    assert expected_output_files(123, 0) == 1


def test_expected_output_exact_multiple():
    assert expected_output_files(4 * GB, GB) == 4


def test_expected_output_large_remainder_rounds_up():
    # remainder 0.9 GB > min (0.75 GB) -> round up
    size = 4 * GB + int(0.9 * GB)
    assert expected_output_files(size, GB) == 5


def test_expected_output_small_remainder_folds_down():
    # remainder 0.1 GB < min; avg = 4.1/4 = 1.025 GB <= 1.1*target -> fold into 4
    size = 4 * GB + int(0.1 * GB)
    assert expected_output_files(size, GB) == 4


def test_calculate_parallelism_small_group():
    cfg = CompactionPlanningConfig()
    g = group_of([10 * MB] * 5)
    assert calculate_parallelism(g, cfg) == 1  # 50 MB < 1 GiB target


def test_calculate_parallelism_output_heuristic_forces_one():
    cfg = CompactionPlanningConfig(target_file_size_bytes=100 * MB)
    # data below target but many files
    g = group_of([2 * MB] * 40)
    assert calculate_parallelism(g, cfg) == 1


def test_calculate_parallelism_caps():
    cfg = CompactionPlanningConfig(
        target_file_size_bytes=MB, max_output_parallelism=3
    )
    g = group_of([10 * MB] * 10)
    assert calculate_parallelism(g, cfg) == 3


def test_calculate_parallelism_empty_group_raises():
    with pytest.raises(ValueError):
        calculate_parallelism(FileGroup(data_files=[]), CompactionPlanningConfig())
