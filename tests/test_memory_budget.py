"""Bounded-memory execution contract (core/src/config/mod.rs:464-488).

The reference runs under an optional ``max_memory_bytes`` budget
(FairSpillPool + DiskManager; decoded batches charged with fail-fast
``try_grow`` — iceberg_file_task_scan.rs:55-69).  The Spark mapping
sizes ``spark.sql.files.maxPartitionBytes`` from the budget, the
parallelism, and the decode/sort amplification, and fails fast when
the budget is infeasible."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_compaction_spark.compaction import Compaction
from iceberg_compaction_spark.config import (
    MIN_USEFUL_PARTITION_BYTES,
    CompactionConfig,
    ExecutionMemoryConfig,
    MemoryBudgetExceeded,
)
from iceberg_compaction_spark.sources.manifest import Manifest


def test_unbounded_default_is_noop():
    mem = ExecutionMemoryConfig()
    assert mem.max_partition_bytes(32) is None
    assert mem.spark_conf(32) == {}
    mem.validate(10**9)  # never raises when unbounded


def test_partition_bytes_scales_down_with_parallelism():
    mem = ExecutionMemoryConfig(max_memory_bytes=64 * 1024**3)
    # 64 GiB / 32 tasks / (8x decode * 2x sort) = 128 MiB on-disk splits
    assert mem.max_partition_bytes(32) == 128 * 1024**2
    assert mem.max_partition_bytes(64) == 64 * 1024**2
    # higher inflation -> smaller splits
    tight = ExecutionMemoryConfig(
        max_memory_bytes=64 * 1024**3, decode_inflation=16
    )
    assert tight.max_partition_bytes(32) == 64 * 1024**2


def test_infeasible_budget_fails_fast():
    mem = ExecutionMemoryConfig(max_memory_bytes=256 * 1024**2)
    with pytest.raises(MemoryBudgetExceeded):
        mem.validate(1024)  # 256 MiB over 1024 tasks -> ~16 KiB splits
    # The same budget is fine at low parallelism.
    assert mem.max_partition_bytes(1) >= MIN_USEFUL_PARTITION_BYTES


def test_spark_conf_includes_spill_dir():
    mem = ExecutionMemoryConfig(
        max_memory_bytes=64 * 1024**3, spill_dir="/scratch/spill"
    )
    conf = mem.spark_conf(32)
    assert conf["spark.sql.files.maxPartitionBytes"] == str(128 * 1024**2)
    assert conf["spark.local.dir"] == "/scratch/spill"


@pytest.fixture()
def small_table(tmp_path):
    root = tmp_path / "tbl"
    root.mkdir()
    n = 0
    for f in range(3):
        ids = list(range(n, n + 20))
        n += 20
        pq.write_table(
            pa.table({"id": pa.array(ids, type=pa.int64())}),
            str(root / f"data{f}.parquet"),
        )
    return Manifest.from_parquet_dir(str(root), sequence_number=1)


def test_compaction_applies_budget_conf_scoped(spark, small_table):
    """The budget conf is live during the rewrites and restored after —
    per-execution like the reference's memory pool, never leaked into
    unrelated queries on the shared session."""
    budget = 64 * 1024**3
    cfg = CompactionConfig.small_files()
    cfg.memory = ExecutionMemoryConfig(max_memory_bytes=budget)
    before = spark.conf.get("spark.sql.files.maxPartitionBytes")

    seen = {}
    comp = Compaction(spark, cfg)
    orig_rewrite = comp.rewrite

    def spy_rewrite(plan, out_dir=None):
        seen["mpb"] = spark.conf.get("spark.sql.files.maxPartitionBytes")
        return orig_rewrite(plan, out_dir)

    comp.rewrite = spy_rewrite
    new_m, stats = comp.compact(small_table)
    assert stats.input_files_count == 3
    par = spark.sparkContext.defaultParallelism
    assert seen["mpb"] == str(cfg.memory.max_partition_bytes(par))
    # restored after the run
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == before


def test_compaction_fails_fast_on_infeasible_budget(spark, small_table, tmp_path):
    cfg = CompactionConfig.small_files()
    # A budget so small no split size is useful at this parallelism.
    cfg.memory = ExecutionMemoryConfig(max_memory_bytes=1024)
    out = str(tmp_path / "out")
    with pytest.raises(MemoryBudgetExceeded):
        Compaction(spark, cfg).compact(small_table, out_root=out)
    assert not os.path.exists(out)  # failed BEFORE any rewrite launched
