"""Writer-path coverage: O1 sort-within-partitions and S11 partition
fan-out, driven through the public write/compaction surfaces."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from iceberg_compaction_spark.compaction import Compaction
from iceberg_compaction_spark.config import CompactionConfig, WriterConfig
from iceberg_compaction_spark.sources.manifest import Manifest
from iceberg_compaction_spark.sources.writer import SortField, write_sized_parquet

SF = "/root/testdata/sf0.001"


def test_sorted_compaction_sorts_within_each_output_file(spark, tmp_path):
    root = str(tmp_path / "tbl")
    os.makedirs(root)
    src = spark.read.parquet(f"{SF}/lineitem.parquet")
    import glob

    src.repartition(4).write.mode("overwrite").parquet(root + "/frag")
    for i, p in enumerate(sorted(glob.glob(root + "/frag/*.parquet"))):
        os.rename(p, f"{root}/d{i}.parquet")
    import shutil

    shutil.rmtree(root + "/frag")
    m = Manifest.from_parquet_dir(root, sequence_number=1)
    m.save()

    c = Compaction(
        spark=spark,
        config=CompactionConfig.full(),
        sort_order=[SortField("l_orderkey"), SortField("l_linenumber")],
    )
    m2, _stats = c.compact(m)
    for t in m2.data_files:
        keys = [
            (r["l_orderkey"], r["l_linenumber"])
            for r in spark.read.parquet(t.data_file_path).collect()
        ]
        assert keys == sorted(keys)  # each output file internally sorted


def test_partition_fanout_write(spark, tmp_path):
    out = str(tmp_path / "fanout")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    tasks = write_sized_parquet(
        li,
        out,
        WriterConfig(),
        output_parallelism=2,
        partition_by=["l_returnflag"],
    )
    # hive-style layout, one value dir per distinct flag
    flags = {r["l_returnflag"] for r in li.select("l_returnflag").distinct().collect()}
    dirs = {d for d in os.listdir(out) if d.startswith("l_returnflag=")}
    assert dirs == {f"l_returnflag={f}" for f in flags}
    # listed tasks cover every written row exactly once
    assert sum(t.record_count for t in tasks) == li.count()
    for t in tasks:
        assert pq.read_metadata(t.data_file_path).num_rows == t.record_count
    # read back partitioned: per-flag counts match the source
    per_flag_src = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    back = spark.read.parquet(out)
    per_flag_out = {
        r["l_returnflag"]: r["n"]
        for r in back.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_flag_out == per_flag_src


def test_max_records_per_file_rolls_output(spark, tmp_path):
    out = str(tmp_path / "rolled")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    n = li.count()
    # force tiny target: row width estimate 100B, target 100*ceil(n/4)B
    target_rows = max(1, n // 4)
    cfg = WriterConfig(
        target_file_size_bytes=100 * target_rows, estimated_row_size_bytes=100
    )
    tasks = write_sized_parquet(li, out, cfg, output_parallelism=1)
    assert len(tasks) >= 4  # rolled into multiple files despite 1 writer task
    assert sum(t.record_count for t in tasks) == n
    assert all(t.record_count <= target_rows for t in tasks)


# --- round 6: output-file size band (VERDICT r5 #6) --------------------------


def _compact_in_band(spark, tmp_path, sort_order=None):
    """Compact a 12-file fragmentation of sf0.01 lineitem at TWO target
    sizes with the size band enforced and the row width re-estimated
    per group; assert every output lands in the band and every row
    survives.  Returns the output tasks of both runs."""
    from dataclasses import replace

    from iceberg_compaction_spark.sources.writer import SIZE_BAND

    lineitem = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    lo, hi = SIZE_BAND
    total = None
    outputs = []

    for idx in range(2):
        frag = str(tmp_path / f"frag{idx}")
        lineitem.repartition(12).write.parquet(frag)
        m = Manifest.from_parquet_dir(frag)
        total = total or sum(t.file_size_in_bytes for t in m.data_files)
        target = total // (4 if idx == 0 else 7)
        cfg = CompactionConfig.small_files()
        cfg = replace(
            cfg,
            writer=replace(
                cfg.writer,
                target_file_size_bytes=target,
                estimated_row_size_bytes=None,  # re-estimated per group
                enforce_size_band=True,
            ),
        )
        out = str(tmp_path / f"out-{target}")
        new, stats = Compaction(
            spark=spark, config=cfg, sort_order=sort_order
        ).compact(m, out_root=out)
        outs = [
            t
            for t in new.data_files
            if t.data_file_path.startswith(str(tmp_path)) and "out-" in t.data_file_path
        ]
        assert outs, "compaction produced no output files"
        ratios = sorted(
            t.file_size_in_bytes / target for t in outs
        )
        assert all(lo <= r <= hi for r in ratios), (target, ratios)
        # rows preserved across the correction pass
        assert sum(t.record_count for t in outs) == 60000
        outputs.extend(outs)
    return outputs


def test_compaction_output_lands_in_reference_size_band(spark, tmp_path):
    """Every compacted output file must land inside the reference's
    0.75x-1.8x target band (core/src/file_selection/strategy.rs:335-343)
    at TWO target sizes, with row width re-estimated from the group
    being rewritten — a writer emitting out-of-band files schedules its
    own future compaction work."""
    _compact_in_band(spark, tmp_path)


def test_size_band_holds_on_the_exchange_path(spark, tmp_path):
    """With ``spark.sql.files.maxPartitionBytes`` below the group's input
    (and output) size, pass 1 and the re-cut both take the round-robin
    exchange: the band and the row count still hold, and each output
    file stays sorted."""
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, str(64 * 1024))
    try:
        outs = _compact_in_band(
            spark,
            tmp_path,
            sort_order=[SortField("l_orderkey"), SortField("l_linenumber")],
        )
    finally:
        spark.conf.set(key, before)
    for t in outs:
        keys = pq.read_table(
            t.data_file_path, columns=["l_orderkey", "l_linenumber"]
        ).to_pylist()
        keys = [(r["l_orderkey"], r["l_linenumber"]) for r in keys]
        assert keys == sorted(keys)


def test_identity_partition_fanout_keeps_source_column(spark, tmp_path):
    """Round-9 regression: identity-transform fan-out must NOT strip
    the source column from the rewritten data files (Spark's
    partitionBy excludes the fan-out column, so the writer fans out on
    a __part_ copy) — before the fix, compacting an identity-partitioned
    table silently lost the partition column from every output file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.compaction import Compaction
    from iceberg_compaction_spark.config import CompactionConfig
    from iceberg_compaction_spark.sources.ingest import read_table_mor
    from iceberg_compaction_spark.sources.manifest import Manifest

    root = str(tmp_path / "t")
    os.makedirs(root)
    for tag, lo in (("a", 0), ("b", 40)):
        pq.write_table(
            pa.table({
                "id": pa.array(range(lo, lo + 40), type=pa.int64()),
                "grp": pa.array(
                    [i % 4 for i in range(lo, lo + 40)], type=pa.int64()
                ),
                "val": [f"v{i}" for i in range(lo, lo + 40)],
            }),
            os.path.join(root, f"{tag}.parquet"),
        )
    m = Manifest.from_parquet_dir(root, sequence_number=1)
    m.partition_spec = [
        {"source": "grp", "transform": "identity", "name": "grp"}
    ]
    m.default_spec_id = 1
    new, _ = Compaction(spark=spark, config=CompactionConfig.full()).compact(m)
    for t in new.data_files:
        cols = spark.read.parquet(t.data_file_path).columns
        assert cols == ["id", "grp", "val"], cols
        assert len(t.partition) == 1 and t.spec_id == 1
    rows = read_table_mor(spark, new).collect()
    assert len(rows) == 80
    assert all(r["grp"] == r["id"] % 4 for r in rows)
