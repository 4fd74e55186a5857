"""A compaction file group that fits in one input split is written by
one task with no exchange: one Spark job, the planned file count cut at
equal row counts, and merge-on-read deletes applied as before."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
from conftest import spark_jobs

from iceberg_compaction_spark.compaction import Compaction
from iceberg_compaction_spark.config import CompactionConfig
from iceberg_compaction_spark.sources.catalog import FileCatalog
from iceberg_compaction_spark.sources.ingest import (
    delete_where,
    read_table_mor,
    upsert,
)
from iceberg_compaction_spark.sources.manifest import Manifest
from iceberg_compaction_spark.sources.writer import fits_one_split

MPB = "spark.sql.files.maxPartitionBytes"


def _fragments(root, n_files=4, rows_per=50) -> None:
    os.makedirs(root)
    for f in range(n_files):
        ids = range(f * rows_per, (f + 1) * rows_per)
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, type=pa.int64()),
                    "val": [f"v{i}" for i in ids],
                }
            ),
            os.path.join(root, f"d{f}.parquet"),
        )


def _rewrite(spark, plan, out_dir):
    """``Compaction.rewrite`` on this thread; returns (jobs, added files)."""
    res = {}
    c = Compaction(spark=spark, config=CompactionConfig.full())
    jobs = spark_jobs(spark, lambda: res.update(r=c.rewrite(plan, out_dir)))
    return jobs, res["r"].added_files


def _rows(spark, files):
    return sorted(
        (r["id"], r["val"])
        for r in spark.read.parquet(*[t.data_file_path for t in files])
        .select("id", "val")
        .collect()
    )


def test_narrow_delete_free_group_rewrite_runs_one_job(spark, tmp_path):
    root = str(tmp_path / "tbl")
    _fragments(root)
    m = Manifest.from_parquet_dir(root, sequence_number=1)
    (plan,) = Compaction(spark=spark, config=CompactionConfig.full()).plan(m)
    g = plan.file_group
    assert fits_one_split(spark, g.input_size)
    jobs, added = _rewrite(spark, plan, str(tmp_path / "out"))
    assert jobs == 1
    assert len(added) == g.output_parallelism
    assert _rows(spark, added) == [(i, f"v{i}") for i in range(200)]


def test_narrow_path_applies_position_and_equality_deletes(spark, tmp_path):
    """A v2 group carrying one position delete and one equality delete:
    the narrow write keeps the merge-on-read row set and runs fewer jobs
    than the same group forced onto the exchange path."""
    root = str(tmp_path / "tbl")
    _fragments(root)
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("t", Manifest.from_parquet_dir(root, sequence_number=1))
    changes = spark.createDataFrame(
        pa.table({"id": pa.array([3, 420], pa.int64()), "val": ["a", "b"]})
    )
    upsert(spark, cat, "t", changes, keys=["id"])
    delete_where(spark, cat, "t", "id IN (7, 120)")
    m = cat.load_table("t")
    (plan,) = Compaction(spark=spark, config=CompactionConfig.full()).plan(m)
    g = plan.file_group
    assert g.format_version == 2
    assert len(g.position_delete_files) == 1
    assert len(g.equality_delete_files) == 1
    assert fits_one_split(spark, g.input_size)
    want = sorted(
        (r["id"], r["val"]) for r in read_table_mor(spark, m).collect()
    )
    assert len(want) == 199

    narrow_jobs, narrow = _rewrite(spark, plan, str(tmp_path / "narrow"))
    before = spark.conf.get(MPB)
    spark.conf.set(MPB, str(g.input_size - 1))
    try:
        assert not fits_one_split(spark, g.input_size)
        exchange_jobs, exchanged = _rewrite(
            spark, plan, str(tmp_path / "exchange")
        )
    finally:
        spark.conf.set(MPB, before)
    assert _rows(spark, narrow) == want
    assert _rows(spark, exchanged) == want
    assert narrow_jobs < exchange_jobs
