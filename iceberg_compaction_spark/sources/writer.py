"""Size-targeted parquet sink (S10, S11).

The reference rolls output files at ``target_file_size_bytes`` (default
1 GiB), ZSTD-compressed, with partition fan-out
(core/src/executor/datafusion/mod.rs:163-223).

Spark-first mapping: Spark sizes files by *rows*, so target bytes become
``maxRecordsPerFile``.  A group that fits in one input split
(``spark.sql.files.maxPartitionBytes``) and asks for no partition
fan-out or z-order is written by ONE task with no exchange
(``coalesce(1)``): that task cuts the planned file count (L10's math)
at ``ceil(rows / n)`` rows per file, so a rewrite is one narrow Spark
job.  Larger groups keep an exchange to the writer parallelism —
round-robin, hash on the fan-out columns, or range on the Morton code —
and roll files at an estimated on-disk row width (input bytes / input
records, the basis the reference plans with).  ``sortWithinPartitions``
applies the table sort order per output file with NO global sort (O1:
SortExec with preserve_partitioning, datafusion_processor.rs:193-213);
``partitionBy`` is the partition fan-out writer (S11).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from iceberg_compaction_spark.config import DEFAULT_COMPRESSION, WriterConfig
from iceberg_compaction_spark.plans import pruning as _pruning
from iceberg_compaction_spark.plans.datamodel import FileScanTask
from iceberg_compaction_spark.sources.scan import read_listed_parquet


@dataclass(frozen=True)
class SortField:
    """One field of a table sort order (identity transform only — the
    reference supports only Transform::Identity for sort,
    datafusion_processor.rs:250-255)."""

    column: str
    ascending: bool = True
    nulls_first: bool | None = None  # None => engine default for direction

    def to_column(self) -> Column:
        c = F.col(self.column)
        nf = self.nulls_first
        if self.ascending:
            return c.asc_nulls_first() if (nf is None or nf) else c.asc_nulls_last()
        return c.desc_nulls_last() if (nf is None or not nf) else c.desc_nulls_first()


def max_records_per_file(
    target_file_size_bytes: int, estimated_row_size_bytes: int | None
) -> int | None:
    if not estimated_row_size_bytes or estimated_row_size_bytes <= 0:
        return None
    return max(1, target_file_size_bytes // estimated_row_size_bytes)


def estimate_row_size(total_bytes: int, total_records: int) -> int | None:
    if total_records <= 0:
        return None
    return max(1, total_bytes // total_records)


def fits_one_split(spark, input_bytes: int | None) -> bool:
    """True when ``input_bytes`` fit in one input split: the session's
    ``spark.sql.files.maxPartitionBytes``, the per-task read bound
    ``ExecutionMemoryConfig`` sizes from the memory budget."""
    if input_bytes is None:
        return False
    limit = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return input_bytes <= limit


def write_sized_parquet(
    df: DataFrame,
    out_dir: str,
    config: WriterConfig,
    output_parallelism: int | None = None,
    sort_order: list[SortField] | None = None,
    partition_by: list[str] | None = None,
    partition_spec: "list | None" = None,
    input_bytes: int | None = None,
    rows: int | None = None,
) -> list[FileScanTask]:
    """Write ``df`` as size-targeted ZSTD parquet; return written files.

    ``input_bytes`` and ``rows`` (an upper bound) describe what ``df``
    reads; with both known, input that fits in one split
    (:func:`fits_one_split`) takes the module docstring's narrow write.

    ``partition_spec`` (a list of ``functions.transforms.PartitionField``)
    is the transform-aware fan-out (S11 + the reference's computed
    partition values, executor/datafusion/mod.rs:205-221): each field
    becomes a derived column (bucket/truncate/day/...) that the writer
    fans out on; derived columns live only in the directory structure,
    not in the data files.  Plain ``partition_by`` column names remain
    for pre-materialized partition values.

    Returns one FileScanTask per produced file (record counts from parquet
    footers, partition tuple parsed from the hive-style path), ready to
    feed the commit layer (T4).
    """
    if partition_spec:
        from iceberg_compaction_spark.functions.transforms import (
            transform_column,
        )

        # Fan out on DERIVED columns only — never on a table column
        # itself: Spark's partitionBy EXCLUDES the fan-out column from
        # the data files, which for an identity-transform field would
        # silently drop the SOURCE column from every rewritten file
        # (Iceberg data files always carry identity source columns; the
        # MOR readers scan files directly and cannot reconstitute the
        # values from partition metadata).  A "__part_"-prefixed copy
        # fans out and is stripped; the real column stays in the data.
        derived = []
        for f in partition_spec:
            cname = f"__part_{f.column_name}"
            if f.transform == "identity":
                df = df.withColumn(cname, F.col(f.source))
            else:
                df = df.withColumn(cname, transform_column(f, df))
            derived.append(cname)
        partition_by = [*(partition_by or []), *derived]
    zcode = None
    if config.zorder_by:
        if sort_order:
            raise ValueError(
                "zorder_by and sort_order are mutually exclusive: the "
                "Morton code IS the sort key"
            )
        from iceberg_compaction_spark.operators.zorder import zorder_code

        df, zcode = zorder_code(df, list(config.zorder_by), config.zorder_bits)
    mrpf = max_records_per_file(
        config.target_file_size_bytes, config.estimated_row_size_bytes
    )
    if output_parallelism and output_parallelism > 0:
        if (
            rows
            and not partition_by
            and zcode is None
            and fits_one_split(df.sparkSession, input_bytes)
        ):
            # narrow: one task reads the group and cuts the planned
            # file count itself — no exchange, one job
            df = df.coalesce(1)
            mrpf = -(-rows // output_parallelism)
        elif partition_by:
            # co-locate rows of one partition so fan-out writers produce
            # few files per partition value
            df = df.repartition(output_parallelism, *[F.col(c) for c in partition_by])
        elif zcode is not None:
            # range partition on the Morton code: each output file covers
            # a compact hyper-rectangle of the z-ordered key space
            df = df.repartitionByRange(output_parallelism, zcode)
        else:
            df = df.repartition(output_parallelism)  # round-robin (X1)
    elif zcode is not None:
        df = df.repartitionByRange(zcode)
    if sort_order:
        # partition columns FIRST: Spark's dynamic-partition write path
        # requires rows ordered by the partition expressions and ADDS a
        # (non-stable) sort when the child's ordering doesn't satisfy
        # it — which would silently destroy the data sort inside each
        # partition.  Leading with the fan-out columns satisfies the
        # required ordering, so no extra sort is injected and each
        # partition run keeps the declared order.
        pre = [F.col(c) for c in (partition_by or [])]
        df = df.sortWithinPartitions(
            *pre, *[s.to_column() for s in sort_order]
        )
    elif zcode is not None:
        df = df.sortWithinPartitions(zcode)

    writer = df.write.mode("overwrite").option("compression", DEFAULT_COMPRESSION)
    if mrpf is not None:
        writer = writer.option("maxRecordsPerFile", mrpf)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_dir)
    return list_written_files(out_dir)


def list_written_files(out_dir: str, sequence_number: int = 0) -> list[FileScanTask]:
    import pyarrow.parquet as pq

    tasks: list[FileScanTask] = []
    for root, _dirs, names in os.walk(out_dir):
        # hive-style partition dirs (k=v/...) between out_dir and the file
        rel = os.path.relpath(root, out_dir)
        part = tuple(
            seg.split("=", 1)[1]
            for seg in ([] if rel == "." else rel.split(os.sep))
            if "=" in seg
        )
        for name in sorted(names):
            if not name.endswith(".parquet") or name.startswith("_"):
                continue
            path = os.path.join(root, name)
            size = os.path.getsize(path)
            md = pq.read_metadata(path)  # one footer read per output
            bounds, nulls = _pruning.footer_stats(md)
            tasks.append(
                FileScanTask(
                    data_file_path=path,
                    length=size,
                    file_size_in_bytes=size,
                    record_count=md.num_rows,
                    sequence_number=sequence_number,
                    partition=part,
                    # footer-only stats: compacted output stays prunable
                    # (Iceberg writers always publish bounds; a rewrite
                    # that dropped them would degrade every later scan)
                    column_bounds=bounds,
                    null_counts=nulls,
                )
            )
    return tasks


# the reference's well-sized band: files outside it are rewrite
# candidates (core/src/file_selection/strategy.rs:335-343) — a writer
# that EMITS files outside it schedules its own future work
SIZE_BAND = (0.75, 1.8)


def enforce_size_band(
    spark,
    out_dir: str,
    tasks: list[FileScanTask],
    config: WriterConfig,
    sort_order: list[SortField] | None = None,
    band: tuple[float, float] = SIZE_BAND,
) -> list[FileScanTask]:
    """Re-cut output files that landed outside the reference's
    0.75x-1.8x target band.

    Pass 1 plans its file count from INPUT bytes, and consolidated
    output usually compresses better than its fragmented inputs
    (dictionaries and footers amortize), so pass-1 files can land below
    the band floor.  After pass 1 the output bytes are EXACT — when any
    file is out of band, one narrow re-read of the output (no MOR
    joins, no deletes — just the already-consolidated bytes) is written
    again as ``n = round(total / target)`` files of equal row counts,
    through the same narrow-or-exchange choice as pass 1.  The
    reference never needs this because its writer rolls on actual
    written bytes (executor/datafusion/mod.rs:163-223); this is the
    Spark-first equivalent at one extra output-sized write, paid only
    when pass 1 drifted out of band.

    Partition-fan-out outputs are returned unchanged (the band applies
    per partition there; callers compact partitions separately).
    """
    import shutil

    from dataclasses import replace

    target = config.target_file_size_bytes
    if not tasks or target <= 0 or any(t.partition for t in tasks):
        return tasks
    total = sum(t.file_size_in_bytes for t in tasks)
    rows = sum(t.record_count for t in tasks)
    lo, hi = band
    if all(lo * target <= t.file_size_in_bytes <= hi * target for t in tasks):
        return tasks
    n = max(1, round(total / target))
    if n == 1 and len(tasks) == 1:
        return tasks  # a table smaller than one target file: nothing to cut
    fixed_dir = out_dir.rstrip("/") + "-sized"
    df = read_listed_parquet(spark, [t.data_file_path for t in tasks])
    # no row-width roll: the narrow path cuts n files itself, and on the
    # exchange path each of the n round-robin tasks writes one file (a
    # width-based roll would shave a tiny remainder off any task that
    # holds a few more rows than the estimate allows)
    cfg2 = replace(
        config, estimated_row_size_bytes=None, enforce_size_band=False
    )
    fixed = write_sized_parquet(
        df,
        fixed_dir,
        cfg2,
        output_parallelism=n,
        sort_order=sort_order,
        input_bytes=total,
        rows=rows,
    )
    for t in tasks:
        try:
            os.remove(t.data_file_path)
        except OSError:
            pass
    shutil.rmtree(out_dir, ignore_errors=True)
    return fixed


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_keys: list[str],
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) managed table —
    the co-located-join layout.

    Two tables bucketed by the same keys into the same bucket count
    join WITHOUT a shuffle: each task reads matching bucket files from
    both sides, so the exchange that dominates large-join cost at
    100 TB disappears entirely (the output layout is decided once, at
    write time, and every subsequent join amortizes it).  ``sort=True``
    additionally orders within buckets so sort-merge joins skip their
    sort as well.  This is Spark's equivalent of the reference laying
    out files by partition spec for partitioned execution (X2) — taken
    one step further to join keys.

    Bucketing requires the table-catalog write path (``saveAsTable``);
    plain ``.parquet(path)`` cannot record bucket metadata.
    """
    w = df.write.format("parquet").mode(mode).bucketBy(
        n_buckets, *bucket_keys
    )
    if sort:
        w = w.sortBy(*bucket_keys)
    w.saveAsTable(table_name)
