"""Table-declared sort orders: persisted on the Manifest, round-tripped
through real Iceberg metadata (sort-orders / default-sort-order-id),
and applied by compaction rewrites when no explicit override is given —
maintenance is how an Iceberg table converges to its declared order."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_compaction_spark.compaction import Compaction
from iceberg_compaction_spark.config import CompactionConfig
from iceberg_compaction_spark.sources.manifest import Manifest

ORDER = [{"source": "id", "direction": "desc", "null-order": "nulls-last"}]


def _table(tmp_path, n_files=4, rows=25):
    root = str(tmp_path / "tbl")
    os.makedirs(root)
    for f in range(n_files):
        ids = [f + n_files * i for i in range(rows)]
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, type=pa.int64()),
                    "num": pa.array([i % 7 for i in ids], type=pa.int64()),
                    "val": [f"v{i}" for i in ids],
                }
            ),
            os.path.join(root, f"d{f}.parquet"),
        )
    m = Manifest.from_parquet_dir(root, sequence_number=1)
    m.sort_order = [dict(f) for f in ORDER]
    return m


def test_manifest_roundtrip_and_plan_carries_order(spark, tmp_path):
    m = _table(tmp_path)
    m2 = Manifest.from_dict(m.to_dict())
    assert m2.sort_order == ORDER
    plans = Compaction(spark, CompactionConfig.small_files()).plan(m2)
    assert plans and plans[0].sort_order == (("id", "desc", "nulls-last"),)


def test_compaction_applies_declared_order(spark, tmp_path):
    """Every entry point sorts by the declared order: manual plans,
    AutoCompaction and maintain are stamped by the same plan builder."""
    from iceberg_compaction_spark.compaction import AutoCompaction
    from iceberg_compaction_spark.plans.auto import AutoCompactionConfig
    from iceberg_compaction_spark.service import MaintenancePolicy, maintain
    from iceberg_compaction_spark.sources.catalog import FileCatalog

    auto_cfg = AutoCompactionConfig(min_small_files_count=2)
    c = Compaction(spark, CompactionConfig.small_files())
    manual, stats = c.compact(_table(tmp_path / "manual"))
    assert stats.output_files_count >= 1
    auto, stats, _ = AutoCompaction(spark, auto_cfg).compact(
        _table(tmp_path / "auto")
    )
    assert stats.output_files_count >= 1
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("t", _table(tmp_path / "maintain"))
    report = maintain(spark, cat, "t", MaintenancePolicy(auto=auto_cfg))
    assert report.stats.output_files_count >= 1
    for new_m in (manual, auto, cat.load_table("t")):
        outs = [t for t in new_m.data_files if "compacted" in t.data_file_path]
        assert outs
        for t in outs:
            ids = pq.read_table(t.data_file_path, columns=["id"]).column(
                "id"
            ).to_pylist()
            assert ids == sorted(ids, reverse=True)  # desc within each file


def test_explicit_sort_order_wins(spark, tmp_path):
    from iceberg_compaction_spark.sources.writer import SortField

    m = _table(tmp_path)
    c = Compaction(
        spark,
        CompactionConfig.small_files(),
        sort_order=[SortField(column="id", ascending=True)],
    )
    new_m, _ = c.compact(m)
    outs = [t for t in new_m.data_files if "compacted" in t.data_file_path]
    assert outs
    for t in outs:
        ids = pq.read_table(t.data_file_path, columns=["id"]).column(
            "id"
        ).to_pylist()
        assert ids == sorted(ids)  # asc: the explicit order, not the table's


def test_iceberg_metadata_roundtrip(spark, tmp_path):
    from iceberg_compaction_spark.sources.iceberg_meta import (
        export_iceberg_metadata,
        infer_schema_fields,
        load_iceberg_table,
    )

    m = _table(tmp_path)
    m.schema_fields = infer_schema_fields(m.data_files[0].data_file_path)
    meta_path = export_iceberg_metadata(
        m, str(tmp_path / "tbl"), m.schema_fields
    )
    md = json.load(open(meta_path))
    assert md["default-sort-order-id"] == 1
    [_, order] = md["sort-orders"]
    f = order["fields"][0]
    ids = {x["name"]: x["id"] for x in m.schema_fields}
    assert f == {
        "transform": "identity",
        "source-id": ids["id"],
        "direction": "desc",
        "null-order": "nulls-last",
    }
    loaded = load_iceberg_table(str(tmp_path / "tbl"))
    assert loaded.sort_order == ORDER


def test_unknown_sort_column_is_dropped_on_export(tmp_path):
    from iceberg_compaction_spark.sources.iceberg_meta import (
        _sort_orders_to_md,
    )

    m = _table(tmp_path)
    m.schema_fields = [{"id": 1, "name": "other", "type": "long"}]
    oid, orders = _sort_orders_to_md(m)
    assert oid == 0 and orders == [{"order-id": 0, "fields": []}]


def test_zorder_suppresses_declared_order_but_not_explicit(spark, tmp_path):
    from dataclasses import replace

    from iceberg_compaction_spark.sources.writer import SortField

    m = _table(tmp_path)
    cfg = CompactionConfig.small_files()
    cfg = replace(cfg, writer=replace(cfg.writer, zorder_by=("id", "num")))
    # declared order defers to zorder: compaction runs, output unsorted-by-id
    new_m, stats = Compaction(spark, cfg).compact(m)
    assert stats.output_files_count >= 1
    # explicit order beside zorder still raises the writer's exclusivity
    c = Compaction(spark, cfg, sort_order=[SortField(column="id")])
    with pytest.raises(ValueError, match="mutually exclusive"):
        c.compact(Manifest.from_dict(m.to_dict()))


def test_exported_snapshot_carries_summary_totals(tmp_path):
    """Exported snapshots carry the spec's summary totals (string-
    valued), not just the operation — what real readers surface."""
    from iceberg_compaction_spark.sources.iceberg_meta import (
        export_iceberg_metadata,
        infer_schema_fields,
    )

    m = _table(tmp_path)
    meta_path = export_iceberg_metadata(
        m, str(tmp_path / "tbl"),
        infer_schema_fields(m.data_files[0].data_file_path),
    )
    snap = json.load(open(meta_path))["snapshots"][0]
    assert snap["summary"] == {
        "operation": "append",
        "total-data-files": "4",
        "total-delete-files": "0",
        "total-records": "100",
        "total-files-size": str(
            sum(t.file_size_in_bytes for t in m.data_files)
        ),
    }


def test_partitioned_rewrite_preserves_declared_sort(spark, tmp_path):
    """Round-9 regression: Spark's dynamic-partition write path injects
    a NON-STABLE sort by partition key when the child's ordering doesn't
    satisfy it — which used to destroy the declared data sort inside
    each partition of a sorted, partitioned compaction rewrite.  The
    writer now leads the task sort with the fan-out columns, so every
    output file is internally sorted."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.compaction import Compaction
    from iceberg_compaction_spark.config import CompactionConfig
    from iceberg_compaction_spark.sources.manifest import Manifest

    root = str(tmp_path / "t")
    os.makedirs(root)
    ids = [9, 3, 7, 1, 5, 0, 8, 2, 6, 4] * 8
    pq.write_table(
        pa.table({
            "id": pa.array(ids, type=pa.int64()),
            "grp": pa.array([i % 2 for i in range(80)], type=pa.int64()),
        }),
        os.path.join(root, "base.parquet"),
    )
    m = Manifest.from_parquet_dir(root, sequence_number=1)
    m.partition_spec = [
        {"source": "grp", "transform": "identity", "name": "grp"}
    ]
    m.default_spec_id = 1
    m.sort_order = [
        {"source": "id", "direction": "asc", "null-order": "nulls-last"}
    ]
    new, _ = Compaction(spark=spark, config=CompactionConfig.full()).compact(m)
    assert len(new.data_files) >= 2  # one per partition
    for t in new.data_files:
        got = [
            r["id"] for r in spark.read.parquet(t.data_file_path).collect()
        ]
        assert got == sorted(got), t.data_file_path
