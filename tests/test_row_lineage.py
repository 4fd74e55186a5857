"""Iceberg v3 row lineage: assignment, _row_id synthesis, and — the
compaction engine's own thesis applied to v3 — lineage PRESERVATION
through the rewrite (the spec's "writers must materialize row ids when
rewriting").
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_compaction_spark.compaction import (
    AutoCompaction,
    Compaction,
    upgrade_format_version,
)
from iceberg_compaction_spark.config import CompactionConfig
from iceberg_compaction_spark.plans.auto import AutoCompactionConfig
from iceberg_compaction_spark.service import MaintenancePolicy, maintain
from iceberg_compaction_spark.sources.catalog import FileCatalog
from iceberg_compaction_spark.sources.ingest import (
    read_table_mor,
    read_table_mor_with_lineage,
    upsert,
)
from iceberg_compaction_spark.sources.manifest import Manifest


def _make_table(tmp_path, files=3, rows_per=20, fv=3):
    root = str(tmp_path / "d")
    os.makedirs(root, exist_ok=True)
    n = 0
    for i in range(files):
        ids = list(range(n, n + rows_per))
        n += rows_per
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, type=pa.int64()),
                    "val": pa.array([f"v{j}" for j in ids]),
                }
            ),
            os.path.join(root, f"f{i}.parquet"),
        )
    m = Manifest.from_parquet_dir(root)
    m.format_version = fv
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("t", m)
    return cat


def test_assign_row_ids_ranges_and_monotonicity(tmp_path):
    cat = _make_table(tmp_path)
    m = cat.load_table("t")
    # create_table assigned: disjoint consecutive ranges, counter = total
    firsts = sorted(t.first_row_id for t in m.data_files)
    assert firsts == [0, 20, 40]
    assert m.next_row_id == 60
    # re-assign is a no-op (append-only assignment)
    assert m.assign_row_ids() == 0
    assert m.next_row_id == 60


def test_assign_noop_on_v2(tmp_path):
    cat = _make_table(tmp_path, fv=2)
    m = cat.load_table("t")
    assert all(t.first_row_id is None for t in m.data_files)
    assert m.next_row_id == 0


def test_lineage_read_synthesis(spark, tmp_path):
    cat = _make_table(tmp_path)
    df = read_table_mor_with_lineage(spark, cat.load_table("t"))
    rows = df.select("id", "_row_id", "_last_updated_sequence_number").collect()
    assert len(rows) == 60
    ids = {r["_row_id"] for r in rows}
    assert ids == set(range(60))  # unique, dense, stable
    assert all(r["_last_updated_sequence_number"] == 1 for r in rows)
    # default read does NOT leak the lineage columns
    plain = read_table_mor(spark, cat.load_table("t"))
    assert "_row_id" not in plain.columns


def test_lineage_read_requires_v3(spark, tmp_path):
    cat = _make_table(tmp_path, fv=2)
    with pytest.raises(ValueError, match="v3"):
        read_table_mor_with_lineage(spark, cat.load_table("t"))


def test_upgrade_assigns_lineage(spark, tmp_path):
    cat = _make_table(tmp_path, fv=2)
    upgrade_format_version(cat, "t", 3)
    m = cat.load_table("t")
    assert m.next_row_id == 60
    df = read_table_mor_with_lineage(spark, m)
    assert df.select("_row_id").distinct().count() == 60


def _row_ids(spark, manifest) -> dict:
    return {
        r["id"]: r["_row_id"]
        for r in read_table_mor_with_lineage(spark, manifest)
        .select("id", "_row_id")
        .collect()
    }


def test_compaction_preserves_row_ids(spark, tmp_path):
    """THE invariant: the (business key -> _row_id) mapping is
    identical before and after compaction, even though files and
    positions changed — the rewrite materialized the ids.  Holds for
    every entry point: manual, AutoCompaction and maintain share one
    plan builder, so all of them see the v3 format version."""
    cat = _make_table(tmp_path)
    before = _row_ids(spark, cat.load_table("t"))
    c = Compaction(spark, CompactionConfig.small_files())
    m2, stats = c.compact_catalog(cat, "t")
    assert stats.input_files_count == 3
    assert len(m2.data_files) == 1
    # rewritten file is marked as materializing its ids
    assert m2.data_files[0].first_row_id == -1
    assert _row_ids(spark, cat.load_table("t")) == before

    # the parquet itself carries the reserved columns...
    cols = pq.read_schema(m2.data_files[0].data_file_path).names
    assert "_row_id" in cols and "_last_updated_sequence_number" in cols
    # ...and the DEFAULT read still strips them
    plain = read_table_mor(spark, cat.load_table("t"))
    assert "_row_id" not in plain.columns
    assert plain.count() == 60

    auto_cfg = AutoCompactionConfig(min_small_files_count=2)
    m3, stats, _ = AutoCompaction(spark, auto_cfg).compact(
        _make_table(tmp_path / "auto").load_table("t")
    )
    assert stats.input_files_count == 3
    assert [t.first_row_id for t in m3.data_files] == [-1]
    assert _row_ids(spark, m3) == before

    cat = _make_table(tmp_path / "maintain")
    maintain(spark, cat, "t", MaintenancePolicy(auto=auto_cfg))
    m4 = cat.load_table("t")
    assert [t.first_row_id for t in m4.data_files] == [-1]
    assert _row_ids(spark, m4) == before

    # the README's v2 -> v3 migration: one maintain pass upgrades
    # (assigning ids in file order, so id == _row_id) and compacts
    cat = _make_table(tmp_path / "upgrade", files=6, fv=2)
    maintain(spark, cat, "t", MaintenancePolicy(upgrade_to_version=3))
    m5 = cat.load_table("t")
    assert m5.format_version == 3
    assert [t.first_row_id for t in m5.data_files] == [-1]
    assert _row_ids(spark, m5) == {i: i for i in range(120)}


def test_appends_after_compaction_continue_ids(spark, tmp_path):
    cat = _make_table(tmp_path)
    c = Compaction(spark, CompactionConfig.small_files())
    c.compact_catalog(cat, "t")
    # upsert NEW rows: ids continue from next_row_id (past 60)
    changes = spark.createDataFrame(
        [(100, "new"), (101, "new2")], "id long, val string"
    )
    upsert(spark, cat, "t", changes, keys=["id"])
    m = cat.load_table("t")
    assert m.next_row_id >= 62
    lin = {
        r["id"]: r["_row_id"]
        for r in read_table_mor_with_lineage(spark, m)
        .select("id", "_row_id")
        .collect()
    }
    assert len(lin) == 62
    assert lin[100] >= 60 and lin[101] >= 60
    # original rows kept their pre-compaction ids
    assert lin[0] in range(60) and lin[59] in range(60)


def test_deletes_do_not_perturb_survivor_ids(spark, tmp_path):
    """An upsert that overwrites keys attaches equality deletes; the
    surviving rows keep their ORIGINAL ids (positions unchanged), the
    replacement rows get NEW ids."""
    cat = _make_table(tmp_path)
    before = {
        r["id"]: r["_row_id"]
        for r in read_table_mor_with_lineage(spark, cat.load_table("t"))
        .select("id", "_row_id")
        .collect()
    }
    changes = spark.createDataFrame([(5, "CHANGED")], "id long, val string")
    upsert(spark, cat, "t", changes, keys=["id"])
    lin = {
        (r["id"], r["val"]): r["_row_id"]
        for r in read_table_mor_with_lineage(spark, cat.load_table("t"))
        .select("id", "val", "_row_id")
        .collect()
    }
    assert len(lin) == 60
    # the replaced row carries a NEW id; every untouched row kept its id
    assert lin[(5, "CHANGED")] >= 60
    for (i, _v), rid in lin.items():
        if i != 5:
            assert rid == before[i]


def test_lineage_roundtrips_hadoop_avro(spark, tmp_path):
    """Full-fidelity tier: first_row_id rides the Avro data_file struct
    (spec field 142) and next-row-id rides metadata.json."""
    import json

    from iceberg_compaction_spark.sources.iceberg_meta import (
        IcebergHadoopCatalog,
    )

    root = str(tmp_path / "hd")
    os.makedirs(root)
    for i in range(2):
        pq.write_table(
            pa.table(
                {"id": pa.array(range(i * 10, i * 10 + 10), type=pa.int64())}
            ),
            os.path.join(root, f"f{i}.parquet"),
        )
    m = Manifest.from_parquet_dir(root)
    m.format_version = 3
    cat = IcebergHadoopCatalog(warehouse=str(tmp_path / "hwh"))
    cat.create_table("t", m)
    loaded = cat.load_table("t")
    assert sorted(t.first_row_id for t in loaded.data_files) == [0, 10]
    _, md = cat.current_metadata("t")
    assert md["next-row-id"] == 20
    df = read_table_mor_with_lineage(spark, loaded)
    assert df.select("_row_id").distinct().count() == 20


def test_datasource_row_lineage_option(spark, tmp_path):
    """The iceberg-table DataSource's row_lineage=true read: synthesized
    ids before compaction, materialized ids after — same mapping."""
    from iceberg_compaction_spark.sources.datasource import register

    register(spark)
    cat = _make_table(tmp_path)

    def read_lineage():
        return {
            r["id"]: r["_row_id"]
            for r in (
                spark.read.format("iceberg-table")
                .option("warehouse", cat.warehouse)
                .option("table", "t")
                .option("row_lineage", "true")
                .load()
                .select("id", "_row_id")
                .collect()
            )
        }

    before = read_lineage()
    assert set(before.values()) == set(range(60))
    c = Compaction(spark, CompactionConfig.small_files())
    c.compact_catalog(cat, "t")
    after = read_lineage()
    assert after == before
    # default read: reserved columns absent even though the compacted
    # parquet materializes them
    plain = (
        spark.read.format("iceberg-table")
        .option("warehouse", cat.warehouse)
        .option("table", "t")
        .load()
    )
    assert "_row_id" not in plain.columns
    assert plain.count() == 60


def test_datasource_row_lineage_rejects_v2(spark, tmp_path):
    from iceberg_compaction_spark.sources.datasource import register

    register(spark)
    cat = _make_table(tmp_path, fv=2)
    with pytest.raises(Exception, match="v3"):
        (
            spark.read.format("iceberg-table")
            .option("warehouse", cat.warehouse)
            .option("table", "t")
            .option("row_lineage", "true")
            .load()
            .collect()
        )


def test_streaming_upsert_sink_assigns_lineage(spark, tmp_path):
    """The DataSource streaming UPSERT sink assigns row ids to each v3
    micro-batch's new file (same contract as the batch DML commits)."""
    from iceberg_compaction_spark.sources.datasource import register

    register(spark)
    cat = _make_table(tmp_path, files=1, rows_per=10)
    assert cat.load_table("t").next_row_id == 10
    src = str(tmp_path / "stream-src")
    spark.createDataFrame(
        [(100, "s1"), (101, "s2")], "id long, val string"
    ).coalesce(1).write.parquet(src)
    q = (
        spark.readStream.schema("id long, val string")
        .parquet(src)
        .writeStream.format("iceberg-table")
        .option("warehouse", cat.warehouse)
        .option("table", "t")
        .option("mode", "upsert")
        .option("upsert_keys", "id")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    m = cat.load_table("t")
    assert m.next_row_id >= 12
    lin = {
        r["id"]: r["_row_id"]
        for r in read_table_mor_with_lineage(spark, m)
        .select("id", "_row_id")
        .collect()
    }
    assert len(lin) == 12 and lin[100] >= 10 and lin[101] >= 10


def test_overwrite_files_carries_lineage_counter(tmp_path):
    """overwrite_files must carry next_row_id (and the other table
    state) like rewrite_files — a reset counter would re-issue
    duplicate _row_id ranges on the next assignment (review finding)."""
    from iceberg_compaction_spark.commit import CommitManager

    cat = _make_table(tmp_path)
    m = cat.load_table("t")
    assert m.next_row_id == 60
    m.statistics_files = [
        {"snapshot-id": 1, "statistics-path": "/x", "file-size-in-bytes": 1}
    ]
    new = CommitManager().overwrite_files(
        m, added_files=[], rewritten_files=[]
    )
    assert new.next_row_id == 60
    assert new.statistics_files == m.statistics_files
    assert new.last_column_id == m.last_column_id
    # a fresh assignment continues, never restarts at 0
    from iceberg_compaction_spark.plans.datamodel import FileScanTask

    new.data_files.append(
        FileScanTask(
            data_file_path="/tmp/x.parquet", length=1, record_count=5,
            sequence_number=2,
        )
    )
    new.assign_row_ids()
    added = [t for t in new.data_files if t.data_file_path == "/tmp/x.parquet"]
    assert added[0].first_row_id == 60 and new.next_row_id == 65


def test_stream_read_rejects_row_lineage(spark, tmp_path):
    """streamReader refuses row_lineage cleanly (review finding: the
    declared schema would gain columns the stream never emits)."""
    from iceberg_compaction_spark.sources.datasource import (
        IcebergTableDataSource,
        register,
    )

    register(spark)
    cat = _make_table(tmp_path)
    opts = {
        "warehouse": cat.warehouse,
        "table": "t",
        "row_lineage": "true",
    }
    ds = IcebergTableDataSource(options=opts)
    with pytest.raises(ValueError, match="batch-read"):
        ds.streamReader(None)


def test_materialized_lineage_spec_wire_null_and_recovery(spark, tmp_path):
    """ADVICE r12 (medium): a lineage-preserving rewrite must NOT write
    the engine's -1 marker into Avro field 142 — the v3 spec encodes
    that state as null (the materialized ``_row_id`` column takes read
    precedence).  The wire carries null; our loader recovers the -1
    marker via the footer probe; the (key -> _row_id) mapping survives
    the full hadoop round trip."""
    from iceberg_compaction_spark.sources.avro_io import read_avro_file
    from iceberg_compaction_spark.sources.iceberg_meta import (
        IcebergHadoopCatalog,
    )

    root = str(tmp_path / "hd")
    os.makedirs(root)
    for i in range(3):
        ids = list(range(i * 10, i * 10 + 10))
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, type=pa.int64()),
                    "val": pa.array([f"v{j}" for j in ids]),
                }
            ),
            os.path.join(root, f"f{i}.parquet"),
        )
    m = Manifest.from_parquet_dir(root)
    m.format_version = 3
    cat = IcebergHadoopCatalog(warehouse=str(tmp_path / "hwh"))
    cat.create_table("t", m)
    before = {
        r["id"]: r["_row_id"]
        for r in read_table_mor_with_lineage(spark, cat.load_table("t"))
        .select("id", "_row_id")
        .collect()
    }
    c = Compaction(spark, CompactionConfig.small_files())
    m2, _stats = c.compact_catalog(cat, "t")
    assert m2.data_files[0].first_row_id == -1

    # the WIRE value is spec-valid null, not -1
    _loc, md = cat.current_metadata("t")
    snap = next(
        s
        for s in md["snapshots"]
        if s["snapshot-id"] == md["current-snapshot-id"]
    )
    _s, mf_entries = read_avro_file(snap["manifest-list"])
    wire_frids = []
    for mf in mf_entries:
        _s2, entries = read_avro_file(mf["manifest_path"])
        for e in entries:
            if e["data_file"].get("content", 0) == 0:
                wire_frids.append(e["data_file"].get("first_row_id"))
    assert wire_frids == [None]

    # a FRESH load (new process state: clear the probe memo) recovers
    # the marker from the parquet footer and the mapping is intact
    from iceberg_compaction_spark.sources import iceberg_meta as im

    im._ROW_ID_COL_CACHE.clear()
    loaded = cat.load_table("t")
    assert loaded.data_files[0].first_row_id == -1
    after = {
        r["id"]: r["_row_id"]
        for r in read_table_mor_with_lineage(spark, loaded)
        .select("id", "_row_id")
        .collect()
    }
    assert after == before
