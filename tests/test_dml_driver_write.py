"""DML delete artifacts written on the driver from one Arrow collect:
exact Spark job counts per statement (MERGE's included), key-type
parity of the pyarrow-written equality delete, the v2 position trail's
order and types, the upsert path's key checks, and pruning stats on the
unpartitioned single-file data task."""

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import spark_jobs

from iceberg_compaction_spark.plans.datamodel import (
    EQUALITY_DELETE,
    POSITION_DELETE,
)
from iceberg_compaction_spark.sources.catalog import FileCatalog
from iceberg_compaction_spark.sources.ingest import (
    delete_where,
    merge_into,
    read_table_mor,
    upsert,
)
from iceberg_compaction_spark.sources.manifest import Manifest
from iceberg_compaction_spark.sources.scan import (
    HIDDEN_FILE_PATH,
    HIDDEN_POS,
)


def _catalog(tmp_path, files: dict) -> FileCatalog:
    """A catalog table ``t`` over ``{file name: arrow table}``."""
    root = str(tmp_path / "tbl")
    os.makedirs(root)
    for name, tbl in files.items():
        pq.write_table(tbl, os.path.join(root, name))
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("t", Manifest.from_parquet_dir(root, sequence_number=1))
    return cat


def _base(n=10, start=0):
    return pa.table(
        {
            "id": pa.array(range(start, start + n), type=pa.int64()),
            "val": [f"v{i}" for i in range(start, start + n)],
        }
    )


def _deletes(m: Manifest, content: int) -> list:
    found = {
        d.path: d
        for t in m.data_files
        for d in t.deletes
        if d.content == content
    }
    return list(found.values())


def test_unpartitioned_upsert_runs_two_jobs(spark, tmp_path):
    """One Arrow collect of the keys plus the data file's write: no
    uniqueness job, no delete-file write job, no read-back."""
    cat = _catalog(tmp_path, {"base.parquet": _base()})
    changes = spark.createDataFrame(
        pa.table({"id": pa.array([3, 42], pa.int64()), "val": ["a", "b"]})
    )
    assert spark_jobs(
        spark, lambda: upsert(spark, cat, "t", changes, keys=["id"])
    ) == 2
    got = {r["id"]: r["val"] for r in read_table_mor(
        spark, cat.load_table("t")).collect()}
    assert got[3] == "a" and got[42] == "b" and len(got) == 11


def test_v2_delete_where_runs_one_job(spark, tmp_path):
    """The matched scan collected once as Arrow: no range-sampling job
    for a sort, no write job."""
    cat = _catalog(tmp_path, {"base.parquet": _base()})
    assert spark_jobs(
        spark, lambda: delete_where(spark, cat, "t", "id IN (2, 5)")
    ) == 1
    got = {r["id"] for r in read_table_mor(
        spark, cat.load_table("t")).collect()}
    assert got == set(range(10)) - {2, 5}


def test_merge_into_runs_no_probe_job(spark, tmp_path):
    """The updated and inserted rows are written without a row-count
    probe ahead of the write; rows are counted from the written
    footers.  A ``limit(1).count()`` probe over the union of updated
    and inserted rows cost three more jobs here (11)."""
    cat = _catalog(tmp_path, {"base.parquet": _base()})
    src = spark.createDataFrame(
        pa.table({"id": pa.array([3, 42], pa.int64()), "val": ["a", "b"]})
    )
    assert spark_jobs(
        spark, lambda: merge_into(spark, cat, "t", src, keys=["id"])
    ) == 8
    got = {r["id"]: r["val"] for r in read_table_mor(
        spark, cat.load_table("t")).collect()}
    assert got[3] == "a" and got[42] == "b" and len(got) == 11


def test_merge_into_nothing_matched_nothing_inserted_commits_nothing(
    spark, tmp_path
):
    """No match and no insert: the zero-row data file is discarded and
    no snapshot is committed."""
    cat = _catalog(tmp_path, {"base.parquet": _base()})
    before = cat.load_table("t")
    root = before.table_root
    files_before = sorted(os.listdir(root))
    src = spark.createDataFrame(
        pa.table({"id": pa.array([42], pa.int64()), "val": ["x"]})
    )
    merge_into(spark, cat, "t", src, keys=["id"], insert_unmatched=False)
    after = cat.load_table("t")
    assert after.snapshot_id == before.snapshot_id
    assert sorted(os.listdir(root)) == files_before
    assert {r["id"] for r in read_table_mor(spark, after).collect()} == set(
        range(10)
    )


_KEY_TYPES = [
    ("int", pa.int32(), [1, 2, 3], 7),
    ("long", pa.int64(), [1, 2, 3], 7),
    ("string", pa.string(), ["a", "b", "c"], "z"),
    (
        "date",
        pa.date32(),
        [datetime.date(2024, 1, d) for d in (1, 2, 3)],
        datetime.date(2025, 6, 30),
    ),
    (
        "timestamp",
        pa.timestamp("us", tz="UTC"),
        [
            datetime.datetime(2024, 1, 1, h, tzinfo=datetime.timezone.utc)
            for h in (1, 2, 3)
        ],
        datetime.datetime(2025, 6, 30, 23, 59, tzinfo=datetime.timezone.utc),
    ),
    (
        "decimal",
        pa.decimal128(10, 2),
        [decimal.Decimal(v) for v in ("1.10", "2.20", "3.30")],
        decimal.Decimal("99.99"),
    ),
]


@pytest.mark.parametrize(
    "ktype,keys,new_key",
    [(t, k, n) for _, t, k, n in _KEY_TYPES],
    ids=[name for name, *_ in _KEY_TYPES],
)
def test_equality_delete_key_type_parity(
    spark, tmp_path, ktype, keys, new_key
):
    """The pyarrow-written equality delete matches the table's keys of
    every common key type: the MOR read after an upsert is exact."""
    cat = _catalog(
        tmp_path,
        {
            "base.parquet": pa.table(
                {"k": pa.array(keys, ktype), "v": ["old0", "old1", "old2"]}
            )
        },
    )
    changes = spark.createDataFrame(
        pa.table({"k": pa.array([keys[1], new_key], ktype), "v": ["u", "n"]})
    )
    m = upsert(spark, cat, "t", changes, keys=["k"])
    (eq,) = _deletes(m, EQUALITY_DELETE)
    assert eq.record_count == 2
    got = sorted(
        (r["k"], r["v"])
        for r in read_table_mor(spark, cat.load_table("t")).collect()
    )
    want = {keys[0]: "old0", keys[1]: "u", keys[2]: "old2", new_key: "n"}
    if ktype == pa.timestamp("us", tz="UTC"):
        got = [(k.replace(tzinfo=None), v) for k, v in got]
        want = {k.replace(tzinfo=None): v for k, v in want.items()}
    assert got == sorted(want.items())


def test_v2_position_trail_sorted_string_long(spark, tmp_path):
    cat = _catalog(
        tmp_path,
        {"b.parquet": _base(10, 10), "a.parquet": _base(10, 0)},
    )
    m = delete_where(spark, cat, "t", "id % 3 = 0")
    (pos,) = _deletes(m, POSITION_DELETE)
    trail = pq.read_table(pos.path)
    assert trail.schema.field(HIDDEN_FILE_PATH).type == pa.string()
    assert trail.schema.field(HIDDEN_POS).type == pa.int64()
    rows = list(
        zip(trail[HIDDEN_FILE_PATH].to_pylist(), trail[HIDDEN_POS].to_pylist())
    )
    assert rows == sorted(rows) and len(rows) == pos.record_count == 7
    assert len({p for p, _ in rows}) == 2
    got = {r["id"] for r in read_table_mor(
        spark, cat.load_table("t")).collect()}
    assert got == {i for i in range(20) if i % 3}


@pytest.mark.parametrize(
    "rows",
    [
        [(1, "a"), (1, "b")],
        [(None, "a"), (None, "b")],
    ],
    ids=["duplicate", "null-duplicate"],
)
def test_upsert_rejects_duplicate_and_null_duplicate_keys(
    spark, tmp_path, rows
):
    cat = _catalog(tmp_path, {"base.parquet": _base()})
    changes = spark.createDataFrame(rows, "id long, val string")
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert(spark, cat, "t", changes, keys=["id"])
    assert cat.load_table("t").snapshot_id == 1


def test_composite_null_keys_group_like_count_distinct_struct():
    """Nulls group together per key column, as ``countDistinct`` over a
    struct does: ``(1, null)`` and ``(2, null)`` are two keys,
    ``(1, null)`` twice is a duplicate."""
    from iceberg_compaction_spark.sources.ingest import upsert_build

    def batch(ids):
        return pa.table(
            {
                "a": pa.array(ids, pa.int64()),
                "b": pa.array([None] * 2, pa.string()),
            }
        )

    upsert_build(["a", "b"], batch([1, 2]), "changes batch", "stem")
    dup = r"duplicate keys \(2 rows, 1 distinct"
    with pytest.raises(ValueError, match=dup):
        upsert_build(["a", "b"], batch([1, 1]), "changes batch", "stem")


def test_null_op_rows_stay_out_of_equality_delete(spark, tmp_path):
    cat = _catalog(tmp_path, {"base.parquet": _base()})
    changes = spark.createDataFrame(
        [(1, "x", "D"), (2, "y", None), (3, "z", "U")],
        "id long, val string, op string",
    )
    m = upsert(spark, cat, "t", changes, keys=["id"], op_col="op")
    (eq,) = _deletes(m, EQUALITY_DELETE)
    assert eq.record_count == 2
    assert sorted(pq.read_table(eq.path)["id"].to_pylist()) == [1, 3]
    assert pq.read_table(eq.path).column_names == ["id"]
    got = {r["id"]: r["val"] for r in read_table_mor(
        spark, cat.load_table("t")).collect()}
    assert 1 not in got and got[2] == "v2" and got[3] == "z"


def test_unpartitioned_dml_data_file_records_pruning_stats(spark, tmp_path):
    """The single-file data task carries the footer's column bounds and
    null counts, like the partitioned writer's tasks, so later scans
    can prune it."""
    cat = _catalog(tmp_path, {"base.parquet": _base()})
    changes = spark.createDataFrame(
        [(3, "a"), (42, None)], "id long, val string"
    )
    upsert(spark, cat, "t", changes, keys=["id"])
    (task,) = [
        t for t in cat.load_table("t").data_files
        if t.data_file_path.endswith("-data.parquet")
    ]
    assert task.column_bounds["id"] == (3, 42)
    assert task.null_counts == {"id": 0, "val": 1}


def test_dml_files_share_the_engine_codec(spark, tmp_path):
    """Upsert data, equality-delete and position-delete files all carry
    ``config.DEFAULT_COMPRESSION`` in their footers: the local Spark
    write of the upsert's data file included."""
    from iceberg_compaction_spark.config import DEFAULT_COMPRESSION

    cat = _catalog(tmp_path, {"base.parquet": _base()})
    changes = spark.createDataFrame([(3, "a"), (42, "b")], "id long, val string")
    upsert(spark, cat, "t", changes, keys=["id"])
    m = delete_where(spark, cat, "t", "id = 5")
    written = [
        t.data_file_path for t in m.data_files
        if not t.data_file_path.endswith("base.parquet")
    ] + [d.path for c in (EQUALITY_DELETE, POSITION_DELETE) for d in _deletes(m, c)]
    assert [os.path.basename(p).rsplit("-", 1)[-1] for p in written] == [
        "data.parquet", "eqdel.parquet", "pos.parquet"
    ]
    for path in written:
        meta = pq.ParquetFile(path).metadata
        codecs = {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
        assert codecs == {DEFAULT_COMPRESSION.upper()}, path
