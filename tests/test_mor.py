"""Merge-on-read rewrite correctness (J1/J2/P1) against hand-computed
expected results — mirrors the reference's golden MOR tests
(datafusion_processor.rs:1071-1333) at the DataFrame level."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_compaction_spark.operators.mor import rewrite_file_group
from iceberg_compaction_spark.plans.datamodel import (
    EQUALITY_DELETE,
    POSITION_DELETE,
    DeleteFile,
    FileGroup,
    FileScanTask,
)


@pytest.fixture(scope="module")
def fixture(tmp_path_factory):
    root = tmp_path_factory.mktemp("mor")
    d1 = str(root / "data1.parquet")
    d2 = str(root / "data2.parquet")
    pq.write_table(
        pa.table({"id": list(range(10)), "name": [f"n{i}" for i in range(10)]}), d1
    )
    pq.write_table(
        pa.table({"id": list(range(10, 20)), "name": [f"n{i}" for i in range(10, 20)]}),
        d2,
    )
    pos = str(root / "pos_del.parquet")
    pq.write_table(
        pa.table(
            {
                "sys_hidden_file_path": [d1, d2],
                "sys_hidden_pos": pa.array([0, 5], type=pa.int64()),
            }
        ),
        pos,
    )  # removes id=0 and id=15
    eq = str(root / "eq_del.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([5, 12, 7], type=pa.int64()),
                "sys_hidden_seq_num": pa.array([2, 2, 9], type=pa.int64()),
            }
        ),
        eq,
    )  # id=5 (seq1<2: del), id=12 (seq3<2 false: keep), id=7 (seq1<9: del)

    pos_f = DeleteFile(path=pos, content=POSITION_DELETE, file_size_in_bytes=100)
    eq_f = DeleteFile(
        path=eq, content=EQUALITY_DELETE, file_size_in_bytes=100, equality_ids=("id",)
    )
    t1 = FileScanTask(
        data_file_path=d1, length=500, record_count=10, sequence_number=1,
        deletes=[pos_f, eq_f],
    )
    t2 = FileScanTask(
        data_file_path=d2, length=500, record_count=10, sequence_number=3,
        deletes=[pos_f, eq_f],
    )
    return FileGroup.from_tasks([t1, t2])


def surviving_ids(spark, group):
    df = rewrite_file_group(spark, group)
    return sorted(r["id"] for r in df.collect()), df


def test_mor_full(spark, fixture):
    ids, df = surviving_ids(spark, fixture)
    expected = sorted(set(range(20)) - {0, 15} - {5, 7})
    assert ids == expected
    # final projection strips hidden columns (P1)
    assert df.columns == ["id", "name"]


def test_mor_position_only(spark, fixture):
    g = FileGroup(
        data_files=fixture.data_files,
        position_delete_files=fixture.position_delete_files,
        equality_delete_files=[],
    )
    ids, _ = surviving_ids(spark, g)
    assert ids == sorted(set(range(20)) - {0, 15})


def test_mor_equality_only(spark, fixture):
    g = FileGroup(
        data_files=fixture.data_files,
        position_delete_files=[],
        equality_delete_files=fixture.equality_delete_files,
    )
    ids, _ = surviving_ids(spark, g)
    assert ids == sorted(set(range(20)) - {5, 7})


def test_mor_no_deletes(spark, fixture):
    g = FileGroup(data_files=fixture.data_files)
    ids, df = surviving_ids(spark, g)
    assert ids == list(range(20))
    assert df.columns == ["id", "name"]


def test_mor_seq_residual_exact_boundary(spark, fixture):
    """A delete with seq equal to the data's seq must NOT apply (strict <)."""
    import pyarrow as pa

    # data2 has seq 3; delete id=11 with seq 3 -> survives
    eq_path = fixture.equality_delete_files[0].path.replace("eq_del", "eq_del_b")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([11], type=pa.int64()),
                "sys_hidden_seq_num": pa.array([3], type=pa.int64()),
            }
        ),
        eq_path,
    )
    g = FileGroup(
        data_files=fixture.data_files,
        equality_delete_files=[
            DeleteFile(path=eq_path, content=EQUALITY_DELETE, equality_ids=("id",))
        ],
    )
    ids, _ = surviving_ids(spark, g)
    assert 11 in ids and len(ids) == 20


def test_mor_plan_is_broadcast_hash_join(spark, fixture):
    """Small delete tables must broadcast — the 100-TB data side is never
    shuffled by the MOR joins."""
    df = rewrite_file_group(spark, fixture)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_mor_multiple_equality_schemas(spark, fixture, tmp_path):
    """Two equality-delete tables with DIFFERENT key sets nest left-deep,
    each with its own seq residual (multi-schema test shape of
    datafusion_processor.rs:1267-1333)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = fixture
    d1, d2 = (t.data_file_path for t in g.data_files)

    eq_id = str(tmp_path / "eq_by_id.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([3, 11], type=pa.int64()),
                "sys_hidden_seq_num": pa.array([5, 2], type=pa.int64()),
            }
        ),
        eq_id,
    )  # id=3: seq1<5 -> del; id=11: seq3<2 false -> keep
    eq_name = str(tmp_path / "eq_by_name.parquet")
    pq.write_table(
        pa.table(
            {
                "name": ["n8", "n13"],
                "sys_hidden_seq_num": pa.array([9, 2], type=pa.int64()),
            }
        ),
        eq_name,
    )  # n8: seq1<9 -> del; n13: seq3<2 false -> keep

    fa = DeleteFile(
        path=eq_id, content=EQUALITY_DELETE, file_size_in_bytes=50,
        equality_ids=("id",),
    )
    fb = DeleteFile(
        path=eq_name, content=EQUALITY_DELETE, file_size_in_bytes=50,
        equality_ids=("name",),
    )
    t1 = FileScanTask(
        data_file_path=d1, length=500, record_count=10, sequence_number=1,
        deletes=[fa, fb],
    )
    t2 = FileScanTask(
        data_file_path=d2, length=500, record_count=10, sequence_number=3,
        deletes=[fa, fb],
    )
    ids, _ = surviving_ids(spark, FileGroup.from_tasks([t1, t2]))
    assert ids == [i for i in range(20) if i not in (3, 8)]


def test_mor_join_order_is_fixed(spark, fixture, tmp_path):
    """J3 on the executed plan: the position anti-join is innermost, then
    one equality anti-join per schema in file order, outermost last."""
    d1 = fixture.data_files[0].data_file_path
    pos = fixture.position_delete_files[0]
    eq = {}
    for col, val in (("id", pa.array([3], type=pa.int64())), ("name", ["n8"])):
        path = str(tmp_path / f"eq_{col}.parquet")
        pq.write_table(
            pa.table({col: val, "sys_hidden_seq_num": pa.array([9], type=pa.int64())}),
            path,
        )
        eq[col] = DeleteFile(
            path=path, content=EQUALITY_DELETE, file_size_in_bytes=50,
            equality_ids=(col,),
        )
    for first, second in (("id", "name"), ("name", "id")):
        t = FileScanTask(
            data_file_path=d1, length=500, record_count=10, sequence_number=1,
            deletes=[pos, eq[first], eq[second]],
        )
        df = rewrite_file_group(spark, FileGroup.from_tasks([t]))
        plan = df._jdf.queryExecution().executedPlan().toString()
        joins = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
        # tree string lists the outermost join first
        assert len(joins) == 3
        assert f"[{second}#" in joins[0]
        assert f"[{first}#" in joins[1]
        assert "sys_hidden_pos" in joins[2]
        assert sorted(r["id"] for r in df.collect()) == [1, 2, 4, 5, 6, 7, 9]


def test_mor_consecutive_same_schema_files_merge(spark, fixture, tmp_path):
    """Consecutive delete files sharing equality_ids act as ONE logical
    table (datafusion_processor.rs:701-728): both files' keys apply."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = fixture
    d1, d2 = (t.data_file_path for t in g.data_files)

    p1 = str(tmp_path / "eq1.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([2], type=pa.int64()),
                "sys_hidden_seq_num": pa.array([5], type=pa.int64()),
            }
        ),
        p1,
    )
    p2 = str(tmp_path / "eq2.parquet")
    # no seq column in the file: the file-level sequence_number is applied
    pq.write_table(pa.table({"id": pa.array([4], type=pa.int64())}), p2)

    fa = DeleteFile(
        path=p1, content=EQUALITY_DELETE, file_size_in_bytes=50,
        equality_ids=("id",), sequence_number=5,
    )
    fb = DeleteFile(
        path=p2, content=EQUALITY_DELETE, file_size_in_bytes=50,
        equality_ids=("id",), sequence_number=7,
    )
    t1 = FileScanTask(
        data_file_path=d1, length=500, record_count=10, sequence_number=1,
        deletes=[fa, fb],
    )
    t2 = FileScanTask(
        data_file_path=d2, length=500, record_count=10, sequence_number=3,
        deletes=[fa, fb],
    )
    ids, _ = surviving_ids(spark, FileGroup.from_tasks([t1, t2]))
    assert ids == [i for i in range(20) if i not in (2, 4)]


def test_mor_equality_skew_two_path_matches_plain(spark, fixture):
    """The salted two-path equality anti-join is result-identical to the
    plain join; hot keys only change shuffle distribution."""
    from iceberg_compaction_spark.operators.mor import (
        EqualityDeleteTable,
        apply_equality_deletes,
    )
    from iceberg_compaction_spark.sources.scan import read_data_files

    g = fixture
    seq_by_path = {t.data_file_path: t.sequence_number for t in g.data_files}
    data = read_data_files(
        spark,
        [t.data_file_path for t in g.data_files],
        need_seq_num=True,
        need_file_path_and_pos=True,
        seq_by_path=seq_by_path,
    )
    eq = EqualityDeleteTable(
        df=spark.read.parquet(g.equality_delete_files[0].path),
        equality_keys=["id"],
    )
    plain = {r["id"] for r in apply_equality_deletes(data, eq).collect()}
    hot = spark.createDataFrame([(5,), (12,), (99,)], ["id"])  # incl. absent key
    two_path = {
        r["id"]
        for r in apply_equality_deletes(data, eq, hot_keys=hot, n_salts=4).collect()
    }
    assert two_path == plain


def test_mor_v3_reader_side_dv_matches_v2(spark, fixture):
    """Format v3: position deletes apply reader-side (deletion vectors in
    the scan), only equality deletes join — survivors identical to v2
    (datafusion_processor.rs:632-653)."""
    import dataclasses

    v3 = dataclasses.replace(fixture, format_version=3)
    ids_v2, _ = surviving_ids(spark, fixture)
    ids_v3, df3 = surviving_ids(spark, v3)
    assert ids_v3 == ids_v2
    assert df3.columns == ["id", "name"]


def test_mor_v3_plan_has_no_position_join(spark, fixture):
    """v3 plan shape: no J1 — exactly one LeftAnti (the equality join),
    no sys_hidden_pos/file_path columns anywhere, and the DV check is a
    Filter fused over the scan."""
    import dataclasses

    v3 = dataclasses.replace(fixture, format_version=3)
    plan = (
        rewrite_file_group(spark, v3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("LeftAnti") == 1, plan  # equality only
    assert "sys_hidden_pos" not in plan, plan
    # v2 for contrast: two anti-joins, position columns present
    plan2 = (
        rewrite_file_group(spark, fixture)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan2.count("LeftAnti") == 2, plan2


def test_mor_v3_position_only_group(spark, fixture):
    """v3 group with ONLY position deletes: pure scan + filter, no joins
    and no hidden columns at all."""
    import dataclasses

    g = dataclasses.replace(
        fixture, equality_delete_files=[], format_version=3
    )
    df = rewrite_file_group(spark, g)
    ids = sorted(r["id"] for r in df.collect())
    assert ids == sorted(set(range(20)) - {0, 15})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan and "Join" not in plan, plan


def test_mor_v3_huge_dv_never_materializes_on_driver(
    spark, fixture, monkeypatch
):
    """DV parquet beyond DV_DRIVER_MAX_BYTES must stay distributed:
    pyarrow is never invoked on the driver (spy), the vectors are read
    by executors (spark.read.parquet + anti-join), and survivors are
    identical to the driver-side small-DV path."""
    import dataclasses

    import pyarrow.parquet as real_pq

    from iceberg_compaction_spark.sources import scan as sc

    v3 = dataclasses.replace(fixture, format_version=3)
    want, _ = surviving_ids(spark, v3)  # small-DV (driver) path first

    # force the fixture's 100-byte DV over the threshold
    monkeypatch.setattr(sc, "DV_DRIVER_MAX_BYTES", 0)

    def boom(*a, **k):
        raise AssertionError(
            "driver-side pyarrow read of a large DV — the distributed "
            "path must not materialize delete positions on the driver"
        )

    monkeypatch.setattr(real_pq, "read_table", boom)
    df = rewrite_file_group(spark, v3)
    got = sorted(r["id"] for r in df.collect())
    assert got == want

    plan = df._jdf.queryExecution().executedPlan().toString()
    # DV application is an anti-join (plus the equality anti-join; AQE
    # prints initial+final, hence >=) and NOTHING shuffles: DV and
    # equality sides broadcast, the data side is scan+joins only
    assert plan.count("LeftAnti") >= 2, plan
    assert "hashpartitioning" not in plan, plan


def test_mor_v3_large_dv_broadcast_path(spark, tmp_path):
    """DVs beyond DV_INLINE_MAX_POSITIONS switch from the inlined plan
    literal (which would bloat the plan tree) to a broadcast anti-join:
    result identical, plan shows a broadcast join, data side unshuffled."""
    from iceberg_compaction_spark.sources import scan as sc

    path = str(tmp_path / "big.parquet")
    n = 8000
    pq.write_table(
        pa.table({"id": pa.array(range(n), type=pa.int64())}), path
    )
    deleted = list(range(0, n, 2))  # 4000 positions in one file
    small_dv = {path: deleted}
    assert len(deleted) <= sc.DV_INLINE_MAX_POSITIONS

    inline = sc.read_data_files(spark, [path], position_vectors=small_dv)
    got_inline = sorted(r["id"] for r in inline.collect())
    assert got_inline == list(range(1, n, 2))

    big_deleted = list(range(0, n, 2)) + list(range(1, n, 4))  # 6000 > cap
    big_dv = {path: big_deleted}
    assert len(big_deleted) > sc.DV_INLINE_MAX_POSITIONS
    bcast = sc.read_data_files(spark, [path], position_vectors=big_dv)
    expect = sorted(set(range(n)) - set(big_deleted))
    assert sorted(r["id"] for r in bcast.collect()) == expect

    plan = bcast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # the scanned data side must not shuffle for the DV application
    assert "hashpartitioning" not in plan, plan
