"""Field-id schema evolution (sources/schema_evo.py): data files
written under OLDER schemas read correctly through the table's CURRENT
schema — rename resolves by id, added columns project NULL for old
files, int->long promotion widens — on BOTH read paths (the engine's
spark.read scan and the Python DataSource's executor-side pyarrow),
matching the reference's field-id schema threading
(core/src/executor/datafusion/datafusion_processor.rs:741-774)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_compaction_spark.plans.datamodel import (
    EQUALITY_DELETE,
    DeleteFile,
    FileScanTask,
)
from iceberg_compaction_spark.sources import schema_evo as se
from iceberg_compaction_spark.sources.ingest import read_table_mor
from iceberg_compaction_spark.sources.manifest import Manifest

# schema v1: id(1) long, old_name(2) string, small(3) int
V1 = [
    {"id": 1, "name": "id", "type": "long", "required": True},
    {"id": 2, "name": "old_name", "type": "string", "required": False},
    {"id": 3, "name": "small", "type": "int", "required": False},
]
# schema v2: old_name RENAMED to new_name, extra(4) double ADDED (next
# never-used id, Iceberg's sequential allocation), small(3) PROMOTED
# int -> long
V2 = [
    {"id": 1, "name": "id", "type": "long", "required": True},
    {"id": 2, "name": "new_name", "type": "string", "required": False},
    {"id": 4, "name": "extra", "type": "double", "required": False},
    {"id": 3, "name": "small", "type": "long", "required": False},
]


def _write(path, names_types_ids, cols):
    schema = pa.schema([pa.field(n, t) for n, t, _ in names_types_ids])
    schema = se.arrow_schema_with_ids(
        schema, {n: i for n, _, i in names_types_ids}
    )
    pq.write_table(pa.table(cols, schema=schema), path)


@pytest.fixture()
def evolved(tmp_path):
    """Two data files: A written under V1, B under V2; table is at V2."""
    root = str(tmp_path / "tbl")
    os.makedirs(root)
    a = os.path.join(root, "a-v1.parquet")
    b = os.path.join(root, "b-v2.parquet")
    _write(
        a,
        [("id", pa.int64(), 1), ("old_name", pa.string(), 2),
         ("small", pa.int32(), 3)],
        {"id": [1, 2, 3], "old_name": ["x1", "x2", "x3"],
         "small": [10, 20, 30]},
    )
    _write(
        b,
        [("id", pa.int64(), 1), ("new_name", pa.string(), 2),
         ("extra", pa.float64(), 4), ("small", pa.int64(), 3)],
        {"id": [4, 5], "new_name": ["y4", "y5"], "extra": [0.4, 0.5],
         "small": [40, 50]},
    )
    m = Manifest(
        table_root=root,
        snapshot_id=1,
        sequence_number=2,
        schema_fields=[dict(f) for f in V2],
        data_files=[
            FileScanTask(
                data_file_path=a, length=os.path.getsize(a),
                file_size_in_bytes=os.path.getsize(a), record_count=3,
                sequence_number=1,
            ),
            FileScanTask(
                data_file_path=b, length=os.path.getsize(b),
                file_size_in_bytes=os.path.getsize(b), record_count=2,
                sequence_number=2,
            ),
        ],
    )
    return m


EXPECT = {
    1: ("x1", None, 10),
    2: ("x2", None, 20),
    3: ("x3", None, 30),
    4: ("y4", 0.4, 40),
    5: ("y5", 0.5, 50),
}


def _check(rows):
    got = {r["id"]: (r["new_name"], r["extra"], r["small"]) for r in rows}
    assert got == EXPECT


def test_engine_scan_resolves_renamed_and_added_columns(spark, evolved):
    df = read_table_mor(spark, evolved)
    assert df.columns == ["id", "new_name", "extra", "small"]
    assert dict(df.dtypes)["small"] == "bigint"  # int -> long promotion
    _check(df.collect())


def test_equality_delete_on_renamed_column(spark, evolved, tmp_path):
    """Equality-delete keys speak CURRENT names; the delete must hit
    rows in the pre-rename file too (key column physically named
    old_name there)."""
    dpath = str(tmp_path / "eqdel.parquet")
    pq.write_table(pa.table({"new_name": ["x2", "y5"]}), dpath)
    d = DeleteFile(
        path=dpath, content=EQUALITY_DELETE, record_count=2,
        sequence_number=3, equality_ids=("new_name",),
        file_size_in_bytes=os.path.getsize(dpath),
    )
    for t in evolved.data_files:
        t.deletes.append(d)
    df = read_table_mor(spark, evolved)
    assert sorted(r["id"] for r in df.collect()) == [1, 3, 4]


def test_real_metadata_roundtrip_carries_schema_fields(spark, evolved, tmp_path):
    """export with prior_schemas -> load_iceberg_table resolves the
    CURRENT schema (v2) and the MOR read matches — the full
    rename-then-read lifecycle over real Iceberg metadata."""
    from iceberg_compaction_spark.sources.iceberg_meta import (
        export_iceberg_metadata,
        load_iceberg_table,
    )

    export_iceberg_metadata(
        evolved, evolved.table_root, V2, prior_schemas=[V1]
    )
    loaded = load_iceberg_table(evolved.table_root)
    assert [f["name"] for f in loaded.schema_fields] == [
        "id", "new_name", "extra", "small",
    ]
    _check(read_table_mor(spark, loaded).collect())


def test_datasource_reads_across_rename(spark, evolved, tmp_path):
    """The Python DataSource path: executor-side field-id remap gives
    the same projection, and a pushed filter on the RENAMED column
    still hits rows in the old file."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.datasource import register

    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("evo", evolved)
    register(spark)
    df = (
        spark.read.format("iceberg-table")
        .option("warehouse", cat.warehouse)
        .option("table", "evo")
        .load()
    )
    assert df.columns == ["id", "new_name", "extra", "small"]
    _check(df.collect())
    hit = df.where(df.new_name == "x3").collect()
    assert [r["id"] for r in hit] == [3]
    # predicate on the ADDED column: old-file rows are NULL, never match
    assert sorted(
        r["id"] for r in df.where(df.extra > 0.45).collect()
    ) == [5]


def test_name_fallback_for_files_without_ids(spark, tmp_path):
    """A file with NO field ids (pre-Iceberg import) resolves by NAME —
    Iceberg's default name-mapping behavior."""
    root = str(tmp_path / "tbl2")
    os.makedirs(root)
    p = os.path.join(root, "noid.parquet")
    pq.write_table(
        pa.table({"id": pa.array([7], type=pa.int64()), "new_name": ["n7"]}),
        p,
    )
    m = Manifest(
        table_root=root, snapshot_id=1, sequence_number=1,
        schema_fields=[dict(f) for f in V2],
        data_files=[
            FileScanTask(
                data_file_path=p, length=os.path.getsize(p),
                file_size_in_bytes=os.path.getsize(p), record_count=1,
                sequence_number=1,
            )
        ],
    )
    rows = read_table_mor(spark, m).collect()
    assert [(r["id"], r["new_name"], r["extra"]) for r in rows] == [
        (7, "n7", None)
    ]


def test_manifest_schema_fields_roundtrip(evolved):
    again = Manifest.from_dict(evolved.to_dict())
    assert again.schema_fields == evolved.schema_fields


def test_struct_with_field_ids_nested_falls_back():
    nested = [{"id": 1, "name": "s", "type": {"type": "struct"}}]
    assert se.struct_with_field_ids(nested) is None


def test_eq_delete_file_written_pre_rename(spark, evolved, tmp_path):
    """An equality-delete FILE written before the key column's rename
    (physical column 'old_name', field id 2, baked seq) must still
    resolve against the current key name on BOTH read paths — the
    engine scan and the DataSource executors."""
    dpath = str(tmp_path / "eqdel-old.parquet")
    tbl = pa.table({"old_name": ["x1", "y4"]})
    pq.write_table(
        tbl.cast(se.arrow_schema_with_ids(tbl.schema, {"old_name": 2})),
        dpath,
    )
    d = DeleteFile(
        path=dpath, content=EQUALITY_DELETE, record_count=2,
        sequence_number=3, equality_ids=("new_name",),
        file_size_in_bytes=os.path.getsize(dpath),
    )
    for t in evolved.data_files:
        t.deletes.append(d)

    # engine path
    rows = read_table_mor(spark, evolved).collect()
    assert sorted(r["id"] for r in rows) == [2, 3, 5]

    # DataSource path (executor-side pyarrow resolution)
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.datasource import register

    cat = FileCatalog(warehouse=str(tmp_path / "wh2"))
    cat.create_table("evo2", evolved)
    register(spark)
    ds = (
        spark.read.format("iceberg-table")
        .option("warehouse", cat.warehouse)
        .option("table", "evo2")
        .load()
    )
    assert sorted(r["id"] for r in ds.collect()) == [2, 3, 5]


def test_compaction_migrates_evolved_files_to_current_schema(
    spark, evolved, tmp_path
):
    """Compacting a schema-evolved table is the migration path: output
    files are written in the CURRENT schema WITH field ids (Spark's
    fieldId.write picks them up from the scan's requested-schema
    metadata), the new manifest keeps schema_fields, and post-compaction
    reads are identical."""
    from iceberg_compaction_spark.compaction import AutoCompaction, Compaction
    from iceberg_compaction_spark.config import CompactionConfig
    from iceberg_compaction_spark.plans.auto import AutoCompactionConfig
    from iceberg_compaction_spark.sources.schema_evo import file_field_ids

    # AutoCompaction plans through the same builder, so its groups
    # resolve the old file by field id too; its copy commits under its
    # own root, leaving the fixture's files to the manual flow below
    auto_root = str(tmp_path / "auto")
    auto_base = Manifest.from_dict(evolved.to_dict())
    auto_base.table_root = auto_root
    os.makedirs(auto_root)
    auto_new, stats, _ = AutoCompaction(
        spark, AutoCompactionConfig(min_small_files_count=2)
    ).compact(auto_base, out_root=auto_root)
    assert stats.input_files_count == 2

    out_root = str(tmp_path / "out")
    comp = Compaction(spark=spark, config=CompactionConfig.full())
    plans = comp.plan(evolved)
    results = [comp.rewrite(p, out_dir=out_root) for p in plans]
    new = comp.commit(evolved, results)

    for new_m, root in ((new, out_root), (auto_new, auto_root)):
        assert new_m.schema_fields == evolved.schema_fields  # carried through
        _check(read_table_mor(spark, new_m).collect())

        added = [
            t for t in new_m.data_files
            if t.data_file_path.startswith(root)
        ]
        assert added
        for t in added:
            sch = pq.read_schema(t.data_file_path)
            assert sch.names == ["id", "new_name", "extra", "small"]
            ids = file_field_ids(sch)
            assert ids == {1: "id", 2: "new_name", 4: "extra", 3: "small"}


def test_evolve_schema_validates_field_id_discipline():
    m = Manifest(table_root="/x", schema_fields=[dict(f) for f in V1])
    # valid evolution: rename id 2, add id 3, promote id 4 int->long
    sid = m.evolve_schema(V2)
    assert sid == 1 and [f["name"] for f in m.schema_fields] == [
        "id", "new_name", "extra", "small",
    ]
    # narrowing a kept id is rejected
    bad = [dict(f) for f in V2]
    bad[3] = {"id": 3, "name": "small", "type": "int"}
    with pytest.raises(ValueError, match="widening"):
        m.evolve_schema(bad)
    # recycling a retired id is rejected
    with pytest.raises(ValueError, match="duplicate"):
        m.evolve_schema([*V2, {"id": 3, "name": "dup", "type": "int"}])
    # recycling a retired (dropped) id is rejected: drop small (id 3),
    # then try to add a NEW column reusing id 3
    m2 = Manifest(table_root="/x", schema_fields=[dict(f) for f in V2])
    m2.evolve_schema([f for f in V2 if f["id"] != 3])  # drop small
    with pytest.raises(ValueError, match="recycles"):
        m2.evolve_schema([
            *[f for f in V2 if f["id"] != 3],
            {"id": 3, "name": "reborn", "type": "string"},
        ])


def test_hadoop_catalog_commit_carries_evolved_schema(spark, tmp_path):
    """Renaming through the REAL-metadata catalog: evolve_schema + commit
    writes the new schema (old retained in the schemas array), and the
    next load resolves pre-rename files through it."""
    from iceberg_compaction_spark.sources.iceberg_meta import (
        IcebergHadoopCatalog,
    )

    root = str(tmp_path / "wh" / "t" / "data")
    os.makedirs(root)
    p = os.path.join(root, "f1.parquet")
    tbl = pa.table({"id": pa.array([1, 2], type=pa.int64()),
                    "old_name": ["a", "b"]})
    pq.write_table(
        tbl.cast(se.arrow_schema_with_ids(tbl.schema, {"id": 1, "old_name": 2})),
        p,
    )
    cat = IcebergHadoopCatalog(warehouse=str(tmp_path / "wh"))
    m0 = Manifest(
        table_root=root, snapshot_id=1, sequence_number=1,
        data_files=[FileScanTask(
            data_file_path=p, length=os.path.getsize(p),
            file_size_in_bytes=os.path.getsize(p), record_count=2,
            sequence_number=1,
        )],
    )
    cat.create_table(
        "t", m0,
        schema_fields=[
            {"id": 1, "name": "id", "type": "long", "required": True},
            {"id": 2, "name": "old_name", "type": "string"},
        ],
    )

    cur = cat.load_table("t")
    # a schema CHANGE without a schema_id bump is refused
    stale = Manifest.from_dict(cur.to_dict())
    stale.snapshot_id = cur.snapshot_id + 1
    stale.schema_fields = [
        {"id": 1, "name": "id", "type": "long", "required": True},
        {"id": 2, "name": "renamed", "type": "string"},
    ]
    with pytest.raises(ValueError, match="evolve_schema"):
        cat.commit_table("t", cur.snapshot_id, stale)

    new = Manifest.from_dict(cur.to_dict())
    new.snapshot_id = cur.snapshot_id + 1
    new.evolve_schema([
        {"id": 1, "name": "id", "type": "long", "required": True},
        {"id": 2, "name": "renamed", "type": "string"},
        {"id": 3, "name": "added", "type": "double"},
    ])
    cat.commit_table("t", cur.snapshot_id, new)

    loaded = cat.load_table("t")
    assert [f["name"] for f in loaded.schema_fields] == [
        "id", "renamed", "added",
    ]
    rows = read_table_mor(spark, loaded).collect()
    assert {(r["id"], r["renamed"], r["added"]) for r in rows} == {
        (1, "a", None), (2, "b", None),
    }
    # prior schema retained in the metadata's schemas array
    import json as _json

    mdir = os.path.join(str(tmp_path / "wh"), "t", "metadata")
    vpath = sorted(
        os.path.join(mdir, n)
        for n in os.listdir(mdir)
        if n.endswith(".metadata.json")
    )[-1]
    md = _json.load(open(vpath))
    assert len(md["schemas"]) == 2
    assert md["current-schema-id"] == loaded.schema_id


def test_evolve_schema_never_recycles_ids_across_drop_of_highest():
    """ADVICE r7 (medium): dropping the HIGHEST-id column must not let
    the next evolution reuse that id — the current schema's max drops,
    but last_column_id is the monotonic high-water mark, persisted
    through to_dict/from_dict."""
    m = Manifest(table_root="/x", schema_fields=[dict(f) for f in V2])
    m.evolve_schema([f for f in V2 if f["id"] != 4])  # drop extra (max id)
    assert m.last_column_id == 4
    with pytest.raises(ValueError, match="recycles"):
        m.evolve_schema([
            *[f for f in V2 if f["id"] != 4],
            {"id": 4, "name": "reborn", "type": "string"},
        ])
    # survives a manifest round-trip (save/load path)
    m2 = Manifest.from_dict(m.to_dict())
    assert m2.last_column_id == 4
    with pytest.raises(ValueError, match="recycles"):
        m2.evolve_schema([
            *[f for f in V2 if f["id"] != 4],
            {"id": 4, "name": "reborn", "type": "string"},
        ])
    # the NEXT fresh id is fine and advances the high-water mark
    m2.evolve_schema([
        *[f for f in V2 if f["id"] != 4],
        {"id": 5, "name": "fresh", "type": "string"},
    ])
    assert m2.last_column_id == 5


def test_evolve_schema_rejects_required_tightening():
    """ADVICE r7 (low): new columns must be optional (old files project
    NULL into them) and optional -> required never tightens (old files
    may hold NULLs)."""
    m = Manifest(table_root="/x", schema_fields=[dict(f) for f in V1])
    with pytest.raises(ValueError, match="required"):
        m.evolve_schema([
            *V1, {"id": 4, "name": "strict", "type": "long",
                  "required": True},
        ])
    tightened = [dict(f) for f in V1]
    tightened[1]["required"] = True  # old_name optional -> required
    with pytest.raises(ValueError, match="optional"):
        m.evolve_schema(tightened)
    # relaxing required -> optional is allowed
    relaxed = [dict(f) for f in V1]
    relaxed[0]["required"] = False
    m.evolve_schema(relaxed)


def test_hadoop_catalog_unchanged_schema_commit_keeps_history(tmp_path):
    """ADVICE r7 (medium): an unchanged-schema commit after an evolution
    must carry the full schemas array forward and keep last-column-id
    monotonic — not re-derive both from the current schema alone."""
    import json as _json

    from iceberg_compaction_spark.sources.iceberg_meta import (
        IcebergHadoopCatalog,
    )

    root = str(tmp_path / "wh" / "t" / "data")
    os.makedirs(root)
    p = os.path.join(root, "f1.parquet")
    tbl = pa.table({"id": pa.array([1], type=pa.int64()),
                    "old_name": ["a"], "small": pa.array([7], pa.int32())})
    pq.write_table(
        tbl.cast(se.arrow_schema_with_ids(
            tbl.schema, {"id": 1, "old_name": 2, "small": 3})),
        p,
    )
    cat = IcebergHadoopCatalog(warehouse=str(tmp_path / "wh"))
    m0 = Manifest(
        table_root=root, snapshot_id=1, sequence_number=1,
        data_files=[FileScanTask(
            data_file_path=p, length=os.path.getsize(p),
            file_size_in_bytes=os.path.getsize(p), record_count=1,
            sequence_number=1,
        )],
    )
    cat.create_table("t", m0, schema_fields=[dict(f) for f in V1])

    # v2: evolve (rename + add id 4 + promote), schema history = [v0, v1]
    cur = cat.load_table("t")
    ev = Manifest.from_dict(cur.to_dict())
    ev.snapshot_id = cur.snapshot_id + 1
    ev.evolve_schema([dict(f) for f in V2])
    cat.commit_table("t", cur.snapshot_id, ev)

    # v3: plain data commit, schema UNCHANGED
    cur = cat.load_table("t")
    assert cur.last_column_id == 4  # loaded from metadata
    nxt = Manifest.from_dict(cur.to_dict())
    nxt.snapshot_id = cur.snapshot_id + 1
    cat.commit_table("t", cur.snapshot_id, nxt)

    mdir = os.path.join(str(tmp_path / "wh"), "t", "metadata")
    v3 = _json.loads(open(os.path.join(
        mdir, f"v{nxt.snapshot_id}.metadata.json")).read())
    assert sorted(s["schema-id"] for s in v3["schemas"]) == [0, 1]
    assert v3["last-column-id"] == 4
    # and a drop of the highest id in a later evolution cannot shrink it
    cur = cat.load_table("t")
    drop = Manifest.from_dict(cur.to_dict())
    drop.snapshot_id = cur.snapshot_id + 1
    drop.evolve_schema([f for f in V2 if f["id"] != 4])
    cat.commit_table("t", cur.snapshot_id, drop)
    v4 = _json.loads(open(os.path.join(
        mdir, f"v{drop.snapshot_id}.metadata.json")).read())
    assert v4["last-column-id"] == 4
    assert cat.load_table("t").last_column_id == 4


# --- round 8: nested-struct field-id evolution (VERDICT r7 #2) ---------------

# nested v1: id(1), meta(2) struct<lang(3) string, score(4) int>
NV1 = [
    {"id": 1, "name": "id", "type": "long", "required": True},
    {"id": 2, "name": "meta", "type": {"type": "struct", "fields": [
        {"id": 3, "name": "lang", "type": "string"},
        {"id": 4, "name": "score", "type": "int"},
    ]}},
]
# nested v2: struct RENAMED meta->info, child RENAMED lang->language,
# child score PROMOTED int->long, child tokens(5) ADDED
NV2 = [
    {"id": 1, "name": "id", "type": "long", "required": True},
    {"id": 2, "name": "info", "type": {"type": "struct", "fields": [
        {"id": 3, "name": "language", "type": "string"},
        {"id": 4, "name": "score", "type": "long"},
        {"id": 5, "name": "tokens", "type": "long"},
    ]}},
]


def _write_nested(path, fields, rows):
    schema = pa.schema([
        pa.field(
            f["name"],
            se.iceberg_type_to_arrow(f["type"]),
            nullable=not f.get("required", False),
            metadata={se.ARROW_FIELD_ID_KEY: str(f["id"]).encode()},
        )
        for f in fields
    ])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


@pytest.fixture()
def nested_evolved(tmp_path):
    """File A written under NV1, file B under NV2; table is at NV2."""
    root = str(tmp_path / "ntbl")
    os.makedirs(root)
    a = os.path.join(root, "a-nv1.parquet")
    b = os.path.join(root, "b-nv2.parquet")
    _write_nested(a, NV1, [
        {"id": 1, "meta": {"lang": "en", "score": 3}},
        {"id": 2, "meta": None},
    ])
    _write_nested(b, NV2, [
        {"id": 3, "info": {"language": "fr", "score": 9, "tokens": 42}},
    ])
    tasks = [
        FileScanTask(
            data_file_path=p, length=os.path.getsize(p),
            file_size_in_bytes=os.path.getsize(p), record_count=n,
            sequence_number=s,
        )
        for p, n, s in [(a, 2, 1), (b, 1, 2)]
    ]
    return Manifest(
        table_root=root, snapshot_id=2, sequence_number=2,
        schema_id=1, data_files=tasks,
        schema_fields=[dict(f) for f in NV2],
    )


def test_nested_field_ids_roundtrip_through_parquet(tmp_path):
    """pyarrow carries PARQUET:field_id on STRUCT CHILDREN through a
    write/read cycle — the carrier the executor-side remap resolves by."""
    p = str(tmp_path / "n.parquet")
    _write_nested(p, NV1, [{"id": 1, "meta": {"lang": "en", "score": 3}}])
    sch = pq.read_schema(p)
    meta_t = sch.field("meta").type
    ids = se._struct_child_index(meta_t)
    assert ids == {3: 0, 4: 1}


def test_remap_struct_array_resolves_children_by_id(tmp_path):
    """Arrow-level remap: child rename resolves by id, added child is
    typed NULL, int child widens to long, parent nulls survive."""
    p = str(tmp_path / "n.parquet")
    _write_nested(p, NV1, [
        {"id": 1, "meta": {"lang": "en", "score": 3}},
        {"id": 2, "meta": None},
    ])
    t = pq.read_table(p)
    name_map = se.physical_name_map(t.schema, NV2)
    assert name_map == {"id": "id", "info": "meta"}  # struct renamed by id
    out = se.remap_batch_table(t, name_map, NV2)
    assert out.column_names == ["id", "info"]
    info = out.column("info")
    assert info.type.field("score").type == pa.int64()  # promoted
    rows = out.to_pylist()
    assert rows[0]["info"] == {"language": "en", "score": 3, "tokens": None}
    assert rows[1]["info"] is None  # parent validity carried through


def test_datasource_reads_across_nested_struct_rename(spark, nested_evolved, tmp_path):
    """End-to-end through the Python DataSource: a rename INSIDE a
    struct (and of the struct itself) is metadata-only — pre-rename
    files project onto the current nested schema by child field id
    (reference threads nested schemas opaquely:
    core/src/executor/datafusion/datafusion_processor.rs:741-774; this
    resolves them, exceeding parity)."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.datasource import register

    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("nevo", nested_evolved)
    register(spark)
    df = (
        spark.read.format("iceberg-table")
        .option("warehouse", cat.warehouse)
        .option("table", "nevo")
        .load()
    )
    assert df.columns == ["id", "info"]
    assert dict(df.dtypes)["info"] == (
        "struct<language:string,score:bigint,tokens:bigint>"
    )
    got = {r["id"]: r["info"] for r in df.collect()}
    assert got[1] is not None and got[1]["language"] == "en"
    assert got[1]["score"] == 3 and got[1]["tokens"] is None
    assert got[2] is None
    assert got[3] is not None and tuple(got[3]) == ("fr", 9, 42)


# list v1: id(1), tags(2) list<string>, scores(3) list<int>
LV1 = [
    {"id": 1, "name": "id", "type": "long", "required": True},
    {"id": 2, "name": "tags", "type": {"type": "list", "element": "string",
                                       "element-id": 4}},
    {"id": 3, "name": "scores", "type": {"type": "list", "element": "int",
                                         "element-id": 5}},
]
# list v2: tags RENAMED to labels (same id), scores element PROMOTED
# int->long, attrs(6) map<string,long> ADDED
LV2 = [
    {"id": 1, "name": "id", "type": "long", "required": True},
    {"id": 2, "name": "labels", "type": {"type": "list", "element": "string",
                                         "element-id": 4}},
    {"id": 3, "name": "scores", "type": {"type": "list", "element": "long",
                                         "element-id": 5}},
    {"id": 6, "name": "attrs", "type": {"type": "map", "key": "string",
                                        "value": "long", "key-id": 7,
                                        "value-id": 8}},
]


def test_datasource_reads_list_columns_across_rename_and_promotion(
    spark, tmp_path
):
    """Round 8: list/map of primitives on the DataSource Arrow path —
    a renamed list column resolves by top-level id, a list<int> file
    column widens to the schema's list<long>, and an added map column
    projects typed NULL for old files."""
    root = str(tmp_path / "ltbl")
    os.makedirs(root)
    p = os.path.join(root, "a-lv1.parquet")
    schema = pa.schema([
        pa.field("id", pa.int64(), False,
                 metadata={se.ARROW_FIELD_ID_KEY: b"1"}),
        pa.field("tags", pa.list_(pa.string()),
                 metadata={se.ARROW_FIELD_ID_KEY: b"2"}),
        pa.field("scores", pa.list_(pa.int32()),
                 metadata={se.ARROW_FIELD_ID_KEY: b"3"}),
    ])
    pq.write_table(pa.Table.from_pylist([
        {"id": 1, "tags": ["a", "b"], "scores": [1, 2]},
        {"id": 2, "tags": [], "scores": None},
    ], schema=schema), p)
    m = Manifest(
        table_root=root, snapshot_id=1, sequence_number=1, schema_id=1,
        schema_fields=[dict(f) for f in LV2], last_column_id=8,
        data_files=[FileScanTask(
            data_file_path=p, length=os.path.getsize(p),
            file_size_in_bytes=os.path.getsize(p), record_count=2,
            sequence_number=1,
        )],
    )
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.datasource import register

    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("lev", m)
    register(spark)
    df = (
        spark.read.format("iceberg-table")
        .option("warehouse", cat.warehouse)
        .option("table", "lev")
        .load()
    )
    assert df.columns == ["id", "labels", "scores", "attrs"]
    dt = dict(df.dtypes)
    assert dt["labels"] == "array<string>"
    assert dt["scores"] == "array<bigint>"  # element promoted
    assert dt["attrs"] == "map<string,bigint>"
    got = {r["id"]: r for r in df.collect()}
    assert got[1]["labels"] == ["a", "b"] and got[1]["scores"] == [1, 2]
    assert got[1]["attrs"] is None
    assert got[2]["labels"] == [] and got[2]["scores"] is None


def test_struct_inside_list_resolves_types():
    t = {"type": "list", "element": {"type": "struct", "fields": [
        {"id": 9, "name": "x", "type": "int"}]}}
    at = se.iceberg_type_to_arrow(t)
    assert pa.types.is_list(at) and pa.types.is_struct(at.value_type)
    st = se.iceberg_type_to_spark(t, nested=True)
    assert st.simpleString() == "array<struct<x:int>>"


# list<struct> v1: id(1), anns(2) list<struct<lbl(4) string, sc(5) int>>
LSV1 = [
    {"id": 1, "name": "id", "type": "long", "required": True},
    {"id": 2, "name": "anns", "type": {"type": "list", "element-id": 3,
        "element": {"type": "struct", "fields": [
            {"id": 4, "name": "lbl", "type": "string"},
            {"id": 5, "name": "sc", "type": "int"},
        ]}}},
]
# v2: column RENAMED anns->labels, child lbl RENAMED->tag, child sc
# PROMOTED int->long, child conf(6) double ADDED
LSV2 = [
    {"id": 1, "name": "id", "type": "long", "required": True},
    {"id": 2, "name": "labels", "type": {"type": "list", "element-id": 3,
        "element": {"type": "struct", "fields": [
            {"id": 4, "name": "tag", "type": "string"},
            {"id": 5, "name": "sc", "type": "long"},
            {"id": 6, "name": "conf", "type": "double"},
        ]}}},
]


def test_datasource_reads_struct_inside_list_across_rename(spark, tmp_path):
    """Round 8 follow-up: a struct INSIDE a list evolves by child field
    id on the DataSource Arrow path — the list column renames by its
    top-level id, the element struct's children rename/promote/add by
    THEIR ids, and list offsets/validity carry through unchanged."""
    root = str(tmp_path / "lstbl")
    os.makedirs(root)
    p = os.path.join(root, "a-lsv1.parquet")
    elem = pa.struct([
        pa.field("lbl", pa.string(), metadata={se.ARROW_FIELD_ID_KEY: b"4"}),
        pa.field("sc", pa.int32(), metadata={se.ARROW_FIELD_ID_KEY: b"5"}),
    ])
    schema = pa.schema([
        pa.field("id", pa.int64(), False,
                 metadata={se.ARROW_FIELD_ID_KEY: b"1"}),
        pa.field("anns", pa.list_(
            pa.field("element", elem,
                     metadata={se.ARROW_FIELD_ID_KEY: b"3"})),
            metadata={se.ARROW_FIELD_ID_KEY: b"2"}),
    ])
    pq.write_table(pa.Table.from_pylist([
        {"id": 1, "anns": [{"lbl": "cat", "sc": 3}, {"lbl": "dog", "sc": 7}]},
        {"id": 2, "anns": []},
        {"id": 3, "anns": None},
    ], schema=schema), p)
    m = Manifest(
        table_root=root, snapshot_id=1, sequence_number=1, schema_id=1,
        schema_fields=[dict(f) for f in LSV2], last_column_id=6,
        data_files=[FileScanTask(
            data_file_path=p, length=os.path.getsize(p),
            file_size_in_bytes=os.path.getsize(p), record_count=3,
            sequence_number=1,
        )],
    )
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.datasource import register

    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("lsev", m)
    register(spark)
    df = (
        spark.read.format("iceberg-table")
        .option("warehouse", cat.warehouse)
        .option("table", "lsev")
        .load()
    )
    assert dict(df.dtypes)["labels"] == (
        "array<struct<tag:string,sc:bigint,conf:double>>"
    )
    got = {r["id"]: r["labels"] for r in df.collect()}
    assert [tuple(x) for x in got[1]] == [
        ("cat", 3, None), ("dog", 7, None)
    ]
    assert got[2] == [] and got[3] is None


def test_engine_scan_resolves_nested_struct_rename(spark, nested_evolved):
    """Late round 8: Spark's NATIVE field-id reader resolves ids at
    every nesting level (verified on 4.1), so the ENGINE path now
    declares nested types with per-child ``parquet.field.id`` metadata
    instead of falling back to name-based reads — the same NV1/NV2
    straddle the DataSource test covers, through spark.read."""
    df = read_table_mor(spark, nested_evolved)
    assert dict(df.dtypes)["info"] == (
        "struct<language:string,score:bigint,tokens:bigint>"
    )
    got = {r["id"]: r["info"] for r in df.collect()}
    assert tuple(got[1]) == ("en", 3, None)  # pre-rename file, by child id
    assert got[2] is None
    assert tuple(got[3]) == ("fr", 9, 42)


def test_parse_name_mapping_shapes():
    j = ('[{"field-id": 1, "names": ["id", "ID"]},'
         ' {"field-id": 2, "names": ["colour"],'
         '  "fields": [{"field-id": 5, "names": ["inner"]}]}]')
    m = se.parse_name_mapping(j)
    assert m == {1: ("id", "ID"), 2: ("colour",), 5: ("inner",)}
    assert se.parse_name_mapping(None) == {}
    assert se.parse_name_mapping("not json") == {}


def test_name_mapping_resolves_idless_import(spark, tmp_path):
    """schema.name-mapping.default (late r8): a file with NO parquet
    field ids whose physical column names are the PRE-RENAME aliases
    resolves through the table's name mapping on the DataSource path —
    Iceberg's import story for Hive-written files."""
    root = str(tmp_path / "nmtbl")
    os.makedirs(root)
    p = os.path.join(root, "import.parquet")
    # physical names: old aliases, and NO field ids anywhere
    pq.write_table(
        pa.table({
            "ident": pa.array([1, 2], type=pa.int64()),
            "colour": ["red", "blue"],
        }),
        p,
    )
    m = Manifest(
        table_root=root, snapshot_id=1, sequence_number=1, schema_id=1,
        schema_fields=[
            {"id": 1, "name": "id", "type": "long", "required": True},
            {"id": 2, "name": "color", "type": "string"},
            {"id": 3, "name": "added", "type": "double"},
        ],
        last_column_id=3,
        properties={
            se.NAME_MAPPING_PROP: (
                '[{"field-id": 1, "names": ["ident"]},'
                ' {"field-id": 2, "names": ["colour", "farbe"]},'
                ' {"field-id": 3, "names": ["extra"]}]'
            )
        },
        data_files=[FileScanTask(
            data_file_path=p, length=os.path.getsize(p),
            file_size_in_bytes=os.path.getsize(p), record_count=2,
            sequence_number=1,
        )],
    )
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.datasource import register

    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("nm", m)
    register(spark)
    df = (
        spark.read.format("iceberg-table")
        .option("warehouse", cat.warehouse)
        .option("table", "nm")
        .load()
    )
    assert df.columns == ["id", "color", "added"]
    got = {r["id"]: r for r in df.collect()}
    assert got[1]["color"] == "red" and got[1]["added"] is None
    assert got[2]["color"] == "blue"
    # pushed filter on a MAPPED column still prunes/hits correctly
    assert [r["id"] for r in df.where("color = 'blue'").collect()] == [2]


def test_engine_path_name_mapping_and_compaction_migration(spark, tmp_path):
    """The engine path (spark.read, used by compaction) resolves the
    SAME alias-mapped import — without this, compacting a mapped table
    would silently rewrite NULLs for every renamed column.  Compaction
    then materializes the current names with field ids: the migration
    path for imports."""
    from iceberg_compaction_spark.compaction import Compaction
    from iceberg_compaction_spark.config import CompactionConfig

    root = str(tmp_path / "nmtbl2")
    os.makedirs(root)
    for tag, lo in (("a", 0), ("b", 3)):
        pq.write_table(
            pa.table({
                "ident": pa.array(range(lo, lo + 3), type=pa.int64()),
                "colour": [f"c{i}" for i in range(lo, lo + 3)],
            }),
            os.path.join(root, f"{tag}.parquet"),
        )
    m = Manifest(
        table_root=root, snapshot_id=1, sequence_number=1, schema_id=1,
        schema_fields=[
            {"id": 1, "name": "id", "type": "long", "required": True},
            {"id": 2, "name": "color", "type": "string"},
        ],
        last_column_id=2,
        properties={se.NAME_MAPPING_PROP: (
            '[{"field-id": 1, "names": ["ident"]},'
            ' {"field-id": 2, "names": ["colour"]}]'
        )},
        data_files=[
            FileScanTask(
                data_file_path=os.path.join(root, f"{tag}.parquet"),
                length=os.path.getsize(os.path.join(root, f"{tag}.parquet")),
                file_size_in_bytes=os.path.getsize(
                    os.path.join(root, f"{tag}.parquet")
                ),
                record_count=3, sequence_number=1,
            )
            for tag in ("a", "b")
        ],
    )
    df = read_table_mor(spark, m)
    assert df.columns == ["id", "color"]
    got = {r["id"]: r["color"] for r in df.collect()}
    assert got == {i: f"c{i}" for i in range(6)}

    new_m, stats = Compaction(spark, CompactionConfig.small_files()).compact(m)
    assert stats.output_files_count >= 1
    outs = [t for t in new_m.data_files if "compacted" in t.data_file_path]
    assert outs
    sch = pq.read_schema(outs[0].data_file_path)
    assert set(sch.names) >= {"id", "color"}  # current names materialized
    got2 = {
        r["id"]: r["color"]
        for r in read_table_mor(spark, new_m).collect()
    }
    assert got2 == got


# ---------------------------------------------------------------------------
# v3 default values (initial-default) — round 12
# ---------------------------------------------------------------------------


def _defaults_table(spark, tmp_path):
    """One pre-add file (no 'score'), evolve to add score with
    initial-default 7 (required), then one post-add file holding a real
    value AND an explicit NULL."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.manifest import Manifest
    from iceberg_compaction_spark.plans.datamodel import FileScanTask

    root = str(tmp_path / "d")
    os.makedirs(root)
    p0 = os.path.join(root, "old.parquet")
    pq.write_table(
        pa.table({"id": pa.array([1, 2], type=pa.int64())}), p0
    )
    m = Manifest.from_parquet_dir(root)
    m.schema_fields = [
        {"id": 1, "name": "id", "type": "long", "required": True}
    ]
    m.last_column_id = 1
    m.evolve_schema(
        [
            {"id": 1, "name": "id", "type": "long", "required": True},
            {
                "id": 2,
                "name": "score",
                "type": "long",
                "required": False,
                "initial-default": 7,
            },
        ]
    )
    p1 = os.path.join(root, "new.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([3, 4], type=pa.int64()),
                "score": pa.array([30, None], type=pa.int64()),
            }
        ),
        p1,
    )
    m.data_files.append(
        FileScanTask(
            data_file_path=p1,
            length=os.path.getsize(p1),
            file_size_in_bytes=os.path.getsize(p1),
            record_count=2,
            sequence_number=2,
        )
    )
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("t", m)
    return cat


def test_initial_default_fills_pre_add_files_only(spark, tmp_path):
    """DataSource read: rows from the pre-add file take the default;
    a post-add explicit NULL stays NULL (defaults are per-FILE, not
    per-null — the spec's initial-default semantics)."""
    from iceberg_compaction_spark.sources.datasource import register

    register(spark)
    cat = _defaults_table(spark, tmp_path)
    rows = {
        r["id"]: r["score"]
        for r in (
            spark.read.format("iceberg-table")
            .option("warehouse", cat.warehouse)
            .option("table", "t")
            .load()
            .collect()
        )
    }
    assert rows == {1: 7, 2: 7, 3: 30, 4: None}


def test_initial_default_native_scan_fails_loudly(spark, tmp_path):
    """The Spark-native field-id scan would silently NULL-fill the
    pre-add file; it must raise toward the DataSource instead."""
    cat = _defaults_table(spark, tmp_path)
    with pytest.raises(ValueError, match="initial-default"):
        read_table_mor(spark, cat.load_table("t")).collect()


def test_required_new_field_needs_default():
    from iceberg_compaction_spark.sources.manifest import Manifest

    m = Manifest(table_root="/x")
    m.schema_fields = [
        {"id": 1, "name": "id", "type": "long", "required": True}
    ]
    m.last_column_id = 1
    with pytest.raises(ValueError, match="initial-default"):
        m.evolve_schema(
            [
                {"id": 1, "name": "id", "type": "long", "required": True},
                {"id": 2, "name": "x", "type": "long", "required": True},
            ]
        )
    # with a default the required add is legal (v3 default values)
    sid = m.evolve_schema(
        [
            {"id": 1, "name": "id", "type": "long", "required": True},
            {
                "id": 2,
                "name": "x",
                "type": "long",
                "required": True,
                "initial-default": 0,
            },
        ]
    )
    assert sid == m.schema_id


def test_upsert_on_id_carrying_table_stays_readable(spark, evolved, tmp_path):
    """Round-13 DML fix: a delta written by upsert onto a table whose
    data files carry parquet field ids must itself carry them — the
    bare write used to create a MIXED id-ful/id-less group that
    bricked the next MOR read.  And the rename keeps resolving over
    the post-upsert state (the new file carries the CURRENT name +
    id)."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.ingest import (
        read_table_mor,
        upsert,
    )

    cat = FileCatalog(warehouse=str(tmp_path / "whu"))
    cat.create_table("evo", evolved)
    delta = spark.createDataFrame(
        [(1, "updated", 0.1, 111), (100, "fresh", 0.2, 222)],
        "id long, new_name string, extra double, small long",
    )
    upsert(spark, cat, "evo", delta, keys=["id"])
    out = read_table_mor(spark, cat.load_table("evo"))
    got = {r["id"]: (r["new_name"], r["small"]) for r in out.collect()}
    assert got[1] == ("updated", 111)
    assert got[100] == ("fresh", 222)
    assert got[4] == ("y4", 40)  # v2-written file still resolves
    assert got[2] == ("x2", 20)  # v1 file resolves through the rename
    assert len(got) == 6


def test_datasource_append_on_id_carrying_table_stays_readable(
    spark, evolved, tmp_path
):
    """The DataSource's Arrow writer obeys the same stamping rule: an
    append onto an id-carrying table writes PARQUET:field_id metadata,
    so the engine's next MOR read never sees a mixed group."""
    import pyarrow.parquet as pqt

    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.datasource import register
    from iceberg_compaction_spark.sources.ingest import read_table_mor
    from iceberg_compaction_spark.sources.schema_evo import file_field_ids

    cat = FileCatalog(warehouse=str(tmp_path / "whd"))
    cat.create_table("evo", evolved)
    register(spark)
    (
        spark.createDataFrame(
            [(200, "appended", 0.9, 42)],
            "id long, new_name string, extra double, small long",
        )
        .coalesce(1)
        .write.format("iceberg-table")
        .option("warehouse", cat.warehouse)
        .option("table", "evo")
        .mode("append")
        .save()
    )
    m = cat.load_table("evo")
    [new_file] = [
        t.data_file_path
        for t in m.data_files
        if "append-" in t.data_file_path
    ]
    assert file_field_ids(pqt.read_schema(new_file))  # ids present
    out = read_table_mor(spark, m)
    got = {r["id"]: r["new_name"] for r in out.collect()}
    assert got[200] == "appended" and got[2] == "x2" and len(got) == 6
