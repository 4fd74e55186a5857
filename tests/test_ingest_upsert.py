"""Upsert/CDC write path -> MOR read -> compaction lifecycle: the
engine producing AND consuming merge-on-read state (the reference only
consumes; its docs assume RisingWave/Flink producing the delete files)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_compaction_spark.compaction import Compaction
from iceberg_compaction_spark.config import CompactionConfig
from iceberg_compaction_spark.sources.catalog import FileCatalog
from iceberg_compaction_spark.sources.ingest import read_table_mor, upsert
from iceberg_compaction_spark.sources.manifest import Manifest


@pytest.fixture()
def table(tmp_path):
    root = str(tmp_path / "tbl")
    os.makedirs(root)
    pq.write_table(
        pa.table(
            {
                "id": pa.array(range(10), type=pa.int64()),
                "val": [f"v{i}" for i in range(10)],
            }
        ),
        os.path.join(root, "base.parquet"),
    )
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("t", Manifest.from_parquet_dir(root, sequence_number=1))
    return cat


def _rows(spark, cat):
    df = read_table_mor(spark, cat.load_table("t"))
    return {r["id"]: r["val"] for r in df.collect()}


def test_upsert_replaces_and_inserts(spark, table):
    changes = spark.createDataFrame(
        [(3, "v3-new"), (42, "v42")], ["id", "val"]
    )
    m = upsert(spark, table, "t", changes, keys=["id"])
    assert m.snapshot_id == 2
    got = _rows(spark, table)
    assert got[3] == "v3-new"  # replaced
    assert got[42] == "v42"  # inserted
    assert got[4] == "v4"  # untouched
    assert len(got) == 11


def test_upsert_with_deletes_then_compact_materializes(spark, table):
    changes = spark.createDataFrame(
        [(0, "x", "D"), (5, "v5-new", "U"), (99, "v99", "I")],
        ["id", "val", "op"],
    )
    upsert(spark, table, "t", changes, keys=["id"], op_col="op")
    got = _rows(spark, table)
    assert 0 not in got  # deleted
    assert got[5] == "v5-new" and got[99] == "v99"
    assert len(got) == 10

    # compaction materializes the same visible rows and drops deletes
    c = Compaction(spark=spark, config=CompactionConfig.full())
    final, stats = c.compact_catalog(table, "t")
    assert all(not t.deletes for t in final.data_files)
    materialized = {
        r["id"]: r["val"]
        for r in spark.read.parquet(*final.paths()).collect()
    }
    assert materialized == got


def test_sequential_upserts_last_wins(spark, table):
    upsert(
        spark, table, "t",
        spark.createDataFrame([(1, "first")], ["id", "val"]), keys=["id"],
    )
    upsert(
        spark, table, "t",
        spark.createDataFrame([(1, "second")], ["id", "val"]), keys=["id"],
    )
    got = _rows(spark, table)
    assert got[1] == "second"
    assert len(got) == 10


def test_empty_upsert_batch_writes_no_data_file(spark, table):
    empty = spark.createDataFrame([], "id long, val string")
    m = upsert(spark, table, "t", empty, keys=["id"])
    root = os.path.dirname(m.data_files[0].data_file_path)
    assert not [f for f in os.listdir(root) if f.endswith("-data.parquet")]
    assert [t.data_file_path for t in m.data_files] == [
        os.path.join(root, "base.parquet")
    ]
    assert len(_rows(spark, table)) == 10


def test_upsert_rejects_ambiguous_batch(spark, table):
    dup = spark.createDataFrame([(1, "a"), (1, "b")], ["id", "val"])
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert(spark, table, "t", dup, keys=["id"])


def test_streaming_upsert_foreachbatch(spark, table, tmp_path):
    """Structured Streaming -> upsert commits via foreachBatch: each
    micro-batch lands as one equality-delete + one data file, exactly a
    streaming CDC sink; final table state matches the batch ground
    truth (last event per key)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    # two files -> two micro-batches (maxFilesPerTrigger=1); key 3 is
    # updated in batch 1 then again in batch 2: last write must win
    pq.write_table(
        pa.table({"id": pa.array([3, 20], type=pa.int64()),
                  "val": ["b1-v3", "b1-v20"]}),
        os.path.join(src, "b1.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array([3, 21], type=pa.int64()),
                  "val": ["b2-v3", "b2-v21"]}),
        os.path.join(src, "b2.parquet"),
    )
    # the file stream orders batches by modification time; same-second
    # writes tie, so pin explicit mtimes to make b1 -> b2 deterministic
    os.utime(os.path.join(src, "b1.parquet"), (1_700_000_000, 1_700_000_000))
    os.utime(os.path.join(src, "b2.parquet"), (1_700_000_100, 1_700_000_100))

    from iceberg_compaction_spark.sources.ingest import upsert

    stream = (
        spark.readStream.schema("id long, val string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def sink(batch_df, batch_id):
        if batch_df.limit(1).count() > 0:
            upsert(spark, table, "t", batch_df, keys=["id"])

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = _rows(spark, table)
    assert got[3] == "b2-v3"  # second batch overwrote the first
    assert got[20] == "b1-v20" and got[21] == "b2-v21"
    assert len(got) == 12  # 10 base + 2 inserts (3 replaced in place)
    # one commit per micro-batch on top of v1
    assert table.table_history("t") == [1, 2, 3]


def test_compaction_racing_upsert_keeps_upsert_visible(spark, table):
    """THE sequence-pinning semantic (T1): an upsert lands between
    compaction's rewrite and its commit; the compaction retry succeeds
    AND the upsert's equality delete still applies to the rewritten
    files (pinned below the upsert's sequence) — rows never resurrect."""
    from iceberg_compaction_spark.compaction import Compaction
    from iceberg_compaction_spark.config import CompactionConfig

    c = Compaction(spark=spark, config=CompactionConfig.full())
    base = table.load_table("t")
    plans = c.plan(base)
    results, _ = c.execute_plans(base, plans)  # rewrite done, NOT committed

    # concurrent upsert commits first: key 3 changes, key 0 is deleted
    changes = spark.createDataFrame(
        [(3, "mid-flight", "U"), (0, "x", "D")], ["id", "val", "op"]
    )
    upsert(spark, table, "t", changes, keys=["id"], op_col="op")
    assert table.load_table("t").snapshot_id == 2

    # compaction commit: first CAS attempt is stale, retry reloads v2
    def attempt():
        cur = table.load_table("t")
        new = c.commit_manager.rewrite_files(cur, results)
        return table.commit_table("t", cur.snapshot_id, new)

    final = c.commit_manager.commit_with_retry(attempt)
    assert final.snapshot_id == 3

    got = _rows(spark, table)
    assert got[3] == "mid-flight"  # upsert survived the rewrite swap
    assert 0 not in got  # deleted row did NOT resurrect
    assert len(got) == 9


def test_upsert_racing_upsert_resequences_on_retry(spark, table):
    """Two concurrent upserts on the SAME key: the CAS loser's retry
    must re-sequence ABOVE the winner (equality deletes apply only to
    strictly-lower sequences).  Before the fix the retry committed at
    the stale pre-race sequence: its delete skipped the winner's data
    file, leaving TWO live rows for one key, and the manifest sequence
    regressed below the head."""
    from iceberg_compaction_spark.sources.ingest import read_table_mor

    from iceberg_compaction_spark.plans.datamodel import EQUALITY_DELETE

    real_commit = table.commit_table
    injected = []
    loser_eq = {}  # the loser's equality-delete file -> (size, mtime)
    winner_seq = []

    def racing_commit(name, expected, new, to_branch=None):
        if not injected:
            injected.append(True)
            for t in new.data_files:
                for d in t.deletes:
                    if d.content == EQUALITY_DELETE:
                        st = os.stat(d.path)
                        loser_eq[d.path] = (st.st_size, st.st_mtime_ns)
            # a concurrent writer beats us to the head with the same key
            upsert(
                spark,
                table,
                "t",
                spark.createDataFrame([(3, "winner-mid")], ["id", "val"]),
                keys=["id"],
            )
            winner_seq.append(table.load_table("t").sequence_number)
        return real_commit(name, expected, new, to_branch=to_branch)

    table.commit_table = racing_commit
    try:
        upsert(
            spark,
            table,
            "t",
            spark.createDataFrame([(3, "retried-final")], ["id", "val"]),
            keys=["id"],
        )
    finally:
        del table.commit_table

    head = table.load_table("t")
    assert head.snapshot_id == 3
    # strictly monotonic: loser re-sequenced above the winner's seq
    assert head.sequence_number == 3 == winner_seq[0] + 1
    # the retry re-sequenced in the manifest only: the loser's
    # equality-delete file was written once and never touched again
    (eq_path, before), = loser_eq.items()
    st = os.stat(eq_path)
    assert (st.st_size, st.st_mtime_ns) == before
    committed = {
        d.sequence_number
        for t in head.data_files
        for d in t.deletes
        if d.path == eq_path
    }
    assert committed == {winner_seq[0] + 1}

    df = read_table_mor(spark, head)
    # exactly ONE live row for the contended key (the dict helper would
    # mask a duplicate), and it is the last committer's value
    key3 = df.where(df["id"] == 3).collect()
    assert len(key3) == 1
    assert key3[0]["val"] == "retried-final"
    assert df.count() == 10


def test_compaction_racing_schema_evolution(spark, table):
    """Schema ADD-COLUMN lands between compaction's rewrite and its
    commit: the retry adopts the evolved schema id (old-schema rewrite
    output stays valid) instead of failing forever; rows unchanged."""
    from iceberg_compaction_spark.compaction import Compaction
    from iceberg_compaction_spark.config import CompactionConfig

    # seed the schema metadata the evolution check consults
    base = table.load_table("t")
    base.properties["schema.columns"] = ["id", "val"]
    nxt = Manifest.from_dict(base.to_dict())
    nxt.snapshot_id = base.snapshot_id + 1
    table.commit_table("t", base.snapshot_id, nxt)

    c = Compaction(spark=spark, config=CompactionConfig.full())
    cur = table.load_table("t")
    plans = c.plan(cur)
    assert plans and plans[0].schema_columns == ("id", "val")
    results, _ = c.execute_plans(cur, plans)

    # concurrent ADD COLUMN evolution commits first
    evolved = Manifest.from_dict(cur.to_dict())
    evolved.snapshot_id = cur.snapshot_id + 1
    evolved.schema_id = cur.schema_id + 1
    evolved.properties["schema.columns"] = ["id", "val", "added"]
    table.commit_table("t", cur.snapshot_id, evolved)

    def attempt():
        live = table.load_table("t")
        new = c.commit_manager.rewrite_files(live, results)
        return table.commit_table("t", live.snapshot_id, new)

    final = c.commit_manager.commit_with_retry(attempt)
    assert final.schema_id == evolved.schema_id  # adopted the evolution
    got = _rows(spark, table)
    assert len(got) == 10 and got[3] == "v3"  # rows intact


def test_upsert_random_sequences_match_dict_model(spark, tmp_path):
    """Model-based check: random upsert/delete batch sequences must
    leave the table equal to a plain last-write-wins dict; a compaction
    dropped in mid-sequence must be invisible to the final state."""
    import random

    from iceberg_compaction_spark.compaction import Compaction
    from iceberg_compaction_spark.config import CompactionConfig

    rng = random.Random(7)
    root = str(tmp_path / "mtbl")
    os.makedirs(root)
    base = {i: f"v{i}" for i in range(8)}
    pq.write_table(
        pa.table(
            {
                "id": pa.array(sorted(base), type=pa.int64()),
                "val": [base[i] for i in sorted(base)],
            }
        ),
        os.path.join(root, "base.parquet"),
    )
    cat = FileCatalog(warehouse=str(tmp_path / "mwh"))
    cat.create_table("m", Manifest.from_parquet_dir(root, sequence_number=1))
    model = dict(base)

    compact_at = rng.randrange(1, 5)
    for step in range(5):
        keys = rng.sample(range(14), rng.randint(1, 4))
        batch = [
            (k, f"s{step}-k{k}", "D" if rng.random() < 0.3 else "U")
            for k in keys
        ]
        for k, v, op in batch:
            if op == "D":
                model.pop(k, None)
            else:
                model[k] = v
        # deletes of absent keys are legal no-ops in both systems
        upsert(
            spark,
            cat,
            "m",
            spark.createDataFrame(batch, ["id", "val", "op"]),
            keys=["id"],
            op_col="op",
        )
        if step == compact_at:
            Compaction(
                spark=spark, config=CompactionConfig.full()
            ).compact_catalog(cat, "m")

    got = {
        r["id"]: r["val"]
        for r in read_table_mor(spark, cat.load_table("m")).collect()
    }
    assert got == model


# ---- predicate DELETE (delete_where) ---------------------------------------


def test_delete_where_v2_writes_position_deletes(spark, table):
    from iceberg_compaction_spark.plans.datamodel import POSITION_DELETE
    from iceberg_compaction_spark.sources.ingest import delete_where

    m = delete_where(spark, table, "t", "id % 3 = 0")
    assert m.snapshot_id == 2 and m.operation == "delete"
    dels = {d.path for t in m.data_files for d in t.deletes}
    assert len(dels) == 1
    d = next(d for t in m.data_files for d in t.deletes)
    assert d.content == POSITION_DELETE and d.path.endswith("-pos.parquet")
    assert d.record_count == 4  # ids 0,3,6,9
    got = _rows(spark, table)
    assert sorted(got) == [1, 2, 4, 5, 7, 8]


def test_delete_where_no_match_no_commit(spark, table):
    from iceberg_compaction_spark.sources.ingest import delete_where

    m = delete_where(spark, table, "t", "id > 1000")
    assert m.snapshot_id == 1  # unchanged head, no new snapshot
    assert table.load_table("t").snapshot_id == 1


def test_delete_where_v3_writes_puffin_dv(spark, table):
    from iceberg_compaction_spark.sources.ingest import delete_where
    from iceberg_compaction_spark.sources.puffin import read_puffin_dvs

    cur = table.load_table("t")
    m2 = Manifest.from_dict(cur.to_dict())
    m2.snapshot_id = 2
    m2.format_version = 3
    m2.operation = "replace"
    table.commit_table("t", 1, m2)

    m = delete_where(spark, table, "t", "id IN (2, 7)")
    d = next(d for t in m.data_files for d in t.deletes)
    assert d.path.endswith(".puffin")
    dvs = read_puffin_dvs(d.path)
    assert sum(len(v) for v in dvs.values()) == 2
    got = _rows(spark, table)
    assert sorted(got) == [0, 1, 3, 4, 5, 6, 8, 9]


def test_delete_where_composes_with_upsert_and_compaction(spark, table):
    from iceberg_compaction_spark.sources.ingest import delete_where

    upsert(
        spark, table, "t",
        spark.createDataFrame([(3, "v3-new"), (42, "v42")], ["id", "val"]),
        keys=["id"],
    )
    delete_where(spark, table, "t", "val LIKE 'v4%'")  # kills 4 and 42
    got = _rows(spark, table)
    assert 4 not in got and 42 not in got and got[3] == "v3-new"
    new_m, stats = Compaction(spark, CompactionConfig.small_files()).compact(
        table.load_table("t")
    )
    assert stats.output_files_count >= 1
    materialized = {
        r["id"]: r["val"]
        for r in read_table_mor(spark, new_m).collect()
    }
    assert materialized == got


def test_upsert_preserves_table_metadata(spark, table):
    """Round-8 fix: the upsert commit used to rebuild the manifest
    field-by-field and silently drop partition spec, declared sort
    order and last-column-id."""
    cur = table.load_table("t")
    m2 = Manifest.from_dict(cur.to_dict())
    m2.snapshot_id = 2
    m2.operation = "replace"
    m2.sort_order = [{"source": "id", "direction": "asc"}]
    m2.last_column_id = 7
    m2.partition_spec = [
        {"source": "id", "transform": "identity", "name": "id"}
    ]
    m2.default_spec_id = 1
    table.commit_table("t", 1, m2)

    m = upsert(
        spark, table, "t",
        spark.createDataFrame([(1, "x")], ["id", "val"]), keys=["id"],
    )
    assert m.sort_order == [{"source": "id", "direction": "asc"}]
    assert m.last_column_id == 7
    assert m.default_spec_id == 1 and m.partition_spec


def test_v2_to_v3_upgrade_migrates_delete_representation(spark, table):
    """The full format-migration story: predicate deletes on a v2 table
    leave (path,pos) parquet trails; upgrade_format_version flips the
    metadata; the next maintenance pass folds the trails into ONE
    puffin deletion vector — with the visible rows invariant at every
    step."""
    from iceberg_compaction_spark.compaction import upgrade_format_version
    from iceberg_compaction_spark.plans.datamodel import POSITION_DELETE
    from iceberg_compaction_spark.service import MaintenancePolicy, maintain
    from iceberg_compaction_spark.sources.ingest import delete_where
    from iceberg_compaction_spark.sources.puffin import is_puffin_file

    delete_where(spark, table, "t", "id = 1")
    delete_where(spark, table, "t", "id = 8")
    expected = _rows(spark, table)
    assert sorted(expected) == [0, 2, 3, 4, 5, 6, 7, 9]

    with pytest.raises(ValueError, match="downgrade"):
        upgrade_format_version(table, "t", 1)
    m = upgrade_format_version(table, "t", 3)
    assert m.format_version == 3 and m.operation == "replace"
    assert upgrade_format_version(table, "t", 3).snapshot_id == m.snapshot_id
    assert _rows(spark, table) == expected  # trails still readable on v3

    rep = maintain(
        spark, table, "t",
        MaintenancePolicy(upgrade_to_version=3, orphan_older_than_s=0),
    )
    assert rep.delete_rewrite.input_delete_files == 2
    final = table.load_table("t")
    pos = [
        d
        for t in final.data_files
        for d in t.deletes
        if d.content == POSITION_DELETE
    ]
    assert pos and all(is_puffin_file(d.path) for d in pos)
    assert _rows(spark, table) == expected


def test_maintain_upgrades_in_one_pass(spark, table):
    """MaintenancePolicy(upgrade_to_version=3) on a v2 table with
    trails: upgrade + representation migration in a single pass."""
    from iceberg_compaction_spark.plans.datamodel import POSITION_DELETE
    from iceberg_compaction_spark.service import MaintenancePolicy, maintain
    from iceberg_compaction_spark.sources.ingest import delete_where
    from iceberg_compaction_spark.sources.puffin import is_puffin_file

    delete_where(spark, table, "t", "id >= 8")
    expected = _rows(spark, table)
    maintain(
        spark, table, "t",
        MaintenancePolicy(upgrade_to_version=3, orphan_older_than_s=0),
    )
    final = table.load_table("t")
    assert final.format_version == 3
    parquet_pos = [
        d
        for t in final.data_files
        for d in t.deletes
        if d.content == POSITION_DELETE and not is_puffin_file(d.path)
    ]
    assert not parquet_pos
    assert _rows(spark, table) == expected


def test_dml_over_real_iceberg_metadata(spark, tmp_path):
    """upsert + delete_where against the Hadoop-layout catalog: every
    commit is genuine Iceberg metadata (v<N>.metadata.json + Avro
    manifests), and the DML artifacts round-trip through
    load_iceberg_table — the spec-wire-format DML story."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.sources.iceberg_meta import (
        IcebergHadoopCatalog,
    )
    from iceberg_compaction_spark.sources.ingest import delete_where

    root = str(tmp_path / "htbl")
    os.makedirs(root)
    pq.write_table(
        pa.table({
            "id": pa.array(range(10), type=pa.int64()),
            "val": [f"v{i}" for i in range(10)],
        }),
        os.path.join(root, "base.parquet"),
    )
    cat = IcebergHadoopCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("h", Manifest.from_parquet_dir(root, sequence_number=1))

    m2 = upsert(
        spark, cat, "h",
        spark.createDataFrame([(3, "new3"), (77, "v77")], ["id", "val"]),
        keys=["id"],
    )
    assert m2.snapshot_id == 2
    m3 = delete_where(spark, cat, "h", "id IN (0, 77)")
    assert m3.snapshot_id == 3

    # reload purely from the wire format and MOR-read
    fresh = cat.load_table("h")
    got = {
        r["id"]: r["val"]
        for r in read_table_mor(spark, fresh).collect()
    }
    assert got[3] == "new3" and 0 not in got and 77 not in got
    assert len(got) == 9
    assert cat.table_history("h") == [1, 2, 3]


# --- round 9: predicate UPDATE and MERGE ------------------------------------


def test_update_where_v2(spark, table):
    """UPDATE ... WHERE in MOR mode: one snapshot = position delete over
    matched rows + a new data file with the SET expressions applied."""
    from iceberg_compaction_spark.plans.datamodel import POSITION_DELETE
    from iceberg_compaction_spark.sources.ingest import update_where

    m = update_where(
        spark, table, "t", "id % 3 = 0", {"val": "upper(val)"}
    )
    assert m.snapshot_id == 2 and m.operation == "overwrite"
    got = _rows(spark, table)
    assert len(got) == 10
    assert got[0] == "V0" and got[3] == "V3" and got[9] == "V9"
    assert got[1] == "v1"  # untouched
    dels = [d for t in m.data_files for d in t.deletes]
    assert all(d.content == POSITION_DELETE for d in dels)
    # exactly one new data file at the new sequence, delete-free
    new_files = [t for t in m.data_files if t.sequence_number == 2]
    assert len(new_files) == 1 and not new_files[0].deletes
    assert new_files[0].record_count == 4


def test_update_where_no_match_no_commit(spark, table):
    from iceberg_compaction_spark.sources.ingest import update_where

    m = update_where(spark, table, "t", "id > 1000", {"val": "'x'"})
    assert m.snapshot_id == 1
    assert table.load_table("t").snapshot_id == 1


def test_update_where_rejects_unknown_column(spark, table):
    from iceberg_compaction_spark.sources.ingest import update_where

    with pytest.raises(ValueError, match="unknown columns"):
        update_where(spark, table, "t", "id = 1", {"nope": "'x'"})


def test_update_where_v3_emits_dv_and_composes_with_compaction(spark, table):
    from iceberg_compaction_spark.sources.ingest import update_where
    from iceberg_compaction_spark.sources.puffin import is_puffin_file

    cur = table.load_table("t")
    m2 = Manifest.from_dict(cur.to_dict())
    m2.snapshot_id = 2
    m2.format_version = 3
    m2.operation = "replace"
    table.commit_table("t", 1, m2)

    m = update_where(spark, table, "t", "id IN (2, 7)", {"val": "'yes'"})
    dels = [d for t in m.data_files for d in t.deletes]
    assert dels and all(is_puffin_file(d.path) for d in dels)
    got = _rows(spark, table)
    assert got[2] == "yes" and got[7] == "yes" and got[5] == "v5"

    final, _ = Compaction(spark, CompactionConfig.full()).compact_catalog(
        table, "t"
    )
    assert all(not t.deletes for t in final.data_files)
    materialized = {
        r["id"]: r["val"] for r in read_table_mor(spark, final).collect()
    }
    assert materialized == got


def test_update_where_serializes_against_racing_update(spark, table):
    """Two updates on overlapping predicates: the loser's CAS retry
    re-scans the fresh head, so both SETs land (the second sees the
    first's rows)."""
    from iceberg_compaction_spark.sources.ingest import update_where

    update_where(spark, table, "t", "id < 5", {"val": "concat(val, '-a')"})
    update_where(spark, table, "t", "id < 3", {"val": "concat(val, '-b')"})
    got = _rows(spark, table)
    assert got[1] == "v1-a-b" and got[4] == "v4-a" and got[6] == "v6"


def test_merge_into_update_and_insert(spark, table):
    from iceberg_compaction_spark.sources.ingest import merge_into

    src = spark.createDataFrame(
        [(2, "merged2"), (8, "merged8"), (55, "v55")], ["id", "val"]
    )
    m = merge_into(spark, table, "t", src, keys=["id"])
    assert m.operation == "overwrite"
    got = _rows(spark, table)
    assert got[2] == "merged2" and got[8] == "merged8" and got[55] == "v55"
    assert got[4] == "v4"
    assert len(got) == 11


def test_merge_into_matched_delete(spark, table):
    from iceberg_compaction_spark.sources.ingest import merge_into

    src = spark.createDataFrame([(1, "x"), (9, "x")], ["id", "val"])
    merge_into(
        spark, table, "t", src, keys=["id"],
        matched_action="delete", insert_unmatched=False,
    )
    got = _rows(spark, table)
    assert 1 not in got and 9 not in got and len(got) == 8


def test_merge_into_insert_only_no_matches(spark, table):
    from iceberg_compaction_spark.sources.ingest import merge_into

    src = spark.createDataFrame([(70, "v70")], ["id", "val"])
    m = merge_into(spark, table, "t", src, keys=["id"])
    got = _rows(spark, table)
    assert got[70] == "v70" and len(got) == 11
    # no positions matched: no delete files in the snapshot
    assert all(not t.deletes for t in m.data_files)


def test_merge_into_rejects_duplicate_source_keys(spark, table):
    from iceberg_compaction_spark.sources.ingest import merge_into

    src = spark.createDataFrame([(1, "a"), (1, "b")], ["id", "val"])
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into(spark, table, "t", src, keys=["id"])


def test_mixed_dml_random_sequences_match_dict_model(spark, tmp_path):
    """Model-based check over the FULL DML surface: random sequences of
    upsert / delete_where / update_where / merge_into must leave the
    table equal to a plain dict model, with a compaction dropped in
    mid-sequence invisible to the final state."""
    import random

    from iceberg_compaction_spark.sources.ingest import (
        delete_where,
        merge_into,
        update_where,
    )

    rng = random.Random(11)
    root = str(tmp_path / "xtbl")
    os.makedirs(root)
    base = {i: f"v{i}" for i in range(10)}
    pq.write_table(
        pa.table(
            {
                "id": pa.array(sorted(base), type=pa.int64()),
                "val": [base[i] for i in sorted(base)],
            }
        ),
        os.path.join(root, "base.parquet"),
    )
    cat = FileCatalog(warehouse=str(tmp_path / "xwh"))
    cat.create_table("x", Manifest.from_parquet_dir(root, sequence_number=1))
    model = dict(base)

    compact_at = rng.randrange(1, 7)
    for step in range(8):
        op = rng.choice(["upsert", "delete", "update", "merge"])
        if op == "upsert":
            keys = rng.sample(range(18), rng.randint(1, 3))
            batch = [(k, f"u{step}-{k}") for k in keys]
            for k, v in batch:
                model[k] = v
            upsert(
                spark, cat, "x",
                spark.createDataFrame(batch, "id long, val string"),
                keys=["id"],
            )
        elif op == "delete":
            mod = rng.randint(3, 6)
            rem = rng.randrange(mod)
            for k in [k for k in model if k % mod == rem]:
                del model[k]
            delete_where(spark, cat, "x", f"id % {mod} = {rem}")
        elif op == "update":
            mod = rng.randint(3, 6)
            rem = rng.randrange(mod)
            for k in list(model):
                if k % mod == rem:
                    model[k] = model[k] + f"+s{step}"
            update_where(
                spark, cat, "x",
                f"id % {mod} = {rem}",
                {"val": f"concat(val, '+s{step}')"},
            )
        else:
            keys = rng.sample(range(18), rng.randint(1, 3))
            batch = [(k, f"m{step}-{k}") for k in keys]
            for k, v in batch:
                model[k] = v
            merge_into(
                spark, cat, "x",
                spark.createDataFrame(batch, "id long, val string"),
                keys=["id"],
            )
        if step == compact_at:
            Compaction(
                spark=spark, config=CompactionConfig.full()
            ).compact_catalog(cat, "x")

    got = {
        r["id"]: r["val"]
        for r in read_table_mor(spark, cat.load_table("x")).collect()
    }
    assert got == model


def test_update_and_merge_over_real_iceberg_metadata(spark, tmp_path):
    """update_where + merge_into against the Hadoop-layout catalog:
    the UPDATE/MERGE artifacts (position delete + data file in one
    snapshot) round-trip through genuine v<N>.metadata.json + Avro
    manifests and re-load via the spec wire format."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.sources.iceberg_meta import (
        IcebergHadoopCatalog,
    )
    from iceberg_compaction_spark.sources.ingest import (
        merge_into,
        update_where,
    )

    root = str(tmp_path / "htbl")
    os.makedirs(root)
    pq.write_table(
        pa.table({
            "id": pa.array(range(10), type=pa.int64()),
            "val": [f"v{i}" for i in range(10)],
        }),
        os.path.join(root, "base.parquet"),
    )
    cat = IcebergHadoopCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("h", Manifest.from_parquet_dir(root, sequence_number=1))

    m2 = update_where(spark, cat, "h", "id < 3", {"val": "upper(val)"})
    assert m2.snapshot_id == 2
    m3 = merge_into(
        spark, cat, "h",
        spark.createDataFrame([(5, "merged5"), (50, "v50")], ["id", "val"]),
        keys=["id"],
    )
    assert m3.snapshot_id == 3

    fresh = cat.load_table("h")  # purely from the wire format
    got = {
        r["id"]: r["val"]
        for r in read_table_mor(spark, fresh).collect()
    }
    assert got[0] == "V0" and got[2] == "V2" and got[3] == "v3"
    assert got[5] == "merged5" and got[50] == "v50"
    assert len(got) == 11
    assert cat.table_history("h") == [1, 2, 3]


def test_merge_into_update_expressions(spark, table):
    """General SET form: expressions over t (target) and s (source)."""
    from iceberg_compaction_spark.sources.ingest import merge_into

    src = spark.createDataFrame([(2, "suffix"), (8, "tail")], ["id", "val"])
    merge_into(
        spark, table, "t", src, keys=["id"],
        update_exprs={"val": "concat(t.val, '-', s.val)"},
        insert_unmatched=False,
    )
    got = _rows(spark, table)
    assert got[2] == "v2-suffix" and got[8] == "v8-tail"
    assert got[5] == "v5" and len(got) == 10


def test_merge_into_delete_unmatched_target(spark, table):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE: a full-sync MERGE leaves
    exactly the source's key set."""
    from iceberg_compaction_spark.sources.ingest import merge_into

    src = spark.createDataFrame(
        [(1, "one"), (4, "four"), (77, "new")], ["id", "val"]
    )
    merge_into(
        spark, table, "t", src, keys=["id"],
        delete_unmatched_target=True,
    )
    got = _rows(spark, table)
    assert got == {1: "one", 4: "four", 77: "new"}


def test_update_where_fans_out_under_partition_spec(spark, tmp_path):
    """A partitioned table's UPDATE writes its new rows through the
    transform-aware fan-out: the updated-row files carry partition
    tuples under the current spec (Iceberg's partitioned-write
    contract), not a spec-less blob."""
    from iceberg_compaction_spark.functions.transforms import (
        transform_value,
    )
    from iceberg_compaction_spark.sources.ingest import update_where

    root = str(tmp_path / "ptbl")
    os.makedirs(root)
    pq.write_table(
        pa.table({
            "id": pa.array(range(40), type=pa.int64()),
            "grp": pa.array([i % 4 for i in range(40)], type=pa.int64()),
            "val": [f"v{i}" for i in range(40)],
        }),
        os.path.join(root, "base.parquet"),
    )
    cat = FileCatalog(warehouse=str(tmp_path / "pwh"))
    m = Manifest.from_parquet_dir(root, sequence_number=1)
    m.partition_spec = [
        {"source": "grp", "transform": "identity", "name": "grp"}
    ]
    m.default_spec_id = 1
    cat.create_table("p", m)

    new = update_where(spark, cat, "p", "id % 2 = 0", {"val": "'upd'"})
    added = [t for t in new.data_files if t.sequence_number == 2]
    assert added and all(t.spec_id == 1 for t in added)
    assert all(len(t.partition) == 1 for t in added)
    # rows landed in the right partitions
    for t in added:
        for r in spark.read.parquet(t.data_file_path).collect():
            assert str(transform_value("identity", r["grp"])) == str(
                t.partition[0]
            )
    got = {r["id"]: r["val"] for r in read_table_mor(spark, new).collect()}
    assert got[0] == "upd" and got[1] == "v1" and len(got) == 40


def test_update_where_racing_compaction_retries_on_fresh_positions(
    spark, table, monkeypatch
):
    """An UPDATE whose CAS loses to a concurrent compaction must re-run
    its WHOLE attempt against the fresh head: positions computed on the
    pre-compaction files are invalid for the rewritten ones, so a blind
    re-commit would delete the wrong rows.  Orchestrated by injecting a
    compaction between the update's scan and its commit."""
    from iceberg_compaction_spark.compaction import Compaction
    from iceberg_compaction_spark.config import CompactionConfig
    from iceberg_compaction_spark.sources import ingest as ing

    fired = {"n": 0}
    real_commit = type(table).commit_table

    def racing_commit(self, name, expected, new_manifest, to_branch=None):
        if fired["n"] == 0:
            fired["n"] = 1
            # compaction sneaks in and wins the CAS (rewrites all files)
            Compaction(
                spark=spark, config=CompactionConfig.full()
            ).compact_catalog(table, "t")
        return real_commit(
            self, name, expected, new_manifest, to_branch=to_branch
        )

    monkeypatch.setattr(type(table), "commit_table", racing_commit)
    ing.update_where(spark, table, "t", "id % 3 = 0", {"val": "upper(val)"})
    got = _rows(spark, table)
    assert got[0] == "V0" and got[9] == "V9" and got[1] == "v1"
    assert len(got) == 10
    # the loser's first attempt really happened (retry path exercised)
    assert fired["n"] == 1


def test_update_where_applies_declared_sort_order(spark, tmp_path):
    """New data files from a partitioned UPDATE honor the table's
    DECLARED sort order (Iceberg writers sort on write)."""
    from iceberg_compaction_spark.sources.ingest import update_where

    root = str(tmp_path / "stbl")
    os.makedirs(root)
    ids = [9, 3, 7, 1, 5, 0, 8, 2, 6, 4] * 4
    pq.write_table(
        pa.table({
            "id": pa.array(ids, type=pa.int64()),
            "grp": pa.array([i % 2 for i in range(40)], type=pa.int64()),
            "val": [f"v{i}" for i in range(40)],
        }),
        os.path.join(root, "base.parquet"),
    )
    cat = FileCatalog(warehouse=str(tmp_path / "swh"))
    m = Manifest.from_parquet_dir(root, sequence_number=1)
    m.partition_spec = [
        {"source": "grp", "transform": "identity", "name": "grp"}
    ]
    m.default_spec_id = 1
    m.sort_order = [
        {"source": "id", "direction": "asc", "null-order": "nulls-last"}
    ]
    cat.create_table("s", m)

    new = update_where(spark, cat, "s", "val LIKE 'v%'", {"val": "'u'"})
    added = [t for t in new.data_files if t.sequence_number == 2]
    assert added
    for t in added:
        got = [r["id"] for r in spark.read.parquet(t.data_file_path).collect()]
        assert got == sorted(got), t.data_file_path


# --- round 10: partition-scoped equality-delete attachment --------------------
# VERDICT r9 #6: upsert attached its eq-delete to EVERY current file; at
# 10^5 files every scan paid the J2 eq-join against every commit's
# delete until compaction.  When the table is identity-partitioned on a
# key column, files in untouched partitions provably hold no matching
# row, so the attachment is scoped to the touched partitions.


def _partitioned_table(tmp_path, langs=("en", "fr", "de")):
    """One data file per identity partition value."""
    root = str(tmp_path / "ptbl")
    os.makedirs(root)
    for i, lang in enumerate(langs):
        pq.write_table(
            pa.table(
                {
                    "lang": [lang] * 5,
                    "id": pa.array(range(i * 5, i * 5 + 5), type=pa.int64()),
                    "val": [f"v{j}" for j in range(i * 5, i * 5 + 5)],
                }
            ),
            os.path.join(root, f"part-{lang}.parquet"),
        )
    m = Manifest.from_parquet_dir(root, sequence_number=1)
    m.partition_spec = [
        {"source": "lang", "transform": "identity", "name": "lang"}
    ]
    for t in m.data_files:
        lang = os.path.basename(t.data_file_path).split("-")[1].split(".")[0]
        t.partition = (lang,)
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("p", m)
    return cat


def test_upsert_eq_delete_scoped_to_touched_partitions(spark, tmp_path):
    """Attachment count == files in touched partitions; untouched files
    carry no delete; MOR result identical to the attach-all semantics."""
    cat = _partitioned_table(tmp_path)
    changes = spark.createDataFrame(
        [("en", 2, "v2-new"), ("en", 100, "v100")], ["lang", "id", "val"]
    )
    upsert(spark, cat, "p", changes, keys=["lang", "id"])
    m = cat.load_table("p")
    attached = {
        t.partition: len(t.deletes)
        for t in m.data_files
        if "upsert-" not in t.data_file_path
    }
    assert attached == {("en",): 1, ("fr",): 0, ("de",): 0}
    got = {
        r["id"]: r["val"]
        for r in read_table_mor(spark, m).collect()
    }
    assert got[2] == "v2-new" and got[100] == "v100"
    assert got[7] == "v7" and len(got) == 16


def test_upsert_partitioned_writes_one_file_per_touched_partition(
    spark, tmp_path
):
    """An upsert on a partitioned table writes its rows the way
    update_where does: one data file per touched partition, each with
    its partition tuple and footer column bounds (a single file holding
    two partitions under partition ``()`` can never be pruned)."""
    cat = _partitioned_table(tmp_path)
    changes = spark.createDataFrame(
        [("en", 2, "v2-new"), ("fr", 100, "v100"), ("fr", 6, "v6-new")],
        ["lang", "id", "val"],
    )
    m = upsert(spark, cat, "p", changes, keys=["lang", "id"])
    added = [t for t in m.data_files if t.sequence_number == 2]
    assert sorted(t.partition for t in added) == [("en",), ("fr",)]
    for t in added:
        assert t.column_bounds and "id" in t.column_bounds
        langs = {
            r["lang"] for r in spark.read.parquet(t.data_file_path).collect()
        }
        assert langs == {t.partition[0]}
    got = {r["id"]: r["val"] for r in read_table_mor(spark, m).collect()}
    assert got[2] == "v2-new" and got[6] == "v6-new" and got[100] == "v100"
    assert len(got) == 16


def test_upsert_eq_delete_counts_keys_and_holds_only_keys(spark, table):
    """The equality delete records one row per changed key (upserts and
    deletes alike) and its file holds only the key columns — the
    sequence lives in the manifest entry, not in the file."""
    from iceberg_compaction_spark.plans.datamodel import EQUALITY_DELETE

    changes = spark.createDataFrame(
        [(3, "x", "U"), (0, "y", "D"), (42, "z", "I")],
        ["id", "val", "op"],
    )
    m = upsert(spark, table, "t", changes, keys=["id"], op_col="op")
    eqs = {
        d.path: d
        for t in m.data_files
        for d in t.deletes
        if d.content == EQUALITY_DELETE
    }
    (d,) = eqs.values()
    assert d.record_count == 3
    assert d.sequence_number == m.sequence_number == 2
    assert pq.read_schema(d.path).names == ["id"]
    assert pq.read_metadata(d.path).num_rows == 3


def test_upsert_eq_delete_scope_plan_has_no_eq_join_on_untouched(
    spark, tmp_path
):
    """Plan gate: reading an untouched partition through the DataSource
    plans NO equality-delete content at all."""
    from iceberg_compaction_spark.sources.datasource import _BatchReader

    cat = _partitioned_table(tmp_path)
    upsert(
        spark,
        cat,
        "p",
        spark.createDataFrame([("en", 2, "x")], ["lang", "id", "val"]),
        keys=["lang", "id"],
    )
    reader = _BatchReader(
        {"warehouse": cat.warehouse, "table": "p"}
    )
    reader.pushFilters([])
    reader._predicates = (("lang", "eq", "fr"),)
    parts = reader.partitions()
    real = [p for p in parts if p.path]
    assert real and all(p.eq_deletes == () for p in real)


def test_upsert_eq_delete_attaches_everywhere_without_identity_key(
    spark, tmp_path
):
    """Conservative fallbacks: non-identity transform (bucket) or keys
    not covering a partition source -> attach to every file."""
    cat = _partitioned_table(tmp_path)
    # keys do NOT include the partition source: attach-all
    upsert(
        spark,
        cat,
        "p",
        spark.createDataFrame(
            [("en", 2, "x2")], ["lang", "id", "val"]
        ),
        keys=["id"],
    )
    m = cat.load_table("p")
    counts = {
        len(t.deletes)
        for t in m.data_files
        if "upsert-" not in t.data_file_path
    }
    assert counts == {1}


def test_upsert_scoped_attachment_mor_invariance_under_compaction(
    spark, tmp_path
):
    """Scoped attachment composes with compaction: rows identical
    before and after, and a second upsert against compaction-written
    files still scopes (dual-representation partition values)."""
    cat = _partitioned_table(tmp_path)
    upsert(
        spark, cat, "p",
        spark.createDataFrame([("fr", 6, "f6")], ["lang", "id", "val"]),
        keys=["lang", "id"],
    )
    before = {
        r["id"]: r["val"]
        for r in read_table_mor(spark, cat.load_table("p")).collect()
    }
    c = Compaction(spark, CompactionConfig.small_files())
    c.compact_catalog(cat, "p")
    after = {
        r["id"]: r["val"]
        for r in read_table_mor(spark, cat.load_table("p")).collect()
    }
    assert after == before
    # second upsert over the compaction-written (hive-string-partition)
    # files: still scoped, still correct
    upsert(
        spark, cat, "p",
        spark.createDataFrame([("de", 12, "d12")], ["lang", "id", "val"]),
        keys=["lang", "id"],
    )
    m = cat.load_table("p")
    for t in m.data_files:
        part = tuple(t.partition or ())
        if part and part[0] != "de" and "upsert-" not in t.data_file_path:
            assert t.deletes == [] or all(
                d.sequence_number <= 2 for d in t.deletes
            )
    got = {
        r["id"]: r["val"]
        for r in read_table_mor(spark, m).collect()
    }
    assert got[12] == "d12" and got[6] == "f6" and len(got) == 15


def test_upsert_duplicate_key_guard_single_job(spark, table):
    """VERDICT r9 nit: the duplicate-key guard must be ONE aggregation
    (count + distinct fused), and null-bearing keys must still group
    like distinct().count() did."""
    from iceberg_compaction_spark.sources.ingest import _assert_unique_keys

    df = spark.createDataFrame(
        [(None, "a"), (None, "b"), (1, "c")], ["id", "val"]
    )
    # two NULL keys are duplicates (distinct() groups nulls equal)
    with pytest.raises(ValueError, match="duplicate keys"):
        _assert_unique_keys(df, ["id"], "changes batch")
    ok = spark.createDataFrame([(None, "a"), (1, "c")], ["id", "val"])
    assert _assert_unique_keys(ok, ["id"], "changes batch") == 2


# --- round 10: conditional MERGE clauses --------------------------------------


def test_merge_conditional_clauses_first_match_wins(spark, table):
    """WHEN MATCHED AND <cond> THEN UPDATE/DELETE with multiple clauses:
    each matched row takes the FIRST clause whose condition holds; rows
    matched by no clause stay untouched."""
    from iceberg_compaction_spark.sources.ingest import merge_into

    src = spark.createDataFrame(
        [
            (1, "one-upd", "U"),   # clause 2 updates
            (2, "ignored", "D"),   # clause 1 deletes
            (3, "skip", "X"),      # no clause: untouched
            (50, "fifty", "U"),    # unmatched: inserted
        ],
        ["id", "val", "op"],
    )
    merge_into(
        spark,
        table,
        "t",
        src,
        keys=["id"],
        matched_clauses=[
            {"condition": "s.op = 'D'", "action": "delete"},
            {
                "condition": "s.op = 'U'",
                "action": "update",
                "update_cols": ["val"],
            },
        ],
        insert_unmatched=False,
    )
    got = _rows(spark, table)
    assert got[1] == "one-upd"
    assert 2 not in got
    assert got[3] == "v3"  # matched, no clause applied: untouched
    assert 50 not in got  # insert_unmatched off
    assert len(got) == 9


def test_merge_conditional_clause_order_matters(spark, table):
    """Two clauses whose conditions both hold: the FIRST one wins
    (swapping the order flips the outcome)."""
    from iceberg_compaction_spark.sources.ingest import merge_into

    src = spark.createDataFrame([(4, "x4")], ["id", "val"])
    merge_into(
        spark, table, "t", src, keys=["id"],
        matched_clauses=[
            {
                "condition": "t.id >= 0",
                "action": "update",
                "update_exprs": {"val": "concat('first-', s.val)"},
            },
            {"condition": "s.val = 'x4'", "action": "delete"},
        ],
        insert_unmatched=False,
    )
    assert _rows(spark, table)[4] == "first-x4"

    # swapped: the delete clause now shadows the update
    src2 = spark.createDataFrame([(5, "x5")], ["id", "val"])
    merge_into(
        spark, table, "t", src2, keys=["id"],
        matched_clauses=[
            {"condition": "s.val = 'x5'", "action": "delete"},
            {
                "condition": "t.id >= 0",
                "action": "update",
                "update_exprs": {"val": "concat('first-', s.val)"},
            },
        ],
        insert_unmatched=False,
    )
    got = _rows(spark, table)
    assert 5 not in got and got[4] == "first-x4"


def test_merge_conditional_mixed_updates_and_insert(spark, table):
    """Conditional updates compose with WHEN NOT MATCHED INSERT and
    per-clause expressions referencing both aliases."""
    from iceberg_compaction_spark.sources.ingest import merge_into

    src = spark.createDataFrame(
        [(6, "six"), (7, "seven"), (300, "v300")], ["id", "val"]
    )
    merge_into(
        spark, table, "t", src, keys=["id"],
        matched_clauses=[
            {
                "condition": "t.id % 2 = 0",
                "action": "update",
                "update_exprs": {"val": "concat(t.val, '+', s.val)"},
            },
            {
                "condition": None,
                "action": "update",
                "update_cols": ["val"],
            },
        ],
    )
    got = _rows(spark, table)
    assert got[6] == "v6+six"    # even: expression clause
    assert got[7] == "seven"     # odd: fallthrough plain update
    assert got[300] == "v300"    # inserted
    assert len(got) == 11


def test_merge_conditional_insert(spark, table):
    """WHEN NOT MATCHED AND <cond> THEN INSERT: unmatched source rows
    failing the predicate are not inserted; matched handling is
    unaffected."""
    from iceberg_compaction_spark.sources.ingest import merge_into

    src = spark.createDataFrame(
        [(1, "one-upd"), (60, "keep"), (61, "drop-me")], ["id", "val"]
    )
    merge_into(
        spark, table, "t", src, keys=["id"],
        insert_condition="val != 'drop-me'",
    )
    got = _rows(spark, table)
    assert got[1] == "one-upd"
    assert got[60] == "keep"
    assert 61 not in got
    assert len(got) == 11


def test_upsert_eq_delete_scoped_on_bucket_transform(spark, tmp_path):
    """Round 10: scoping extends beyond identity — a bucket[N] spec on
    a key column attaches the eq-delete only to the touched buckets
    (transform_value cells, dual native/string matching like the
    pruning tier)."""
    from iceberg_compaction_spark.functions.transforms import (
        transform_value,
    )

    root = str(tmp_path / "btbl")
    os.makedirs(root)
    # four files, one per bucket[4] cell of their ids
    by_bucket = {}
    for i in range(40):
        by_bucket.setdefault(transform_value("bucket[4]", i), []).append(i)
    for cell, ids in sorted(by_bucket.items()):
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, type=pa.int64()),
                    "val": [f"v{i}" for i in ids],
                }
            ),
            os.path.join(root, f"b{cell}.parquet"),
        )
    m = Manifest.from_parquet_dir(root, sequence_number=1)
    m.partition_spec = [
        {"source": "id", "transform": "bucket[4]", "name": "id_bucket"}
    ]
    for t in m.data_files:
        t.partition = (
            int(os.path.basename(t.data_file_path)[1:].split(".")[0]),
        )
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("b", m)

    target_id = 7
    cell = transform_value("bucket[4]", target_id)
    upsert(
        spark, cat, "b",
        spark.createDataFrame([(target_id, "seven-u")], ["id", "val"]),
        keys=["id"],
    )
    m2 = cat.load_table("b")
    attached = {
        t.partition[0]: len(t.deletes)
        for t in m2.data_files
        if "upsert-" not in t.data_file_path
    }
    assert attached[cell] == 1
    assert all(n == 0 for c, n in attached.items() if c != cell)
    got = {
        r["id"]: r["val"]
        for r in read_table_mor(spark, m2).collect()
    }
    assert got[target_id] == "seven-u" and len(got) == 40


def test_upsert_eq_delete_scope_intersects_multiple_spec_fields(
    spark, tmp_path
):
    """Round 11 (VERDICT r10 #6): when SEVERAL spec fields derive from
    upsert keys (lang identity x bucket[4](id)), intersecting the
    scopes multiplies the skip rate — attachment lands only on files
    matching the batch on EVERY keyed field, strictly fewer than either
    single-field scope; MOR semantics unchanged."""
    from iceberg_compaction_spark.functions.transforms import (
        transform_value,
    )

    langs = ("en", "fr")
    by_cell: dict = {}
    for i in range(40):
        b = transform_value("bucket[4]", i)
        by_cell.setdefault((langs[i % 2], b), []).append(i)
    root = str(tmp_path / "ptbl2")
    os.makedirs(root)
    for (lang, b), ids in sorted(by_cell.items()):
        pq.write_table(
            pa.table(
                {
                    "lang": [lang] * len(ids),
                    "id": pa.array(ids, type=pa.int64()),
                    "val": [f"v{j}" for j in ids],
                }
            ),
            os.path.join(root, f"part-{lang}-{b}.parquet"),
        )
    m = Manifest.from_parquet_dir(root, sequence_number=1)
    m.partition_spec = [
        {"source": "lang", "transform": "identity", "name": "lang"},
        {"source": "id", "transform": "bucket[4]", "name": "id_b"},
    ]
    for t in m.data_files:
        stem = os.path.basename(t.data_file_path).rsplit(".", 1)[0]
        _, lang, b = stem.split("-")
        t.partition = (lang, int(b))
    cat = FileCatalog(warehouse=str(tmp_path / "wh2"))
    cat.create_table("p2", m)

    # touch ONE (lang, bucket) cell: an 'en' id
    en_ids = [i for i in range(40) if langs[i % 2] == "en"]
    target = en_ids[0]
    tb = transform_value("bucket[4]", target)
    upsert(
        spark,
        cat,
        "p2",
        spark.createDataFrame(
            [("en", target, "patched")], ["lang", "id", "val"]
        ),
        keys=["lang", "id"],
    )
    cur = cat.load_table("p2")
    attached = {
        t.partition
        for t in cur.data_files
        if "upsert-" not in t.data_file_path and t.deletes
    }
    # intersection: only the exact (en, tb) cell carries the delete
    assert attached == {("en", tb)}
    n_lang_scope = sum(1 for c in by_cell if c[0] == "en")
    n_bucket_scope = sum(1 for c in by_cell if c[1] == tb)
    assert len(attached) < n_lang_scope and len(attached) < n_bucket_scope

    got = {
        r["id"]: r["val"] for r in read_table_mor(spark, cur).collect()
    }
    assert got[target] == "patched" and len(got) == 40
    untouched = next(i for i in range(40) if i != target)
    assert got[untouched] == f"v{untouched}"


def test_add_files_metadata_only_import(spark, tmp_path):
    """add_files (round 11; Iceberg's add_files procedure): existing
    parquet registered as an append snapshot — no data movement, stats
    from footers, guards on duplicates / schema mismatch / partitioned
    tables, branch staging supported."""
    from iceberg_compaction_spark.sources.ingest import add_files

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    pq.write_table(
        pa.table(
            {
                "id": pa.array(range(10), type=pa.int64()),
                "val": [f"v{i}" for i in range(10)],
            }
        ),
        os.path.join(root, "base.parquet"),
    )
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("t", Manifest.from_parquet_dir(root, sequence_number=1))

    extra = str(tmp_path / "extra")
    os.makedirs(extra)
    pq.write_table(
        pa.table(
            {
                "id": pa.array([100, 101], type=pa.int64()),
                "val": ["x100", "x101"],
            }
        ),
        os.path.join(extra, "imp.parquet"),
    )
    before_mtime = os.path.getmtime(os.path.join(extra, "imp.parquet"))
    m2 = add_files(cat, "t", extra)
    assert m2.operation == "append" and m2.snapshot_id == 2
    # data bytes never moved
    assert os.path.getmtime(
        os.path.join(extra, "imp.parquet")
    ) == before_mtime
    got = {r["id"]: r["val"] for r in read_table_mor(spark, m2).collect()}
    assert got[100] == "x100" and len(got) == 12
    # stats came from footers: the imported task prunes like any other
    imp = next(
        t for t in m2.data_files if "imp.parquet" in t.data_file_path
    )
    assert imp.record_count == 2 and imp.column_bounds

    # duplicate-path guard
    with pytest.raises(ValueError, match="already tracked"):
        add_files(cat, "t", extra)

    # schema-mismatch guard
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    pq.write_table(
        pa.table({"other": pa.array([1], type=pa.int64())}),
        os.path.join(bad, "b.parquet"),
    )
    with pytest.raises(ValueError, match="do not match table schema"):
        add_files(cat, "t", bad)

    # branch staging: import lands on the branch, main untouched
    cat.create_branch("t", "backfill")
    extra2 = str(tmp_path / "extra2")
    os.makedirs(extra2)
    pq.write_table(
        pa.table(
            {
                "id": pa.array([200], type=pa.int64()),
                "val": ["x200"],
            }
        ),
        os.path.join(extra2, "imp2.parquet"),
    )
    m3 = add_files(cat, "t", extra2, to_branch="backfill")
    assert 200 not in {
        r["id"]
        for r in read_table_mor(spark, cat.load_table("t")).collect()
    }
    assert 200 in {
        r["id"]
        for r in read_table_mor(
            spark, cat.load_table_ref("t", "backfill")
        ).collect()
    }
    assert m3.snapshot_id == cat.list_refs("t")["backfill"]["snapshot_id"]


def test_add_files_partitioned_hive_inference(spark, tmp_path):
    """add_files on a partitioned table infers partition tuples from
    hive-style '<field>=<value>' path segments (Iceberg's own add_files
    behavior); a file without the segment is rejected — tuples are
    never invented."""
    from iceberg_compaction_spark.sources.ingest import add_files

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2], type=pa.int64()),
                "lang": ["en", "en"],
            }
        ),
        os.path.join(root, "a.parquet"),
    )
    m = Manifest.from_parquet_dir(root, sequence_number=1)
    m.partition_spec = [
        {"source": "lang", "transform": "identity", "name": "lang"}
    ]
    for t in m.data_files:
        t.partition = ("en",)
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("p", m)

    src = str(tmp_path / "imp")
    os.makedirs(os.path.join(src, "lang=fr"))
    pq.write_table(
        pa.table(
            {
                "id": pa.array([10, 11], type=pa.int64()),
                "lang": ["fr", "fr"],
            }
        ),
        os.path.join(src, "lang=fr", "part-0.parquet"),
    )
    m2 = add_files(cat, "p", src)
    imp = next(
        t for t in m2.data_files if "lang=fr" in t.data_file_path
    )
    assert imp.partition == ("fr",)
    # the inferred tuple PRUNES like a written one: upsert keyed on
    # lang scopes its eq-delete away from the imported partition
    upsert(
        spark,
        cat,
        "p",
        spark.createDataFrame([("en", 1, None)],
                              "lang string, id long, extra string")
        .select("lang", "id"),
        keys=["lang", "id"],
    )
    cur = cat.load_table("p")
    fr = next(t for t in cur.data_files if "lang=fr" in t.data_file_path)
    assert fr.deletes == []  # untouched partition skipped the delete

    # a flat (no hive segment) file into a partitioned table: rejected
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    pq.write_table(
        pa.table(
            {"id": pa.array([3], type=pa.int64()), "lang": ["de"]}
        ),
        os.path.join(flat, "f.parquet"),
    )
    with pytest.raises(ValueError, match="hive-style"):
        add_files(cat, "p", flat)

    # ADVICE r11: an OUTER directory above src_dir that matches a spec
    # field name ('lang=zz' here) must NOT satisfy the guard or stamp a
    # tuple — only segments below src_dir count, so this flat file is
    # still rejected.
    outer = str(tmp_path / "lang=zz" / "stage")
    os.makedirs(outer)
    pq.write_table(
        pa.table(
            {"id": pa.array([4], type=pa.int64()), "lang": ["zz"]}
        ),
        os.path.join(outer, "f.parquet"),
    )
    with pytest.raises(ValueError, match="hive-style"):
        add_files(cat, "p", outer)


def test_add_files_checks_every_file_not_just_first(tmp_path):
    """Round-11 review: the schema guard runs per FILE — one mismatched
    parquet among good ones is rejected instead of importing silently
    and reading as nulls."""
    from iceberg_compaction_spark.sources.ingest import add_files

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1], type=pa.int64()),
                "val": ["a"],
            }
        ),
        os.path.join(root, "base.parquet"),
    )
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("t", Manifest.from_parquet_dir(root, sequence_number=1))
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(
        pa.table({"id": pa.array([2], type=pa.int64()), "val": ["b"]}),
        os.path.join(src, "a-good.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array([3], type=pa.int64()), "value": ["c"]}),
        os.path.join(src, "b-bad.parquet"),
    )
    with pytest.raises(ValueError, match="b-bad"):
        add_files(cat, "t", src)
    # nothing committed
    assert cat.load_table("t").snapshot_id == 1
