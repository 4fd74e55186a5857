"""Catalog-backed compaction: CAS commits through the FileCatalog seam,
mirroring the reference's catalog-driven integration flow
(integration-tests/src/integration_tests.rs:38-363: load table from
catalog, compact, re-run is a no-op fixed point)."""

import os
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_compaction_spark.commit import CommitConflict
from iceberg_compaction_spark.compaction import Compaction
from iceberg_compaction_spark.config import CompactionConfig
from iceberg_compaction_spark.sources.catalog import (
    FileCatalog,
    TableAlreadyExists,
    TableNotFound,
)
from iceberg_compaction_spark.sources.manifest import Manifest


@pytest.fixture()
def warehouse(tmp_path):
    return FileCatalog(warehouse=str(tmp_path / "warehouse"))


@pytest.fixture()
def fragmented(tmp_path):
    """8 small files of 16 rows each, no deletes."""
    root = str(tmp_path / "data")
    os.makedirs(root)
    n = 0
    for f in range(8):
        ids = list(range(n, n + 16))
        n += 16
        pq.write_table(
            pa.table({"id": pa.array(ids, type=pa.int64())}),
            os.path.join(root, f"part{f}.parquet"),
        )
    return Manifest.from_parquet_dir(root, sequence_number=1)


def test_create_load_roundtrip(warehouse, fragmented):
    warehouse.create_table("events", fragmented)
    assert warehouse.list_tables() == ["events"]
    assert warehouse.table_exists("events")
    loaded = warehouse.load_table("events")
    assert loaded.snapshot_id == 1
    assert loaded.paths() == fragmented.paths()
    with pytest.raises(TableAlreadyExists):
        warehouse.create_table("events", fragmented)
    with pytest.raises(TableNotFound):
        warehouse.load_table("nope")


def test_catalog_compaction_then_fixed_point(spark, warehouse, fragmented):
    warehouse.create_table("t", fragmented)
    c = Compaction(
        spark=spark, config=CompactionConfig.small_files(min_group_file_count=2)
    )

    m2, stats = c.compact_catalog(warehouse, "t")
    assert m2.snapshot_id == 2
    assert stats.input_files_count == 8
    assert stats.output_files_count == 1
    assert sum(t.record_count for t in m2.data_files) == 128
    # the commit is visible through a fresh load
    assert warehouse.load_table("t").snapshot_id == 2
    assert os.path.exists(warehouse._version_path("t", 2))

    # second run: nothing to do — a no-op FIXED POINT (the reference's
    # integration_tests.rs:311-319 re-run assertion)
    m3, stats2 = c.compact_catalog(warehouse, "t")
    assert m3.snapshot_id == 2
    assert stats2.input_files_count == 0
    assert warehouse.load_table("t").snapshot_id == 2


def test_cas_exactly_one_winner(warehouse, fragmented):
    warehouse.create_table("t", fragmented)
    base = warehouse.load_table("t")

    def make_next():
        m = Manifest.from_dict(base.to_dict())
        m.snapshot_id = base.snapshot_id + 1
        return m

    outcomes = [None, None]
    barrier = threading.Barrier(2)

    def run(i):
        try:
            barrier.wait()
            outcomes[i] = warehouse.commit_table("t", base.snapshot_id, make_next())
        except CommitConflict as e:
            outcomes[i] = e

    ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    wins = [o for o in outcomes if isinstance(o, Manifest)]
    losses = [o for o in outcomes if isinstance(o, CommitConflict)]
    assert len(wins) == 1 and len(losses) == 1, outcomes
    assert warehouse.load_table("t").snapshot_id == 2


def test_stale_or_missing_hint_recovers(warehouse, fragmented):
    warehouse.create_table("t", fragmented)
    nxt = Manifest.from_dict(fragmented.to_dict())
    nxt.snapshot_id = 2
    warehouse.commit_table("t", 1, nxt)

    # hint destroyed -> directory scan is authoritative
    os.unlink(warehouse._hint_path("t"))
    assert warehouse.load_table("t").snapshot_id == 2

    # hint stale (points at v1) -> scan finds v2
    with open(warehouse._hint_path("t"), "w") as f:
        f.write("1")
    assert warehouse.load_table("t").snapshot_id == 2

    # commit against a stale expected head conflicts
    nxt3 = Manifest.from_dict(fragmented.to_dict())
    nxt3.snapshot_id = 2
    with pytest.raises(CommitConflict):
        warehouse.commit_table("t", 1, nxt3)


def test_time_travel_reads_precompaction_snapshot(spark, warehouse, fragmented):
    """Snapshot reads: after a compaction commit, loading the previous
    snapshot still lists the ORIGINAL 8 files with identical rows —
    Iceberg's time-travel contract (superseded snapshots stay readable
    until expiration)."""
    from iceberg_compaction_spark.compaction import Compaction
    from iceberg_compaction_spark.config import CompactionConfig

    warehouse.create_table("t", fragmented)
    c = Compaction(
        spark=spark, config=CompactionConfig.small_files(min_group_file_count=2)
    )
    m2, _ = c.compact_catalog(warehouse, "t")
    assert warehouse.table_history("t") == [1, 2]

    old = warehouse.load_table_at("t", 1)
    assert len(old.data_files) == 8
    assert sorted(old.paths()) == sorted(fragmented.paths())
    new = warehouse.load_table_at("t", 2)
    assert sorted(new.paths()) == sorted(m2.paths())
    # same visible rows at both snapshots
    rows_old = spark.read.parquet(*old.paths()).count()
    rows_new = spark.read.parquet(*new.paths()).count()
    assert rows_old == rows_new == 128

    with pytest.raises(TableNotFound):
        warehouse.load_table_at("t", 99)
    with pytest.raises(TableNotFound):
        warehouse.table_history("nope")


def test_expire_then_orphan_cleanup_full_lifecycle(spark, warehouse, fragmented):
    """Maintenance lifecycle: compact -> expire old snapshot -> orphan
    cleanup removes exactly the superseded data files; the live
    snapshot's files and rows are untouched; expired time travel raises."""
    from iceberg_compaction_spark.compaction import Compaction
    from iceberg_compaction_spark.config import CompactionConfig

    warehouse.create_table("t", fragmented)
    c = Compaction(
        spark=spark, config=CompactionConfig.small_files(min_group_file_count=2)
    )
    m2, _ = c.compact_catalog(warehouse, "t")

    # with full history retained, nothing is an orphan
    assert warehouse.remove_orphan_files("t", older_than_s=0) == []
    for p in fragmented.paths():
        assert os.path.exists(p)

    expired = warehouse.expire_snapshots("t", keep_last=1)
    assert expired == [1]
    assert warehouse.table_history("t") == [2]
    with pytest.raises(TableNotFound):
        warehouse.load_table_at("t", 1)

    # default grace window (Iceberg's 3-day olderThan): the superseded
    # files were written seconds ago, so they are NOT yet deletable —
    # exactly the guard that keeps in-flight writers' staged files safe
    assert warehouse.remove_orphan_files("t") == []
    for p in fragmented.paths():
        assert os.path.exists(p)

    removed = warehouse.remove_orphan_files("t", older_than_s=0)
    assert sorted(removed) == sorted(fragmented.paths())
    for p in fragmented.paths():
        assert not os.path.exists(p)
    # live snapshot intact, rows preserved
    live = warehouse.load_table("t")
    assert all(os.path.exists(p) for p in live.paths())
    assert spark.read.parquet(*live.paths()).count() == 128
    # head can never be expired
    assert warehouse.expire_snapshots("t", keep_last=1) == []


@pytest.fixture()
def six_files(tmp_path):
    root = str(tmp_path / "data6")
    os.makedirs(root)
    n = 0
    for f in range(6):
        ids = list(range(n, n + 10))
        n += 10
        pq.write_table(
            pa.table({"id": pa.array(ids, type=pa.int64())}),
            os.path.join(root, f"part{f}.parquet"),
        )
    return Manifest.from_parquet_dir(root, sequence_number=1)


def _partial_cfg():
    from iceberg_compaction_spark.config import CompactionConfig

    # bin-pack ~620-byte files into ~2-file groups -> 3 groups of 6 files
    return CompactionConfig.small_files(
        min_group_file_count=1, target_group_size_bytes=1400
    )


def test_partial_progress_commits_per_batch(spark, warehouse, six_files):
    from iceberg_compaction_spark.compaction import Compaction

    warehouse.create_table("t", six_files)
    c = Compaction(spark=spark, config=_partial_cfg())
    n_groups = len(c.plan(six_files))
    assert n_groups >= 2  # the premise: multiple groups

    final, stats = c.compact_catalog(warehouse, "t", groups_per_commit=1)
    # one snapshot per committed batch on top of v1
    history = warehouse.table_history("t")
    assert len(history) == 1 + n_groups
    # every batch commit goes through the one catalog commit: counted
    # AND timed
    assert c.metrics.commit_counter.value == n_groups
    assert c.metrics.commit_duration.n == n_groups
    assert c.metrics.commit_failed_counter.value == 0
    assert final.snapshot_id == history[-1]
    assert stats.input_files_count == 6
    live = warehouse.load_table("t")
    assert spark.read.parquet(*live.paths()).count() == 60


def test_partial_progress_failure_keeps_completed_batches(
    spark, warehouse, six_files, monkeypatch
):
    from iceberg_compaction_spark.compaction import Compaction

    warehouse.create_table("t", six_files)
    c = Compaction(spark=spark, config=_partial_cfg())
    n_groups = len(c.plan(six_files))
    assert n_groups >= 2

    real_rewrite = Compaction.rewrite
    calls = {"n": 0}

    def flaky(self, plan, out_dir=None):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected: executor lost")
        return real_rewrite(self, plan, out_dir)

    monkeypatch.setattr(Compaction, "rewrite", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        c.compact_catalog(warehouse, "t", groups_per_commit=1)

    # batch 1 committed and durable; everything still consistent
    assert warehouse.table_history("t") == [1, 2]
    live = warehouse.load_table("t")
    assert spark.read.parquet(*live.paths()).count() == 60
    assert c.metrics.commit_counter.value == 1

    # a failing batch COMMIT is recorded as a failed commit
    monkeypatch.setattr(Compaction, "rewrite", real_rewrite)
    real_commit = warehouse.commit_table

    def catalog_down(*args, **kwargs):
        raise RuntimeError("injected: catalog down")

    monkeypatch.setattr(warehouse, "commit_table", catalog_down)
    with pytest.raises(RuntimeError, match="catalog down"):
        c.compact_catalog(warehouse, "t", groups_per_commit=1)
    assert c.metrics.commit_failed_counter.value == 1
    assert warehouse.table_history("t") == [1, 2]

    # recovery: a fresh run finishes the remaining groups
    monkeypatch.setattr(warehouse, "commit_table", real_commit)
    final, _ = c.compact_catalog(warehouse, "t", groups_per_commit=1)
    assert spark.read.parquet(*final.paths()).count() == 60
    assert len(final.data_files) < 6


def test_rollback_commits_new_snapshot_with_old_state(spark, tmp_path):
    """rollback_table: current state equals the target snapshot again,
    history stays append-only, and DML continues on top."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.sources.catalog import (
        FileCatalog,
        rollback_table,
    )
    from iceberg_compaction_spark.sources.ingest import (
        delete_where,
        read_table_mor,
        upsert,
    )
    from iceberg_compaction_spark.sources.manifest import Manifest

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    pq.write_table(
        pa.table({
            "id": pa.array(range(10), type=pa.int64()),
            "val": [f"v{i}" for i in range(10)],
        }),
        os.path.join(root, "base.parquet"),
    )
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("t", Manifest.from_parquet_dir(root, sequence_number=1))

    upsert(
        spark, cat, "t",
        spark.createDataFrame([(3, "bad3")], ["id", "val"]), keys=["id"],
    )
    delete_where(spark, cat, "t", "id >= 8")
    assert cat.load_table("t").snapshot_id == 3

    m = rollback_table(cat, "t", 1)
    assert m.snapshot_id == 4  # append-only history
    got = {
        r["id"]: r["val"]
        for r in read_table_mor(spark, cat.load_table("t")).collect()
    }
    assert got == {i: f"v{i}" for i in range(10)}  # original state
    # the rolled-back-over commits remain time-travelable
    assert cat.table_history("t") == [1, 2, 3, 4]
    v3 = cat.load_table_at("t", 3)
    ids3 = {r["id"] for r in read_table_mor(spark, v3).collect()}
    assert 8 not in ids3 and v3.snapshot_id == 3

    # DML continues on top of the rollback: the new delete's sequence is
    # strictly above every rolled-back file's
    delete_where(spark, cat, "t", "id = 0")
    got = {
        r["id"] for r in read_table_mor(spark, cat.load_table("t")).collect()
    }
    assert got == set(range(1, 10))

    # rollback to the current head is a no-op (no empty commit)
    assert rollback_table(cat, "t", 5).snapshot_id == 5
    assert cat.load_table("t").snapshot_id == 5


def test_version_stamp_cache_revalidates_by_mtime(tmp_path):
    """Round-11 review: the lineage-stamp memo must not survive a path
    being re-created with different content (a cross-process lost-CAS
    retry) — every hit re-validates the file's mtime."""
    import json
    import os

    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.manifest import Manifest
    from iceberg_compaction_spark.plans.datamodel import FileScanTask

    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table(
        "t",
        Manifest(
            table_root=str(tmp_path),
            snapshot_id=1,
            sequence_number=1,
            data_files=[
                FileScanTask(
                    data_file_path=str(tmp_path / "a.parquet"),
                    length=1,
                    record_count=1,
                    sequence_number=1,
                )
            ],
        ),
    )
    m2 = Manifest.from_dict(cat.load_table("t").to_dict())
    m2.snapshot_id = 2
    cat.commit_table("t", 1, m2)
    assert cat.snapshot_parents("t")[2] == 1  # cached now

    # simulate another PROCESS re-creating v2 with different lineage
    # (no in-process invalidation hook runs)
    vpath = cat._version_path("t", 2)
    raw = json.loads(open(vpath).read())
    raw["parent-snapshot-id"] = None
    os.remove(vpath)
    with open(vpath, "w") as f:
        json.dump(raw, f)
    os.utime(vpath, (1234567890, 1234567890))  # definitely new mtime
    assert cat.snapshot_parents("t")[2] is None  # re-read, not stale


def test_expire_snapshots_older_than_timestamp(tmp_path):
    """Iceberg's expireSnapshots(olderThan): snapshots committed
    at-or-after the timestamp survive even below the positional window;
    the gate is conjunctive with keep_last."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.manifest import Manifest

    root = str(tmp_path / "d")
    os.makedirs(root)
    pq.write_table(
        pa.table({"id": pa.array([1], type=pa.int64())}),
        os.path.join(root, "a.parquet"),
    )
    cat = FileCatalog(warehouse=str(tmp_path / "wh"))
    cat.create_table("t", Manifest.from_parquet_dir(root, sequence_number=1))
    for i in range(2, 5):  # v2..v4
        m = Manifest.from_dict(cat.load_table("t").to_dict())
        m.snapshot_id = i
        m.sequence_number = i
        cat.commit_table("t", i - 1, m)
    # a cutoff BEFORE any commit: nothing expires despite keep_last=1
    ts = cat.snapshot_timestamps("t")
    assert cat.expire_snapshots("t", keep_last=1, older_than_ms=1) == []
    assert cat.table_history("t") == [1, 2, 3, 4]
    # a cutoff between v2 and v3: only v1/v2 expire
    cut = (ts[2] + ts[3]) // 2 + 1 if ts[3] > ts[2] else ts[3]
    expired = cat.expire_snapshots("t", keep_last=1, older_than_ms=cut)
    assert set(expired) <= {1, 2}
    assert 3 in cat.table_history("t") and 4 in cat.table_history("t")
    # no cutoff: positional window applies as before
    time.sleep(0.01)
    cat.expire_snapshots("t", keep_last=1)
    assert cat.table_history("t") == [4]
