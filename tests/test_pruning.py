"""Plan-time file pruning (plans/pruning.py): inclusive metrics
evaluation, footer stats collection, manifest wire round-trip, and the
safety property — a pruned scan NEVER changes query results."""

import os

import pytest
from pyspark.sql import functions as F

from iceberg_compaction_spark.plans import pruning as pr
from iceberg_compaction_spark.plans.pruning import ColumnPredicate as P
from iceberg_compaction_spark.sources import scan
from iceberg_compaction_spark.sources.manifest import Manifest

SF = "/root/testdata/sf0.001"


def _mk(bounds, nulls=None, n=100):
    from iceberg_compaction_spark.plans.datamodel import FileScanTask

    return FileScanTask(
        data_file_path="f",
        length=1,
        record_count=n,
        column_bounds=bounds,
        null_counts=nulls or {},
    )


def _sorted_split(con, src, out_dir, key, n_files):
    total = con.execute(f"SELECT count(*) FROM '{src}'").fetchone()[0]
    per = (total + n_files - 1) // n_files
    for i in range(n_files):
        con.execute(
            f"""COPY (SELECT * FROM '{src}' ORDER BY {key}
                 LIMIT {per} OFFSET {i * per})
                TO '{out_dir}/part-{i}.parquet' (FORMAT PARQUET)"""
        )


def test_inclusive_evaluator_hand_cases():
    t = _mk({"a": (10, 20), "s": ("bb", "dd")}, {"a": 0, "s": 5})
    keep = lambda *ps: pr.prune_tasks([t], ps) == [t]  # noqa: E731
    # eq
    assert keep(P("a", "eq", 15)) and keep(P("a", "eq", 10))
    assert not keep(P("a", "eq", 9)) and not keep(P("a", "eq", 21))
    # lt/le/gt/ge at the boundaries
    assert not keep(P("a", "lt", 10)) and keep(P("a", "le", 10))
    assert not keep(P("a", "gt", 20)) and keep(P("a", "ge", 20))
    assert keep(P("a", "lt", 11)) and keep(P("a", "gt", 19))
    # in
    assert keep(P("a", "in", (1, 12))) and not keep(P("a", "in", (1, 2)))
    # strings
    assert keep(P("s", "eq", "cc")) and not keep(P("s", "ge", "ee"))
    # nulls: a has none, s has some
    assert not keep(P("a", "is_null")) and keep(P("s", "is_null"))
    assert keep(P("a", "not_null"))
    # all-null column
    t2 = _mk({}, {"z": 100}, n=100)
    assert pr.prune_tasks([t2], [P("z", "not_null")]) == []
    # unknown column: never prune
    assert keep(P("missing", "eq", 42))
    # conjunction: one impossible conjunct kills the file
    assert not keep(P("a", "eq", 15), P("a", "eq", 9))
    # cross-type comparison cannot decide -> keep
    assert keep(P("a", "eq", "not-an-int"))


def test_ne_prunes_only_constant_files():
    const = _mk({"a": (7, 7)}, {"a": 0})
    ranged = _mk({"a": (7, 9)}, {"a": 0})
    assert pr.prune_tasks([const, ranged], [P("a", "ne", 7)]) == [ranged]
    # nulls never satisfy != either: still prunable with nulls present
    constn = _mk({"a": (7, 7)}, {"a": 3})
    assert pr.prune_tasks([constn], [P("a", "ne", 7)]) == []


def test_footer_stats_and_wire_roundtrip(tmp_path):
    import duckdb

    d = str(tmp_path / "tbl")
    os.makedirs(d)
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * FROM '{SF}/lineitem.parquet'
             ORDER BY l_orderkey LIMIT 1000)
            TO '{d}/a.parquet' (FORMAT PARQUET)"""
    )
    m = Manifest.from_parquet_dir(d)
    (t,) = m.data_files
    lo, hi = t.column_bounds["l_orderkey"]
    mn, mx = con.execute(
        f"SELECT min(l_orderkey), max(l_orderkey) FROM '{d}/a.parquet'"
    ).fetchone()
    assert (lo, hi) == (mn, mx)
    assert t.null_counts.get("l_orderkey") == 0
    # date bounds survive the JSON round-trip typed
    dlo, dhi = t.column_bounds["l_shipdate"]
    import datetime

    assert isinstance(dlo, datetime.date)
    m.save()
    m2 = Manifest.load(m.manifest_path())
    (t2,) = m2.data_files
    assert t2.column_bounds == t.column_bounds
    assert t2.null_counts == t.null_counts


def test_footer_stats_skip_decimal_columns(spark, tmp_path):
    """Decimal bounds have no manifest wire form, and pyarrow cannot read
    the statistics of Spark's INT64-backed decimals: both are left
    unbounded, the other columns keep theirs, and the manifest saves."""
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "tbl")
    os.makedirs(d)
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, 5], pa.int64()),
                "p": pa.array(
                    [decimal.Decimal("1.25")] * 2, pa.decimal128(20, 2)
                ),
            }
        ),
        f"{d}/arrow.parquet",
    )
    spark.createDataFrame(
        [(7, decimal.Decimal("2.50"))], "k long, p decimal(10,2)"
    ).coalesce(1).write.parquet(f"{d}/spark")
    m = Manifest.from_parquet_dir(d, recursive=True)
    bounds = sorted(t.column_bounds["k"] for t in m.data_files)
    assert bounds == [(1, 5), (7, 7)]
    assert all("p" not in t.column_bounds for t in m.data_files)
    m.save()
    assert Manifest.load(m.manifest_path()).data_files[0].column_bounds


def test_pruned_scan_equals_full_filter_property(spark, tmp_path):
    """The safety property, randomized: for disjointly-ranged files and
    random predicates, read_pruned == full-scan + filter, while at least
    one predicate demonstrably skips files."""
    import random

    import duckdb

    d = str(tmp_path / "tbl")
    os.makedirs(d)
    con = duckdb.connect()
    # 8 files with disjoint l_orderkey ranges (sorted split)
    _sorted_split(con, f"{SF}/lineitem.parquet", d, "l_orderkey", 8)
    m = Manifest.from_parquet_dir(d)
    assert len(m.data_files) >= 4
    full = spark.read.parquet(*[t.data_file_path for t in m.data_files])
    rng = random.Random(11)
    lo_key = min(b.column_bounds["l_orderkey"][0] for b in m.data_files)
    hi_key = max(b.column_bounds["l_orderkey"][1] for b in m.data_files)
    pruned_somewhere = False
    for _ in range(6):
        v = rng.randint(lo_key, hi_key)
        op = rng.choice(["lt", "le", "gt", "ge", "eq"])
        preds = [P("l_orderkey", op, v)]
        if rng.random() < 0.5:
            preds.append(P("l_quantity", "ge", float(rng.randint(1, 40))))
        alive = pr.prune_tasks(m.data_files, preds)
        if len(alive) < len(m.data_files):
            pruned_somewhere = True
        got = scan.read_pruned(spark, m, preds)
        want = full.where(pr.predicate_to_spark(preds))
        assert got.count() == want.count()
        assert (
            got.exceptAll(want).count() == 0
            and want.exceptAll(got).count() == 0
        )
    assert pruned_somewhere


def test_eq_point_lookup_prunes_to_one_file(spark, tmp_path):
    import duckdb

    d = str(tmp_path / "tbl")
    os.makedirs(d)
    _sorted_split(duckdb.connect(), f"{SF}/lineitem.parquet", d, "l_orderkey", 8)
    m = Manifest.from_parquet_dir(d)
    # a key inside exactly one file's range (file ranges are disjoint
    # except possibly at boundaries)
    t0 = m.data_files[0]
    lo, hi = t0.column_bounds["l_orderkey"]
    preds = [P("l_orderkey", "eq", lo)]
    alive = pr.prune_tasks(m.data_files, preds)
    assert len(alive) <= 2  # the file + at most a boundary neighbor
    got = scan.read_pruned(spark, m, preds)
    assert got.count() > 0


def test_read_pruned_all_files_dead_keeps_schema(spark, tmp_path):
    import duckdb

    d = str(tmp_path / "tbl")
    os.makedirs(d)
    duckdb.connect().execute(
        f"""COPY (SELECT * FROM '{SF}/region.parquet')
            TO '{d}/r.parquet' (FORMAT PARQUET)"""
    )
    m = Manifest.from_parquet_dir(d)
    got = scan.read_pruned(spark, m, [P("r_regionkey", "gt", 10**9)])
    assert got.count() == 0
    assert "r_name" in got.columns


def test_compacted_output_carries_bounds(tmp_path):
    """The writer publishes footer stats on every written file, so a
    rewrite keeps the table prunable."""
    import duckdb

    from iceberg_compaction_spark.config import WriterConfig
    from iceberg_compaction_spark.sources import writer as w

    d = str(tmp_path / "in")
    os.makedirs(d)
    duckdb.connect().execute(
        f"COPY (SELECT * FROM '{SF}/nation.parquet') TO '{d}/n.parquet'"
        " (FORMAT PARQUET)"
    )
    tasks = w.list_written_files(d)
    assert tasks and tasks[0].column_bounds["n_nationkey"][0] == 0
    assert tasks[0].null_counts.get("n_nationkey") == 0
