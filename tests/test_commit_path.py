"""One catalog commit path (``commit.commit_catalog``) for every writer.

Each writer builds its successor manifest from the head the commit loads
and hands it to the shared loop, which compare-and-swaps it onto the
ref and retries a lost race against a fresh head.  These tests inject a
CAS conflict into every writer, check that the batch ``upsert`` and the
streaming upsert sink commit the same snapshot, and keep inline commit
loops out of the package."""

import ast
import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import iceberg_compaction_spark
from iceberg_compaction_spark.commit import CommitConflict, load_head
from iceberg_compaction_spark.plans.datamodel import EQUALITY_DELETE
from iceberg_compaction_spark.sources import datasource as ds
from iceberg_compaction_spark.sources.catalog import FileCatalog
from iceberg_compaction_spark.sources.ingest import read_table_mor, upsert
from iceberg_compaction_spark.sources.manifest import Manifest


def _table(root: pathlib.Path) -> FileCatalog:
    """Ten rows in two files, as table ``t`` of a fresh warehouse."""
    data = root / "data"
    os.makedirs(data)
    for i in range(2):
        ids = range(i * 5, i * 5 + 5)
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, type=pa.int64()),
                    "val": [f"v{j}" for j in ids],
                }
            ),
            str(data / f"part-{i}.parquet"),
        )
    cat = FileCatalog(warehouse=str(root / "wh"))
    cat.create_table(
        "t", Manifest.from_parquet_dir(str(data), sequence_number=1)
    )
    return cat


def _import_dir(root: pathlib.Path) -> str:
    src = root / "import"
    os.makedirs(src)
    pq.write_table(
        pa.table(
            {"id": pa.array([500, 501], type=pa.int64()), "val": ["i0", "i1"]}
        ),
        str(src / "imp.parquet"),
    )
    return str(src)


def _batch():
    return pa.record_batch(
        {"id": pa.array([3, 42], type=pa.int64()), "val": ["s3", "s42"]}
    )


def _opts(cat, **kw):
    return {"warehouse": cat.warehouse, "table": "t", **kw}


def _changes(spark):
    return spark.createDataFrame([(3, "u3"), (42, "u42")], ["id", "val"])


# --- one case per converted writer -------------------------------------------
# A case sets its table up under ``root`` and returns (catalog, table
# name, write); ``write()`` returns the catalog it wrote to.  The catalog
# is None when the write creates its own warehouse.


def _upsert(spark, cat, root):
    upsert(spark, cat, "t", _changes(spark), keys=["id"])


def _delete_where(spark, cat, root):
    from iceberg_compaction_spark.sources.ingest import delete_where

    delete_where(spark, cat, "t", "id % 4 = 0")


def _update_where(spark, cat, root):
    from iceberg_compaction_spark.sources.ingest import update_where

    update_where(spark, cat, "t", "id < 3", {"val": "upper(val)"})


def _merge_into(spark, cat, root):
    from iceberg_compaction_spark.sources.ingest import merge_into

    source = spark.createDataFrame([(1, "m1"), (77, "m77")], ["id", "val"])
    merge_into(spark, cat, "t", source, keys=["id"])


def _add_files(spark, cat, root):
    from iceberg_compaction_spark.sources.ingest import add_files

    add_files(cat, "t", _import_dir(root))


def _overwrite_partitions(spark, cat, root):
    from iceberg_compaction_spark.sources.ingest import overwrite_partitions

    overwrite_partitions(spark, cat, "t", _changes(spark))


def _sink_append(spark, cat, root, overwrite=False):
    w = ds._AppendWriter(_opts(cat), overwrite=overwrite)
    w.commit([w.write(iter([_batch()]))])


def _sink_overwrite(spark, cat, root):
    _sink_append(spark, cat, root, overwrite=True)


def _sink_stream_append(spark, cat, root):
    w = ds._StreamAppendWriter(_opts(cat))
    w.commit([w.write(iter([_batch()]))], 0)


def _sink_stream_upsert(spark, cat, root):
    w = ds._StreamUpsertWriter(_opts(cat, upsert_keys="id"))
    w.commit([w.write(iter([_batch()]))], 0)


def _analyze_table(spark, cat, root):
    from iceberg_compaction_spark.operators.stats import analyze_table

    analyze_table(spark, cat, "t")


def _compute_table_stats(spark, cat, root):
    from iceberg_compaction_spark.operators.stats import compute_table_stats

    compute_table_stats(spark, cat, "t")


def _compute_partition_stats(spark, cat, root):
    from iceberg_compaction_spark.operators.stats import (
        compute_partition_stats,
    )

    compute_partition_stats(cat, "t")


def _upgrade_format_version(spark, cat, root):
    from iceberg_compaction_spark.compaction import upgrade_format_version

    upgrade_format_version(cat, "t", 3)


def _compact_catalog(spark, cat, root):
    from iceberg_compaction_spark.compaction import Compaction
    from iceberg_compaction_spark.config import CompactionConfig

    Compaction(spark, CompactionConfig.full()).compact_catalog(cat, "t")


def _maintain(spark, cat, root):
    from iceberg_compaction_spark.plans.auto import AutoCompactionConfig
    from iceberg_compaction_spark.service import MaintenancePolicy, maintain

    policy = MaintenancePolicy(
        auto=AutoCompactionConfig(min_small_files_count=2),
        keep_snapshots=100,
        clean_orphans=False,
        rewrite_deletes_min_files=0,
        rewrite_manifests_min_count=0,
    )
    maintain(spark, cat, "t", policy)


def _on_table(write):
    def case(spark, root):
        cat = _table(root)

        def run():
            write(spark, cat, root)
            return cat

        return cat, "t", run

    return case


def _rollback(spark, root):
    from iceberg_compaction_spark.sources.catalog import rollback_table

    cat = _table(root)
    _upsert(spark, cat, root)

    def run():
        rollback_table(cat, "t", 1)
        return cat

    return cat, "t", run


def _cherry_pick(spark, root):
    from iceberg_compaction_spark.sources.catalog import cherry_pick
    from iceberg_compaction_spark.sources.ingest import add_files

    cat = _table(root)
    cat.create_branch("t", "stage")
    staged = add_files(cat, "t", _import_dir(root), to_branch="stage")

    def run():
        cherry_pick(cat, "t", staged.snapshot_id)
        return cat

    return cat, "t", run


def _docs_meta(spark, root):
    from iceberg_compaction_spark.operators.synthetic import (
        metadata_fixture_warehouse,
    )

    sf = root / "sf"
    os.makedirs(sf)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(40), type=pa.int64()),
                "lang": [("en", "fr")[i % 2] for i in range(40)],
            }
        ),
        str(sf / "documents.parquet"),
    )

    def run():
        return FileCatalog(warehouse=metadata_fixture_warehouse(str(sf)))

    return None, "docs_meta", run


WRITERS = {
    **{
        f.__name__.lstrip("_"): _on_table(f)
        for f in (
            _upsert,
            _delete_where,
            _update_where,
            _merge_into,
            _add_files,
            _overwrite_partitions,
            _sink_append,
            _sink_overwrite,
            _sink_stream_append,
            _sink_stream_upsert,
            _analyze_table,
            _compute_table_stats,
            _compute_partition_stats,
            _upgrade_format_version,
            _compact_catalog,
            _maintain,
        )
    },
    "rollback_table": _rollback,
    "cherry_pick": _cherry_pick,
    "docs_meta_fixture": _docs_meta,
}


def _state(spark, cat, name):
    head = load_head(cat, name)
    return {
        "history": cat.table_history(name),
        "sequence": head.sequence_number,
        "operation": head.operation,
        "format": head.format_version,
        "rows": sorted(map(tuple, read_table_mor(spark, head).collect())),
    }


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_writer_retries_an_injected_cas_conflict(
    spark, tmp_path, monkeypatch, writer
):
    """``commit_table`` raises CommitConflict once: the writer retries
    against a fresh head and lands exactly one snapshot at head + 1,
    holding what an uncontended run of the same write gives."""
    _, name, run = WRITERS[writer](spark, tmp_path / "calm")
    want = _state(spark, run(), name)

    cat, name, run = WRITERS[writer](spark, tmp_path / "raced")
    before = cat.table_history(name) if cat is not None else []
    real = FileCatalog.commit_table
    calls = []

    def conflict_once(self, table, expected, new, to_branch=None):
        calls.append(table)
        if len(calls) == 1:
            raise CommitConflict("injected: another writer won the race")
        return real(self, table, expected, new, to_branch=to_branch)

    monkeypatch.setattr(FileCatalog, "commit_table", conflict_once)
    cat = run()
    monkeypatch.undo()
    got = _state(spark, cat, name)

    assert calls == [name, name]  # one lost race, one real commit
    assert got == want
    if before:
        assert got["history"] == before + [before[-1] + 1]


def _eq_shape(m: Manifest):
    """Per pre-existing data file: its equality-delete attachments as
    (sequence, record_count, equality_ids)."""
    return sorted(
        (
            os.path.basename(t.data_file_path),
            tuple(
                (d.sequence_number, d.record_count, d.equality_ids)
                for d in t.deletes
                if d.content == EQUALITY_DELETE
            ),
        )
        for t in m.data_files
        if t.sequence_number == 1
    )


def test_batch_upsert_and_stream_upsert_sink_commit_the_same_snapshot(
    spark, tmp_path
):
    """The same batch through ``upsert`` and through the ``mode=upsert``
    sink: same delete attachments, operation, sequence number and
    delete ``record_count`` (the number of keys), and the same rows."""
    batch_cat = _table(tmp_path / "batch")
    via_batch = upsert(
        spark,
        batch_cat,
        "t",
        spark.createDataFrame(_batch().to_pandas()),
        keys=["id"],
    )
    sink_cat = _table(tmp_path / "sink")
    w = ds._StreamUpsertWriter(_opts(sink_cat, upsert_keys="id"))
    w.commit([w.write(iter([_batch()]))], 0)
    via_sink = sink_cat.load_table("t")

    assert _eq_shape(via_batch) == _eq_shape(via_sink)
    assert _eq_shape(via_batch) == [
        ("part-0.parquet", ((2, 2, ("id",)),)),
        ("part-1.parquet", ((2, 2, ("id",)),)),
    ]
    for m in (via_batch, via_sink):
        assert (m.operation, m.sequence_number) == ("overwrite", 2)
        added = [t for t in m.data_files if t.sequence_number == 2]
        assert sum(t.record_count for t in added) == 2
    assert sorted(map(tuple, read_table_mor(spark, via_batch).collect())) == (
        sorted(map(tuple, read_table_mor(spark, via_sink).collect()))
    )


# --- guard: no inline commit loops -------------------------------------------

PKG = pathlib.Path(iceberg_compaction_spark.__file__).parent
#: modules whose catalog classes own ``commit_table``: calls from their
#: methods are the catalogs' own plumbing (and the REST server's)
CATALOG_MODULES = {
    "sources/catalog.py",
    "sources/iceberg_meta.py",
    "sources/rest_catalog.py",
}
COMMIT_CALLS = {"commit_table", "commit_with_retry"}


def _offenders(rel: str, tree: ast.AST) -> list[str]:
    """Calls of ``.commit_table(`` / ``.commit_with_retry(`` outside the
    shared loop (``commit.py``), the catalog classes' own methods,
    ``Compaction.commit`` (the manifest-file backend) and
    ``sources/manifest_rewrite.py`` (the Avro manifest-list tier)."""
    if rel in ("commit.py", "sources/manifest_rewrite.py"):
        return []
    out = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(
                child, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                inner = scope + [child]
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in COMMIT_CALLS
            ):
                in_class = bool(scope) and isinstance(scope[0], ast.ClassDef)
                names = [s.name for s in scope]
                allowed = (rel in CATALOG_MODULES and in_class) or (
                    rel == "compaction.py" and names[:2] == ["Compaction", "commit"]
                )
                if not allowed:
                    out.append(f"{rel}:{child.lineno}")
            visit(child, inner)

    visit(tree, [])
    return out


def _package_trees():
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        yield rel, ast.parse(py.read_text(), str(py))


def test_no_commit_loop_outside_the_shared_commit():
    offenders = [o for rel, tree in _package_trees() for o in _offenders(rel, tree)]
    assert offenders == []


def test_commit_guard_catches_an_inline_loop():
    """Mutation check: an inline load/commit/retry loop put back into
    ``operators/stats.py`` fails the guard, and so does a bare
    ``commit_table`` in a module-level function of a catalog module."""
    stats = PKG / "operators" / "stats.py"
    inline = stats.read_text() + (
        "\n\ndef _inline(catalog, name, new):\n"
        "    from iceberg_compaction_spark.commit import CommitManager\n"
        "    def attempt():\n"
        "        cur = catalog.load_table(name)\n"
        "        return catalog.commit_table(name, cur.snapshot_id, new)\n"
        "    return CommitManager().commit_with_retry(attempt)\n"
    )
    assert len(_offenders("operators/stats.py", ast.parse(inline))) == 2
    bare = "def f(catalog, m):\n    return catalog.commit_table('t', 1, m)\n"
    assert _offenders("sources/catalog.py", ast.parse(bare)) == [
        "sources/catalog.py:2"
    ]
    # the exempt sites are still seen by the walk
    compaction = ast.parse((PKG / "compaction.py").read_text())
    assert _offenders("operators/x.py", compaction)
