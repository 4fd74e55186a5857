"""The manifest-listed scan seam (sources/scan.py ``read_listed_parquet``):
local path lists resolve with no Spark job (no listing job, and no
schema-inference job when no schema is given), the rows are those
of a plain ``spark.read.parquet``, and the caller's listing threshold
reads the same afterwards — unset, user-set, after a failed read, and
after concurrent scans."""

import ast
import os
import pathlib
import sys
import threading

import pytest

import iceberg_compaction_spark
from iceberg_compaction_spark.sources.scan import (
    LISTING_THRESHOLD_KEY,
    read_data_files,
    read_listed_parquet,
)

N_FILES = 40  # above Spark's default listing threshold of 32


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("listing") / "t")
    spark.range(0, 4000).selectExpr("id", "id * 3 AS v").repartition(
        N_FILES
    ).write.parquet(out)
    ps = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert len(ps) == N_FILES
    return ps


FIELDS = [
    {"id": 1, "name": "id", "type": "long", "required": False},
    {"id": 2, "name": "v", "type": "long", "required": False},
]


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _rows(df):
    return sorted(map(tuple, df.select("id", "v").collect()))


def _threshold(spark):
    return spark.conf.get(LISTING_THRESHOLD_KEY, None)


def test_local_scan_starts_no_listing_job(spark, paths):
    # control: the same schema-given read outside the seam runs Spark's
    # distributed listing job
    before = _next_job_id(spark)
    spark.read.schema("id long, v long").parquet(*paths)
    assert _next_job_id(spark) > before

    want = _rows(spark.read.parquet(*paths))
    # with a requested schema, and without one: the schema then comes
    # from one footer read on the driver, not an inference job
    for read in (
        lambda: read_data_files(spark, paths, schema_fields=FIELDS),
        lambda: read_data_files(spark, paths),
        lambda: read_listed_parquet(spark, paths),
    ):
        before = _next_job_id(spark)
        df = read()
        assert _next_job_id(spark) == before
        assert _rows(df) == want


@pytest.mark.parametrize("user_value", [None, "7"])
def test_threshold_restored(spark, paths, user_value):
    if user_value is not None:
        spark.conf.set(LISTING_THRESHOLD_KEY, user_value)
    try:
        read_data_files(spark, paths, schema_fields=FIELDS)
        assert _threshold(spark) == user_value
    finally:
        spark.conf.unset(LISTING_THRESHOLD_KEY)


def test_threshold_restored_after_failed_read(spark, paths):
    missing = os.path.join(os.path.dirname(paths[0]), "no-such-file.parquet")
    # no schema_fields: no driver-side footer probe, so Spark itself
    # raises while the listing scope is open
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        read_data_files(spark, [*paths, missing])
    assert _threshold(spark) is None


def test_threshold_restored_after_concurrent_scans(spark, paths):
    want = _rows(spark.read.parquet(*paths))
    results, errors = [], []

    def scan(i):
        try:
            # rotate the list so each thread scans its own relation
            ps = paths[i:] + paths[:i]
            for _ in range(3):
                results.append(_rows(read_data_files(spark, ps, schema_fields=FIELDS)))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    interval = sys.getswitchinterval()
    spark.conf.set(LISTING_THRESHOLD_KEY, "7")
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=scan, args=(i,)) for i in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        assert len(results) == 12 and all(r == want for r in results)
        assert _threshold(spark) == "7"
    finally:
        sys.setswitchinterval(interval)
        spark.conf.unset(LISTING_THRESHOLD_KEY)


def _starred_parquet_calls(tree):
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and any(isinstance(a, ast.Starred) for a in node.args)
        ):
            yield node.lineno


def _chain(node):
    """The attribute names along a call chain, and the node it starts
    from (``spark.read.option(k, v).parquet`` -> read, option, parquet;
    ``spark``)."""
    names = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        elif isinstance(node, ast.Subscript):
            node = node.value
        else:
            return names, node


def _parquet_reads(tree):
    """Lines of ``….parquet(...)`` calls that are not writes.  A write
    chain passes ``.write``/``.writeStream``, itself or through a name
    whose every binding in the module (rebinds of the name to itself
    aside) is a write chain."""
    bound: dict[str, list] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    bound.setdefault(target.id, []).append(node.value)

    def is_write(node, seen=frozenset()):
        names, root = _chain(node)
        if {"write", "writeStream"} & set(names):
            return True
        if not isinstance(root, ast.Name) or root.id in seen:
            return False
        origins = [
            v
            for v in bound.get(root.id, [])
            if not (
                isinstance(_chain(v)[1], ast.Name)
                and _chain(v)[1].id == root.id
            )
        ]
        return bool(origins) and all(
            is_write(v, seen | {root.id}) for v in origins
        )

    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and not is_write(node.func.value)
        ):
            yield node.lineno


# modules whose parquet reads must all go through the seam, starred or
# not, so that no single-file read (a delete file, a re-read) brings
# back its own listing or schema-inference job
SEAM_ONLY = (
    "sources",
    "operators/mor.py",
    "operators/validator.py",
    "compaction.py",
    "service.py",
)


def test_explicit_path_reads_go_through_the_seam():
    """``read_listed_parquet`` is the only place a path list becomes a
    Spark scan: a ``….parquet(*paths)`` anywhere else in the package
    would bring back the distributed listing job, and any parquet read
    in the scan-building modules its own schema-inference job."""
    pkg = pathlib.Path(iceberg_compaction_spark.__file__).parent
    seam = pkg / "sources" / "scan.py"
    offenders = [
        f"{py.relative_to(pkg)}:{line}"
        for py in sorted(pkg.rglob("*.py"))
        if py != seam
        for line in _starred_parquet_calls(ast.parse(py.read_text(), str(py)))
    ]
    assert offenders == []
    guarded = sorted(
        py
        for entry in SEAM_ONLY
        for py in (
            (pkg / entry).rglob("*.py")
            if (pkg / entry).is_dir()
            else [pkg / entry]
        )
        if py != seam
    )
    assert len(guarded) > len(SEAM_ONLY)
    offenders = [
        f"{py.relative_to(pkg)}:{line}"
        for py in guarded
        for line in _parquet_reads(ast.parse(py.read_text(), str(py)))
    ]
    assert offenders == []
    # the guards themselves still see the seam's own call, tell a read
    # from a write, and follow a writer through its rebinds
    assert list(_starred_parquet_calls(ast.parse(seam.read_text())))
    assert list(_parquet_reads(ast.parse(seam.read_text())))
    sample = ast.parse(
        "df.write.parquet(p)\n"
        "w = df.write.mode('overwrite')\n"
        "w = w.option('compression', 'zstd')\n"
        "w.parquet(p)\n"
        "spark.read.parquet(p)\n"
        "r = spark.read.option('mergeSchema', 'true')\n"
        "r.parquet(p)\n"
    )
    assert sorted(_parquet_reads(sample)) == [5, 7]


def test_registry_docs_read_file_and_directory_fixtures(spark, tmp_path):
    """``registry._docs`` reads through the seam: a single-file fixture
    builds with no Spark job, and a directory-shaped one (the scaled
    fixtures are Spark-written directories) falls back to Spark's own
    inference; both give the rows of a plain ``spark.read.parquet``."""
    from iceberg_compaction_spark import registry

    src = spark.range(0, 300).selectExpr(
        "id AS doc_id", "concat('doc ', id) AS text"
    )
    single = tmp_path / "single"
    single.mkdir()
    src.toPandas().to_parquet(str(single / "documents.parquet"))
    spread = tmp_path / "dir"
    src.repartition(3).write.parquet(str(spread / "documents.parquet"))

    def docs_rows(df):
        return sorted(map(tuple, df.select("doc_id", "text").collect()))

    for root, builds_with_job in ((single, False), (spread, True)):
        path = str(root / "documents.parquet")
        before = _next_job_id(spark)
        df = registry._docs(spark, str(root))
        assert (_next_job_id(spark) > before) == builds_with_job, root
        assert docs_rows(df) == docs_rows(spark.read.parquet(path))
