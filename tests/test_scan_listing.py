"""The manifest-listed scan seam (sources/scan.py ``read_listed_parquet``):
local path lists resolve with no Spark listing job, the rows are those
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

    before = _next_job_id(spark)
    df = read_data_files(spark, paths, schema_fields=FIELDS)
    assert _next_job_id(spark) == before
    assert _rows(df) == _rows(spark.read.parquet(*paths))


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


def test_explicit_path_reads_go_through_the_seam():
    """``read_listed_parquet`` is the only place a path list becomes a
    Spark scan: a ``….parquet(*paths)`` anywhere else in the package
    would bring back the distributed listing job."""
    pkg = pathlib.Path(iceberg_compaction_spark.__file__).parent
    seam = pkg / "sources" / "scan.py"
    offenders = [
        f"{py.relative_to(pkg)}:{line}"
        for py in sorted(pkg.rglob("*.py"))
        if py != seam
        for line in _starred_parquet_calls(ast.parse(py.read_text(), str(py)))
    ]
    assert offenders == []
    # the guard itself still sees the seam's own call
    assert list(_starred_parquet_calls(ast.parse(seam.read_text())))
