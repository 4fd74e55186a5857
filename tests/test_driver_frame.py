"""Driver-held rows reach Spark through one seam, ``sources/scan.py``
``driver_frame``: the rows cross to the JVM as one Arrow table, so no
query that reads them runs a Python worker.  Schema, rows and row order
match ``spark.createDataFrame(rows, schema)``; the curation flagship
releases its shingle/signature caches once connected components has
materialized the pairs, and the unscoped dedup entries cache nothing."""

import ast
import pathlib
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import iceberg_compaction_spark
from iceberg_compaction_spark.operators.text import ENGLISH_STOPWORDS
from iceberg_compaction_spark.sources.metadata_tables import FILES_SCHEMA
from iceberg_compaction_spark.sources.scan import driver_frame

PARITY_CASES = {
    "cc": (
        [(1, 1), (2, 1), (7, 3), (3, 3)],
        "doc_id long, component_id long",
    ),
    "deletion_vectors": (
        [("/t/a.parquet", 0), ("/t/a.parquet", 5), (None, 7), ("/t/b", None)],
        "__dv_path string, __dv_pos long",
    ),
    "files": (
        [
            (0, "/t/a.parquet", "PARQUET", 0, {"p": "1", "q": None},
             10, 100, 1, 1, 1, 0, '{"1": [0, 9]}', None, None),
            (1, "/t/d.parquet", "PARQUET", 0, None,
             2, 40, 2, None, None, None, None, "[1]", 3),
            (0, "/t/b.parquet", "PARQUET", 1, {},
             5, 70, 1, 0, 0, 0, None, None, None),
        ],
        FILES_SCHEMA,
    ),
    "geo_literal": (
        [("west", 0.0, 0.0, 60.0, 25.0), ("core", 90.0, 20.0, 110.0, 30.0)],
        "region_name string, xmin double, ymin double, "
        "xmax double, ymax double",
    ),
    "empty_ddl": ([], "doc_id long, score double, rank int"),
}


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_parity_with_list_create(spark, case):
    rows, schema = PARITY_CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = driver_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert [f.nullable for f in got.schema] == [
        f.nullable for f in want.schema
    ]
    assert got.collect() == want.collect()


def test_null_in_required_field_raises(spark):
    schema = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.StringType(), True),
        ]
    )
    with pytest.raises(ValueError):
        spark.createDataFrame([(None, "x")], schema)
    with pytest.raises(ValueError):
        driver_frame(spark, [(1, None), (None, "x")], schema)


def _docs_fixture(root: pathlib.Path) -> str:
    """A small ``documents`` corpus: 40 random documents long enough to
    pass the curation quality gates, plus one near-duplicate (one token
    edited) of each of the first 12."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    stops = sorted(ENGLISH_STOPWORDS)
    base = [
        [rng.choice(stops) if rng.random() < 0.3 else rng.choice(vocab)
         for _ in range(60)]
        for _ in range(40)
    ]
    dups = []
    for toks in base[:12]:
        toks = list(toks)
        toks[rng.randrange(len(toks))] = rng.choice(vocab)
        dups.append(toks)
    texts = [" ".join(t) for t in base + dups]
    n = len(texts)
    table = pa.table(
        {
            "doc_id": pa.array(range(n), type=pa.int64()),
            "text": texts,
            "lang": [rng.choice(["en", "de", "fr"]) for _ in range(n)],
            "source": [f"s{i % 5}" for i in range(n)],
        }
    )
    root.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(root / "documents.parquet"))
    return str(root)


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    return _docs_fixture(tmp_path_factory.mktemp("driver_frame") / "sf")


def test_routed_sites_run_no_python_worker(spark, sf_dir, tmp_path):
    from iceberg_compaction_spark import registry
    from iceberg_compaction_spark.operators.dedup import connected_components
    from iceberg_compaction_spark.plans.datamodel import FileScanTask
    from iceberg_compaction_spark.sources.manifest import Manifest
    from iceberg_compaction_spark.sources.metadata_tables import files_df

    # the Arrow path needs no session conf
    assert (
        spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
        == "false"
    )
    # control: the list path evaluates its rows in a Python worker, so
    # the lineage check below can fail
    assert "PythonRDD" in _lineage(
        spark.createDataFrame([(1, 2)], "a long, b long")
    )

    pairs = spark.range(6).select(
        (F.col("id") * 2).alias("id_a"), (F.col("id") * 2 + 1).alias("id_b")
    )
    cc = connected_components(pairs)
    assert sorted(map(tuple, cc.collect())) == sorted(
        (n, n - n % 2) for n in range(12)
    )

    data = str(tmp_path / "d.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3]}), data)
    m = Manifest(
        table_root=str(tmp_path),
        snapshot_id=1,
        sequence_number=1,
        data_files=[
            FileScanTask(
                data_file_path=data, length=10, record_count=3,
                sequence_number=1,
            )
        ],
    )
    files = files_df(spark, m)
    assert [r.file_path for r in files.collect()] == [data]

    ndv = registry.QUERIES["stats_theta_ndv"](spark, sf_dir)
    assert {r.col_name: r.ndv for r in ndv.collect()} == {
        "doc_id": 52, "lang": 3, "source": 5,
    }

    for df in (cc, files, ndv):
        assert "PythonRDD" not in _lineage(df)


def test_curation_flagship_releases_its_caches(spark, sf_dir):
    import duckdb

    from iceberg_compaction_spark import registry

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    df = registry.QUERIES["pipeline_curation_full"](spark, sf_dir)
    got = sorted(map(tuple, df.collect()))
    assert cache.isEmpty()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(
        con.execute(registry.ORACLES["pipeline_curation_full"]).fetchall()
    )
    # near-duplicates were found and demoted, and the quality gates
    # kept rows
    assert 0 < len(want) < 52
    assert got == want


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_simhash_pairs",
        "dedup_containment",
        "dedup_incremental",
    ],
)
def test_unscoped_dedup_entries_leave_no_cache(spark, sf_dir, name):
    """The dedup entries return lazy frames with no scope to own a
    cache, so they persist nothing: collecting one leaves the session
    cache empty, and its rows still match the DuckDB oracle."""
    import duckdb

    from iceberg_compaction_spark import registry

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    got = sorted(map(tuple, registry.QUERIES[name](spark, sf_dir).collect()))
    assert cache.isEmpty()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    assert got == sorted(con.execute(registry.ORACLES[name]).fetchall())


def _create_calls(tree):
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            yield node.lineno


def test_create_data_frame_only_in_the_seam():
    """A driver list handed to ``spark.createDataFrame`` anywhere in the
    package would run its rows through Python workers again: every
    driver-held relation goes through ``driver_frame``."""
    pkg = pathlib.Path(iceberg_compaction_spark.__file__).parent
    seam = pkg / "sources" / "scan.py"
    offenders = [
        f"{py.relative_to(pkg)}:{line}"
        for py in sorted(pkg.rglob("*.py"))
        if py != seam
        for line in _create_calls(ast.parse(py.read_text(), str(py)))
    ]
    assert offenders == []
    # the guard still sees the seam's own calls
    assert list(_create_calls(ast.parse(seam.read_text())))
