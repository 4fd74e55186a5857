"""Schema parity of the manifest-listed scan seam (sources/scan.py
``read_listed_parquet``) given no schema: the schema it reads from one
footer on the driver is the schema Spark's own inference gives, for
every column type and under every session flag the conversion reads,
or both raise the same error.  Which file is read, and a requested
``mergeSchema``, follow Spark too."""

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_compaction_spark.sources.scan import read_listed_parquet

COLUMNS = {
    "int8": pa.array([1, -2], type=pa.int8()),
    "uint16": pa.array([1, 2], type=pa.uint16()),
    "uint32": pa.array([1, 2], type=pa.uint32()),
    "uint64": pa.array([1, 2], type=pa.uint64()),
    "float": pa.array([1.5, 2.5], type=pa.float32()),
    "decimal_9_2": pa.array(
        [decimal.Decimal("1.25"), None], type=pa.decimal128(9, 2)
    ),
    "decimal_38_10": pa.array(
        [decimal.Decimal("1.0000000001"), None], type=pa.decimal128(38, 10)
    ),
    "date": pa.array([datetime.date(2020, 1, 2), None], type=pa.date32()),
    "timestamp_ms_utc": pa.array([1, 2], type=pa.timestamp("ms", tz="UTC")),
    "timestamp_us": pa.array([1, 2], type=pa.timestamp("us")),
    "timestamp_ns": pa.array([1, 2], type=pa.timestamp("ns")),
    "string": pa.array(["a", None], type=pa.string()),
    "binary": pa.array([b"a", None], type=pa.binary()),
    "bool": pa.array([True, None], type=pa.bool_()),
    "list": pa.array([[1, 2], None], type=pa.list_(pa.int32())),
    "struct": pa.array(
        [{"a": 1, "b": "x"}, None],
        type=pa.struct([("a", pa.int32()), ("b", pa.string())]),
    ),
    "map": pa.array([[("k", 1)], None], type=pa.map_(pa.string(), pa.int32())),
}

SETTINGS = {
    "default": {},
    "binaryAsString": {"spark.sql.parquet.binaryAsString": "true"},
    "int96AsTimestamp_off": {"spark.sql.parquet.int96AsTimestamp": "false"},
    "inferTimestampNTZ_off": {
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false"
    },
    "nanosAsLong": {"spark.sql.legacy.parquet.nanosAsLong": "true"},
    "fieldIdRead": {"spark.sql.parquet.fieldId.read.enabled": "true"},
    "caseSensitive": {"spark.sql.caseSensitive": "true"},
}


def _write(path, table, **kwargs):
    pq.write_table(table, path, **kwargs)
    return path


@pytest.fixture(scope="module")
def files(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("schemas")
    out = {
        name: _write(str(d / f"{name}.parquet"), pa.table({name: col}))
        for name, col in COLUMNS.items()
    }
    out["required"] = _write(
        str(d / "required.parquet"),
        pa.Table.from_arrays(
            [pa.array([1, 2], type=pa.int64())],
            schema=pa.schema([pa.field("r", pa.int64(), nullable=False)]),
        ),
    )
    out["field_id"] = _write(
        str(d / "field_id.parquet"),
        pa.Table.from_arrays(
            [pa.array([1, 2], type=pa.int32())],
            schema=pa.schema(
                [pa.field("f", pa.int32(), metadata={b"PARQUET:field_id": b"7"})]
            ),
        ),
    )
    out["mixed_case"] = _write(
        str(d / "mixed_case.parquet"),
        pa.table({"a": pa.array([1]), "A": pa.array([2])}),
    )
    out["int96"] = _write(
        str(d / "int96.parquet"),
        pa.table({"t": pa.array([1, 2], type=pa.timestamp("us"))}),
        use_deprecated_int96_timestamps=True,
    )
    spark_dir = str(d / "spark_written")
    spark.range(2).selectExpr(
        "id",
        "CAST(id AS STRING) AS s",
        "named_struct('a', id, 'b', CAST(id AS DECIMAL(12, 3))) AS st",
        "TIMESTAMP'2020-01-01 00:00:00' AS ts",
    ).coalesce(1).write.parquet(spark_dir)
    (part,) = [f for f in os.listdir(spark_dir) if f.endswith(".parquet")]
    out["spark_written"] = os.path.join(spark_dir, part)
    assert b"org.apache.spark.sql.parquet.row.metadata" in (
        pq.read_metadata(out["spark_written"]).metadata
    )
    return out


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _schema_or_error(read):
    try:
        return "ok", read().schema
    except Exception as e:  # compared by class and condition below
        cond = getattr(e, "getCondition", lambda: None)()
        return "error", (type(e).__name__, cond)


@pytest.mark.parametrize("setting", sorted(SETTINGS))
def test_footer_schema_matches_spark_inference(spark, files, setting):
    confs = SETTINGS[setting]
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        mismatches = {}
        for name, path in sorted(files.items()):
            want = _schema_or_error(lambda: spark.read.parquet(path))
            before = _next_job_id(spark)
            got = _schema_or_error(lambda: read_listed_parquet(spark, [path]))
            if got != want:
                mismatches[name] = (got, want)
            elif got[0] == "ok" and _next_job_id(spark) != before:
                mismatches[name] = "started a Spark job"
        assert mismatches == {}
    finally:
        for k in confs:
            spark.conf.unset(k)


def test_ns_timestamps_raise_sparks_error_without_nanos_as_long(spark, files):
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        read_listed_parquet(spark, [files["timestamp_ns"]])


@pytest.fixture(scope="module")
def reversed_pair(tmp_path_factory):
    """Two files whose schemas differ, listed in the reverse of their
    qualified-path order; by basename the order would not be reversed."""
    d = tmp_path_factory.mktemp("order")
    os.makedirs(d / "y")
    os.makedirs(d / "z")
    later = _write(str(d / "z" / "a.parquet"), pa.table({"x": pa.array([1])}))
    first = _write(str(d / "y" / "b.parquet"), pa.table({"y": pa.array(["s"])}))
    return [later, first]


def test_schema_comes_from_the_file_spark_picks(spark, reversed_pair):
    want = spark.read.parquet(*reversed_pair).schema
    assert want.names == ["y"]
    before = _next_job_id(spark)
    got = read_listed_parquet(spark, reversed_pair).schema
    assert _next_job_id(spark) == before
    assert got == want


def test_merge_schema_keeps_spark_inference(spark, reversed_pair):
    want = (
        spark.read.option("mergeSchema", "true").parquet(*reversed_pair).schema
    )
    assert sorted(want.names) == ["x", "y"]
    got = read_listed_parquet(spark, reversed_pair, mergeSchema="true")
    assert got.schema == want
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert read_listed_parquet(spark, reversed_pair).schema == want
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
