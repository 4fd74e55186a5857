"""Iceberg partition transforms (bucket / truncate / temporal / identity).

The reference evaluates partition-spec transforms inside the fan-out
writer (``RecordBatchPartitionSplitter::try_new_with_computed_values``,
core/src/executor/datafusion/mod.rs:205-221) so a table partitioned by
e.g. ``bucket(5, id)`` routes each row to its transformed partition
value; its integration suite compacts such a table end-to-end
(integration-tests/src/integration_tests.rs:344-351).

Spark-first mapping: every transform becomes a derived COLUMN —
truncate/year/month/day/hour/identity are pure JVM built-ins; ``bucket``
is the Iceberg-spec Murmur3 hash, which vanilla Spark lacks (Spark's
``hash()`` is Murmur3 with different seed and serialization), so it is
an Arrow-batched pandas UDF over a vectorized numpy Murmur3 for the
integral types.  (With the Iceberg Spark runtime on the classpath one
would call ``system.bucket(n, col)`` from its FunctionCatalog instead;
the numpy path keeps this repo dependency-free and bit-identical.)

Hash serialization follows the Iceberg spec (Appendix B): int/long as
8-byte little-endian, date as days-from-epoch widened to long,
timestamp as micros-from-epoch long, string as UTF-8 bytes, binary
as-is; ``bucket = (murmur3(v) & Int.MaxValue) % N``.  Golden vectors
from the spec are pinned in tests/test_transforms.py.
"""

from __future__ import annotations

import datetime
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_C1 = 0xCC9E2D51
_C2 = 0x1B873593
_U32 = 0xFFFFFFFF


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Murmur3 x86 32-bit (public domain algorithm), signed result."""
    h = seed
    rounded = len(data) & ~3
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * _C1) & _U32
        k = ((k << 15) | (k >> 17)) & _U32
        k = (k * _C2) & _U32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _U32
        h = (h * 5 + 0xE6546B64) & _U32
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * _C1) & _U32
        k = ((k << 15) | (k >> 17)) & _U32
        k = (k * _C2) & _U32
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _U32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _U32
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _fmix32(h: np.ndarray) -> np.ndarray:
    h ^= h >> np.uint32(16)
    h *= np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h *= np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h


def murmur3_32_long_vec(values: np.ndarray) -> np.ndarray:
    """Vectorized Murmur3 of int64 values serialized as 8-byte
    little-endian (the Iceberg long/int/date/timestamp hash) — the whole
    batch in a handful of numpy ops, no per-row Python."""
    with np.errstate(over="ignore"):
        u = values.astype(np.int64).view(np.uint64)
        h = np.zeros(len(values), dtype=np.uint32)
        for block in (u & np.uint64(_U32), u >> np.uint64(32)):
            k = block.astype(np.uint32)
            k *= np.uint32(_C1)
            k = _rotl32(k, 15)
            k *= np.uint32(_C2)
            h ^= k
            h = _rotl32(h, 13)
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(8)  # length
        return _fmix32(h).view(np.int32)


_INTEGRAL_TYPES = {"int", "bigint", "smallint", "tinyint", "date"}


def bucket_column(col_name: str, n: int, spark_type: str) -> Column:
    """``bucket[n]`` as a Column: (iceberg_hash(v) & MaxInt) % n.

    Integral/date/timestamp columns take the vectorized numpy path;
    strings hash per-row (UTF-8, variable length).  NULL -> NULL, like
    Iceberg (null partition value).
    """
    from pyspark.sql.functions import pandas_udf

    spark_type = spark_type.lower()

    if spark_type in _INTEGRAL_TYPES or spark_type.startswith("timestamp"):

        @pandas_udf("int")
        def _bucket_long(s: pd.Series) -> pd.Series:
            mask = s.isna().to_numpy()
            vals = s.fillna(0).to_numpy(dtype=np.int64)
            out = (murmur3_32_long_vec(vals) & np.int32(0x7FFFFFFF)) % np.int32(n)
            res = pd.Series(out.astype("int32"), dtype="Int32")
            res[mask] = pd.NA
            return res

        src = F.col(col_name)
        if spark_type == "date":
            src = F.datediff(src, F.lit("1970-01-01"))  # days-from-epoch int
        elif spark_type.startswith("timestamp"):
            src = F.unix_micros(src)  # micros-from-epoch long
        return _bucket_long(src.cast("long"))

    if spark_type == "string":

        @pandas_udf("int")
        def _bucket_str(s: pd.Series) -> pd.Series:
            def one(v):
                if v is None:
                    return None
                return (murmur3_32(v.encode("utf-8")) & 0x7FFFFFFF) % n

            return s.map(one)

        return _bucket_str(F.col(col_name))

    raise ValueError(f"bucket transform unsupported for type {spark_type}")


@dataclass(frozen=True)
class PartitionField:
    """One field of a partition spec: ``source`` column + transform
    (``identity`` | ``bucket[N]`` | ``truncate[W]`` | ``year`` |
    ``month`` | ``day`` | ``hour``) + derived column ``name``."""

    source: str
    transform: str = "identity"
    name: str | None = None

    @property
    def column_name(self) -> str:
        if self.name:
            return self.name
        base = re.sub(r"\[.*", "", self.transform)
        return self.source if base == "identity" else f"{self.source}_{base}"


def _parse(transform: str) -> tuple[str, int | None]:
    m = re.fullmatch(r"(\w+)(?:\[(\d+)\])?", transform)
    if not m:
        raise ValueError(f"bad transform: {transform}")
    return m.group(1), int(m.group(2)) if m.group(2) else None


def transform_column(field: PartitionField, df: DataFrame) -> Column:
    """The derived partition-value Column for one spec field."""
    kind, arg = _parse(field.transform)
    col = F.col(field.source)
    if kind == "identity":
        out = col
    elif kind == "bucket":
        spark_type = dict(df.dtypes)[field.source]
        out = bucket_column(field.source, arg, spark_type)
    elif kind == "truncate":
        dt = dict(df.dtypes)[field.source]
        if dt == "string":
            out = F.substring(col, 1, arg)
        else:  # integral: v - (((v % W) + W) % W), exact for negatives
            out = (col - F.pmod(col, F.lit(arg))).cast(dt)
    elif kind == "year":
        out = F.year(col) - F.lit(1970)
    elif kind == "month":
        out = (F.year(col) - F.lit(1970)) * 12 + F.month(col) - F.lit(1)
    elif kind == "day":
        out = F.datediff(F.to_date(col), F.lit("1970-01-01"))
    elif kind == "hour":
        out = F.floor(F.unix_micros(col) / F.lit(3_600_000_000)).cast("int")
    else:
        raise ValueError(f"unknown transform: {field.transform}")
    return out.alias(field.column_name)


def json_safe_cell(v):
    """Normalize one partition-cell value to a JSON-serializable form
    for manifest storage: primitives pass through; temporal/binary
    values stringify via ``str()`` — the SAME representation
    ``prune_tasks_by_partition``'s tolerant comparison applies to the
    planner's native ``transform_value`` output, so write-side cells
    and prune-side cells always meet."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def with_partition_columns(
    df: DataFrame, spec: list[PartitionField]
) -> tuple[DataFrame, list[str]]:
    """Append one derived column per spec field; returns (df, names)."""
    names = []
    for f in spec:
        if f.column_name not in df.columns:
            df = df.withColumn(f.column_name, transform_column(f, df))
        names.append(f.column_name)
    return df, names


def transform_value(transform: str, value):
    """Driver-side twin of :func:`transform_column` for planning code
    (partition grouping, manifest bookkeeping).  Bit-identical to the
    column path — pinned against each other in tests."""
    if value is None:
        return None
    kind, arg = _parse(transform)
    if kind == "identity":
        return value
    if kind == "bucket":
        if isinstance(value, str):
            data = value.encode("utf-8")
        elif isinstance(value, bytes):
            data = value
        elif isinstance(value, datetime.datetime):
            if value.tzinfo is None:  # naive datetimes are UTC here
                value = value.replace(tzinfo=datetime.timezone.utc)
            us = int(value.timestamp() * 1_000_000)
            data = us.to_bytes(8, "little", signed=True)
        elif isinstance(value, datetime.date):
            days = (value - datetime.date(1970, 1, 1)).days
            data = days.to_bytes(8, "little", signed=True)
        elif isinstance(value, int):
            data = value.to_bytes(8, "little", signed=True)
        else:
            raise ValueError(f"bucket unsupported for {type(value)}")
        return (murmur3_32(data) & 0x7FFFFFFF) % arg
    if kind == "truncate":
        if isinstance(value, str):
            return value[:arg]
        return value - (((value % arg) + arg) % arg)
    if kind == "year":
        return value.year - 1970
    if kind == "month":
        return (value.year - 1970) * 12 + value.month - 1
    if kind == "day":
        d = value.date() if isinstance(value, datetime.datetime) else value
        return (d - datetime.date(1970, 1, 1)).days
    if kind == "hour":
        if value.tzinfo is None:  # naive datetimes are UTC here
            value = value.replace(tzinfo=datetime.timezone.utc)
        us = int(value.timestamp() * 1_000_000)
        return us // 3_600_000_000
    raise ValueError(f"unknown transform: {transform}")


def transform_array(transform: str, arr):
    """Arrow-vectorized twin of :func:`transform_value` for the
    DataSource write path (per-batch partition routing): one pyarrow
    Array in, one partition-value Array out — no per-row Python for
    identity / truncate / temporal / integer-bucket transforms.
    String/binary buckets fall back to per-value murmur3 (hash input
    length varies per row; these are rare as partition keys).  Nulls
    stay null.  Pinned bit-identical to transform_value in tests."""
    import pyarrow as pa
    import pyarrow.compute as pc

    kind, arg = _parse(transform)
    if kind == "identity":
        return arr
    if kind == "truncate":
        if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
            return pc.utf8_slice_codeunits(arr, 0, arg)
        # v - (((v % W) + W) % W) via numpy (pyarrow lacks mod); numpy's
        # % already returns the divisor's sign, so this is exact for
        # negatives and matches transform_value / the SQL twin
        mask = np.asarray(pc.is_null(arr))
        v = pc.fill_null(arr, 0).cast(pa.int64()).to_numpy()
        out = v - (((v % arg) + arg) % arg)
        return pa.array(out, mask=mask).cast(arr.type)
    if kind == "bucket":
        if pa.types.is_integer(arr.type):
            mask = np.asarray(pc.is_null(arr))
            vals = pc.fill_null(arr, 0).cast(pa.int64()).to_numpy()
            h = murmur3_32_long_vec(vals.astype(np.int64))
            out = (h & 0x7FFFFFFF) % arg
            return pa.array(out, type=pa.int32(), mask=mask)
        return pa.array(
            [
                None if v is None else transform_value(transform, v)
                for v in arr.to_pylist()
            ],
            type=pa.int32(),
        )
    if kind == "year":
        return pc.subtract(pc.year(arr), 1970).cast(pa.int32())
    if kind == "month":
        y = pc.multiply(pc.subtract(pc.year(arr), 1970), 12)
        return pc.add(y, pc.subtract(pc.month(arr), 1)).cast(pa.int32())
    if kind == "day":
        return arr.cast(pa.date32()).cast(pa.int32())
    if kind == "hour":
        # floor division, NOT pc.divide (which truncates toward zero):
        # pre-epoch timestamps (e.g. 1969-12-31 23:30) must land in hour
        # -1 to match transform_value / the SQL column path, or the
        # partition cell recorded at write time disagrees with the cell
        # prune_tasks_by_partition computes and matching rows get pruned.
        mask = np.asarray(pc.is_null(arr))
        us = (
            pc.fill_null(arr.cast(pa.timestamp("us")), 0)
            .cast(pa.int64())
            .to_numpy()
        )
        out = np.floor_divide(us, 3_600_000_000)
        return pa.array(out, mask=mask).cast(pa.int32())
    raise ValueError(f"unknown transform: {transform}")
