"""Data-file scan with hidden MOR columns (S1, S8, S9).

The reference appends three hidden columns while scanning parquet
(core/src/executor/datafusion/datafusion_processor.rs:48-51;
iceberg_file_task_scan.rs:590-639):

- ``sys_hidden_seq_num``  — the file's data sequence number (constant per file)
- ``sys_hidden_file_path`` — the originating file path
- ``sys_hidden_pos``       — 0-based row position within the file

Spark-first mapping: ``_metadata.file_path`` and ``_metadata.row_index``
are exact, zero-cost equivalents (file-source metadata columns, computed
at scan time — no shuffle, no window); the per-file sequence number is a
broadcast map-join on file path, which Catalyst folds into the scan stage.
This keeps the scan embarrassingly parallel at any scale — no global
ordering is ever required.

Every explicit path list becomes a Spark scan in one place,
:func:`read_listed_parquet`.  The paths come from the manifest, so there
is nothing to discover, yet Spark lists the leaf files of more than
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (default 32)
paths with a distributed job.  For local files that is the wrong trade:
``getFileStatus`` on a local file is microseconds, a Spark job is tens
of milliseconds plus a task per path.  Measured on a 4-vCPU host
(Spark 4.1), one scan over 34 paths built in 0.28-0.31 s with the job
and 0.049 s listed on the driver; over 240 paths, 1.3-1.4 s against
0.129 s (8 paths or fewer: 0.03 s, no job either way).  So when every
path is local the threshold is raised while Spark resolves the
relation, and Spark lists the same ``FileStatus`` set serially on the
driver.  Object-store paths keep the parallel listing, where each
status is a network round trip.

A scan given no schema would still start a one-task job: Spark infers
the schema by reading one file's footer on an executor.  For local files
the driver reads that footer itself with the code the job runs
(``ParquetFooterReader.readFooter`` without row groups, then
``ParquetFileFormat.readSchemaFromFooter`` with the converter built as
``mergeSchemasInParallel`` builds it), from the file inference would
pick (the first by qualified path), and hands the result to the reader
as its schema.  Measured on the same host, a 116 ms job became a 7 ms
footer read; one 34-path scan with its hidden columns built in 112 ms
before and 50 ms after.  Spark's own inference still runs, unchanged,
whenever it might read something else or more: a reader option is given,
``spark.sql.parquet.mergeSchema`` is on, a basename starts with ``_`` or
``.`` (summary and hidden files), a path is relative, not a regular file
or names a host, or the footer read raises — so a missing or corrupt
file still fails with Spark's own error.  The path list crosses to the
JVM as one string, and the JVM handles the build calls are looked up
once per gateway: under a busy driver every py4j round trip costs about
a millisecond.
"""

from __future__ import annotations

import functools
import heapq
import os
import threading
from contextlib import contextmanager
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_compaction_spark.plans.datamodel import FileScanTask

HIDDEN_SEQ = "sys_hidden_seq_num"
HIDDEN_FILE_PATH = "sys_hidden_file_path"
HIDDEN_POS = "sys_hidden_pos"

# deletion vectors up to this many total positions inline as a plan
# literal (scan-fused filter); larger ones broadcast-anti-join instead
DV_INLINE_MAX_POSITIONS = 4096

# DV parquet up to this many on-disk bytes may be materialized on the
# driver (pyarrow -> plan literal / local rows); beyond it the vectors
# MUST stay distributed (spark.read.parquet + anti-join) — an
# equality-heavy 100 TB table can carry billions of delete positions,
# and a driver-side Python list of those is an OOM, not a plan choice
DV_DRIVER_MAX_BYTES = 8 * 1024 * 1024

# DV tables up to this size broadcast to the anti-join; larger ones are
# left to AQE (mirrors mor.DEFAULT_BROADCAST_DELETE_BYTES)
DV_BROADCAST_MAX_BYTES = 64 * 1024 * 1024


def split_n_vecs(
    tasks: list[FileScanTask], split_num: int
) -> list[list[FileScanTask]]:
    """S3: deterministic balanced grouping of scan tasks into
    ``split_num`` groups by total byte length — greedy min-heap, ties
    broken by group index (iceberg_file_task_scan.rs:245-301).

    Spark normally does this itself (file-split bin packing via
    ``maxPartitionBytes``/``openCostInBytes``); this is the explicit
    form for when the planner needs stable per-group file assignments
    (e.g. one Spark job per group with pinned input sets).
    """
    if split_num <= 0:
        raise ValueError("split_num must be positive")
    heap: list[tuple[int, int, list[FileScanTask]]] = [
        (0, idx, []) for idx in range(split_num)
    ]
    # heap invariant over (total_length, idx) matches the reference's
    # Ord: length first, index breaks ties -> fully deterministic
    for task in tasks:
        total, idx, group = heapq.heappop(heap)
        group.append(task)
        heapq.heappush(heap, (total + task.length, idx, group))
    return [group for _total, _idx, group in sorted(heap, key=lambda g: g[1])]


def _normalize_path(col):
    """Canonicalize a file URI for path-identity joins (the seq-map
    lookup and delete anti-joins): Spark reports ``file:///...`` /
    ``s3a://bucket/...`` while manifests may store plain POSIX paths or
    ``s3://`` URIs.  Local: strip the scheme and slash-collapse to one
    leading ``/``.  Object store: fold the s3a/s3n connector schemes
    into canonical ``s3://`` (same bucket/key identity; Iceberg
    metadata written by Spark uses s3a, by Trino/Flink s3) and collapse
    duplicate slashes in the key.  Pure string ops — stays in the scan
    projection's codegen."""
    local = F.regexp_replace(col, "^file:/*", "/")
    return F.when(
        col.rlike("^s3[an]?://"),
        F.regexp_replace(
            F.regexp_replace(col, "^s3[an]?://", "s3://"),
            "(?<!s3:)//+",
            "/",
        ),
    ).otherwise(local)


def normalize_path_str(p: str) -> str:
    """Python twin of :func:`_normalize_path` for driver-side metadata
    (manifest paths, puffin referenced-data-file entries) — both sides
    of every path join must normalize identically."""
    import re

    if re.match(r"^s3[an]?://", p):
        p = re.sub(r"^s3[an]?://", "s3://", p)
        head, rest = p[:5], p[5:]
        return head + re.sub(r"//+", "/", rest)
    return re.sub(r"^file:/*", "/", p)


# schemes Spark's JVM parquet source reads natively in this environment
# (no hadoop-aws/gcs connectors baked in); everything else routes
# through the FileIO seam
SPARK_NATIVE_SCHEMES = frozenset({"", "file"})


def spark_native_paths(paths) -> bool:
    """True iff every path is readable by Spark's own file source."""
    from iceberg_compaction_spark.sources.fileio import scheme_of

    return all(scheme_of(p) in SPARK_NATIVE_SCHEMES for p in paths)


LISTING_THRESHOLD_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# Int.MaxValue: no path list is long enough to start the listing job
_DRIVER_LISTING_THRESHOLD = str(2**31 - 1)

# schemes whose file status is a local syscall.  Deliberately separate
# from SPARK_NATIVE_SCHEMES: a connector added there (s3a) must keep
# Spark's parallel listing, not turn it into N serial HEAD requests.
_LOCAL_SCHEMES = frozenset({"", "file"})

# The threshold is session conf, shared by every thread that reads on
# the session, so concurrent scopes are refcounted per JVM session: the
# first one in saves the caller's value, the last one out restores it.
# The lock guards only this bookkeeping, never the Spark call itself —
# holding it there would serialize the groups' relation resolution.
_listing_lock = threading.Lock()
_listing_scopes: dict[int, list] = {}  # session -> [open scopes, saved value]


@contextmanager
def _driver_listing(spark: SparkSession):
    key = _jvm_handles(spark._jvm).identity_hash(spark._jsparkSession)
    with _listing_lock:
        scope = _listing_scopes.get(key)
        if scope is None:
            saved = spark.conf.get(LISTING_THRESHOLD_KEY, None)
            spark.conf.set(LISTING_THRESHOLD_KEY, _DRIVER_LISTING_THRESHOLD)
            scope = _listing_scopes[key] = [0, saved]
        scope[0] += 1
    try:
        yield
    finally:
        with _listing_lock:
            scope[0] -= 1
            if scope[0] == 0:
                del _listing_scopes[key]
                if scope[1] is None:
                    spark.conf.unset(LISTING_THRESHOLD_KEY)
                else:
                    spark.conf.set(LISTING_THRESHOLD_KEY, scope[1])


def _inference_file(paths: list[str]) -> str | None:
    """The qualified path of the file Spark's schema inference would
    read for the local ``paths`` (``ParquetUtils.splitFiles``: leaves
    sorted by qualified path string, first one that is no summary
    file), or None when the path strings alone cannot tell."""
    qualified = []
    for p in paths:
        local = p[len("file:"):] if p.startswith("file:") else p
        name = os.path.basename(local)
        if (
            not os.path.isabs(local)
            or (local.startswith("//") and not local.startswith("///"))
            or name.startswith(("_", "."))
            or not os.path.isfile(local)
        ):
            return None
        qualified.append("file:" + os.path.normpath("/" + local.lstrip("/")))
    # Java orders strings by UTF-16 code unit
    return min(qualified, key=lambda q: q.encode("utf-16-be"), default=None)


@functools.lru_cache(maxsize=1)
def _jvm_handles(jvm) -> SimpleNamespace:
    """The JVM classes, static members and constants the driver-side
    scan build calls, looked up once per gateway: every lookup is a py4j
    round trip, and under a busy driver each costs about a millisecond.
    Each class is named in full, in one getattr: a package-by-package
    walk costs a round trip per segment."""
    pkg = "org.apache.spark.sql.execution.datasources.parquet."
    converter = getattr(jvm, pkg + "ParquetToSparkSchemaConverter")
    return SimpleNamespace(
        identity_hash=getattr(jvm, "java.lang.System").identityHashCode,
        # NUL cannot occur in a path: one joined string crosses as one
        # argument and splits into the String[] the reader takes
        split_paths=getattr(jvm, "java.util.regex.Pattern").compile("\0").split,
        converter=converter,
        # the constructor defaults mergeSchemasInParallel keeps for
        # caseSensitive, useFieldId and ignoreVariantAnnotation (the
        # SQLConf constructor reads those three from the session)
        converter_defaults=[
            getattr(converter, f"$lessinit$greater$default${i}")()
            for i in (3, 6, 7)
        ],
        path=getattr(jvm, "org.apache.hadoop.fs.Path"),
        input_file=getattr(
            jvm, "org.apache.parquet.hadoop.util.HadoopInputFile"
        ).fromPath,
        read_footer=getattr(jvm, pkg + "ParquetFooterReader").readFooter,
        skip_row_groups=getattr(
            jvm, "org.apache.parquet.format.converter.ParquetMetadataConverter"
        ).SKIP_ROW_GROUPS,
        footer=getattr(jvm, "org.apache.parquet.hadoop.Footer"),
        read_schema=getattr(jvm, pkg + "ParquetFileFormat").readSchemaFromFooter,
    )


def _footer_schema(spark: SparkSession, paths: list[str]):
    """The JVM ``StructType`` Spark's schema inference would give the
    local ``paths``, read from one footer on the driver, or None where
    Spark's own inference must run (see the module docstring)."""
    from py4j.protocol import Py4JError

    state = spark._jsparkSession.sessionState()
    conf = state.conf()
    if conf.isParquetSchemaMergingEnabled():
        return None
    chosen = _inference_file(paths)
    if chosen is None:
        return None
    handles = _jvm_handles(spark._jvm)
    try:
        # built as mergeSchemasInParallel builds it
        case_sensitive, field_id, ignore_variant = handles.converter_defaults
        converter = handles.converter(
            conf.isParquetBinaryAsString(),
            conf.isParquetINT96AsTimestamp(),
            case_sensitive,
            conf.parquetInferTimestampNTZEnabled(),
            conf.legacyParquetNanosAsLong(),
            field_id,
            ignore_variant,
            conf.parquetReaderRespectUnknownTypeAnnotation(),
        )
        path = handles.path(chosen)
        metadata = handles.read_footer(
            handles.input_file(path, state.newHadoopConf()),
            handles.skip_row_groups,
        )
        return handles.read_schema(handles.footer(path, metadata), converter)
    except Py4JError:
        return None


def read_listed_parquet(
    spark: SparkSession, paths: list[str], schema=None, **options: str
) -> DataFrame:
    """``spark.read.options(**options)[.schema(schema)].parquet(*paths)``
    over a manifest-supplied file list — the one place in the package
    where an explicit path list becomes a Spark scan.  All-local lists
    are listed on the driver and, given no schema, take it from one
    footer read there (see the module docstring)."""
    from iceberg_compaction_spark.sources.fileio import scheme_of

    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    if not paths or not all(scheme_of(p) in _LOCAL_SCHEMES for p in paths):
        return reader.parquet(*paths)
    if schema is None and not options:
        jschema = _footer_schema(spark, paths)
        if jschema is not None:
            # the JVM reader takes the JVM schema as is: no JSON round
            # trip through a Python StructType
            reader._jreader.schema(jschema)
    # the path list crosses to the JVM in one call, not one per path
    jpaths = _jvm_handles(spark._jvm).split_paths("\0".join(paths))
    with _driver_listing(spark):
        return reader._df(reader._jreader.parquet(jpaths))


def driver_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Rows held on the driver (tuples, one per row, in ``schema``'s
    column order) as a Spark relation.

    ``spark.createDataFrame(rows, schema)`` pickles the rows through
    ``sc.parallelize`` plus a Python ``map``, so every query that reads
    them runs a ``PythonRDD`` in Python workers.  Here the rows become
    one ``pyarrow.Table`` typed by the Spark schema, and the JVM reads
    that Arrow stream itself (a local relation below
    ``spark.sql.execution.arrow.localRelationThreshold``): no Python
    worker ever evaluates them, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says.  Schema, rows
    and row order are those of the list path, DDL-string schemas
    included; a ``None`` in a non-nullable field raises ``ValueError``
    from the Arrow cast."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def read_parquet_files(
    spark: SparkSession, paths: list[str], with_metadata: bool = False
) -> DataFrame:
    """FileIO-aware parquet read.

    Spark-native schemes go through :func:`read_listed_parquet`
    (distributed, vectorized, pushdown-eligible — the only path that
    matters at scale).
    Any other scheme (``mem://`` in tests, an fsspec store without a
    Spark connector) is loaded driver-side through :mod:`fileio` into
    one Arrow table and handed to Spark — a deliberately BOUNDED seam:
    the callers route only sidecar artifacts (position-delete trails,
    equality-delete key files, DML micro-batches) through it, never the
    table's data volume; big-data reads on object stores belong to the
    ``iceberg-table`` DataSource (executor-side pyarrow through the same
    FileIO) or a real Spark connector.

    ``with_metadata=True`` synthesizes the two ``_metadata`` fields the
    hidden-column machinery consumes (``file_path``, ``row_index``) so a
    FileIO-backed scan feeds the identical MOR plan downstream.
    """
    if spark_native_paths(paths):
        return read_listed_parquet(spark, paths)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.sources.fileio import open_input

    tables = []
    for p in paths:
        with open_input(p) as fh:
            t = pq.read_table(fh)
        if with_metadata:
            t = t.append_column(
                "__fio_file_path",
                pa.array([p] * t.num_rows, type=pa.string()),
            ).append_column(
                "__fio_row_index",
                pa.array(range(t.num_rows), type=pa.int64()),
            )
        tables.append(t)
    df = spark.createDataFrame(
        pa.concat_tables(tables, promote_options="default")
    )
    if with_metadata:
        df = df.withColumn(
            "_metadata",
            F.struct(
                F.col("__fio_file_path").alias("file_path"),
                F.col("__fio_row_index").alias("row_index"),
            ),
        ).drop("__fio_file_path", "__fio_row_index")
    return df


def read_data_files(
    spark: SparkSession,
    paths: list[str],
    need_seq_num: bool = False,
    need_file_path_and_pos: bool = False,
    seq_by_path: dict[str, int] | None = None,
    default_seq: int = 0,
    position_vectors: dict[str, list[int]] | None = None,
    position_vector_paths: list[str] | None = None,
    position_vector_bytes: int | None = None,
    position_vector_df: DataFrame | None = None,
    schema_fields: list[dict] | None = None,
    name_mapping: dict[int, tuple] | None = None,
    extra_name_columns: list[tuple] | None = None,
) -> DataFrame:
    """Read parquet data files, appending the hidden MOR columns.

    ``schema_fields`` (the table's CURRENT Iceberg schema, field dicts
    with ids) activates field-id column resolution: the requested Spark
    schema carries ``parquet.field.id`` metadata and the parquet reader
    matches file columns BY ID (sources/schema_evo.py) — files written
    before a rename/add/drop still scan correctly, exactly as the
    reference resolves schemas through field ids
    (datafusion_processor.rs:741-774).  Nested types resolve too:
    Spark's native reader matches ids at every nesting level, so a
    rename INSIDE a struct (or of a list/map column) is metadata-only
    on this path as well.

    Deletion vectors come in one of three forms (mutually exclusive):
    ``position_vectors`` is the small-DV driver-side dict (planner
    metadata, bounded by mor's DV_DRIVER_MAX_BYTES gate);
    ``position_vector_paths`` keeps LARGE parquet vectors distributed —
    read with ``spark.read.parquet`` and anti-joined, never touching the
    driver, with ``position_vector_bytes`` choosing broadcast vs AQE;
    ``position_vector_df`` is a pre-built distributed
    ``(__dv_path, __dv_pos)`` frame (e.g. executor-decoded puffin
    bitmaps) applied the same way.

    ``seq_by_path`` maps file path -> data sequence number.  When the map
    is provided it must cover EVERY input path: a silent fallback to
    ``default_seq`` (0) would make unmapped rows strictly older than
    every equality delete and cause invisible over-deletion on any path
    normalization mismatch (symlink, ``//``, non-file: scheme) — so
    unmapped rows fail the query loudly instead.  The map is manifest
    metadata (one entry per file), so it is inlined as a literal — the
    lookup never shuffles data.
    """
    df = None
    pending_rename = None
    if not spark_native_paths(paths):
        # FileIO-backed scheme (mem:// tests, connector-less stores):
        # same hidden-column plan over a FileIO-loaded frame.  Field-id
        # schema evolution needs Spark's native reader — tables that
        # evolved their schema must be read through the iceberg-table
        # DataSource on these backends (its executor-side pyarrow path
        # resolves ids per file).
        if schema_fields:
            from iceberg_compaction_spark.sources.schema_evo import (
                struct_with_field_ids,
            )

            if struct_with_field_ids(schema_fields, nested=True) is not None:
                raise ValueError(
                    "field-id schema resolution requires a Spark-native "
                    "scheme; read this table through the iceberg-table "
                    "DataSource instead: " + paths[0]
                )
        df = read_parquet_files(spark, paths, with_metadata=True)
    elif schema_fields:
        from iceberg_compaction_spark.sources.schema_evo import (
            enable_field_id_reads,
            file_field_ids,
            struct_with_field_ids,
        )

        st = struct_with_field_ids(schema_fields, nested=True)
        if st is not None and extra_name_columns:
            # Engine-written auxiliary columns OUTSIDE the declared
            # Iceberg schema (e.g. materialized v3 lineage columns):
            # appended WITHOUT field-id metadata, so Spark's reader
            # matches them by NAME while the declared fields keep id
            # resolution — mixed matching is per-field (verified
            # empirically; fields lacking parquet.field.id metadata
            # fall back to name lookup).
            from pyspark.sql.types import StructField as _SF
            from pyspark.sql.types import StructType as _ST
            from pyspark.sql.types import _parse_datatype_string as _pds

            st = _ST(
                [*st.fields]
                + [_SF(n, _pds(t), nullable=True) for n, t in extra_name_columns]
            )
        if st is not None:
            # Which files actually carry parquet field ids?  One footer
            # metadata read per file at PLAN time — the same cost class
            # as the stats collection the planner already performs per
            # file, and only on the schema_fields (real-Iceberg) path.
            import pyarrow.parquet as _pq

            from iceberg_compaction_spark.sources.fileio import open_input

            def _probe(p: str) -> tuple[bool, frozenset]:
                with open_input(p) as fh:
                    sch = _pq.read_schema(fh)
                    return bool(file_field_ids(sch)), frozenset(sch.names)

            # footer reads are IO-bound metadata gets — probe them
            # concurrently so plan time stays flat at large file counts
            # (ADVICE r7: serial driver-side opens were the bottleneck)
            from concurrent.futures import ThreadPoolExecutor

            if len(paths) > 1:
                with ThreadPoolExecutor(
                    max_workers=min(16, len(paths))
                ) as ex:
                    probes = list(ex.map(_probe, paths))
            else:
                probes = [_probe(p) for p in paths]
            with_ids = [p for p, (f, _) in zip(paths, probes) if f]
            without = [p for p, (f, _) in zip(paths, probes) if not f]
            without_names = [
                n for (f, n) in probes if not f
            ]
            # v3 default values: Spark's native reader fills ABSENT
            # columns with NULL, which silently ignores a declared
            # initial-default.  A default-bearing field can only be
            # absent from files written BEFORE it was added (its name
            # is current in every post-add file), so name presence is
            # the exact test.  Fail loudly toward the path that applies
            # defaults per file (the DataSource's executor remap).
            dflt = [
                f["name"]
                for f in schema_fields
                if f.get("initial-default") is not None
            ]
            if dflt:
                for p, (_, names) in zip(paths, probes):
                    missing = [c for c in dflt if c not in names]
                    if missing:
                        raise ValueError(
                            f"file {p} predates default-bearing "
                            f"column(s) {missing}; this scan path "
                            "cannot apply initial-default — read the "
                            "table through the iceberg-table DataSource"
                        )
            if with_ids and not without:
                # the spec-compliant case: every data file carries ids
                # — Spark's native field-id resolution, fully JVM-side
                enable_field_id_reads(spark)
                df = read_listed_parquet(spark, paths, schema=st)
            elif without and not with_ids:
                # pre-Iceberg import: no file has ids.  With an explicit
                # schema.name-mapping.default, each field resolves
                # through its alias candidates against the file's
                # physical names; otherwise the default mapping applies
                # (mapped name = field name).  Missing (added) columns
                # project NULL.
                from pyspark.sql.types import StructField, StructType

                resolved = None
                if name_mapping:
                    sigs: dict[tuple, list] = {}
                    for p, names in zip(without, without_names):
                        ren = {}
                        for fld in schema_fields:
                            cur = fld["name"]
                            if cur in names:
                                ren[cur] = cur
                                continue
                            alias = next(
                                (
                                    n
                                    for n in name_mapping.get(
                                        int(fld["id"]), ()
                                    )
                                    if n in names
                                ),
                                None,
                            )
                            if alias is not None:
                                ren[cur] = alias
                        sigs.setdefault(
                            tuple(sorted(ren.items())), []
                        ).append(p)
                    if len(sigs) > 1:
                        # files disagree on which alias carries a field:
                        # ONE engine scan cannot express per-file
                        # renames (a union would hide _metadata, see the
                        # mixed branch below) — fail loudly with the fix
                        raise ValueError(
                            "name-mapped files resolve to different "
                            f"physical column sets ({len(sigs)} "
                            "signatures); read this table through the "
                            "iceberg-table DataSource (per-file "
                            "resolution) or rewrite the imports"
                        )
                    resolved = dict(next(iter(sigs)))
                if resolved and any(k != v for k, v in resolved.items()):
                    by_cur = {f.name: f for f in st.fields}
                    phys = StructType(
                        [
                            StructField(
                                resolved[c], by_cur[c].dataType, True
                            )
                            for c in resolved
                        ]
                    )
                    df = read_listed_parquet(spark, paths, schema=phys)
                    # renamed/missing columns project at the END of this
                    # function (after the hidden _metadata-derived
                    # columns attach — they need the raw scan schema)
                    pending_rename = [
                        (f.name, resolved.get(f.name), f.dataType)
                        for f in st.fields
                    ]
                else:
                    plain = StructType(
                        [
                            StructField(f.name, f.dataType, f.nullable)
                            for f in st.fields
                        ]
                    )
                    df = read_listed_parquet(spark, paths, schema=plain)
            else:
                # mixed id/no-id groups need per-file resolution, which
                # the single-scan hidden-column machinery below cannot
                # express (a union hides _metadata) — fail loudly with
                # the fix instead of silently misreading either side
                raise ValueError(
                    "file group mixes parquet files with and without "
                    f"field ids ({len(with_ids)} with, {len(without)} "
                    "without); rewrite the id-less imports (compaction "
                    "does this) or scan them as separate groups: "
                    + ", ".join(without[:5])
                )
    if df is None:
        df = read_listed_parquet(spark, paths)

    if position_vectors:
        # Reader-side deletion-vector application (format v3,
        # datafusion_processor.rs:632-653): drop deleted row positions
        # INSIDE the scan stage instead of a J1 anti-join.  The vectors
        # are planner metadata attached to the scan task (in real v3
        # they're compact roaring bitmaps from puffin files).  Two
        # physical strategies by DV size:
        #
        # - small DVs inline as a path -> sorted-positions map literal;
        #   the check is a JVM-side filter fused into the scan's codegen
        #   stage (the Spark analog of the ArrowReader applying attached
        #   DVs).  Zero shuffle, zero extra operators.
        # - large DVs would bloat the literal plan tree (every position
        #   becomes an expression node serialized to every task) and the
        #   array_contains probe is O(|DV|) per row — so beyond
        #   DV_INLINE_MAX_POSITIONS the vectors become a broadcast
        #   anti-join on (path, pos): the data side still never
        #   shuffles, the DV side ships once per executor as a hash
        #   relation, and the probe is O(1).
        total_positions = sum(len(v) for v in position_vectors.values())
        path_col = _normalize_path(F.col("_metadata.file_path"))
        if total_positions <= DV_INLINE_MAX_POSITIONS:
            dv_map = F.create_map(
                *[
                    x
                    for p, positions in sorted(
                        (normalize_path_str(k), v)
                        for k, v in position_vectors.items()
                    )
                    for x in (
                        F.lit(p),
                        F.array(
                            *[F.lit(int(i)) for i in sorted(set(positions))]
                        ),
                    )
                ]
            )
            dv = F.element_at(dv_map, path_col)
            df = df.where(
                dv.isNull()
                | ~F.array_contains(dv, F.col("_metadata.row_index"))
            )
        else:
            dv_rows = [
                (normalize_path_str(p), int(i))
                for p, positions in sorted(position_vectors.items())
                for i in sorted(set(positions))
            ]
            dv_df = driver_frame(
                spark, dv_rows, "__dv_path string, __dv_pos long"
            )
            df = (
                df.withColumn("__dv_probe_path", path_col)
                .withColumn("__dv_probe_pos", F.col("_metadata.row_index"))
                .join(
                    F.broadcast(dv_df),
                    (F.col("__dv_probe_path") == F.col("__dv_path"))
                    & (F.col("__dv_probe_pos") == F.col("__dv_pos")),
                    "left_anti",
                )
                .drop("__dv_probe_path", "__dv_probe_pos")
            )

    if position_vector_paths or position_vector_df is not None:
        # Large-DV scale path: the vectors never exist as driver-side
        # Python objects.  Executors read the DV parquet (or decode the
        # puffin bitmaps) directly and the scan output anti-joins it on
        # (path, pos) — the data side still never shuffles; the DV side
        # broadcasts when small enough on disk, otherwise AQE picks the
        # strategy at runtime.
        # no dropDuplicates: anti-join drops a row on ANY match, so DV
        # duplicates are harmless — and deduping would shuffle the DV side
        if position_vector_paths:
            dv_df = read_parquet_files(spark, position_vector_paths).select(
                _normalize_path(F.col(HIDDEN_FILE_PATH)).alias("__dv_path"),
                F.col(HIDDEN_POS).alias("__dv_pos"),
            )
            if position_vector_df is not None:
                dv_df = dv_df.unionByName(position_vector_df)
        else:
            dv_df = position_vector_df
        if (
            position_vector_bytes is not None
            and position_vector_bytes <= DV_BROADCAST_MAX_BYTES
        ):
            dv_df = F.broadcast(dv_df)
        path_col = _normalize_path(F.col("_metadata.file_path"))
        df = (
            df.withColumn("__dv_probe_path", path_col)
            .withColumn("__dv_probe_pos", F.col("_metadata.row_index"))
            .join(
                dv_df,
                (F.col("__dv_probe_path") == F.col("__dv_path"))
                & (F.col("__dv_probe_pos") == F.col("__dv_pos")),
                "left_anti",
            )
            .drop("__dv_probe_path", "__dv_probe_pos")
        )

    if need_file_path_and_pos:
        df = df.withColumn(
            HIDDEN_FILE_PATH, _normalize_path(F.col("_metadata.file_path"))
        ).withColumn(HIDDEN_POS, F.col("_metadata.row_index"))

    if need_seq_num:
        if seq_by_path:
            seqs = list(set(seq_by_path.values()))
            if len(seqs) == 1:
                df = df.withColumn(HIDDEN_SEQ, F.lit(seqs[0]).cast("long"))
            else:
                path_col = (
                    F.col(HIDDEN_FILE_PATH)
                    if need_file_path_and_pos
                    else _normalize_path(F.col("_metadata.file_path"))
                )
                mapping = F.create_map(
                    *[
                        F.lit(x)
                        for kv in (
                            (normalize_path_str(k), v)
                            for k, v in seq_by_path.items()
                        )
                        for x in kv
                    ]
                )
                looked = F.element_at(mapping, path_col)
                df = df.withColumn(
                    HIDDEN_SEQ,
                    F.when(
                        looked.isNull(),
                        F.raise_error(
                            F.concat(
                                F.lit("data file missing from seq_by_path: "),
                                path_col,
                            )
                        ),
                    )
                    .otherwise(looked)
                    .cast("long"),
                )
        else:
            df = df.withColumn(HIDDEN_SEQ, F.lit(default_seq).cast("long"))

    if pending_rename:
        hidden = [
            c
            for c in (HIDDEN_FILE_PATH, HIDDEN_POS, HIDDEN_SEQ)
            if c in df.columns
        ]
        df = df.select(
            *[
                F.col(phys).alias(cur)
                if phys is not None
                else F.lit(None).cast(dt).alias(cur)
                for cur, phys, dt in pending_rename
            ],
            *hidden,
        )
    return df


def read_pruned(
    spark: SparkSession,
    manifest,
    predicates,
) -> DataFrame:
    """Predicate-pruned snapshot scan: drop whole files whose manifest
    column bounds prove no row can match (plans/pruning.py — Iceberg's
    InclusiveMetricsEvaluator), then apply the SAME predicate as a Spark
    filter over the survivors for row-level exactness.

    This is the plan-time half of predicate pushdown: Catalyst pushes
    the filter into surviving files' row groups; the manifest stats stop
    Spark from ever LISTING the dead files — on object stores at 100 TB
    the listing+footer round-trips alone dominate a selective query.

    Returns an empty DataFrame with the table's schema when every file
    prunes (schema comes from an 0-row read of the first file's footer).
    """
    from iceberg_compaction_spark.plans import pruning as pr

    tasks = manifest.data_files
    alive = pr.prune_tasks(tasks, predicates)
    cond = pr.predicate_to_spark(predicates)
    fields = getattr(manifest, "schema_fields", None) or None
    if not alive:
        if not tasks:
            raise ValueError("cannot infer schema of an empty table")
        empty = read_data_files(
            spark, [tasks[0].data_file_path], schema_fields=fields
        ).limit(0)
        return empty if cond is None else empty.where(cond)
    df = read_data_files(
        spark, [t.data_file_path for t in alive], schema_fields=fields
    )
    return df if cond is None else df.where(cond)
