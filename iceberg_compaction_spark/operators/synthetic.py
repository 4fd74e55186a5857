"""Deterministic synthetic MOR workload over the driver's testdata.

The reference generates randomized delete workloads in its integration
harness (integration-tests/src/test_utils/generator.rs:520-600).  For the
DuckDB-oracle correctness gate we need the same workload expressible in
BOTH Spark and ANSI SQL, so deletes are derived from the data by pure
arithmetic rules (seed-free, engine-agnostic):

- data sequence number: even ``l_orderkey`` -> 1, odd -> 9 (covers both
  sides of the strict ``<`` residual, FIXTURES.md F8);
- position deletes: rows with ``l_orderkey % 13 = 0 AND l_linenumber % 2 = 1``,
  materialized as real ``(file_path, row_index)`` pairs so the Spark side
  genuinely exercises the J1 (file,pos) anti-join machinery;
- equality deletes: keys ``(l_orderkey, l_linenumber)`` where
  ``l_orderkey % 17 = 0``, delete sequence number 5 — even orderkeys
  (seq 1 < 5) are deleted, odd ones (seq 9) survive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_compaction_spark.sources.scan import (
    HIDDEN_FILE_PATH,
    HIDDEN_POS,
    HIDDEN_SEQ,
)

# lineitem output columns; l_shipdate is projected as DATE so value hashes
# are timezone-proof across engines.
LINEITEM_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
]

EQ_DELETE_SEQ = 5
POS_RULE_SQL = "(l_orderkey % 13 = 0 AND l_linenumber % 2 = 1)"
SEQ_RULE_SQL = "CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 9 END"
EQ_KEY_RULE_SQL = "l_orderkey % 17 = 0"


def _seq_col():
    return (
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(1)).otherwise(F.lit(9)).cast("long")
    )


def _pos_rule():
    return (F.col("l_orderkey") % 13 == 0) & (F.col("l_linenumber") % 2 == 1)


def lineitem_path(sf_dir: str) -> str:
    return f"{sf_dir}/lineitem.parquet"


def read_lineitem_with_hidden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-file scan with all three hidden columns (S8/S9) — file path and
    row position come from Spark's file-source metadata (zero-cost, no
    shuffle), the sequence number from the deterministic rule.

    Deliberately NOT repartitioned (unlike the documents/embeddings
    readers in registry.py): the MOR downstream is broadcast-hash-join
    probes, cheaper per row than exchanging the wide lineitem rows —
    measured 2-3x slower with a spread at sf0.1.  The engine-level rule
    generalizes: never shuffle the data side of a MOR rewrite."""
    df = spark.read.parquet(lineitem_path(sf_dir))
    return (
        df.withColumn(
            HIDDEN_FILE_PATH,
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/"),
        )
        .withColumn(HIDDEN_POS, F.col("_metadata.row_index"))
        .withColumn(HIDDEN_SEQ, _seq_col())
    )


def _delete_file_cache(spark: SparkSession, sf_dir: str, name: str, build) -> str:
    """Materialize a derived delete table as a real parquet delete FILE
    (one-time per sf_dir, atomic dir rename) — the MOR queries then scan
    delete files exactly like the reference engine does, instead of
    re-deriving the deletes from the data on every run.  The derivation
    is deterministic, so the cache never goes stale for a given sf_dir."""
    import hashlib
    import os
    import tempfile
    import uuid

    src = lineitem_path(sf_dir)
    st = os.stat(src)
    # key on source identity AND content version (size+mtime) so a
    # regenerated testdata file can never serve stale cached deletes
    key = hashlib.md5(
        f"{src}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"icspark-synth-{key}")
    path = os.path.join(root, name)
    if not os.path.isdir(path):
        os.makedirs(root, exist_ok=True)
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        build().coalesce(1).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)  # atomic; loser of a race cleans up
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return path


def position_delete_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: (sys_hidden_file_path, sys_hidden_pos) pairs, served from a
    materialized position-delete file (like reading a real delete file)."""

    def build() -> DataFrame:
        df = spark.read.parquet(lineitem_path(sf_dir))
        return (
            df.withColumn(
                HIDDEN_FILE_PATH,
                F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/"),
            )
            .withColumn(HIDDEN_POS, F.col("_metadata.row_index"))
            .filter(_pos_rule())
            .select(HIDDEN_FILE_PATH, HIDDEN_POS)
        )

    return spark.read.parquet(
        _delete_file_cache(spark, sf_dir, "pos_deletes.parquet", build)
    )


def equality_delete_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: distinct (l_orderkey, l_linenumber) keys + delete seq, served
    from a materialized equality-delete file."""

    def build() -> DataFrame:
        df = spark.read.parquet(lineitem_path(sf_dir))
        return (
            df.filter(F.col("l_orderkey") % 17 == 0)
            .select("l_orderkey", "l_linenumber")
            .dropDuplicates()
            .withColumn(HIDDEN_SEQ, F.lit(EQ_DELETE_SEQ).cast("long"))
        )

    return spark.read.parquet(
        _delete_file_cache(spark, sf_dir, "eq_deletes.parquet", build)
    )


def output_select(df: DataFrame) -> DataFrame:
    return df.select(
        *[F.col(c) for c in LINEITEM_COLS],
        F.col("l_shipdate").cast("date").alias("l_shipdate"),
    )


OUTPUT_COLS_SQL = (
    ", ".join(LINEITEM_COLS) + ", CAST(l_shipdate AS DATE) AS l_shipdate"
)


def datasource_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: a FileCatalog warehouse holding lineitem as
    a REAL merge-on-read table, derived purely from the fixture by the
    same deterministic rules the mor_* oracles use:

    - data split into two files by the sequence rule (even orderkeys ->
      seq 1, odd -> seq 9), because file-level sequence numbers are how
      real Iceberg carries the per-row ``SEQ_RULE_SQL`` the oracle
      computes;
    - a (path, pos) position-delete file generated by ``POS_RULE_SQL``
      against THOSE files' actual row positions;
    - the equality-delete key file at ``EQ_DELETE_SEQ`` (applies only
      to the seq-1 file under the strictly-lower rule — exactly the
      oracle's ``d.seq < EQ_DELETE_SEQ``).

    Any MOR reader pointed at this table must therefore reproduce
    ``_MOR_FULL_SQL`` bit-for-bit — which is what lets the Spark Python
    DataSource be ORACLE-checked end to end, not just pytest-checked.
    Returns the warehouse path (table name: ``lineitem_mor``).
    """
    import glob
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    from iceberg_compaction_spark.plans.datamodel import (
        EQUALITY_DELETE,
        POSITION_DELETE,
        DeleteFile,
        FileScanTask,
    )
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.manifest import Manifest

    src = lineitem_path(sf_dir)
    st = os.stat(src)
    key = hashlib.md5(
        f"dswh|{src}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"icspark-dswh-{key}")
    wh = os.path.join(root, "wh")
    if os.path.isdir(os.path.join(wh, "lineitem_mor", "metadata")):
        return wh

    stage = os.path.join(
        tempfile.gettempdir(), f"icspark-dswh-{key}.{uuid.uuid4().hex[:8]}.tmp"
    )
    data_root = os.path.join(stage, "data")
    df = spark.read.parquet(src)
    even = df.where(F.col("l_orderkey") % 2 == 0)
    odd = df.where(F.col("l_orderkey") % 2 != 0)
    even.coalesce(1).write.parquet(os.path.join(data_root, "seq1"))
    odd.coalesce(1).write.parquet(os.path.join(data_root, "seq9"))

    def one_file(d):
        return glob.glob(os.path.join(d, "part-*.parquet"))[0]

    a_path = one_file(os.path.join(data_root, "seq1"))
    b_path = one_file(os.path.join(data_root, "seq9"))

    # position deletes against the NEW files' actual row positions —
    # with the STAGE prefix rewritten to the final published root, since
    # the whole staging dir is renamed atomically below and the paths
    # STORED INSIDE the delete file must match what readers see
    pos_df = (
        spark.read.parquet(a_path, b_path)
        .withColumn(
            HIDDEN_FILE_PATH,
            F.replace(
                F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/"),
                F.lit(stage),
                F.lit(root),
            ),
        )
        .withColumn(HIDDEN_POS, F.col("_metadata.row_index"))
        .filter(_pos_rule())
        .select(HIDDEN_FILE_PATH, HIDDEN_POS)
    )
    pos_df.coalesce(1).write.parquet(os.path.join(stage, "posdel"))
    pos_path = one_file(os.path.join(stage, "posdel"))

    eq_df = (
        df.filter(F.col("l_orderkey") % 17 == 0)
        .select("l_orderkey", "l_linenumber")
        .dropDuplicates()
    )
    eq_df.coalesce(1).write.parquet(os.path.join(stage, "eqdel"))
    eq_path = one_file(os.path.join(stage, "eqdel"))

    def task(path, seq):
        deletes = [
            DeleteFile(
                path=path_rel(pos_path),
                content=POSITION_DELETE,
                file_size_in_bytes=os.path.getsize(pos_path),
                sequence_number=EQ_DELETE_SEQ,
            ),
            DeleteFile(
                path=path_rel(eq_path),
                content=EQUALITY_DELETE,
                file_size_in_bytes=os.path.getsize(eq_path),
                sequence_number=EQ_DELETE_SEQ,
                equality_ids=("l_orderkey", "l_linenumber"),
            ),
        ]
        return FileScanTask(
            data_file_path=path_rel(path),
            length=os.path.getsize(path),
            record_count=0,
            sequence_number=seq,
            deletes=deletes,
        )

    def path_rel(p):
        # staged paths are renamed into `root` atomically below
        return p.replace(stage, root, 1)

    m = Manifest(
        table_root=os.path.join(root, "data"),
        sequence_number=9,
        data_files=[task(a_path, 1), task(b_path, 9)],
    )
    FileCatalog(warehouse=os.path.join(stage, "wh")).create_table(
        "lineitem_mor", m
    )
    try:
        os.rename(stage, root)  # atomic publish; race loser cleans up
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
    return wh


def evolution_table_dir(sf_dir: str) -> str:
    """One-time per sf_dir: a REAL Iceberg-metadata table whose data
    files straddle a schema evolution — file A written under schema v1
    (``l_quantity`` physically named ``quantity``, no ``l_discount``),
    file B under the CURRENT schema v2 (renamed + added column), both
    carrying parquet field ids.  A field-id-correct reader
    (sources/schema_evo.py; reference behavior
    datafusion_processor.rs:741-774) must return the renamed column
    from BOTH files and NULL ``l_discount`` for file A's rows — which
    is exactly what the ``mor_after_rename`` oracle pins against
    DuckDB.  Rows split deterministically by ``l_orderkey % 2``.
    Returns the table directory (Hadoop-catalog layout).
    """
    import hashlib
    import shutil
    import tempfile
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.plans.datamodel import FileScanTask
    from iceberg_compaction_spark.sources.iceberg_meta import (
        export_iceberg_metadata,
    )
    from iceberg_compaction_spark.sources.manifest import Manifest
    from iceberg_compaction_spark.sources.schema_evo import (
        arrow_schema_with_ids,
    )

    import os

    src = lineitem_path(sf_dir)
    st = os.stat(src)
    key = hashlib.md5(
        f"evo|{src}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"icspark-evo-{key}")
    # version-hint is written LAST by the export — its presence marks a
    # fully-published table
    if os.path.exists(os.path.join(root, "metadata", "version-hint.text")):
        return root

    v1 = [
        {"id": 1, "name": "l_orderkey", "type": "long", "required": True},
        {"id": 2, "name": "l_linenumber", "type": "int", "required": True},
        {"id": 3, "name": "quantity", "type": "double", "required": False},
    ]
    v2 = [
        {"id": 1, "name": "l_orderkey", "type": "long", "required": True},
        {"id": 2, "name": "l_linenumber", "type": "int", "required": True},
        {"id": 3, "name": "l_quantity", "type": "double", "required": False},
        {"id": 4, "name": "l_discount", "type": "double", "required": False},
    ]

    stage = os.path.join(
        tempfile.gettempdir(), f"icspark-evo-{key}.{_uuid.uuid4().hex[:8]}.tmp"
    )
    os.makedirs(stage, exist_ok=True)
    t = pq.read_table(
        src, columns=["l_orderkey", "l_linenumber", "l_quantity", "l_discount"]
    )
    even = t.filter(pc.equal(pc.bit_wise_and(t.column("l_orderkey"), 1), 0))
    odd = t.filter(pc.equal(pc.bit_wise_and(t.column("l_orderkey"), 1), 1))

    a_path = os.path.join(stage, "old-schema.parquet")
    a_tbl = pa.table(
        {
            "l_orderkey": even.column("l_orderkey"),
            "l_linenumber": even.column("l_linenumber"),
            "quantity": even.column("l_quantity"),
        }
    )
    pq.write_table(
        a_tbl.cast(
            arrow_schema_with_ids(
                a_tbl.schema,
                {"l_orderkey": 1, "l_linenumber": 2, "quantity": 3},
            )
        ),
        a_path,
    )
    b_path = os.path.join(stage, "new-schema.parquet")
    b_tbl = odd.select(
        ["l_orderkey", "l_linenumber", "l_quantity", "l_discount"]
    )
    pq.write_table(
        b_tbl.cast(
            arrow_schema_with_ids(
                b_tbl.schema,
                {"l_orderkey": 1, "l_linenumber": 2, "l_quantity": 3,
                 "l_discount": 4},
            )
        ),
        b_path,
    )

    def task(p, rows):
        final = p.replace(stage, root, 1)
        return FileScanTask(
            data_file_path=final,
            length=os.path.getsize(p),
            file_size_in_bytes=os.path.getsize(p),
            record_count=rows,
            sequence_number=1,
        )

    m = Manifest(
        table_root=root,
        snapshot_id=1,
        sequence_number=1,
        schema_fields=[dict(f) for f in v2],
        data_files=[task(a_path, a_tbl.num_rows), task(b_path, b_tbl.num_rows)],
    )
    # publish DATA first (atomic dir rename), then export the metadata
    # straight into the final root so every path embedded in the Avro
    # manifests is final; version-hint.text lands last and is the
    # "published" marker the cache check above keys on
    try:
        os.rename(stage, root)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
        if os.path.exists(
            os.path.join(root, "metadata", "version-hint.text")
        ):
            return root  # a concurrent builder already published
    export_iceberg_metadata(m, root, v2, prior_schemas=[v1])
    return root


def nested_evolution_warehouse(sf_dir: str) -> str:
    """One-time per sf_dir: a FileCatalog warehouse whose table
    ``docs_nested`` straddles a NESTED-struct schema evolution (round
    8; the reference passes nested schemas opaquely —
    datafusion_processor.rs:741-774 — so this exceeds parity):

    - file A (even doc_id) under schema v1: ``meta``
      struct<lang(3) string, score(4) int>, struct NULL when
      ``doc_id % 7 == 0``;
    - file B (odd doc_id) under the CURRENT schema v2: struct RENAMED
      meta->info, child RENAMED lang->language, child score PROMOTED
      int->long, child ``tokens(5) long`` ADDED (= char length of
      text).

    Values derive deterministically from the fixture so the
    ``mor_nested_rename`` oracle can reconstruct them from raw
    ``documents``: lang/language = ['en','fr','de'][doc_id % 3],
    score = doc_id % 100.  Returns the warehouse path.
    """
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid as _uuid

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.plans.datamodel import FileScanTask
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.manifest import Manifest
    from iceberg_compaction_spark.sources.schema_evo import (
        ARROW_FIELD_ID_KEY,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"nevo|{src}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"icspark-nevo-{key}")
    wh = os.path.join(root, "wh")
    if os.path.isdir(os.path.join(wh, "docs_nested", "metadata")):
        return wh

    stage = os.path.join(
        tempfile.gettempdir(),
        f"icspark-nevo-{key}.{_uuid.uuid4().hex[:8]}.tmp",
    )
    os.makedirs(os.path.join(stage, "data"), exist_ok=True)
    t = pq.read_table(src, columns=["doc_id", "text"])
    ids = t.column("doc_id").to_numpy()
    tokens = pc.cast(pc.utf8_length(t.column("text")), pa.int64()).to_numpy(
        zero_copy_only=False
    )
    langs = np.array(["en", "fr", "de"])[ids % 3]
    score = ids % 100
    even = (ids % 2) == 0

    def _fid(i):
        return {ARROW_FIELD_ID_KEY: str(i).encode()}

    # file A: schema v1 (meta struct, int score, nullable struct rows)
    a_struct = pa.StructArray.from_arrays(
        [
            pa.array(langs[even]),
            pa.array(score[even].astype("int32"), type=pa.int32()),
        ],
        fields=[
            pa.field("lang", pa.string(), metadata=_fid(3)),
            pa.field("score", pa.int32(), metadata=_fid(4)),
        ],
        mask=pa.array((ids[even] % 7) == 0),
    )
    a_tbl = pa.Table.from_arrays(
        [pa.array(ids[even]), a_struct],
        schema=pa.schema(
            [
                pa.field("doc_id", pa.int64(), False, metadata=_fid(1)),
                pa.field("meta", a_struct.type, metadata=_fid(2)),
            ]
        ),
    )
    a_path = os.path.join(stage, "data", "old-nested.parquet")
    pq.write_table(a_tbl, a_path)

    # file B: schema v2 (renamed struct + children, long score, tokens)
    odd = ~even
    b_struct = pa.StructArray.from_arrays(
        [
            pa.array(langs[odd]),
            pa.array(score[odd], type=pa.int64()),
            pa.array(tokens[odd], type=pa.int64()),
        ],
        fields=[
            pa.field("language", pa.string(), metadata=_fid(3)),
            pa.field("score", pa.int64(), metadata=_fid(4)),
            pa.field("tokens", pa.int64(), metadata=_fid(5)),
        ],
    )
    b_tbl = pa.Table.from_arrays(
        [pa.array(ids[odd]), b_struct],
        schema=pa.schema(
            [
                pa.field("doc_id", pa.int64(), False, metadata=_fid(1)),
                pa.field("info", b_struct.type, metadata=_fid(2)),
            ]
        ),
    )
    b_path = os.path.join(stage, "data", "new-nested.parquet")
    pq.write_table(b_tbl, b_path)

    v2 = [
        {"id": 1, "name": "doc_id", "type": "long", "required": True},
        {"id": 2, "name": "info", "type": {"type": "struct", "fields": [
            {"id": 3, "name": "language", "type": "string"},
            {"id": 4, "name": "score", "type": "long"},
            {"id": 5, "name": "tokens", "type": "long"},
        ]}},
    ]

    def task(p, rows):
        final = p.replace(stage, root, 1)
        return FileScanTask(
            data_file_path=final,
            length=os.path.getsize(p),
            file_size_in_bytes=os.path.getsize(p),
            record_count=rows,
            sequence_number=1,
        )

    m = Manifest(
        table_root=os.path.join(root, "data"),
        snapshot_id=1,
        sequence_number=1,
        schema_id=1,
        schema_fields=v2,
        last_column_id=5,
        data_files=[task(a_path, a_tbl.num_rows), task(b_path, b_tbl.num_rows)],
    )
    FileCatalog(warehouse=os.path.join(stage, "wh")).create_table(
        "docs_nested", m
    )
    try:
        os.rename(stage, root)  # atomic publish; race loser cleans up
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
    return wh


def metadata_fixture_warehouse(sf_dir: str) -> str:
    """One-time per sf_dir: a FileCatalog warehouse whose table
    ``docs_meta`` has a two-snapshot, lang-partitioned layout with
    fully deterministic FILE NAMES and record counts, so the metadata
    tables (sources/metadata_tables.py; no reference equivalent —
    SURVEY §2.9) are oracle-checkable against raw ``documents``:

    - snapshot 1 (append, sequence 1): per lang, up to two files
      ``{lang}-even.parquet`` / ``{lang}-odd.parquet`` split by
      ``doc_id`` parity, partition ``(lang,)``;
    - snapshot 2 (append, sequence 2): per lang holding any
      ``doc_id % 10 == 0`` rows, one file ``{lang}-m10.parquet``.

    Empty groups write no file, matching the oracle's UNION-ALL
    reconstruction exactly.  Returns the warehouse path.
    """
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.commit import commit_catalog
    from iceberg_compaction_spark.plans.datamodel import FileScanTask
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.manifest import Manifest

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"metaf|{src}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"icspark-metaf-{key}")
    wh = os.path.join(root, "wh")
    if os.path.isdir(os.path.join(wh, "docs_meta", "metadata")):
        return wh

    stage = os.path.join(
        tempfile.gettempdir(),
        f"icspark-metaf-{key}.{_uuid.uuid4().hex[:8]}.tmp",
    )
    os.makedirs(os.path.join(stage, "data"), exist_ok=True)
    t = pq.read_table(src, columns=["doc_id", "lang"])
    ids = t.column("doc_id").to_numpy()
    langs = t.column("lang").to_pylist()

    def _write(name: str, mask) -> tuple[str, int] | None:
        n = int(mask.sum())
        if n == 0:
            return None
        p = os.path.join(stage, "data", name)
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array(ids[mask]), pa.array([langs[i] for i in
                                                mask.nonzero()[0]])],
                names=["doc_id", "lang"],
            ),
            p,
        )
        return p, n

    import numpy as np

    lang_arr = np.asarray(langs)

    def task(written, lang: str, seq: int) -> FileScanTask:
        p, n = written
        return FileScanTask(
            data_file_path=p.replace(stage, root, 1),
            length=os.path.getsize(p),
            file_size_in_bytes=os.path.getsize(p),
            record_count=n,
            sequence_number=seq,
            partition=(lang,),
        )

    v1_tasks = []
    for lang in sorted(set(langs)):
        in_lang = lang_arr == lang
        for tag, pm in (("even", ids % 2 == 0), ("odd", ids % 2 == 1)):
            w = _write(f"{lang}-{tag}.parquet", in_lang & pm)
            if w:
                v1_tasks.append(task(w, lang, 1))

    m1 = Manifest(
        table_root=os.path.join(root, "data"),
        snapshot_id=1,
        sequence_number=1,
        operation="append",
        partition_spec=[
            {"source": "lang", "transform": "identity", "name": "lang"}
        ],
        data_files=v1_tasks,
    )
    cat = FileCatalog(warehouse=os.path.join(stage, "wh"))
    cat.create_table("docs_meta", m1)

    v2_tasks = []
    for lang in sorted(set(langs)):
        w = _write(f"{lang}-m10.parquet", (lang_arr == lang) & (ids % 10 == 0))
        if w:
            v2_tasks.append(task(w, lang, 2))

    def append_v2(head: Manifest) -> Manifest:
        m2 = head.successor("append")
        m2.data_files += v2_tasks
        return m2

    commit_catalog(cat, "docs_meta", append_v2)

    try:
        os.rename(stage, root)  # atomic publish; race loser cleans up
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
    return wh


def delete_where_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: a FileCatalog warehouse whose table
    ``docs_dml`` is ``documents`` split into two files by doc_id
    parity, with one committed ``delete_where`` (predicate
    ``doc_id % 7 = 3``) on top — so the ``dml_delete_where`` oracle
    reads genuine position-delete MOR state produced by the engine's
    own predicate-DELETE path (sources/ingest.py delete_where).
    Returns the warehouse path."""
    from iceberg_compaction_spark.sources.ingest import delete_where

    return _dml_docs_warehouse(
        spark,
        sf_dir,
        tag="dml",
        table_name="docs_dml",
        columns=["doc_id", "lang"],
        mutate=lambda cat: delete_where(
            spark, cat, "docs_dml", "doc_id % 7 = 3"
        ),
    )


def update_where_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: ``docs_upd`` = ``documents`` (two files by
    parity) with one committed ``update_where`` on top — the
    ``dml_update_where`` oracle reads the MOR state the engine's own
    predicate-UPDATE path produced (position delete + updated-row data
    file in one snapshot, sources/ingest.py update_where)."""
    from iceberg_compaction_spark.sources.ingest import update_where

    return _dml_docs_warehouse(
        spark,
        sf_dir,
        tag="upd",
        table_name="docs_upd",
        columns=["doc_id", "lang", "n_chars"],
        mutate=lambda cat: update_where(
            spark,
            cat,
            "docs_upd",
            "doc_id % 7 = 3",
            {"lang": "'xx'", "n_chars": "n_chars + 1000"},
        ),
    )


def merge_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: ``docs_merge`` = ``documents`` (two files
    by parity) with one committed MERGE on top — matched rows
    (``doc_id % 10 = 0``) update ``lang`` to ``'zz'``, unmatched source
    rows (``doc_id % 97 = 0`` offset by 1e6) insert — so the
    ``dml_merge_into`` oracle checks the join -> position-delete ->
    data-file commit loop (sources/ingest.py merge_into)."""
    import os

    from pyspark.sql import functions as F

    from iceberg_compaction_spark.sources.ingest import merge_into

    def _mutate(cat):
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "lang")
        updates = docs.where("doc_id % 10 = 0").select(
            "doc_id", F.lit("zz").alias("lang")
        )
        inserts = docs.where("doc_id % 97 = 0").select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.lit("new").alias("lang"),
        )
        merge_into(
            spark,
            cat,
            "docs_merge",
            updates.unionByName(inserts),
            keys=["doc_id"],
        )

    return _dml_docs_warehouse(
        spark,
        sf_dir,
        tag="mrg",
        table_name="docs_merge",
        columns=["doc_id", "lang"],
        mutate=_mutate,
    )


def merge_conditional_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: ``docs_mergec`` = ``documents`` (two files
    by parity) with one committed CONDITIONAL MERGE on top — source =
    matched rows ``doc_id % 10 = 0`` carrying ``op`` = 'D' when
    ``doc_id % 20 = 0`` else 'U'; clauses in order: [WHEN MATCHED AND
    s.op='D' THEN DELETE], [WHEN MATCHED AND t.n_chars >= 300 THEN
    UPDATE lang -> 'cc'].  First-match-wins is ORACLE-VISIBLE: the
    ``%20=0`` rows with ``n_chars >= 300`` satisfy BOTH clauses, so a
    wrong clause order would leave 'cc' rows the oracle deletes.
    Matched rows below 300 chars satisfy NO clause and must stay
    byte-identical."""
    import os

    from pyspark.sql import functions as F

    from iceberg_compaction_spark.sources.ingest import merge_into

    def _mutate(cat):
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "lang", "n_chars")
        src = docs.where("doc_id % 10 = 0").select(
            "doc_id",
            F.lit("cc").alias("lang"),
            "n_chars",
            F.when(F.col("doc_id") % 20 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
        merge_into(
            spark,
            cat,
            "docs_mergec",
            src,
            keys=["doc_id"],
            matched_clauses=[
                {"condition": "s.op = 'D'", "action": "delete"},
                {
                    "condition": "t.n_chars >= 300",
                    "action": "update",
                    "update_cols": ["lang"],
                },
            ],
            insert_unmatched=False,
        )

    return _dml_docs_warehouse(
        spark,
        sf_dir,
        tag="mrgc",
        table_name="docs_mergec",
        columns=["doc_id", "lang", "n_chars"],
        mutate=_mutate,
    )


def branch_wap_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: ``docs_wap`` = ``documents`` staged through
    a FULL write-audit-publish cycle — create branch 'audit', upsert
    (``doc_id % 10 = 0`` -> lang 'bb') ON the branch, compact ON the
    branch, then ``fast_forward`` main to the audited snapshot.  The
    fixture ASSERTS main stayed at v1 between the branch commits (the
    to_branch isolation contract); the registry oracle checks the final
    published state."""
    import os

    from pyspark.sql import functions as F

    from iceberg_compaction_spark.compaction import Compaction
    from iceberg_compaction_spark.config import CompactionConfig
    from iceberg_compaction_spark.sources.ingest import upsert

    def _mutate(cat):
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "lang")
        cat.create_branch("docs_wap", "audit")
        upsert(
            spark,
            cat,
            "docs_wap",
            docs.where("doc_id % 10 = 0").select(
                "doc_id", F.lit("bb").alias("lang")
            ),
            keys=["doc_id"],
            to_branch="audit",
        )
        assert cat.load_table("docs_wap").snapshot_id == 1, (
            "branch upsert leaked onto main"
        )
        c = Compaction(spark, CompactionConfig.small_files())
        m3, _ = c.compact_catalog(cat, "docs_wap", to_branch="audit")
        assert cat.load_table("docs_wap").snapshot_id == 1, (
            "branch compaction leaked onto main"
        )
        cat.fast_forward("docs_wap", "main", m3.snapshot_id)

    return _dml_docs_warehouse(
        spark,
        sf_dir,
        tag="wap",
        table_name="docs_wap",
        columns=["doc_id", "lang"],
        mutate=_mutate,
    )


def snapshot_fork_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: ``docs_snapsrc`` = ``documents``, then
    ``snapshot_table`` forks it to ``docs_fork`` (zero-copy: the fork's
    first snapshot references the SOURCE's files) and an upsert
    (``doc_id % 9 = 4`` -> lang 'zz') lands ON THE FORK ONLY.  The
    fixture asserts the isolation contract: the source stays at
    snapshot 1 with its rows intact, the fork's new file lives under
    the fork's own root, and gc-maintenance on the fork refuses
    (``gc.enabled=false``)."""
    import os

    from pyspark.sql import functions as F

    from iceberg_compaction_spark.sources.catalog import snapshot_table
    from iceberg_compaction_spark.sources.ingest import upsert

    def _mutate(cat):
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "lang")
        fork = snapshot_table(cat, "docs_snapsrc", "docs_fork")
        assert fork.properties["gc.enabled"] == "false"
        upsert(
            spark,
            cat,
            "docs_fork",
            docs.where("doc_id % 9 = 4").select(
                "doc_id", F.lit("zz").alias("lang")
            ),
            keys=["doc_id"],
        )
        assert cat.load_table("docs_snapsrc").snapshot_id == 1, (
            "fork upsert leaked onto the source table"
        )
        froot = cat.load_table("docs_fork").table_root
        assert any(
            t.data_file_path.startswith(froot)
            for t in cat.load_table("docs_fork").data_files
        ), "fork's new file did not land under the fork's own root"
        try:
            cat.expire_snapshots("docs_fork", keep_last=1)
        except ValueError:
            pass
        else:  # pragma: no cover - contract violation
            raise AssertionError("gc guard did not fire on the fork")

    return _dml_docs_warehouse(
        spark,
        sf_dir,
        tag="snapfork",
        table_name="docs_snapsrc",
        columns=["doc_id", "lang"],
        mutate=_mutate,
    )


def row_lineage_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: ``docs_lineage`` = ``documents`` as a v3
    table split into two files by doc_id parity (each file ascending by
    doc_id, so every row's synthesized ``_row_id`` has a closed-form
    ground truth), then COMPACTED — the rewrite must MATERIALIZE the
    row ids into its single output (spec: positions change under a
    rewrite).  The registry oracle hash-checks the post-compaction
    (doc_id -> _row_id) mapping against the pre-compaction closed form,
    which driver-proves lineage preservation end to end."""
    from iceberg_compaction_spark.compaction import Compaction
    from iceberg_compaction_spark.config import CompactionConfig

    def _mutate(cat):
        m = cat.load_table("docs_lineage")
        assert m.format_version == 3 and m.next_row_id > 0, (
            "fixture expected a lineage-assigned v3 table"
        )
        c = Compaction(spark, CompactionConfig.small_files())
        m2, _ = c.compact_catalog(cat, "docs_lineage")
        assert len(m2.data_files) == 1, "compaction did not consolidate"
        assert m2.data_files[0].first_row_id == -1, (
            "rewrite did not materialize row ids"
        )

    return _dml_docs_warehouse(
        spark,
        sf_dir,
        tag="rowlin",
        table_name="docs_lineage",
        columns=["doc_id", "lang"],
        mutate=_mutate,
        format_version=3,
    )


def add_files_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: ``docs_add`` = ``documents`` (two files by
    parity) plus an ``add_files`` metadata-only import of a side
    directory holding the ``doc_id % 13 = 1`` rows — the registered
    files are APPENDED without rewriting or moving data, so the MOR
    read shows those rows twice (once from the base split, once from
    the import)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.sources.ingest import add_files

    def _mutate(cat):
        root = os.path.dirname(cat.warehouse)
        extra = os.path.join(root, "extra")
        os.makedirs(extra, exist_ok=True)
        t = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"),
            columns=["doc_id", "lang"],
        )
        ids = t.column("doc_id").to_numpy()
        pq.write_table(
            t.filter(pa.array(ids % 13 == 1)),
            os.path.join(extra, "import-0.parquet"),
        )
        m = add_files(cat, "docs_add", extra)
        assert m.operation == "append" and m.snapshot_id == 2

    return _dml_docs_warehouse(
        spark,
        sf_dir,
        tag="addf",
        table_name="docs_add",
        columns=["doc_id", "lang"],
        mutate=_mutate,
    )


def wap_changelog_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: ``docs_cfr`` = ``documents`` with an
    UNPUBLISHED audit branch and an interleaved main commit — the WAP
    shape whose batch CDC read the round-10 verdict flagged: storage
    versions run v1 (base), v2 (branch upsert ``doc_id % 9 = 4`` ->
    lang 'xx'), v3 (MAIN upsert ``doc_id % 11 = 5`` -> lang 'yy').  A
    branch changelog must show exactly the v2 step; a main changelog
    must never show it (changelog_between walks lineage, not version
    order)."""
    import os

    from pyspark.sql import functions as F

    from iceberg_compaction_spark.sources.ingest import upsert

    def _mutate(cat):
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "lang")
        cat.create_branch("docs_cfr", "audit")
        upsert(
            spark,
            cat,
            "docs_cfr",
            docs.where("doc_id % 9 = 4").select(
                "doc_id", F.lit("xx").alias("lang")
            ),
            keys=["doc_id"],
            to_branch="audit",
        )
        upsert(
            spark,
            cat,
            "docs_cfr",
            docs.where("doc_id % 11 = 5").select(
                "doc_id", F.lit("yy").alias("lang")
            ),
            keys=["doc_id"],
        )
        refs = cat.list_refs("docs_cfr")
        assert refs["audit"]["snapshot_id"] == 2, refs
        assert refs["main"]["snapshot_id"] == 3, refs

    return _dml_docs_warehouse(
        spark,
        sf_dir,
        tag="cfr",
        table_name="docs_cfr",
        columns=["doc_id", "lang"],
        mutate=_mutate,
    )


def streaming_upsert_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: ``docs_sup`` = ``documents`` (two files by
    parity) maintained by ONE availableNow micro-batch through the
    DataSource's streaming UPSERT sink (``mode=upsert``): updates
    ``doc_id % 10 = 0`` rows to lang ``'up'`` — so the
    ``streaming_upsert_sink`` oracle checks the CDC-ingestion loop
    (equality-delete + data-file pair per micro-batch, batch-id
    idempotence) end to end."""
    import os

    from pyspark.sql import functions as F

    from iceberg_compaction_spark.sources.datasource import register as _reg

    def _mutate(cat):
        root = os.path.dirname(cat.warehouse)
        src_dir = os.path.join(root, "stream-src")
        ckpt = os.path.join(root, "ckpt")
        (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .where("doc_id % 10 = 0")
            .select("doc_id", F.lit("up").alias("lang"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(src_dir)
        )
        _reg(spark)
        q = (
            spark.readStream.schema("doc_id long, lang string")
            .parquet(src_dir)
            .writeStream.format("iceberg-table")
            .option("warehouse", cat.warehouse)
            .option("table", "docs_sup")
            .option("mode", "upsert")
            .option("upsert_keys", "doc_id")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    return _dml_docs_warehouse(
        spark,
        sf_dir,
        tag="sup",
        table_name="docs_sup",
        columns=["doc_id", "lang"],
        mutate=_mutate,
    )


def rollback_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: ``docs_rb`` = ``documents`` with a
    committed ``delete_where`` that is then ROLLED BACK
    (catalog.rollback_table) — so the ``dml_rollback`` oracle proves
    the rollback commit restores exactly the original state through a
    real append-only history (v1 data, v2 delete, v3 rollback)."""
    from iceberg_compaction_spark.sources.catalog import rollback_table
    from iceberg_compaction_spark.sources.ingest import delete_where

    def _mutate(cat):
        delete_where(spark, cat, "docs_rb", "doc_id % 3 = 1")
        rollback_table(cat, "docs_rb", 1)

    return _dml_docs_warehouse(
        spark,
        sf_dir,
        tag="rb",
        table_name="docs_rb",
        columns=["doc_id", "lang"],
        mutate=_mutate,
    )


def _dml_docs_warehouse(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    table_name: str,
    columns: list,
    mutate,
    partition_col: "str | None" = None,
    format_version: int = 2,
) -> str:
    """Shared one-time DML fixture builder: ``documents`` split into
    two files by doc_id parity under a FileCatalog table, then
    ``mutate(cat)`` commits the DML statement on top of the PUBLISHED
    warehouse.  Staged atomic-rename publish; race losers wait for the
    winner's ``_BUILT`` stamp so no caller sees a half-built table."""
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.plans.datamodel import FileScanTask
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.manifest import Manifest

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"{tag}|{src}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"icspark-{tag}-{key}")
    wh = os.path.join(root, "wh")
    if os.path.isfile(os.path.join(root, "_BUILT")):
        return wh

    stage = os.path.join(
        tempfile.gettempdir(),
        f"icspark-{tag}-{key}.{_uuid.uuid4().hex[:8]}.tmp",
    )
    os.makedirs(os.path.join(stage, "data"), exist_ok=True)
    t = pq.read_table(src, columns=columns)
    tasks = []
    if partition_col:
        # one file per partition value, partition tuple stamped —
        # a genuine identity-partitioned table
        vals = sorted(set(t.column(partition_col).to_pylist()))
        col = t.column(partition_col)
        for v in vals:
            mask = pa.compute.equal(col, v)
            p = os.path.join(
                stage, "data", f"{partition_col}={v}", "part-0.parquet"
            )
            os.makedirs(os.path.dirname(p), exist_ok=True)
            sub = t.filter(mask)
            pq.write_table(sub, p)
            tasks.append(
                FileScanTask(
                    data_file_path=p.replace(stage, root, 1),
                    length=os.path.getsize(p),
                    file_size_in_bytes=os.path.getsize(p),
                    record_count=sub.num_rows,
                    sequence_number=1,
                    partition=(str(v),),
                )
            )
    else:
        ids = t.column("doc_id").to_numpy()
        for part, mask in (("even", ids % 2 == 0), ("odd", ids % 2 == 1)):
            p = os.path.join(stage, "data", f"{part}.parquet")
            pq.write_table(t.filter(pa.array(mask)), p)
            tasks.append(
                FileScanTask(
                    data_file_path=p.replace(stage, root, 1),
                    length=os.path.getsize(p),
                    file_size_in_bytes=os.path.getsize(p),
                    record_count=int(mask.sum()),
                    sequence_number=1,
                )
            )
    FileCatalog(warehouse=os.path.join(stage, "wh")).create_table(
        table_name,
        Manifest(
            table_root=os.path.join(root, "data"),
            snapshot_id=1,
            sequence_number=1,
            operation="append",
            format_version=format_version,
            data_files=tasks,
            partition_spec=(
                [
                    {
                        "source": partition_col,
                        "transform": "identity",
                        "name": partition_col,
                    }
                ]
                if partition_col
                else []
            ),
        ),
    )
    try:
        os.rename(stage, root)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
        # rename loser: the WINNER still has to commit the DML and
        # stamp _BUILT — returning now would hand the caller a
        # half-built table (data files, no mutation). Wait it out.
        _wait_built(root)
        return wh
    # the committed DML lives in the PUBLISHED warehouse (data paths
    # inside the manifest point at the final root)
    try:
        mutate(FileCatalog(warehouse=wh))
        with open(os.path.join(root, "_BUILT"), "w") as f:
            f.write("1")
    except BaseException:
        # a failed build must not leave a published-but-unstamped root:
        # that would deadlock every future builder in _wait_built
        shutil.rmtree(root, ignore_errors=True)
        raise
    return wh


def _wait_built(root: str, timeout: float = 120.0) -> None:
    """Block until a concurrent fixture builder stamps ``_BUILT``.

    Used by race losers (rename/O_EXCL) so a caller never observes a
    published-but-unfinished warehouse. Raises on timeout rather than
    returning a half-built table."""
    import os
    import time

    deadline = time.monotonic() + timeout
    p = os.path.join(root, "_BUILT")
    while not os.path.isfile(p):
        if time.monotonic() > deadline:
            raise TimeoutError(f"fixture builder never stamped {p}")
        time.sleep(0.1)


def partitioned_write_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: a lang-partitioned catalog table
    ``docs_part`` populated by WRITING ``documents`` through the
    DataSource's partitioned Arrow writer (per-partition rolling
    streams, partition tuples in the manifest) — so the
    ``dml_partitioned_write`` oracle checks the write->manifest->read
    loop end to end.  Returns the warehouse path."""
    import hashlib
    import os
    import tempfile

    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.datasource import (
        register as _reg,
    )
    from iceberg_compaction_spark.sources.manifest import Manifest

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"pwrite|{src}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"icspark-pwrite-{key}")
    wh = os.path.join(root, "wh")
    if os.path.isfile(os.path.join(root, "_BUILT")):
        return wh

    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    # exclusive build sentinel: exactly ONE builder appends (two
    # concurrent builders both seeing empty data_files would both
    # append — CAS retry re-commits the loser's files, doubling rows
    # under the dml_partitioned_write oracle). Losers wait for _BUILT.
    try:
        fd = os.open(
            os.path.join(root, "_BUILDING"),
            os.O_CREAT | os.O_EXCL | os.O_WRONLY,
        )
        os.close(fd)
    except FileExistsError:
        _wait_built(root)
        return wh
    try:
        cat = FileCatalog(warehouse=wh)
        m = Manifest(
            table_root=os.path.join(root, "data"),
            snapshot_id=1,
            sequence_number=1,
            operation="append",
            partition_spec=[
                {"source": "lang", "transform": "identity", "name": "lang"}
            ],
        )
        cat.create_table("docs_part", m)
        _reg(spark)
        (
            spark.read.parquet(src)
            .select("doc_id", "lang", "n_chars")
            .write.format("iceberg-table")
            .option("warehouse", wh)
            .option("table", "docs_part")
            .option("schema", "doc_id long, lang string, n_chars long")
            .mode("append")
            .save()
        )
        with open(os.path.join(root, "_BUILT"), "w") as f:
            f.write("1")
    except BaseException:
        # a failed build must not leave the _BUILDING sentinel behind:
        # that would deadlock every future builder in _wait_built
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        raise
    return wh


def overwrite_partitions_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """One-time per sf_dir: ``docs_ow`` = ``documents`` as a genuine
    lang-identity-partitioned table (one file + partition tuple per
    lang), with one committed ``overwrite_partitions`` on top replacing
    the WHOLE ``lang='fr'`` cell with negated-``n_chars`` rows — the
    ``dml_overwrite_partitions`` oracle checks Iceberg's
    replace-partitions semantics end to end: the written cell is
    replaced, every other cell keeps its files untouched."""
    import os

    from iceberg_compaction_spark.sources.ingest import (
        overwrite_partitions,
    )

    def _mutate(cat):
        src = os.path.join(sf_dir, "documents.parquet")
        repl = (
            spark.read.parquet(src)
            .where(F.col("lang") == "fr")
            .select(
                "doc_id", "lang", (-F.col("n_chars")).alias("n_chars")
            )
        )
        overwrite_partitions(spark, cat, "docs_ow", repl)

    return _dml_docs_warehouse(
        spark,
        sf_dir,
        tag="ow",
        table_name="docs_ow",
        columns=["doc_id", "lang", "n_chars"],
        mutate=_mutate,
        partition_col="lang",
    )
