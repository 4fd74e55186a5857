"""Merge-on-read rewrite — the engine's core query (J1, J2, J3, P1).

The reference generates one SQL shape (SqlBuilder,
core/src/executor/datafusion/datafusion_processor.rs:438-584): data scan
with hidden columns, wrapped in RIGHT ANTI JOINs against position- and
equality-delete tables, with a final projection stripping the hidden
columns.  We express the identical logical plan with the DataFrame API and
let Catalyst/AQE choose physical strategies:

- J1 position-delete anti-join: drop rows whose (file_path, pos) appears
  in a position-delete table — equi anti-join on two columns.
- J2 equality-delete anti-join (one per distinct equality-key schema):
  drop rows equal on the key columns AND strictly older
  (``data.seq < delete.seq``).  Spark plans the equi keys as a hash join
  with the ``<`` as a residual filter — never a nested-loop join (the
  equality keys stay in the join condition).
- J3 fixed join order: position deletes innermost, then equality-delete
  tables in file order (datafusion_processor.rs:489-571).

Scale notes: delete tables are typically orders of magnitude smaller than
data, so both joins default to broadcast when a size hint allows,
avoiding any shuffle of the 100 TB side; otherwise AQE picks
shuffle-hash/broadcast at runtime.  The data side is never repartitioned
by the joins themselves.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_compaction_spark.plans.datamodel import (
    EQUALITY_DELETE,
    POSITION_DELETE,
    FileGroup,
)
from iceberg_compaction_spark.sources.scan import (
    HIDDEN_FILE_PATH,
    HIDDEN_POS,
    HIDDEN_SEQ,
    driver_frame,
    read_data_files,
    read_listed_parquet,
)

# Deletes smaller than this (bytes, on-disk) are force-broadcast; bigger
# ones are left to AQE (which still broadcasts mid-size sides at runtime
# when its own threshold allows).  64 MiB on disk deserializes to a few
# hundred MiB of driver/executor heap — the comfortable ceiling for an
# explicit broadcast hint at cluster scale; 256 MiB risked multi-GiB
# broadcast blow-ups on wide delete rows.
DEFAULT_BROADCAST_DELETE_BYTES = 64 * 1024 * 1024

# Iceberg v3 reserved row-lineage column names (spec: _row_id field id
# 2147483540, _last_updated_sequence_number 2147483539).  When a
# lineage-preserving rewrite materialized them into parquet they are
# table METADATA: default scans strip them; the lineage read
# (sources/ingest.py read_table_mor_with_lineage) surfaces them.
RESERVED_ROW_ID = "_row_id"
RESERVED_LAST_UPDATED = "_last_updated_sequence_number"
RESERVED_LINEAGE_COLS = (RESERVED_ROW_ID, RESERVED_LAST_UPDATED)


@dataclass
class EqualityDeleteTable:
    """One logical equality-delete table: rows carry the equality-key
    columns plus ``sys_hidden_seq_num`` (F8).  The reference merges
    consecutive delete files sharing ``equality_ids`` into one such table
    (datafusion_processor.rs:701-728)."""

    df: DataFrame
    equality_keys: list[str]
    size_bytes: int | None = None


def apply_position_deletes(
    data: DataFrame, pos_deletes: DataFrame, broadcast: bool = False
) -> DataFrame:
    """J1: anti-join on (sys_hidden_file_path, sys_hidden_pos).

    No dropDuplicates on the delete side: an anti-join drops a left row
    on ANY match, so duplicate (path, pos) entries cannot change the
    result — and the dedup cost a full exchange of the delete table on
    every run (the round-4 mor_pos_delete bench regression, 4.8 s vs the
    1.2 s baseline).  The broadcast hash relation collapses duplicate
    keys anyway on the build side.

    The delete side's file_path is scheme-normalized like the data
    side's hidden column (file:// stripped, s3a/s3n folded to s3://),
    so deletes written by a different engine/connector still match.
    """
    from iceberg_compaction_spark.sources.scan import _normalize_path

    right = pos_deletes.select(
        _normalize_path(F.col(HIDDEN_FILE_PATH)).alias(HIDDEN_FILE_PATH),
        HIDDEN_POS,
    )
    if broadcast:
        right = F.broadcast(right)
    return data.join(right, on=[HIDDEN_FILE_PATH, HIDDEN_POS], how="left_anti")


def apply_equality_deletes(
    data: DataFrame,
    eq: EqualityDeleteTable,
    broadcast: bool = False,
    hot_keys: DataFrame | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """J2: anti-join on equality keys + seq residual (delete applies only
    to strictly OLDER rows: data.seq < delete.seq).

    ``hot_keys`` (a small DataFrame of equality-key combos, e.g. from
    ``operators.skew.skewed_keys``) activates the two-path skew plan for
    non-broadcast joins: rows with hot keys take a salted anti-join
    (delete rows replicated per salt, so each hot key spreads over
    ``n_salts`` reducers), the rest take the plain anti-join.  Results
    are identical; only the shuffle distribution changes.
    """
    # Prefix the delete side so key/seq columns never collide with data's.
    sel = [F.col(k).alias(f"__eqd_{k}") for k in eq.equality_keys]
    sel.append(F.col(HIDDEN_SEQ).alias("__eqd_seq"))
    right = eq.df.select(*sel)

    def anti(left: DataFrame, rt: DataFrame, salted: bool) -> DataFrame:
        cond = reduce(
            lambda a, b: a & b,
            [left[k] == rt[f"__eqd_{k}"] for k in eq.equality_keys],
        ) & (left[HIDDEN_SEQ] < rt["__eqd_seq"])
        if salted:
            cond = cond & (left["__salt"] == rt["__salt"])
        return left.join(rt, on=cond, how="left_anti")

    if broadcast or hot_keys is None:
        if broadcast:
            right = F.broadcast(right)
        return anti(data, right, salted=False)

    hot = F.broadcast(hot_keys.select(*eq.equality_keys).dropDuplicates())
    data_hot = data.join(hot, on=eq.equality_keys, how="left_semi").withColumn(
        "__salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    data_cold = data.join(hot, on=eq.equality_keys, how="left_anti")
    right_hot = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out_hot = anti(data_hot, right_hot, salted=True).drop("__salt")
    out_cold = anti(data_cold, right, salted=False)
    return out_cold.unionByName(out_hot)


def merge_on_read(
    data: DataFrame,
    table_columns: list[str],
    position_deletes: DataFrame | None = None,
    equality_deletes: list[EqualityDeleteTable] = (),
    pos_delete_size_bytes: int | None = None,
    broadcast_threshold: int = DEFAULT_BROADCAST_DELETE_BYTES,
) -> DataFrame:
    """The full MOR query: J1 innermost, then each J2 in order, then the
    final projection stripping hidden columns (P1)."""
    out = data
    if position_deletes is not None:
        bcast = (
            pos_delete_size_bytes is not None
            and pos_delete_size_bytes <= broadcast_threshold
        )
        out = apply_position_deletes(out, position_deletes, broadcast=bcast)
    for eq in equality_deletes or ():
        bcast = eq.size_bytes is not None and eq.size_bytes <= broadcast_threshold
        out = apply_equality_deletes(out, eq, broadcast=bcast)
    return out.select(*table_columns)


def puffin_dv_frame(spark: SparkSession, puffin_paths: list[str]) -> DataFrame:
    """Distributed decode of puffin deletion vectors: footers (tiny
    JSON) are read driver-side to enumerate blobs, but each Roaring
    bitmap is decoded on EXECUTORS via an Arrow-batched mapInPandas —
    one blob can expand to 10^8 positions, which must never become a
    driver-side list.  Output: ``(__dv_path, __dv_pos)``, one partition
    per blob so expansion parallelizes across the cluster."""
    import pandas as pd

    from iceberg_compaction_spark.sources.puffin import read_puffin_footer
    from iceberg_compaction_spark.sources.scan import (
        normalize_path_str as _local,
    )
    from iceberg_compaction_spark.sources.fileio import fileio_for

    if any(not fileio_for(p).executor_safe for p in puffin_paths):
        # driver-process-only backends (mem:// tests) can't be opened
        # from Python workers — decode driver-side; bounded because
        # these backends only ever hold test-scale tables.  Object
        # stores stay on the distributed decode below (executor-safe).
        from iceberg_compaction_spark.sources.puffin import read_puffin_dvs

        rows = [
            (_local(ref), int(pos))
            for pf in puffin_paths
            for ref, positions in sorted(read_puffin_dvs(pf).items())
            for pos in positions
        ]
        return driver_frame(spark, rows, "__dv_path string, __dv_pos long")

    metas = []
    for pf in puffin_paths:
        for blob in read_puffin_footer(pf).get("blobs", []):
            if blob.get("type") != "deletion-vector-v1":
                continue
            metas.append(
                (
                    pf,
                    int(blob["offset"]),
                    int(blob["length"]),
                    _local(blob["properties"]["referenced-data-file"]),
                )
            )
    meta_df = driver_frame(
        spark, metas, "__pf string, __off long, __len long, __ref string"
    ).repartition(max(1, len(metas)))

    def _expand(batches):
        from iceberg_compaction_spark.sources.puffin import (
            dv_blob_deserialize,
        )

        from iceberg_compaction_spark.sources.fileio import open_input

        for pdf in batches:
            for pf, off, ln, ref in zip(
                pdf["__pf"], pdf["__off"], pdf["__len"], pdf["__ref"]
            ):
                # FileIO-routed (executor-safe: resolved by URI scheme)
                # so large puffin DVs on object stores decode in place
                with open_input(pf) as f:
                    f.seek(int(off))
                    blob = f.read(int(ln))
                positions = dv_blob_deserialize(blob)
                yield pd.DataFrame(
                    {"__dv_path": [ref] * len(positions), "__dv_pos": positions}
                )

    return meta_df.mapInPandas(_expand, "__dv_path string, __dv_pos long")


def _read_eq_delete_file(
    spark: SparkSession,
    path: str,
    key_names: tuple,
    schema_fields: list[dict] | None,
) -> DataFrame:
    """Read one equality-delete parquet with the same field-id column
    resolution the data scan uses (sources/schema_evo.py): a delete
    file written BEFORE a key column's rename carries the old physical
    name, and must still resolve to the current key names the
    anti-join speaks.  Key columns with field ids match by id; the
    baked ``sys_hidden_seq_num`` (engine-written, no field id) matches
    by name — Spark resolves id-carrying and id-less requested fields
    independently.  Falls back to the plain read when the table has no
    schema, a key is unknown to it, or the file carries no ids."""
    from iceberg_compaction_spark.sources.scan import spark_native_paths

    if schema_fields and spark_native_paths([path]):
        by_name = {f["name"]: f for f in schema_fields}
        if all(k in by_name for k in key_names):
            import pyarrow.parquet as _pq
            from pyspark.sql.types import LongType, StructField

            from iceberg_compaction_spark.sources.fileio import open_input
            from iceberg_compaction_spark.sources.schema_evo import (
                enable_field_id_reads,
                file_field_ids,
                struct_with_field_ids,
            )

            with open_input(path) as fh:
                fsch = _pq.read_schema(fh)
            st = struct_with_field_ids([by_name[k] for k in key_names])
            if st is not None and file_field_ids(fsch):
                if HIDDEN_SEQ in fsch.names:
                    st = st.add(StructField(HIDDEN_SEQ, LongType(), True))
                enable_field_id_reads(spark)
                return read_listed_parquet(spark, [path], schema=st)
    from iceberg_compaction_spark.sources.scan import read_parquet_files

    return read_parquet_files(spark, [path])


def rewrite_file_group(
    spark: SparkSession,
    group: FileGroup,
    table_columns: list[str] | None = None,
    broadcast_threshold: int = DEFAULT_BROADCAST_DELETE_BYTES,
    keep_file_pos: bool = False,
    keep_lineage: bool = False,
) -> DataFrame:
    """Build the MOR DataFrame for one FileGroup (the unit of a rewrite
    job, §3.1 step 3-4).

    Hidden columns are appended only when needed (mirrors
    ``need_seq_num`` / ``need_file_path_and_pos`` in
    datafusion_processor.rs:691-822): position columns only when position
    deletes exist, sequence numbers only when equality deletes exist.

    Format version (datafusion_processor.rs:632-653, :730): for v3
    tables position deletes are DELETION VECTORS applied reader-side —
    the scan filters deleted positions directly
    (``need_file_path_and_pos`` is false, no J1 join appears in the
    plan) and only equality deletes become anti-joins.  v2 keeps the
    explicit J1 anti-join.  Both produce identical survivors.
    """
    ge_v3 = group.format_version >= 3
    has_pos = bool(group.position_delete_files)
    has_eq = bool(group.equality_delete_files)
    seq_by_path = {t.data_file_path: t.sequence_number for t in group.data_files}

    position_vectors = None
    position_vector_paths = None
    position_vector_df = None
    dv_bytes = None
    if ge_v3 and has_pos:
        # The planner hands the reader its deletion vectors — puffin
        # Roaring bitmaps (the real v3 format, sources/puffin.py) or the
        # local harness's (path, pos) parquet.  Small DVs load
        # driver-side — genuine metadata scale — and fuse into the scan;
        # DVs beyond DV_DRIVER_MAX_BYTES on disk stay DISTRIBUTED
        # (executor-read parquet / executor-decoded puffin + anti-join):
        # an equality-heavy table at 100 TB can carry billions of delete
        # positions, which as a driver-side Python list is an OOM.
        from iceberg_compaction_spark.sources.puffin import (
            is_puffin_file,
            read_puffin_dvs,
        )
        from iceberg_compaction_spark.sources.scan import DV_DRIVER_MAX_BYTES

        puffins = [
            d for d in group.position_delete_files if is_puffin_file(d.path)
        ]
        parquets = [
            d
            for d in group.position_delete_files
            if not is_puffin_file(d.path)
        ]
        dv_bytes = sum(
            d.file_size_in_bytes for d in group.position_delete_files
        )
        if dv_bytes <= DV_DRIVER_MAX_BYTES:
            import pyarrow.parquet as pq

            from iceberg_compaction_spark.sources.fileio import open_input

            position_vectors = {}
            for d in parquets:
                with open_input(d.path) as fh:
                    t = pq.read_table(
                        fh, columns=[HIDDEN_FILE_PATH, HIDDEN_POS]
                    )
                for p, pos in zip(
                    t.column(HIDDEN_FILE_PATH).to_pylist(),
                    t.column(HIDDEN_POS).to_pylist(),
                ):
                    position_vectors.setdefault(p, []).append(pos)
            from iceberg_compaction_spark.sources.scan import (
                normalize_path_str,
            )

            for d in puffins:
                for ref, positions in read_puffin_dvs(d.path).items():
                    position_vectors.setdefault(
                        normalize_path_str(ref), []
                    ).extend(positions)
        else:
            if parquets:
                position_vector_paths = [d.path for d in parquets]
            if puffins:
                position_vector_df = puffin_dv_frame(
                    spark, [d.path for d in puffins]
                )

    data = read_data_files(
        spark,
        [t.data_file_path for t in group.data_files],
        need_seq_num=has_eq,
        # keep_file_pos: the caller wants surviving rows' ORIGINAL
        # (file, position) identity — the row addresses a predicate
        # DELETE turns into position deletes (ingest.delete_where)
        need_file_path_and_pos=(has_pos and not ge_v3) or keep_file_pos,
        seq_by_path=seq_by_path,
        position_vectors=position_vectors,
        position_vector_paths=position_vector_paths,
        position_vector_bytes=dv_bytes,
        position_vector_df=position_vector_df,
        schema_fields=group.schema_fields,
        name_mapping=group.name_mapping,
        # materialized v3 lineage columns live OUTSIDE the declared
        # Iceberg schema; a declared-schema projection would silently
        # drop them, so a lineage-keeping read requests them explicitly
        # (name-matched; see read_data_files.extra_name_columns)
        extra_name_columns=(
            [(c, "long") for c in RESERVED_LINEAGE_COLS]
            if keep_lineage and group.schema_fields
            else None
        ),
    )
    if table_columns is None:
        hidden = (
            (HIDDEN_SEQ,)
            if keep_file_pos
            else (HIDDEN_SEQ, HIDDEN_FILE_PATH, HIDDEN_POS)
        )
        # reserved v3 row-lineage columns a lineage-preserving rewrite
        # materialized into the parquet are METADATA, not table data —
        # the default projection strips them (``keep_lineage`` is how
        # ingest's lineage read surfaces them)
        table_columns = [
            c
            for c in data.columns
            if c not in hidden
            and (keep_lineage or c not in RESERVED_LINEAGE_COLS)
        ]

    pos_df = None
    pos_bytes = None
    if has_pos and not ge_v3:
        from iceberg_compaction_spark.sources.scan import read_parquet_files

        pos_df = read_parquet_files(
            spark, [d.path for d in group.position_delete_files]
        )
        pos_bytes = sum(d.file_size_in_bytes for d in group.position_delete_files)

    eq_tables: list[EqualityDeleteTable] = []
    if has_eq:
        # Merge consecutive delete files sharing equality_ids into one
        # logical table; start a new table when the key set changes
        # (datafusion_processor.rs:701-728).
        runs: list[tuple[tuple[str, ...], list]] = []
        for d in group.equality_delete_files:
            if runs and runs[-1][0] == d.equality_ids:
                runs[-1][1].append(d)
            else:
                runs.append((d.equality_ids, [d]))
        for ids, files in runs:
            df = None
            size = 0
            for d in files:
                part = _read_eq_delete_file(
                    spark, d.path, ids, group.schema_fields
                )
                if HIDDEN_SEQ not in part.columns:
                    part = part.withColumn(
                        HIDDEN_SEQ, F.lit(d.sequence_number).cast("long")
                    )
                df = part if df is None else df.unionByName(part)
                size += d.file_size_in_bytes
            eq_tables.append(
                EqualityDeleteTable(
                    df=df, equality_keys=list(ids), size_bytes=size
                )
            )

    return merge_on_read(
        data,
        table_columns,
        position_deletes=pos_df,
        equality_deletes=eq_tables,
        pos_delete_size_bytes=pos_bytes,
        broadcast_threshold=broadcast_threshold,
    )


def rewrite_file_group_with_lineage(
    spark: SparkSession, group: FileGroup
) -> DataFrame:
    """The MOR scan of a v3 group WITH Iceberg row lineage: every
    surviving row carries ``_row_id`` and
    ``_last_updated_sequence_number``.

    Per the v3 spec, files whose manifest entry assigned a
    ``first_row_id`` synthesize ``_row_id = first_row_id + position``;
    files a lineage-preserving rewrite wrote carry the ids as
    MATERIALIZED columns (``first_row_id == -1`` marks those).  The two
    classes are scanned as two homogeneous sub-groups — each keeps its
    own attached deletes through ``FileGroup.from_tasks`` — and unioned
    by name, so no schema merge across heterogeneous parquet is needed.

    Scale shape: synthesis is the hidden-pos scan plus one inlined
    literal-map lookup per row (manifest metadata — never shuffled,
    mirroring the seq-number stamping); the materialized class reads
    its columns straight off parquet.  Positions are the ORIGINAL file
    positions, so applying deletes never perturbs survivors' ids."""
    from iceberg_compaction_spark.sources.scan import normalize_path_str

    def _sub(tasks) -> FileGroup:
        g = FileGroup.from_tasks(tasks)
        g.format_version = group.format_version
        g.schema_fields = group.schema_fields
        g.name_mapping = group.name_mapping
        return g

    synth = [
        t
        for t in group.data_files
        if t.first_row_id is not None and t.first_row_id >= 0
    ]
    mat = [t for t in group.data_files if t.first_row_id == -1]
    missing = len(group.data_files) - len(synth) - len(mat)
    if missing:
        raise ValueError(
            f"{missing} data files in the group have no row lineage "
            "(first_row_id unset) — assign ids before a lineage scan"
        )
    parts = []
    if synth:
        df = rewrite_file_group(spark, _sub(synth), keep_file_pos=True)
        frid_map = F.create_map(
            *[
                F.lit(x)
                for t in synth
                for x in (
                    normalize_path_str(t.data_file_path),
                    t.first_row_id,
                )
            ]
        )
        seq_map = F.create_map(
            *[
                F.lit(x)
                for t in synth
                for x in (
                    normalize_path_str(t.data_file_path),
                    t.sequence_number,
                )
            ]
        )
        path_col = F.col(HIDDEN_FILE_PATH)
        parts.append(
            df.withColumn(
                RESERVED_ROW_ID,
                (
                    F.element_at(frid_map, path_col) + F.col(HIDDEN_POS)
                ).cast("long"),
            )
            .withColumn(
                RESERVED_LAST_UPDATED,
                F.element_at(seq_map, path_col).cast("long"),
            )
            .drop(HIDDEN_FILE_PATH, HIDDEN_POS)
        )
    if mat:
        parts.append(
            rewrite_file_group(spark, _sub(mat), keep_lineage=True)
        )
    if not parts:
        raise ValueError("row-lineage scan of an empty group")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def group_has_lineage(group: FileGroup) -> bool:
    """True when every data file in the group carries row lineage —
    the gate for a lineage-PRESERVING compaction rewrite."""
    return bool(group.data_files) and all(
        t.first_row_id is not None for t in group.data_files
    )
