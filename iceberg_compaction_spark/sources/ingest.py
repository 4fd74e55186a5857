"""Upsert / CDC write path: the producer of the MOR state compaction
consumes.

The reference engine only CONSUMES merge-on-read tables (its docs
describe streaming writers like RisingWave/Flink producing
equality-delete + data files, README.md "Why Compaction"); this module
closes the loop so the Spark engine is a self-contained system: apply a
changes DataFrame to a catalog table the way a streaming upsert sink
would —

- one EQUALITY-DELETE file over the primary keys of every changed row,
  sequenced ABOVE all current data files (so it applies to them and
  only them: Iceberg's sequence-number rule, J2's ``seq`` residual);
- the upserted rows' data files (one per touched partition), carrying
  that same new sequence number (so the delete does NOT apply to them);
- a CAS catalog commit appending both.

Reading the table through :func:`read_table_mor` then shows exactly the
upserted state; running compaction afterwards materializes it and drops
the delete files — the full produce -> read -> compact lifecycle.

At scale this writes one delete file + the batch's data files per
commit (streaming sinks roll them per checkpoint).  The batch's key
columns reach the driver once, as one Arrow table: the key-uniqueness
check, the partition scope and the equality-delete write all read it
there, with no further Spark job.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_compaction_spark.commit import commit_catalog, load_head
from iceberg_compaction_spark.config import DEFAULT_COMPRESSION
from iceberg_compaction_spark.operators.mor import rewrite_file_group
from iceberg_compaction_spark.plans.datamodel import (
    EQUALITY_DELETE,
    DeleteFile,
    FileGroup,
    FileScanTask,
)
from iceberg_compaction_spark.sources.fileio import fileio_for
from iceberg_compaction_spark.sources.manifest import Manifest
from iceberg_compaction_spark.sources.scan import HIDDEN_SEQ

DELETE_OP = "D"


def _stamp_field_ids_like_table(df: DataFrame, cur: Manifest) -> DataFrame:
    """Attach ``parquet.field.id`` metadata to the frame's columns when
    (and only when) the table's EXISTING data files carry field ids —
    so a DML write never creates a mixed id-ful/id-less file group.

    The asymmetry is deliberate: compaction outputs inherit ids through
    the MOR scan's requested schema (Spark's parquet writer propagates
    requested-schema metadata), but a user's delta frame arrives bare.
    On an id-carrying table (schema-evolved, compacted, or Arrow-
    imported) a bare write used to brick the NEXT read with the
    mixed-group error; on an id-less table, stamping would create the
    same mix in the other direction — hence the one-footer probe
    (driver-side, first data file only, same cost class as the
    planner's stats reads).  Empty tables stamp whenever the declared
    schema has ids (the spec-correct fresh start)."""
    from iceberg_compaction_spark.sources.schema_evo import (
        dml_field_id_stamp,
    )

    for name, fid in dml_field_id_stamp(cur).items():
        if name in df.columns:
            df = df.withMetadata(name, {"parquet.field.id": fid})
    return df


def _write_single_parquet(df: DataFrame, path: str) -> None:
    """Write a DML statement's new data rows as exactly one parquet FILE
    at ``path``, routed through the FileIO seam.

    Local warehouses take the Spark write path: one executor task via
    ``coalesce(1)``, so the rows never pass through the driver.
    Non-Spark-native schemes (``mem://`` tests, connector-less object
    stores) Arrow-collect the rows and put the bytes through
    :func:`_write_arrow`.  Delete files never come here: their keys or
    positions are already on the driver and go to :func:`_write_arrow`
    directly."""
    from iceberg_compaction_spark.sources.fileio import LocalFileIO

    if isinstance(fileio_for(path), LocalFileIO):
        local = LocalFileIO.strip(path)
        tmp = f"{local}.tmpdir-{uuid.uuid4().hex[:8]}"
        df.coalesce(1).write.mode("overwrite").option(
            "compression", DEFAULT_COMPRESSION
        ).parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.replace(os.path.join(tmp, part), local)
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        return
    _write_arrow(df.toArrow(), path)


def _write_arrow(table, path: str) -> None:
    """Write a driver-held Arrow table as one parquet file at ``path``
    through :func:`fileio_for` — every scheme, no Spark job."""
    import io

    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(table, buf, compression=DEFAULT_COMPRESSION)
    fileio_for(path).write_bytes(path, buf.getvalue())


#: upper bound on the distinct key values collected to scope an
#: equality-delete's attachment — beyond this the driver-side set stops
#: being "micro-batch bounded" and scoping is declined (attach-all)
_SCOPE_VALUE_CAP = 10_000


def _eq_delete_scope(cur, keys: list[str], key_vals_for):
    """Partition scope for an upsert's equality delete, or None.

    Applicable when the CURRENT spec has a field whose SOURCE column is
    one of the upsert keys: every deterministic transform maps equal
    source values to equal cells (plans/pruning.py's partition-transform
    tier rests on the same fact), so a file whose recorded cell is
    outside the batch's transformed value set provably contains no
    matching row and need not carry the delete.  Covers identity AND
    bucket/truncate/year/month/day/hour via ``transform_value`` (round
    10 — at 10^5 files a bucket[256]-partitioned key table skips ~255/
    256 of every commit's J2 joins).

    ``key_vals_for(col)`` returns the batch's raw distinct values or
    None to decline (value-count cap).  Identity cells are scoped only
    for int/str values (a date/timestamp's ``str()`` can diverge from
    the recorded hive form); transformed cells are ints or truncated
    str/int, always safe for the dual native/string match.

    Round 11 (VERDICT r10 #6): EVERY applicable spec field contributes
    — a batch row lands in exactly one cell per keyed spec field, so a
    file whose recorded cell mismatches on ANY of them provably holds
    no matching row.  On a ``bucket(id), month(ts)`` spec keyed on both
    columns, intersecting the two scopes multiplies the skip rate
    (~256× from the bucket × the untouched months).  A field whose
    values are over the cap or type-unsafe is simply left out.

    Returns ``(spec_len, [(field_index, cell_set, str_set), ...])`` for
    :func:`_eq_attach_needed`, or None meaning attach everywhere.
    """
    from iceberg_compaction_spark.functions.transforms import (
        transform_value,
    )

    spec = cur.partition_spec or []
    fields: list = []
    for i, f in enumerate(spec):
        tr = f.get("transform", "identity")
        if f.get("source") not in keys:
            continue
        vals = key_vals_for(f["source"])
        if vals is None:
            continue  # over the cap on THIS column: other fields may scope
        if tr == "identity":
            if not all(
                isinstance(v, (int, str)) and not isinstance(v, bool)
                for v in vals
            ):
                continue  # unsafe raw type: try another spec field
            cells = set(vals)
        else:
            try:
                cells = {transform_value(tr, v) for v in vals}
            except (ValueError, TypeError, AttributeError):
                continue  # value the transform can't take
            if not all(
                c is None
                or (isinstance(c, (int, str)) and not isinstance(c, bool))
                for c in cells
            ):
                continue
        fields.append((i, cells, {str(c) for c in cells}))
    if not fields:
        return None
    return len(spec), fields


def _eq_attach_needed(t, default_spec_id, spec_len, fields):
    """Whether a data file needs the scoped equality delete attached.
    Every uncertain case attaches (files under an OLD spec id, arity
    mismatch, null partition value, representation unknown) — scoping
    may only ever SKIP files proven untouchable.  Recorded partition
    values arrive native (Arrow write path) or as hive-path strings
    (sized fan-out writer), so membership checks both representations —
    the same dual matching plans/pruning.py:294-299 applies.  With
    several scoped fields, ONE proven mismatch suffices to skip."""
    part = tuple(t.partition or ())
    if t.spec_id != default_spec_id or len(part) != spec_len:
        return True
    for idx, natives, strs in fields:
        pv = part[idx]
        if pv is None:
            continue  # this field cannot prove anything for this file
        if pv not in natives and str(pv) not in strs:
            return False  # provably untouched partition cell
    return True


def _assert_unique_keys(df: DataFrame, keys: list[str], what: str) -> int:
    """ONE aggregation job asserting batch key-uniqueness (total rows
    and distinct keys used to be two separate jobs — every upsert/MERGE
    paid a second pass over the batch).  Distinct keys are counted over
    a struct so null-bearing keys group exactly like
    ``distinct().count()`` did (countDistinct on bare columns DROPS
    null-containing rows).  Returns the batch row count."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.struct(*[F.col(k) for k in keys])).alias("d"),
    ).first()
    if row["n"] != row["d"]:
        raise ValueError(
            f"{what} has duplicate keys ({row['n']} rows, "
            f"{row['d']} distinct keys) — pre-deduplicate (last-wins "
            "or otherwise) first"
        )
    return row["n"]


def upsert(
    spark: SparkSession,
    catalog,
    table_name: str,
    changes: DataFrame,
    keys: list[str],
    op_col: str | None = None,
    to_branch: str | None = None,
) -> Manifest:
    """Apply ``changes`` to a catalog table as one upsert commit.

    Without ``op_col`` every row is an upsert (insert-or-replace by
    ``keys``).  With ``op_col``, rows whose op is ``"D"`` are deletes
    (key removed, no new row); anything else upserts.  If the batch
    contains several rows per key, the LAST one wins per the dataframe's
    current order is NOT assumed — callers must pre-deduplicate;
    this function asserts key uniqueness to fail loudly instead of
    committing ambiguous state.

    Commit protocol: the batch is written once — its rows through the
    DML data writer (one file per touched partition on a partitioned
    table), its keys, collected once as Arrow and written by the first
    commit attempt, as one equality-delete file holding only the key
    columns — and :func:`upsert_build` attaches both to the head the
    catalog commit lands on.
    """
    import pyarrow.compute as pc

    upserts = changes
    if op_col is not None:
        upserts = changes.where(F.col(op_col) != DELETE_OP).drop(op_col)
    # the one Spark job over the batch before the data write: its keys
    # (and ops) as Arrow on the driver
    batch = changes.select(*keys, *([op_col] if op_col else [])).toArrow()
    base = f"upsert-{uuid.uuid4().hex[:8]}"
    build = upsert_build(keys, batch, "changes batch", base, op_col)

    current = load_head(catalog, table_name, to_branch)
    has_upserts = (
        batch.num_rows > 0
        if op_col is None
        else bool(pc.any(pc.not_equal(batch[op_col], DELETE_OP)).as_py())
    )
    data_tasks = (
        _write_dml_data_files(spark, current, upserts, base)
        if has_upserts
        else []
    )
    return commit_catalog(
        catalog,
        table_name,
        lambda head: build(head, data_tasks),
        to_branch,
    )


def upsert_build(keys, batch, what: str, stem: str, op_col=None):
    """The upsert commit of both :func:`upsert` and the DataSource's
    streaming upsert sink, over the batch's keys already on the driver.

    ``batch`` is an Arrow table of the key columns (plus ``op_col`` when
    given).  Raises at once when two rows share a key; null keys group
    together, as ``countDistinct`` over a struct does.  Rows whose op is
    null are neither upserts nor deletes, so they stay out of the
    equality delete.

    Returns ``build(head, data_tasks)`` for ``commit_catalog``:
    ``head``'s successor with one equality delete (key columns only) and
    the batch's new data files, both at the new sequence number — so the
    delete applies to every older file and never to the batch's own.
    The first attempt writes the delete file as ``<stem>-eqdel.parquet``;
    a retry after a lost CAS race re-sequences it without touching a
    file, because readers take an equality delete's sequence number from
    its manifest entry.

    The delete attaches to every current file, except files in
    partitions the batch provably never touches (see
    :func:`_eq_delete_scope`).  At 10^5 files that spares every later
    scan of an untouched partition the eq-join against this commit's
    delete until compaction."""
    import dataclasses

    import pyarrow.compute as pc

    keys = list(keys)
    n = batch.num_rows
    d = batch.group_by(keys).aggregate([]).num_rows
    if n != d:
        raise ValueError(
            f"{what} has duplicate keys ({n} rows, {d} distinct keys) — "
            "pre-deduplicate (last-wins or otherwise) first"
        )
    if op_col is not None:
        batch = batch.filter(pc.is_valid(batch[op_col]))
    key_tbl = batch.select(keys)
    scope_vals: dict = {}

    def key_vals(col: str):
        # over the cap the driver-side set stops being "micro-batch
        # bounded": decline (attach everywhere); type safety is judged
        # per spec field in _eq_delete_scope
        if col not in scope_vals:
            vals = key_tbl.column(col).unique().to_pylist()
            scope_vals[col] = None if len(vals) > _SCOPE_VALUE_CAP else vals
        return scope_vals[col]

    eq_path: list[str] = []  # set by the first attempt

    def build(head: Manifest, data_tasks) -> Manifest:
        if not eq_path:
            eq_path.append(
                os.path.join(head.table_root, f"{stem}-eqdel.parquet")
            )
            _write_arrow(key_tbl, eq_path[0])
        # rows change in place: streaming raises unless skipped
        new = head.successor("overwrite")
        seq = new.sequence_number
        eq_file = DeleteFile(
            path=eq_path[0],
            content=EQUALITY_DELETE,
            file_size_in_bytes=fileio_for(eq_path[0]).size(eq_path[0]),
            record_count=key_tbl.num_rows,
            sequence_number=seq,
            equality_ids=tuple(keys),
        )
        scope = _eq_delete_scope(head, keys, key_vals)
        for t in new.data_files:
            if scope is None or _eq_attach_needed(
                t, head.default_spec_id, *scope
            ):
                t.deletes.append(eq_file)
        new.data_files += [
            dataclasses.replace(t, sequence_number=seq) for t in data_tasks
        ]
        new.assign_row_ids()  # v3 row lineage (no-op on v2)
        return new

    return build


def delete_where(
    spark: SparkSession,
    catalog,
    table_name: str,
    predicate: str,
    to_branch: str | None = None,
) -> Manifest:
    """Predicate DELETE producing merge-on-read state — the DML that
    pairs with :func:`upsert`'s key-based path (``DELETE FROM t WHERE
    ...`` in Iceberg engines writes position deletes, never rewrites
    data files).

    Scans the CURRENT snapshot with hidden ``(file, pos)`` identity,
    evaluates ``predicate`` over already-MOR-merged rows (a row deleted
    by an earlier commit can't match twice), and commits ONE
    position-delete artifact covering the matches: a
    ``(sys_hidden_file_path, sys_hidden_pos)`` parquet trail on v2
    tables, a puffin deletion vector (one Roaring blob per referenced
    data file, serialized on executors) on v3.  The delete attaches
    only to the data files it references.  No matches -> no commit.

    Retry semantics: losing the CAS race re-runs the WHOLE attempt
    against the fresh head — positions are only valid for the exact
    files they were computed from, and the predicate must also see
    rows added by the race winner (the serializable-delete view).

    Scale shape: the scan + filter is a distributed plan with the
    predicate eligible for pushdown.  On v2 the matched ``(path, pos)``
    rows are collected once as Arrow and written on the driver (one
    Spark job); on v3 the DV blobs are serialized on executors and only
    they are collected.
    """
    from iceberg_compaction_spark.sources.scan import (
        HIDDEN_FILE_PATH,
        HIDDEN_POS,
    )

    suffix = uuid.uuid4().hex[:8]

    def build(cur: Manifest) -> Manifest | None:
        matched = (
            _matched_scan(spark, cur)
            .where(predicate)
            .select(HIDDEN_FILE_PATH, HIDDEN_POS)
        )
        v3 = cur.format_version >= 3
        path = os.path.join(
            cur.table_root,
            f"delete-{suffix}" + (".puffin" if v3 else "-pos.parquet"),
        )
        refs, n = _write_position_artifact(spark, cur, matched, path)
        if n == 0:
            return None
        return _row_change_snapshot(cur, refs, n, path, None, "delete")

    return commit_catalog(catalog, table_name, build, to_branch)


def _matched_scan(spark, cur) -> DataFrame:
    """CURRENT-snapshot MOR scan carrying hidden ``(file, pos)`` row
    identity — the input every predicate DML statement shares."""
    group = cur.stamp_group(FileGroup.from_tasks(cur.data_files))
    return rewrite_file_group(spark, group, keep_file_pos=True)


def _write_v3_dv_file(spark, merged, out_path: str):
    """Write a merged ``(path, pos)`` frame as ONE puffin deletion-
    vector file with one blob per referenced data file — the v3
    representation of position deletes (spec: at most one DV per data
    file; reference reader behavior datafusion_processor.rs:632-653).

    Scale shape: the Roaring bitmap for each data file is serialized on
    EXECUTORS (``applyInPandas`` grouped by file path — positions never
    exist as a driver-side list); the driver collects only the compact
    blobs (bounded by bitmap size, the same metadata scale a manifest
    already is) and concatenates them into the container.

    Returns ``(referenced_paths, total_positions)``.
    """
    import pandas as pd

    from iceberg_compaction_spark.sources.puffin import (
        write_puffin_from_blobs,
    )
    from iceberg_compaction_spark.sources.scan import (
        HIDDEN_FILE_PATH,
        HIDDEN_POS,
    )

    def _ser(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from iceberg_compaction_spark.sources.puffin import (
            dv_blob_serialize,
        )

        positions = sorted({int(x) for x in pdf[HIDDEN_POS]})
        return pd.DataFrame(
            {
                "ref": [str(pdf[HIDDEN_FILE_PATH].iloc[0])],
                "blob": [dv_blob_serialize(positions)],
                "card": [len(positions)],
            }
        )

    rows = (
        merged.groupBy(HIDDEN_FILE_PATH)
        .applyInPandas(_ser, "ref string, blob binary, card long")
        .collect()
    )
    blobs = sorted(
        (r["ref"], bytes(r["blob"]), int(r["card"])) for r in rows
    )
    write_puffin_from_blobs(out_path, blobs)
    return {b[0] for b in blobs}, sum(b[2] for b in blobs)


def _write_position_artifact(spark, cur, matched_pos, path):
    """Write the position-delete artifact for ``matched_pos`` rows
    (``(sys_hidden_file_path, sys_hidden_pos)``) — the one
    position-delete writer of DML and delete maintenance.  On v2 the
    rows are collected once as Arrow, sorted by ``(path, pos)`` on the
    driver and written through :func:`_write_arrow`; on v3 they become a
    puffin deletion vector serialized on executors.  Returns
    ``(refs, n)`` — referenced data-file paths and total positions; no
    file is left when nothing matched."""
    from iceberg_compaction_spark.sources.scan import (
        HIDDEN_FILE_PATH,
        HIDDEN_POS,
    )

    fio = fileio_for(path)
    fio.makedirs(os.path.dirname(path))
    if cur.format_version >= 3:
        refs, n = _write_v3_dv_file(spark, matched_pos, path)
        if n == 0:
            fio.remove(path)
        return refs, n
    t = matched_pos.toArrow().sort_by(
        [(HIDDEN_FILE_PATH, "ascending"), (HIDDEN_POS, "ascending")]
    )
    if t.num_rows:
        _write_arrow(t, path)
    return set(t.column(HIDDEN_FILE_PATH).unique().to_pylist()), t.num_rows


def _write_dml_data_files(
    spark, cur: Manifest, df: DataFrame, base: str
) -> list[FileScanTask]:
    """Write a DML statement's new-rows frame under the table's CURRENT
    partition spec: partitioned Spark-native tables fan out through the
    transform-aware sized writer (partition tuples and column bounds in
    the returned tasks — Iceberg's partitioned-write contract), with
    rows hash-distributed by partition first (Iceberg's default
    ``write.distribution-mode`` for partitioned tables), so each touched
    partition gets one file rather than one per input task; unpartitioned
    tables and FileIO-only backends keep the single-file artifact (a
    bounded changed-rows set by definition), its column bounds and null
    counts taken from the footer like the sized writer's.  Sequence
    numbers are stamped by the caller's commit."""
    from iceberg_compaction_spark.sources.scan import spark_native_paths

    df = _stamp_field_ids_like_table(df, cur)
    spec = cur.spec_fields() if cur.partition_spec else None
    if spec and spark_native_paths([cur.table_root]):
        from iceberg_compaction_spark.config import WriterConfig
        from iceberg_compaction_spark.sources.writer import (
            SortField,
            write_sized_parquet,
        )

        # the table's DECLARED sort order applies to every new data
        # file (Iceberg writers sort on write; compaction converges the
        # rest) — same default compaction._effective_sort uses
        order = [
            SortField(
                column=f["source"],
                ascending=f.get("direction") != "desc",
                nulls_first={
                    "nulls-first": True,
                    "nulls-last": False,
                }.get(f.get("null-order")),
            )
            for f in (cur.sort_order or [])
        ] or None
        out_dir = os.path.join(cur.table_root, f"{base}-data")
        tasks = write_sized_parquet(
            df,
            out_dir,
            WriterConfig(),
            output_parallelism=spark.sparkContext.defaultParallelism,
            sort_order=order,
            partition_spec=spec,
        )
        for t in tasks:
            t.spec_id = cur.default_spec_id
        return tasks
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.plans.pruning import footer_stats

    path = os.path.join(cur.table_root, f"{base}-data.parquet")
    _write_single_parquet(df, path)
    fio = fileio_for(path)
    with fio.open_input(path) as fh:
        md = pq.read_metadata(fh)
    bounds, nulls = footer_stats(md)
    size = fio.size(path)
    return [
        FileScanTask(
            data_file_path=path,
            length=size,
            file_size_in_bytes=size,
            record_count=md.num_rows,
            spec_id=cur.default_spec_id if not cur.partition_spec else 0,
            column_bounds=bounds,
            null_counts=nulls,
        )
    ]


def _row_change_snapshot(
    cur: Manifest,
    refs: set,
    n_deleted: int,
    delete_path: str,
    new_data_tasks: "list[FileScanTask] | None",
    operation: str,
) -> Manifest:
    """The snapshot of a predicate DML statement: the position delete
    attaches to exactly the data files it references; the new data
    files (updated/inserted rows), when present, join the snapshot at
    the SAME new sequence number — the delete does not apply to them
    (it references only the old files)."""
    from iceberg_compaction_spark.plans.datamodel import POSITION_DELETE
    from iceberg_compaction_spark.sources.scan import normalize_path_str

    new = cur.successor(operation)
    new_seq = new.sequence_number
    if n_deleted:
        dfile = DeleteFile(
            path=delete_path,
            content=POSITION_DELETE,
            file_size_in_bytes=fileio_for(delete_path).size(delete_path),
            record_count=n_deleted,
            sequence_number=new_seq,
        )
        for t in new.data_files:
            if normalize_path_str(t.data_file_path) in refs:
                t.deletes.append(dfile)
    for t in new_data_tasks or ():
        t.sequence_number = new_seq
        new.data_files.append(t)
    new.assign_row_ids()  # v3 row lineage (no-op on v2)
    return new


def update_where(
    spark: SparkSession,
    catalog,
    table_name: str,
    predicate: str,
    set_exprs: dict[str, str],
    to_branch: str | None = None,
) -> Manifest:
    """Predicate UPDATE producing merge-on-read state: ``UPDATE t SET
    col = expr, ... WHERE predicate`` as Iceberg engines execute it in
    merge-on-read mode — ONE snapshot carrying (a) a position delete
    covering every matched row and (b) a new data file holding those
    rows with the SET expressions applied.  Readers before the commit
    see the old rows, after it the new — never both, never neither.

    ``set_exprs`` maps column name -> Spark SQL expression evaluated
    over the matched row (``{"price": "price * 1.1"}``).  Unknown
    columns raise.  No matches -> no commit (returns the current
    manifest).

    Retry semantics mirror :func:`delete_where`: a lost CAS race
    re-runs the whole attempt against the fresh head, because positions
    are only valid for the exact files they were computed from and the
    predicate must see rows added by the race winner.

    Scale shape: the matched scan is the same distributed
    predicate-eligible plan ``delete_where`` uses; the updated-row
    projection is JVM-side expressions.  The positions are written as
    ``delete_where`` writes them, the changed rows by the DML data
    writer — the UNCHANGED rows are never rewritten, which is the
    entire point of merge-on-read UPDATE at 100 TB.
    """
    from iceberg_compaction_spark.sources.scan import (
        HIDDEN_FILE_PATH,
        HIDDEN_POS,
    )

    suffix = uuid.uuid4().hex[:8]

    def build(cur: Manifest) -> Manifest | None:
        df = _matched_scan(spark, cur)
        table_cols = [
            c
            for c in df.columns
            if c not in (HIDDEN_FILE_PATH, HIDDEN_POS, HIDDEN_SEQ)
        ]
        unknown = set(set_exprs) - set(table_cols)
        if unknown:
            raise ValueError(
                f"SET references unknown columns {sorted(unknown)}; "
                f"table columns: {table_cols}"
            )
        # matched feeds BOTH artifacts (positions + updated rows):
        # persist so the table scans once, not twice — matched rows
        # only, spill-safe (the memory-and-disk default)
        matched = df.where(predicate).persist()
        try:
            v3 = cur.format_version >= 3
            del_path = os.path.join(
                cur.table_root,
                f"update-{suffix}" + (".puffin" if v3 else "-pos.parquet"),
            )
            refs, n = _write_position_artifact(
                spark,
                cur,
                matched.select(HIDDEN_FILE_PATH, HIDDEN_POS),
                del_path,
            )
            if n == 0:
                return None
            updated = matched.select(
                *[
                    F.expr(set_exprs[c]).alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in table_cols
                ]
            )
            data_tasks = _write_dml_data_files(
                spark, cur, updated, f"update-{suffix}"
            )
        finally:
            matched.unpersist()
        return _row_change_snapshot(
            cur, refs, n, del_path, data_tasks, "overwrite"
        )

    return commit_catalog(catalog, table_name, build, to_branch)


def merge_into(
    spark: SparkSession,
    catalog,
    table_name: str,
    source: DataFrame,
    keys: list[str],
    matched_action: str = "update",
    update_cols: list[str] | None = None,
    update_exprs: dict[str, str] | None = None,
    insert_unmatched: bool = True,
    delete_unmatched_target: bool = False,
    to_branch: str | None = None,
    matched_clauses: "list[dict] | None" = None,
    insert_condition: str | None = None,
) -> Manifest:
    """Minimal MERGE: ``MERGE INTO t USING source ON t.k = s.k WHEN
    MATCHED THEN UPDATE SET ... / DELETE [WHEN NOT MATCHED THEN
    INSERT *]`` in merge-on-read mode — one snapshot carrying a position
    delete over the matched target rows plus one data file holding the
    updated and inserted rows.

    ``matched_action``: ``"update"`` replaces matched rows with the
    source's values for ``update_cols`` (default: every non-key source
    column present in the table), keeping target values for other
    columns; ``"delete"`` removes matched rows.  ``update_exprs`` maps
    column -> Spark SQL expression over the aliases ``t`` (target) and
    ``s`` (source) — the general SET form (``{"cnt": "t.cnt + s.cnt"}``)
    — taking precedence over ``update_cols`` for its columns.
    ``insert_unmatched`` appends source rows with no target match (the
    source must then carry every table column).
    ``delete_unmatched_target`` is SQL MERGE's ``WHEN NOT MATCHED BY
    SOURCE THEN DELETE``: target rows with no source match are removed
    (full-sync loads).

    ``matched_clauses`` is the general conditional form — ``WHEN
    MATCHED AND <cond> THEN UPDATE/DELETE`` with MULTIPLE clauses,
    first-match-wins (SQL MERGE's clause order): a list of dicts
    ``{"condition": "<SQL over aliases t and s>" | None,
    "action": "update" | "delete", "update_cols": [...],
    "update_exprs": {...}}``.  A matched row takes the FIRST clause
    whose condition holds (``condition: None`` = always); a matched row
    satisfying NO clause is left untouched — exactly SQL MERGE.  When
    given, it supersedes ``matched_action``/``update_cols``/
    ``update_exprs`` (which remain the single-unconditional-clause
    shorthand).

    ``insert_condition`` is ``WHEN NOT MATCHED AND <cond> THEN
    INSERT``: a Spark SQL predicate over the SOURCE columns (plain
    names — the unmatched rows are source-only by definition); unmatched
    source rows failing it are simply not inserted.

    The source must be key-unique (asserted, like :func:`upsert` —
    SQL MERGE raises on multiple matches too).  CAS-retried per
    attempt against the fresh head.

    Scale shape: one shuffle-join of target x source on the keys
    (broadcast when the source is a micro-batch, AQE otherwise);
    unchanged target rows never rewrite.
    """
    from iceberg_compaction_spark.sources.scan import (
        HIDDEN_FILE_PATH,
        HIDDEN_POS,
    )

    clauses = matched_clauses or [
        {
            "condition": None,
            "action": matched_action,
            "update_cols": update_cols,
            "update_exprs": update_exprs,
        }
    ]
    for cl in clauses:
        if cl.get("action") not in ("update", "delete"):
            raise ValueError(
                "each matched clause's action must be 'update' or "
                f"'delete' (got {cl.get('action')!r})"
            )
    _assert_unique_keys(source, keys, "MERGE source")
    suffix = uuid.uuid4().hex[:8]

    def build(cur: Manifest) -> Manifest | None:
        df = _matched_scan(spark, cur)
        if delete_unmatched_target:
            # the NOT MATCHED BY SOURCE anti-join reads the target scan
            # a second time — persist it so the table is scanned once
            # (matched rows feed the join below from the same cache)
            df = df.persist()
        table_cols = [
            c
            for c in df.columns
            if c not in (HIDDEN_FILE_PATH, HIDDEN_POS, HIDDEN_SEQ)
        ]
        t, s = df.alias("t"), source.alias("s")
        cond = F.lit(True)
        for k in keys:
            cond = cond & (F.col(f"t.{k}") == F.col(f"s.{k}"))
        # first-match-wins clause resolution: one CASE expression stamps
        # each matched row with the index of the first clause whose
        # condition holds (-1 = no clause applies: the row is untouched,
        # per SQL MERGE) — evaluated once, JVM-side, in the same pass as
        # the join
        idx = None
        for i, cl in enumerate(clauses):
            c = (
                F.expr(cl["condition"])
                if cl.get("condition")
                else F.lit(True)
            )
            idx = F.when(c, F.lit(i)) if idx is None else idx.when(
                c, F.lit(i)
            )
        # joined feeds both the position artifact and the updated rows:
        # persist so the target x source join runs once (matched rows
        # only, spill-safe)
        joined = (
            t.join(s, on=cond, how="inner")
            .withColumn("_merge_clause", idx.otherwise(F.lit(-1)))
            .persist()
        )
        try:
            affected = joined.where(F.col("_merge_clause") >= 0)
            matched_pos = affected.select(
                F.col(f"t.{HIDDEN_FILE_PATH}").alias(HIDDEN_FILE_PATH),
                F.col(f"t.{HIDDEN_POS}").alias(HIDDEN_POS),
            )
            if delete_unmatched_target:
                unmatched_pos = df.join(
                    source.select(*keys), on=keys, how="left_anti"
                ).select(HIDDEN_FILE_PATH, HIDDEN_POS)
                matched_pos = matched_pos.unionByName(unmatched_pos)

            v3 = cur.format_version >= 3
            del_path = os.path.join(
                cur.table_root,
                f"merge-{suffix}" + (".puffin" if v3 else "-pos.parquet"),
            )
            refs, n = _write_position_artifact(
                spark, cur, matched_pos, del_path
            )

            out = None
            if n:
                for i, cl in enumerate(clauses):
                    if cl["action"] != "update":
                        continue
                    exprs = dict(cl.get("update_exprs") or {})
                    upd = cl.get("update_cols") or [
                        c
                        for c in source.columns
                        if c in table_cols and c not in keys
                    ]
                    missing = (set(upd) | set(exprs)) - set(table_cols)
                    if missing:
                        raise ValueError(
                            f"update_cols/update_exprs not in table: "
                            f"{sorted(missing)}"
                        )

                    def _col(c, exprs=exprs, upd=upd):
                        if c in exprs:
                            return F.expr(exprs[c]).alias(c)
                        if c in upd:
                            return F.col(f"s.{c}").alias(c)
                        return F.col(f"t.{c}").alias(c)

                    part = joined.where(
                        F.col("_merge_clause") == i
                    ).select(*[_col(c) for c in table_cols])
                    out = part if out is None else out.unionByName(part)
            if insert_unmatched:
                missing = set(table_cols) - set(source.columns)
                if missing:
                    raise ValueError(
                        "WHEN NOT MATCHED INSERT needs every table "
                        f"column in the source; missing: {sorted(missing)}"
                    )
                inserts = source.join(
                    df.select(*keys), on=keys, how="left_anti"
                )
                if insert_condition:
                    inserts = inserts.where(insert_condition)
                inserts = inserts.select(*table_cols)
                out = inserts if out is None else out.unionByName(inserts)

            # write first and count from the footers the writer already
            # read: no probe job ahead of the write; a zero-row file
            # (nothing updated or inserted) is discarded
            data_tasks = []
            if out is not None:
                for t in _write_dml_data_files(
                    spark, cur, out, f"merge-{suffix}"
                ):
                    if t.record_count:
                        data_tasks.append(t)
                    else:
                        fileio_for(t.data_file_path).remove(t.data_file_path)
            if not data_tasks and n == 0:
                return None
        finally:
            joined.unpersist()
            if delete_unmatched_target:
                df.unpersist()
        return _row_change_snapshot(
            cur, refs, n, del_path, data_tasks, "overwrite"
        )

    return commit_catalog(catalog, table_name, build, to_branch)


def _stamp_hive_partitions(
    staged: Manifest,
    spec: list,
    table_name: str,
    spec_id: int = 0,
    src_dir: str | None = None,
) -> None:
    """Partition tuples for imported files from HIVE-STYLE path
    segments (``<field>=<value>`` directories) — how Iceberg's own
    add_files infers partitions.  Every spec field must be named by
    some path segment on EVERY file, else the import is rejected
    (an invented tuple would silently mis-prune).  Values stay the
    raw path strings: the engine's partition matching is dual
    native/string everywhere (plans/pruning.py), and hive paths ARE
    the string representation.

    Only segments BELOW ``src_dir`` are considered: an unrelated
    outer directory that happens to match a spec field name (e.g. a
    user's ``/data/region=eu/staging/...`` prefix) must not satisfy
    the missing-segment guard or stamp a wrong tuple."""
    import urllib.parse

    names = [f.get("name") for f in spec]
    for t in staged.data_files:
        rel = (
            os.path.relpath(t.data_file_path, src_dir)
            if src_dir
            else t.data_file_path
        )
        segs = {}
        for seg in rel.split(os.sep):
            if "=" in seg and not seg.endswith(".parquet"):
                k, _, v = seg.partition("=")
                segs[k] = urllib.parse.unquote(v)
        missing = [n for n in names if n not in segs]
        if missing:
            raise ValueError(
                f"{table_name} is partitioned by {names}; imported file "
                f"{t.data_file_path!r} has no hive-style "
                f"'<field>=<value>' path segment for {missing} — "
                f"add_files infers partitions from paths only"
            )
        t.partition = tuple(segs[n] for n in names)
        t.spec_id = spec_id  # written under the CURRENT spec


def add_files(
    catalog,
    table_name: str,
    src_dir: str,
    to_branch: str | None = None,
    check_schema: bool = True,
) -> Manifest:
    """Iceberg's ``add_files`` procedure: register EXISTING parquet
    files as a new append snapshot — metadata only, no data movement
    or rewrite.  At 100 TB this is THE import path: footers are read
    for record counts and pruning stats (cheap, metadata-only), the
    data bytes never move, and the commit is one CAS.

    Guards:
    - schema check (``check_schema``): the imported files' column
      names must match the table's declared schema by name (the files
      carry no Iceberg field ids; name mapping is how they resolve,
      so a name mismatch would read as nulls — fail loudly instead);
    - duplicate-path check: a file already tracked by the target ref's
      snapshot cannot be added twice (double-counted rows);
    - partitioned tables need HIVE-STYLE paths: each file must sit
      under ``<field>=<value>`` directories covering every spec field
      by name (how Iceberg's own add_files infers partition tuples);
      anything else is rejected — inventing tuples would silently
      mis-prune.

    CAS-retried like every DML statement; ``to_branch`` stages the
    import on a branch (the WAP pattern for bulk backfills: import,
    audit the branch, fast-forward).
    """
    import dataclasses

    staged = Manifest.from_parquet_dir(src_dir, recursive=True)
    if not staged.data_files:
        raise ValueError(f"no parquet files under {src_dir!r}")
    staged_names: dict = {}
    if check_schema:
        # ONE footer pass, outside the CAS retry loop (a conflict retry
        # must not re-read 10^5 footers); the comparison against the
        # (possibly refreshed) table schema stays inside attempt()
        from iceberg_compaction_spark.sources.iceberg_meta import (
            infer_schema_fields,
        )

        staged_names = {
            t.data_file_path: sorted(
                f["name"] for f in infer_schema_fields(t.data_file_path)
            )
            for t in staged.data_files
        }

    def build(cur: Manifest) -> Manifest:
        if cur.partition_spec:
            _stamp_hive_partitions(
                staged,
                cur.partition_spec,
                table_name,
                spec_id=cur.default_spec_id,
                src_dir=src_dir,
            )
        if check_schema:
            from iceberg_compaction_spark.sources.iceberg_meta import (
                infer_schema_fields,
            )

            want_fields = cur.schema_fields or (
                infer_schema_fields(cur.data_files[0].data_file_path)
                if cur.data_files
                else None
            )
            want = sorted(f["name"] for f in (want_fields or []))
            if want:
                # EVERY file, not just the first — one mismatched file
                # in the directory would otherwise import silently and
                # read as nulls (round-11 review finding); the names
                # were collected in ONE pre-loop footer pass
                for path, have in staged_names.items():
                    if have != want:
                        raise ValueError(
                            f"imported file {path!r} columns "
                            f"{have} do not match table schema {want} — "
                            "imported parquet carries no field ids, so "
                            "a name mismatch would silently read as "
                            "nulls"
                        )
        existing = set(cur.paths())
        dups = [
            t.data_file_path
            for t in staged.data_files
            if t.data_file_path in existing
        ]
        if dups:
            raise ValueError(
                f"{len(dups)} file(s) already tracked by "
                f"{table_name}: {dups[:3]}"
            )
        new = cur.successor("append")
        # copies: row-id assignment must start fresh on every attempt
        new.data_files += [
            dataclasses.replace(t, sequence_number=new.sequence_number)
            for t in staged.data_files
        ]
        new.assign_row_ids()  # v3 row lineage (no-op on v2)
        return new

    return commit_catalog(catalog, table_name, build, to_branch)


def partition_cell(part) -> tuple:
    """Canonical form of a recorded partition tuple for CELL EQUALITY:
    values arrive native (Arrow write path) or as hive-path strings
    (sized fan-out writer) — same dual representation
    plans/pruning.py matches on — so cells compare on ``str()`` with
    nulls preserved."""
    return tuple(
        None if c is None else str(c) for c in (part or ())
    )


def overwrite_partitions(
    spark: SparkSession,
    catalog,
    table_name: str,
    df: DataFrame,
    to_branch: str | None = None,
) -> Manifest:
    """Dynamic partition overwrite — Iceberg's replace-partitions
    operation, Spark's ``INSERT OVERWRITE`` under dynamic partition
    overwrite mode: every partition CELL the batch writes to is
    replaced whole (its previous data files leave the manifest;
    physical parquet ages out via expire + orphan cleanup), and
    partitions the batch never touches keep their files AND delete
    state byte-identically.  On an unpartitioned table this is a
    full-table INSERT OVERWRITE.

    This is the producer of the staged-overwrite snapshots
    :func:`~iceberg_compaction_spark.sources.catalog.cherry_pick`
    can replay past a moved main (operation ``overwrite``, removals
    confined to the written cells).

    Scale shape: ONE distributed transform-aware fan-out write
    (writer.py's sized rolling writer); the replaced-cell set and the
    manifest edit are metadata-sized.  CAS-retried like every DML —
    the data files are written once and only re-sequenced on retry
    (parquet carries no sequence column).
    """
    import dataclasses

    current = load_head(catalog, table_name, to_branch)
    suffix = uuid.uuid4().hex[:8]
    new_tasks = _write_dml_data_files(
        spark, current, df, f"overwrite-{suffix}"
    )
    if not new_tasks or not any(t.record_count for t in new_tasks):
        return current  # empty batch: dynamic overwrite replaces nothing
    written_cells = {partition_cell(t.partition) for t in new_tasks}

    def build(cur: Manifest) -> Manifest:
        new = cur.successor("overwrite")
        new.data_files = [
            t
            for t in new.data_files
            if partition_cell(t.partition) not in written_cells
        ]
        for t in new_tasks:
            new.data_files.append(
                dataclasses.replace(
                    t, sequence_number=new.sequence_number, deletes=[]
                )
            )
        new.assign_row_ids()  # v3 row lineage (no-op on v2)
        return new

    return commit_catalog(catalog, table_name, build, to_branch)


def read_table_mor(spark: SparkSession, manifest: Manifest) -> DataFrame:
    """Read a manifest table with all its delete files applied — the
    query-engine view of a MOR table (what compaction materializes)."""
    group = manifest.stamp_group(FileGroup.from_tasks(manifest.data_files))
    return rewrite_file_group(spark, group)


def read_table_mor_with_lineage(
    spark: SparkSession, manifest: Manifest
) -> DataFrame:
    """MOR read of a v3 table WITH Iceberg row lineage: every row
    carries ``_row_id`` (stable across compactions) and
    ``_last_updated_sequence_number``.

    Per the v3 spec, a row's id is ``first_row_id + position`` for
    files whose manifest entry assigned a ``first_row_id``, and the
    MATERIALIZED ``_row_id`` column for files a lineage-preserving
    rewrite wrote (positions changed, so the ids had to be carried as
    data — ``first_row_id == -1`` marks those here).  The two file
    classes are scanned as two homogeneous groups (each keeps its own
    attached deletes) and unioned by name — no mergeSchema dependence.

    Scale shape: synthesis is the hidden-pos scan plus one inlined
    literal map lookup per row (manifest metadata, never shuffled);
    the materialized class reads the columns straight off parquet."""
    from iceberg_compaction_spark.operators.mor import (
        rewrite_file_group_with_lineage,
    )

    if manifest.format_version < 3:
        raise ValueError(
            "row lineage is an Iceberg v3 feature — upgrade the table "
            "(upgrade_format_version) first"
        )
    unassigned = [
        t.data_file_path
        for t in manifest.data_files
        if t.first_row_id is None
    ]
    if unassigned:
        raise ValueError(
            f"{len(unassigned)} data files have no row lineage; commit "
            "through the catalog (v3 commits assign ids) or call "
            "Manifest.assign_row_ids() first: " + unassigned[0]
        )
    if not manifest.data_files:
        raise ValueError(
            "row-lineage read of an empty table (no data files)"
        )
    group = manifest.stamp_group(FileGroup.from_tasks(manifest.data_files))
    return rewrite_file_group_with_lineage(spark, group)
