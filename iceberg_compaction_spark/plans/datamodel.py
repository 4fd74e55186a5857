"""Planning-layer data model.

Python dataclasses standing in for the reference's Iceberg-native types
(SURVEY.md §1.1): FileScanTask / FileGroup / CompactionPlan.  At 100 TB
these stay tiny — they describe *files* (a 100 TB table at 1 GiB/file is
~100k entries), so driver-side Python manipulation is the right tool; only
the rewrite dataflow itself runs on the cluster.

Reference shapes: FileScanTask fields per
core/src/executor/datafusion/iceberg_file_task_scan.rs:681-702; FileGroup
per core/src/file_selection/strategy.rs:44-117; CompactionPlan per
core/src/compaction/mod.rs:1227-1285.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

POSITION_DELETE = "position_delete"
EQUALITY_DELETE = "equality_delete"


@dataclass(frozen=True)
class DeleteFile:
    """A position- or equality-delete file attached to a data file."""

    path: str
    content: str  # POSITION_DELETE | EQUALITY_DELETE
    file_size_in_bytes: int = 0
    record_count: int = 0
    sequence_number: int = 0
    equality_ids: tuple[str, ...] = ()  # column names (ref uses field ids)


@dataclass
class FileScanTask:
    """One data file to (possibly) rewrite.

    `partition` is an opaque grouping key (tuple of partition values) —
    mirrors the reference treating the Iceberg partition Struct as a hash
    key (strategy.rs:953-971).
    """

    data_file_path: str
    length: int  # bytes to scan (== file size for whole-file tasks)
    file_size_in_bytes: int = 0
    record_count: int = 0
    sequence_number: int = 0
    partition: tuple[Any, ...] = ()
    # id of the partition spec this file was written under (Iceberg
    # partition-spec evolution: old files keep their old layout; only a
    # rewrite migrates them to the table's current spec)
    spec_id: int = 0
    deletes: list[DeleteFile] = field(default_factory=list)
    # per-column (lower, upper) over non-null values + null counts, from
    # parquet footers (Iceberg manifest lower_bounds/upper_bounds/
    # null_value_counts) — consumed by plans/pruning.py; empty = unknown
    column_bounds: dict[str, tuple] = field(default_factory=dict)
    null_counts: dict[str, int] = field(default_factory=dict)
    # Iceberg v3 row lineage (spec: data file first-row-id, field 142):
    # None  = no lineage assigned (v2 tables, or pre-assignment v3);
    # >= 0  = synthesize _row_id as first_row_id + file position;
    # -1    = the file MATERIALIZES _row_id / _last_updated_sequence_
    #         number as real columns (a lineage-preserving rewrite
    #         wrote them because positions changed — spec: "writers
    #         must materialize row ids when rewriting").
    first_row_id: "int | None" = None

    def __post_init__(self) -> None:
        if self.file_size_in_bytes == 0:
            self.file_size_in_bytes = self.length


@dataclass
class FileGroup:
    """Unit of one rewrite job (strategy.rs:44-117).

    Position-delete files are de-duplicated by path across the group's data
    files; equality-delete files likewise (L9, strategy.rs:68-106).
    """

    data_files: list[FileScanTask]
    position_delete_files: list[DeleteFile] = field(default_factory=list)
    equality_delete_files: list[DeleteFile] = field(default_factory=list)
    output_parallelism: int = 1
    partition: tuple[Any, ...] | None = None
    # Iceberg table format version (datafusion_processor.rs:632-653):
    # v2 -> position deletes are applied by the compaction query (J1
    # anti-join); v3 -> position deletes are deletion vectors applied
    # READER-side during the scan, only equality deletes become joins.
    format_version: int = 2
    # the table's CURRENT Iceberg schema (field dicts with ids); when
    # set, the group's scan resolves data-file columns by FIELD ID so
    # files written under older schemas (pre-rename/add) read correctly
    schema_fields: list[dict] | None = None
    # parsed schema.name-mapping.default (field id -> alias names) for
    # id-less import files; None = identity name fallback
    name_mapping: dict | None = None

    @staticmethod
    def from_tasks(tasks: list[FileScanTask]) -> "FileGroup":
        """Build a group, de-duplicating attached delete files by path (L9)."""
        pos: dict[str, DeleteFile] = {}
        eq: dict[str, DeleteFile] = {}
        for t in tasks:
            for d in t.deletes:
                target = pos if d.content == POSITION_DELETE else eq
                target.setdefault(d.path, d)
        return FileGroup(
            data_files=list(tasks),
            position_delete_files=list(pos.values()),
            equality_delete_files=list(eq.values()),
        )

    @property
    def data_file_count(self) -> int:
        return len(self.data_files)

    @property
    def total_data_size(self) -> int:
        return sum(t.file_size_in_bytes for t in self.data_files)

    @property
    def total_delete_size(self) -> int:
        return sum(
            d.file_size_in_bytes
            for d in (*self.position_delete_files, *self.equality_delete_files)
        )

    @property
    def input_size(self) -> int:
        return self.total_data_size + self.total_delete_size

    @property
    def input_file_count(self) -> int:
        return (
            len(self.data_files)
            + len(self.position_delete_files)
            + len(self.equality_delete_files)
        )


@dataclass
class CompactionPlan:
    """FileGroup + pinned snapshot (core/src/compaction/mod.rs:1227-1285)."""

    file_group: FileGroup
    snapshot_id: int = 0
    branch: str = "main"
    # sequence number newly-written files are pinned to, so concurrent newer
    # deletes still apply after the swap (T1; compaction/mod.rs:950-1061)
    starting_sequence_number: int = 0
    # schema id at plan time; the commit refuses to apply the plan if the
    # table's schema evolved underneath it (compaction/mod.rs:1090-1100)
    schema_id: int = 0
    # column names of the schema the plan was built against (from the
    # manifest's "schema.columns" property when present).  Lets the
    # commit distinguish ADDITIVE evolution (add-column: rewritten
    # old-schema files stay valid, commit adopts the new schema id —
    # Iceberg's add-column never rewrites data) from destructive
    # evolution (drop/retype: must re-plan), instead of failing both.
    schema_columns: tuple[str, ...] = ()
    # the table's CURRENT partition spec at plan time, as
    # (source, transform, name) triples; a rewrite writes its output
    # under this spec, which is how old-spec files migrate to the new
    # layout (Iceberg: spec evolution changes only future writes —
    # rewrites are the migration mechanism)
    partition_spec: tuple[tuple[str, str, str | None], ...] = ()
    spec_id: int = 0
    # the table's DECLARED sort order at plan time, as
    # (column, direction, null-order) triples; a rewrite sorts its
    # output by it unless an explicit Compaction(sort_order=...) or
    # zorder config overrides — maintenance is how an Iceberg table
    # converges to its declared order
    sort_order: tuple[tuple[str, str, str | None], ...] = ()


@dataclass
class SnapshotStats:
    """Single-pass snapshot statistics (A2; core/src/compaction/auto.rs:298-321)."""

    total_data_files: int = 0
    total_data_bytes: int = 0
    small_files_count: int = 0
    delete_heavy_files_count: int = 0

    @staticmethod
    def collect(
        tasks: list[FileScanTask],
        small_file_threshold_bytes: int,
        delete_file_count_threshold: int,
    ) -> "SnapshotStats":
        s = SnapshotStats()
        for t in tasks:
            s.total_data_files += 1
            s.total_data_bytes += t.file_size_in_bytes
            if t.file_size_in_bytes < small_file_threshold_bytes:
                s.small_files_count += 1
            if len(t.deletes) >= delete_file_count_threshold:
                s.delete_heavy_files_count += 1
        return s
