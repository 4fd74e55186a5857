"""Table manifest — the planning source (S12).

The reference lists a snapshot's data files via Iceberg metadata
(`FileSelector::scan_data_files`, core/src/file_selection/mod.rs:55-73).
For a real Iceberg catalog our Spark engine would read the `.files`
metadata table; for the local parquet harness we maintain a lightweight
JSON manifest over a directory of parquet files, carrying exactly the
metadata planning needs: path, size, record count, sequence number,
partition value, attached delete files.

The manifest IS the snapshot: committing a compaction atomically replaces
it (see commit.py), mirroring Iceberg's RewriteFiles swap.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterator

from iceberg_compaction_spark.plans import pruning as _pruning
from iceberg_compaction_spark.plans.datamodel import (
    EQUALITY_DELETE,
    POSITION_DELETE,
    DeleteFile,
    FileGroup,
    FileScanTask,
)


class ManifestLockTimeout(RuntimeError):
    """Could not acquire the table's commit mutex in time (another
    writer holds it, or a crashed writer left a stale lock)."""


@contextlib.contextmanager
def manifest_lock(
    manifest_path: str,
    timeout_s: float = 10.0,
    poll_s: float = 0.02,
    stale_s: float = 60.0,
) -> Iterator[Any]:
    """Cross-process commit mutex for the local JSON backend.

    ``os.open(O_CREAT | O_EXCL)`` is atomic on POSIX: exactly one
    process creates the lock file.  Holding it across load -> validate
    -> save closes the TOCTOU window between reading the current
    manifest and renaming the new one (the CAS a real catalog supplies
    natively; see commit.py).  Locks older than ``stale_s`` (a crashed
    writer — healthy commits hold the lock for milliseconds) are broken;
    ``stale_s`` is deliberately independent of the acquisition timeout.

    Yields a ``still_held() -> bool`` callable: True iff ``lock_path``
    still refers to OUR lock inode.  The stale-break protocol above is
    best-effort — in the narrow rename->link race a breaker can unlink a
    live holder's lock without the holder knowing.  A holder that calls
    ``still_held()`` immediately before its final commit rename detects
    exactly that theft and can abort retryably instead of double-writing
    (the catalog CAS backstop still exists above this, commit.py).
    """
    lock_path = f"{manifest_path}.lock"
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(lock_path) > stale_s:
                    # Break by renaming ASIDE, then re-verify the CAPTURED
                    # file.  rename is atomic, so exactly one breaker owns
                    # whatever was at lock_path — but the thing captured may
                    # be a FRESH lock created after another breaker already
                    # broke the stale one (the stat above raced).  Only a
                    # capture that is itself stale is deleted; a fresh
                    # capture is restored via os.link (which atomically
                    # no-ops if a newer lock already exists).  This narrows
                    # the two-breakers window to the rename->link gap
                    # (microseconds, vs stale_s=60 s); it is best-effort,
                    # not a proof — a real catalog's CAS replaces this
                    # entirely (see commit.py).
                    broken = f"{lock_path}.stale.{os.getpid()}.{uuid.uuid4().hex}"
                    try:
                        os.rename(lock_path, broken)
                    except FileNotFoundError:
                        pass  # another breaker (or the holder) got there
                    else:
                        try:
                            captured_stale = (
                                time.time() - os.path.getmtime(broken) > stale_s
                            )
                        except FileNotFoundError:
                            captured_stale = True  # vanished; nothing to restore
                        if not captured_stale:
                            # stole a live lock: put it back (unless a newer
                            # one took the slot meanwhile — then the live
                            # holder re-contends like everyone else)
                            with contextlib.suppress(
                                FileExistsError, FileNotFoundError
                            ):
                                os.link(broken, lock_path)
                        with contextlib.suppress(FileNotFoundError):
                            os.unlink(broken)
                    continue
            except FileNotFoundError:
                continue  # holder released between open and stat; retry now
            if time.monotonic() > deadline:
                raise ManifestLockTimeout(
                    f"commit lock busy for >{timeout_s}s: {lock_path}"
                )
            time.sleep(poll_s)
    try:
        os.write(fd, str(os.getpid()).encode())
        # keep fd OPEN for the lock's lifetime: the inode stays allocated
        # to us, so a usurper's fresh lock file can never reuse it and
        # the identity check below cannot false-positive
        ours = os.fstat(fd)

        def still_held() -> bool:
            try:
                cur = os.stat(lock_path)
            except OSError:
                return False
            return (cur.st_dev, cur.st_ino) == (ours.st_dev, ours.st_ino)

        yield still_held
    finally:
        # release only OUR lock: if a breaker stole it and another writer
        # now holds the slot, unlinking here would repeat the theft
        if still_held():
            with contextlib.suppress(FileNotFoundError):
                os.unlink(lock_path)
        os.close(fd)


@dataclass
class Manifest:
    """A snapshot of a table: data files + delete files + schema info."""

    table_root: str
    snapshot_id: int = 0
    sequence_number: int = 0  # last assigned data sequence number
    schema_id: int = 0  # bumped on schema evolution; commits verify it
    format_version: int = 2  # Iceberg spec version (v3: reader-side DVs)
    data_files: list[FileScanTask] = field(default_factory=list)
    properties: dict[str, Any] = field(default_factory=dict)
    # what THIS snapshot's commit did — Iceberg's snapshot summary
    # "operation": append | overwrite | replace | delete.  "replace"
    # marks row-preserving rewrites (compaction, delete consolidation):
    # the streaming source skips exactly those, and raises on the rest.
    # "" = unknown (legacy snapshot): treated conservatively as a
    # possible overwrite.  Every commit path stamps it explicitly.
    operation: str = ""
    # the table's CURRENT partition spec: list of {source, transform,
    # name} dicts (functions.transforms.PartitionField shape).  Empty =
    # unpartitioned.  default_spec_id bumps on every evolve_spec; data
    # files record the spec they were written under (Iceberg
    # partition-spec evolution).
    partition_spec: list[dict] = field(default_factory=list)
    default_spec_id: int = 0
    # the table's CURRENT Iceberg schema as field dicts ({"id", "name",
    # "type", "required"}).  Empty = unknown (engine-native tables infer
    # schema from parquet).  When present, scans resolve data-file
    # columns by FIELD ID (sources/schema_evo.py) so files written
    # before a rename/add/drop still read correctly.
    schema_fields: list[dict] = field(default_factory=list)
    # highest field id EVER allocated (Iceberg's last-column-id,
    # monotonic).  0 = derive from the current schema.  Tracked
    # separately because the current schema's max id DROPS when the
    # highest-id column is dropped — validating new ids against the
    # current max alone would let the next evolution recycle the
    # retired id and resurrect the dropped column's old values from
    # pre-drop data files (ADVICE r7, medium).
    last_column_id: int = 0
    # the table's DECLARED sort order (Iceberg sort-orders; identity
    # transform only, matching the reference's sort support —
    # datafusion_processor.rs:250-255): list of {"source": column_name,
    # "direction": "asc"|"desc", "null-order": "nulls-first"|
    # "nulls-last"} dicts.  Empty = unsorted.  Compaction rewrites
    # apply it by default (an explicit Compaction(sort_order=...) or
    # zorder config wins), which is how Iceberg tables converge to
    # their declared order through maintenance.
    sort_order: list[dict] = field(default_factory=list)
    # registered StatisticsFiles (Iceberg table-metadata ``statistics``):
    # list of {"snapshot-id", "statistics-path", "file-size-in-bytes",
    # "file-footer-size-in-bytes", "blob-metadata": [...]} dicts, written
    # by operators/stats.py compute_table_stats (theta NDV puffin files).
    # Each entry is owned by the snapshot it describes: expire drops the
    # registration with the snapshot, orphan sweeps keep registered
    # paths.
    statistics_files: list[dict] = field(default_factory=list)
    # registered partition-statistics files (Iceberg table-metadata
    # ``partition-statistics``): {"snapshot-id", "statistics-path",
    # "file-size-in-bytes"} dicts, written by operators/stats.py
    # compute_partition_stats.  Same ownership rules as
    # ``statistics_files``.
    partition_statistics_files: list[dict] = field(default_factory=list)
    # Iceberg v3 row lineage: the next row id to assign (table-metadata
    # ``next-row-id``).  Monotonic; every v3 commit that adds files
    # assigns each new file ``first_row_id`` from here and bumps it by
    # the file's record count (see :meth:`assign_row_ids`).  0 on v2
    # tables and on v3 tables that have not assigned lineage yet.
    next_row_id: int = 0

    # ---- construction ------------------------------------------------------

    @staticmethod
    def from_parquet_dir(
        root: str,
        pattern_suffix: str = ".parquet",
        sequence_number: int = 1,
        collect_stats: bool = True,
        recursive: bool = False,
    ) -> "Manifest":
        """Bootstrap a manifest from a directory of parquet files.

        Every file gets the same sequence number (as if written in one
        commit); record counts — and, with ``collect_stats``, per-column
        bounds + null counts for plan-time file pruning — come from
        parquet footers (cheap: metadata only, no data IO).
        ``recursive`` descends subdirectories (hive-style layouts for
        add_files partition inference)."""
        import pyarrow.parquet as pq

        from iceberg_compaction_spark.plans import pruning as pr

        if recursive:
            names = sorted(
                os.path.relpath(os.path.join(d, f), root)
                for d, _, files in os.walk(root)
                for f in files
            )
        else:
            names = sorted(os.listdir(root))
        tasks: list[FileScanTask] = []
        for name in names:
            if not name.endswith(pattern_suffix):
                continue
            path = os.path.join(root, name)
            size = os.path.getsize(path)
            md = pq.read_metadata(path)
            bounds, nulls = pr.footer_stats(md) if collect_stats else ({}, {})
            tasks.append(
                FileScanTask(
                    data_file_path=path,
                    length=size,
                    file_size_in_bytes=size,
                    record_count=md.num_rows,
                    sequence_number=sequence_number,
                    column_bounds=bounds,
                    null_counts=nulls,
                )
            )
        return Manifest(
            table_root=root,
            snapshot_id=1,
            sequence_number=sequence_number,
            data_files=tasks,
        )

    # ---- persistence -------------------------------------------------------

    def manifest_path(self) -> str:
        return os.path.join(self.table_root, "_manifest.json")

    def save(self, path: str | None = None) -> str:
        path = path or self.manifest_path()
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(self.to_dict(), f, indent=1)
        os.replace(tmp, path)  # atomic on POSIX
        return path

    @staticmethod
    def load(path: str) -> "Manifest":
        with open(path) as f:
            d = json.load(f)
        return Manifest.from_dict(d)

    def to_dict(self) -> dict[str, Any]:
        return {
            "table_root": self.table_root,
            "snapshot_id": self.snapshot_id,
            "sequence_number": self.sequence_number,
            "schema_id": self.schema_id,
            "format_version": self.format_version,
            # copy: callers round-trip through to_dict/from_dict (e.g. the
            # catalog register path) and must not alias the source's dict
            "properties": dict(self.properties),
            **({"operation": self.operation} if self.operation else {}),
            **(
                {
                    "partition_spec": [dict(f) for f in self.partition_spec],
                    "default_spec_id": self.default_spec_id,
                }
                if self.partition_spec or self.default_spec_id
                else {}
            ),
            **(
                {"schema_fields": [dict(f) for f in self.schema_fields]}
                if self.schema_fields
                else {}
            ),
            **(
                {"last_column_id": self.last_column_id}
                if self.last_column_id
                else {}
            ),
            **(
                {"sort_order": [dict(f) for f in self.sort_order]}
                if self.sort_order
                else {}
            ),
            **(
                {
                    "statistics_files": [
                        dict(s) for s in self.statistics_files
                    ]
                }
                if self.statistics_files
                else {}
            ),
            **(
                {
                    "partition_statistics_files": [
                        dict(s) for s in self.partition_statistics_files
                    ]
                }
                if self.partition_statistics_files
                else {}
            ),
            **(
                {"next_row_id": self.next_row_id}
                if self.next_row_id
                else {}
            ),
            "data_files": [
                {
                    "path": t.data_file_path,
                    "length": t.length,
                    "file_size_in_bytes": t.file_size_in_bytes,
                    "record_count": t.record_count,
                    "sequence_number": t.sequence_number,
                    "partition": list(t.partition),
                    **({"spec_id": t.spec_id} if t.spec_id else {}),
                    **(
                        {"first_row_id": t.first_row_id}
                        if t.first_row_id is not None
                        else {}
                    ),
                    **(
                        {
                            "column_bounds": {
                                c: [_pruning.bound_to_json(b[0]), _pruning.bound_to_json(b[1])]
                                for c, b in t.column_bounds.items()
                            },
                            "null_counts": dict(t.null_counts),
                        }
                        if t.column_bounds or t.null_counts
                        else {}
                    ),
                    "deletes": [
                        {
                            "path": d.path,
                            "content": d.content,
                            "file_size_in_bytes": d.file_size_in_bytes,
                            "record_count": d.record_count,
                            "sequence_number": d.sequence_number,
                            "equality_ids": list(d.equality_ids),
                        }
                        for d in t.deletes
                    ],
                }
                for t in self.data_files
            ],
        }

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "Manifest":
        tasks = []
        for t in d.get("data_files", []):
            deletes = [
                DeleteFile(
                    path=x["path"],
                    content=x["content"],
                    file_size_in_bytes=x.get("file_size_in_bytes", 0),
                    record_count=x.get("record_count", 0),
                    sequence_number=x.get("sequence_number", 0),
                    equality_ids=tuple(x.get("equality_ids", ())),
                )
                for x in t.get("deletes", [])
            ]
            tasks.append(
                FileScanTask(
                    data_file_path=t["path"],
                    length=t["length"],
                    file_size_in_bytes=t.get("file_size_in_bytes", t["length"]),
                    record_count=t.get("record_count", 0),
                    sequence_number=t.get("sequence_number", 0),
                    partition=tuple(t.get("partition", ())),
                    spec_id=t.get("spec_id", 0),
                    first_row_id=t.get("first_row_id"),
                    deletes=deletes,
                    column_bounds={
                        c: (
                            _pruning.bound_from_json(b[0]),
                            _pruning.bound_from_json(b[1]),
                        )
                        for c, b in t.get("column_bounds", {}).items()
                    },
                    null_counts=dict(t.get("null_counts", {})),
                )
            )
        return Manifest(
            table_root=d["table_root"],
            snapshot_id=d.get("snapshot_id", 0),
            sequence_number=d.get("sequence_number", 0),
            schema_id=d.get("schema_id", 0),
            format_version=d.get("format_version", 2),
            data_files=tasks,
            properties=dict(d.get("properties", {})),
            partition_spec=[dict(f) for f in d.get("partition_spec", [])],
            default_spec_id=d.get("default_spec_id", 0),
            operation=d.get("operation", ""),
            schema_fields=[dict(f) for f in d.get("schema_fields", [])],
            last_column_id=int(d.get("last_column_id", 0)),
            sort_order=[dict(f) for f in d.get("sort_order", [])],
            statistics_files=[
                dict(s) for s in d.get("statistics_files", [])
            ],
            partition_statistics_files=[
                dict(s)
                for s in d.get("partition_statistics_files", [])
            ],
            next_row_id=int(d.get("next_row_id", 0)),
        )

    def successor(self, operation: str) -> "Manifest":
        """The next snapshot of this table, to be edited and committed:
        a deep copy (the ``from_dict`` round trip keeps every table
        property — partition spec, declared sort order, last-column-id,
        statistics files, per-file spec ids and column bounds) with the
        next snapshot id and ``operation`` stamped.  Every operation
        but a row-preserving ``replace`` takes the next data sequence
        number, which is the one the commit's new files and deletes
        carry."""
        new = Manifest.from_dict(self.to_dict())
        new.snapshot_id = self.next_snapshot()
        if operation != "replace":
            new.sequence_number = self.sequence_number + 1
        new.operation = operation
        return new

    # ---- v3 row lineage ----------------------------------------------------

    def assign_row_ids(self) -> int:
        """Iceberg v3 row lineage assignment: give every data file that
        has no lineage yet (``first_row_id is None``) a fresh
        ``first_row_id`` from ``next_row_id`` and advance the counter by
        the file's record count.  Files already assigned (carried
        forward from earlier snapshots) and files that MATERIALIZE row
        ids (``first_row_id == -1``, written by a lineage-preserving
        rewrite) are untouched — assignment is append-only and
        monotonic, which is what keeps ``_row_id`` stable across the
        table's whole history.  No-op on v2 tables.  Returns the number
        of files assigned.

        Branch caveat: ids are allocated from THIS lineage's
        ``next_row_id``, so commits on two concurrently-advancing
        branches allocate from diverged counters and may overlap.
        Within the WAP discipline this cannot bite (main is pinned
        while the audit branch advances; fast-forward publishes the
        branch lineage wholesale), but ids from branches that never
        merge are only unique per branch — same stance as the spec's
        commit-time assignment, which resolves ids at the snapshot
        that finally lands on the published lineage."""
        if self.format_version < 3:
            return 0
        n = 0
        for t in self.data_files:
            if t.first_row_id is None:
                t.first_row_id = self.next_row_id
                self.next_row_id += int(t.record_count)
                n += 1
        return n

    # ---- spec evolution ----------------------------------------------------

    def evolve_spec(self, fields: list) -> int:
        """Adopt a new partition spec (Iceberg's partition-spec
        evolution): bumps ``default_spec_id`` and replaces the current
        spec.  EXISTING data files are untouched — they keep their
        original spec id and layout; only future writes (and rewrites,
        which is the migration path) use the new spec.

        ``fields``: ``functions.transforms.PartitionField`` instances or
        ``{source, transform, name}`` dicts.  Returns the new spec id.
        """
        ser = []
        for f in fields:
            if isinstance(f, dict):
                ser.append(
                    {
                        "source": f["source"],
                        "transform": f.get("transform", "identity"),
                        "name": f.get("name"),
                    }
                )
            else:
                ser.append(
                    {
                        "source": f.source,
                        "transform": f.transform,
                        "name": f.name,
                    }
                )
        self.partition_spec = ser
        self.default_spec_id += 1
        return self.default_spec_id

    # widening-only primitive promotions the Iceberg spec allows
    _PROMOTIONS = {("int", "long"), ("float", "double")}

    def evolve_schema(self, fields: list[dict]) -> int:
        """Adopt a new current schema (Iceberg schema evolution): bumps
        ``schema_id`` and replaces ``schema_fields``.  EXISTING data
        files are untouched — reads resolve their columns through the
        new schema by FIELD ID (sources/schema_evo.py), which is what
        makes rename/add/drop metadata-only operations.

        Validates the spec's field-id discipline against the current
        schema (no-op when the table has no declared schema yet):

        - a KEPT id may change name freely (rename) but its type may
          only WIDEN (int->long, float->double, decimal precision up at
          equal scale) — narrowing would corrupt existing files;
        - a KEPT id may relax required->optional but never tighten
          optional->required (old files may hold NULLs);
        - a NEW field must use an id above ``last_column_id`` — the
          highest id EVER allocated, not merely the current schema's
          max (ids are never recycled even across a drop: a recycled
          id would resurrect a dropped column's old values), and must
          be optional (the spec forbids required new columns absent a
          default value, which this model does not carry);
        - ids must be unique within the new schema.

        Returns the new ``schema_id``.
        """
        new = [dict(f) for f in fields]
        ids = [int(f["id"]) for f in new]
        if len(ids) != len(set(ids)):
            raise ValueError(f"duplicate field ids in new schema: {ids}")
        old_by_id = {int(f["id"]): f for f in self.schema_fields}

        def _widens(old_t, new_t) -> bool:
            if old_t == new_t:
                return True
            if (old_t, new_t) in self._PROMOTIONS:
                return True
            if (
                isinstance(old_t, str)
                and isinstance(new_t, str)
                and old_t.startswith("decimal(")
                and new_t.startswith("decimal(")
            ):
                po, so = old_t[len("decimal("):-1].split(",")
                pn, sn = new_t[len("decimal("):-1].split(",")
                return int(sn) == int(so) and int(pn) >= int(po)
            return False

        last = max(self.last_column_id, max(old_by_id, default=0))
        for f in new:
            fid = int(f["id"])
            old = old_by_id.get(fid)
            if old is not None:
                if not _widens(old["type"], f["type"]):
                    raise ValueError(
                        f"field id {fid} ({old['name']!r}): type "
                        f"{old['type']!r} cannot narrow/change to "
                        f"{f['type']!r} — only widening promotions are "
                        "safe for existing files"
                    )
                if bool(f.get("required")) and not bool(
                    old.get("required")
                ):
                    raise ValueError(
                        f"field id {fid} ({f['name']!r}): optional -> "
                        "required is forbidden — existing files may "
                        "hold NULLs in a column the schema would "
                        "declare non-nullable"
                    )
            else:
                if self.schema_fields and fid <= last:
                    raise ValueError(
                        f"new field {f['name']!r} recycles id {fid} "
                        f"(last column id {last}); ids are never "
                        "reused, even after a drop"
                    )
                if bool(f.get("required")) and (
                    f.get("initial-default") is None
                ):
                    raise ValueError(
                        f"new field {f['name']!r} (id {fid}) cannot be "
                        "required without an initial-default: existing "
                        "files would project NULL for it (v3 default "
                        "values lift this — declare 'initial-default')"
                    )
        self.schema_fields = new
        self.schema_id += 1
        self.last_column_id = max(last, max(ids, default=0))
        return self.schema_id

    def spec_fields(self) -> list:
        """The current spec as ``PartitionField`` objects ([] when
        unpartitioned)."""
        from iceberg_compaction_spark.functions.transforms import (
            PartitionField,
        )

        return [
            PartitionField(
                source=f["source"],
                transform=f.get("transform", "identity"),
                name=f.get("name"),
            )
            for f in self.partition_spec
        ]

    def name_mapping(self) -> dict | None:
        """The parsed ``schema.name-mapping.default`` property (field
        id -> alias names for id-less import files); None when unset."""
        from iceberg_compaction_spark.sources.schema_evo import (
            NAME_MAPPING_PROP,
            parse_name_mapping,
        )

        return (
            parse_name_mapping((self.properties or {}).get(NAME_MAPPING_PROP))
            or None
        )

    def stamp_group(self, group: FileGroup) -> FileGroup:
        """Stamp the table state a group's scan resolves columns with —
        format version (v3 reads deletion vectors and row lineage),
        current schema fields and name mapping — onto ``group``; the one
        place every scan of this table builds its groups."""
        group.format_version = self.format_version
        group.schema_fields = self.schema_fields or None
        group.name_mapping = self.name_mapping()
        return group

    # ---- queries -----------------------------------------------------------

    def next_snapshot(self) -> int:
        return self.snapshot_id + 1

    def paths(self) -> list[str]:
        return [t.data_file_path for t in self.data_files]

    def by_path(self) -> dict[str, FileScanTask]:
        return {t.data_file_path: t for t in self.data_files}


def scan_data_files(manifest: Manifest) -> list[FileScanTask]:
    """List all data-content scan tasks of the current snapshot (S12;
    core/src/file_selection/mod.rs:55-73). Delete files are attached to
    their data files, not listed as standalone tasks."""
    return list(manifest.data_files)
