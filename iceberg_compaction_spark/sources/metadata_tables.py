"""Iceberg-style metadata tables: ``files``, ``delete_files``,
``partitions``, ``snapshots``, ``history``, ``refs``.

Iceberg exposes table metadata as queryable relations
(``SELECT * FROM tbl$files`` in Spark/Trino); every operator of a real
table uses them to audit layout, pick compaction targets, and debug
commits.  The reference engine has no equivalent surface (it is a
bounded compaction executor — SURVEY §2.9), so this exceeds parity in
the direction a production user needs first.

Scale stance: table metadata describes FILES, not rows.  A 100 TB
table at ~1 GiB/file is ~10^5 file entries and a few thousand
snapshots — driver-side construction into one Arrow-built relation
(:func:`~.sources.scan.driver_frame`) is the honest design (same
reasoning as the planning layer, SURVEY §2.7): once a DataFrame, the
rows distribute and join/filter like any other relation.  A table
whose *metadata* outgrew the driver would need the manifest-Avro
files themselves read as a distributed scan; the JSON manifest layer
here has no such files, so that path would be speculative plumbing.

All row builders are pure functions over :class:`Manifest` /
:class:`FileCatalog` so the DataSource's ``option("metadata", ...)``
read path (sources/datasource.py) and the DataFrame helpers here share
one definition of each table.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import types as T

from iceberg_compaction_spark.plans.datamodel import (
    EQUALITY_DELETE,
    FileScanTask,
)
from iceberg_compaction_spark.sources.scan import driver_frame

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

    from iceberg_compaction_spark.sources.manifest import Manifest

# Iceberg manifest-entry content ids (spec: manifests, ``content``)
CONTENT_DATA = 0
CONTENT_POSITION_DELETES = 1
CONTENT_EQUALITY_DELETES = 2

FILES_SCHEMA = T.StructType(
    [
        T.StructField("content", T.IntegerType(), False),
        T.StructField("file_path", T.StringType(), False),
        T.StructField("file_format", T.StringType(), False),
        T.StructField("spec_id", T.IntegerType(), False),
        T.StructField(
            "partition", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField("record_count", T.LongType(), False),
        T.StructField("file_size_in_bytes", T.LongType(), False),
        T.StructField("sequence_number", T.LongType(), False),
        # data files only (NULL on delete rows): number of delete files
        # attached to this file's scan task
        T.StructField("delete_file_count", T.IntegerType(), True),
        T.StructField("position_delete_count", T.IntegerType(), True),
        T.StructField("equality_delete_count", T.IntegerType(), True),
        # data files only: manifest column bounds as JSON (the stats
        # the pruning tiers evaluate) — inspectable, not relational
        T.StructField("column_bounds", T.StringType(), True),
        # delete rows only: equality key columns as JSON
        T.StructField("equality_ids", T.StringType(), True),
        # delete rows only: number of data files this delete attaches to
        T.StructField("applies_to_files", T.IntegerType(), True),
    ]
)

PARTITIONS_SCHEMA = T.StructType(
    [
        T.StructField(
            "partition", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField("spec_id", T.IntegerType(), False),
        T.StructField("file_count", T.LongType(), False),
        T.StructField("record_count", T.LongType(), False),
        T.StructField("total_size_in_bytes", T.LongType(), False),
        T.StructField("delete_file_count", T.LongType(), False),
    ]
)

SNAPSHOTS_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("sequence_number", T.LongType(), False),
        T.StructField("operation", T.StringType(), True),
        T.StructField("schema_id", T.IntegerType(), False),
        T.StructField("data_file_count", T.LongType(), False),
        T.StructField("delete_file_count", T.LongType(), False),
        T.StructField("total_records", T.LongType(), False),
        T.StructField("total_data_size_in_bytes", T.LongType(), False),
        T.StructField("format_version", T.IntegerType(), False),
    ]
)

HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("parent_id", T.LongType(), True),
        # Iceberg's is_current_ancestor: on-main-lineage — false for
        # unpublished branch snapshots and rolled-past commits (r10)
        T.StructField("is_current_ancestor", T.BooleanType(), False),
        T.StructField("is_current", T.BooleanType(), False),
    ]
)

REFS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("snapshot_id", T.LongType(), False),
        # Iceberg's per-ref retention fields (r11; null = undeclared)
        T.StructField("max_ref_age_ms", T.LongType(), True),
        T.StructField("max_snapshot_age_ms", T.LongType(), True),
        T.StructField("min_snapshots_to_keep", T.LongType(), True),
    ]
)

# Iceberg's ``tbl$manifests``: one row per manifest grouping of the
# current snapshot.  The engine's JSON layer has no physical manifest
# files (one version file carries the whole listing; the hadoop tier's
# Avro paths are not carried through Manifest), so a "manifest" here is
# the logical grouping real appends produce: the files a single commit
# added, split data/deletes — which is what commit forensics reads the
# relation for.  No ``path`` column for that reason (documented
# deviation from tbl$manifests).
MANIFESTS_SCHEMA = T.StructType(
    [
        # 0 = data manifest, 1 = deletes manifest (Iceberg ManifestContent)
        T.StructField("content", T.IntegerType(), False),
        T.StructField("partition_spec_id", T.IntegerType(), False),
        T.StructField("added_snapshot_id", T.LongType(), False),
        T.StructField("added_files_count", T.IntegerType(), False),
        T.StructField("added_rows_count", T.LongType(), False),
        T.StructField("min_sequence_number", T.LongType(), False),
        T.StructField("sequence_number", T.LongType(), False),
        # per-spec-field {contains_null, lower_bound, upper_bound} JSON
        T.StructField("partition_summaries", T.StringType(), True),
    ]
)

# Iceberg's ``tbl$entries``: one row per manifest entry of a snapshot,
# status-tagged against the parent — the commit-forensics relation
# ("what exactly did snapshot N add/carry/delete").
ENTRIES_SCHEMA = T.StructType(
    [
        # Iceberg ManifestEntry status: 0 EXISTING, 1 ADDED, 2 DELETED
        T.StructField("status", T.IntegerType(), False),
        # the snapshot that ADDED the file (DELETED rows: the remover)
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("sequence_number", T.LongType(), False),
        T.StructField("content", T.IntegerType(), False),
        T.StructField("file_path", T.StringType(), False),
        T.StructField("record_count", T.LongType(), False),
        T.StructField("file_size_in_bytes", T.LongType(), False),
        T.StructField(
            "partition", T.MapType(T.StringType(), T.StringType()), True
        ),
    ]
)

METADATA_TABLES = ("files", "delete_files", "partitions", "snapshots",
                   "history", "refs", "manifests", "entries",
                   "metadata_log_entries",
                   "all_files", "all_entries", "all_manifests")

# Iceberg's ``tbl$metadata_log_entries``: one row per retained METADATA
# VERSION FILE (the forensics relation — which physical metadata file
# was current when, and what head it declared).  ``timestamp_ms`` is 0
# for pre-stamp versions (unknown commit time is not invented).
METADATA_LOG_SCHEMA = T.StructType(
    [
        T.StructField("timestamp_ms", T.LongType(), False),
        T.StructField("file", T.StringType(), False),
        T.StructField("latest_snapshot_id", T.LongType(), True),
        T.StructField("latest_schema_id", T.IntegerType(), True),
        T.StructField("latest_sequence_number", T.LongType(), True),
    ]
)


def _with_ref_snapshot(schema: T.StructType) -> T.StructType:
    """History-wide variant of a per-snapshot schema: every row is
    stamped with the snapshot whose listing produced it — Iceberg's
    ``reference_snapshot_id`` column on the ``all_*`` relations."""
    return T.StructType(
        [T.StructField("reference_snapshot_id", T.LongType(), False)]
        + list(schema.fields)
    )


def _file_format(path: str) -> str:
    ext = os.path.splitext(path)[1].lower()
    if ext == ".puffin":
        return "PUFFIN"
    if ext == ".avro":
        return "AVRO"
    if ext == ".orc":
        return "ORC"
    return "PARQUET"


def _part_map(task: FileScanTask, manifest: "Manifest") -> dict | None:
    """Partition tuple -> {field_name: str(value)}.

    Field names come from the table's partition spec; a file written
    under an OLDER spec (different arity — spec evolution) falls back
    to positional ``p{i}`` names rather than mislabeling values."""
    vals = tuple(task.partition or ())
    if not vals:
        return None
    names = [f.get("name") for f in (manifest.partition_spec or [])]
    if len(names) != len(vals) or any(not n for n in names):
        names = [f"p{i}" for i in range(len(vals))]
    return {n: (None if v is None else str(v)) for n, v in zip(names, vals)}


def files_rows(manifest: "Manifest") -> list[tuple]:
    """One row per data file plus one per distinct attached delete file
    (delete files dedup by path across data files, mirroring L9)."""
    import json

    rows: list[tuple] = []
    deletes: dict[str, list] = {}
    for t in manifest.data_files:
        pm = _part_map(t, manifest)
        pos = sum(1 for d in t.deletes if d.content != EQUALITY_DELETE)
        rows.append(
            (
                CONTENT_DATA,
                t.data_file_path,
                _file_format(t.data_file_path),
                int(t.spec_id),
                pm,
                int(t.record_count),
                int(t.file_size_in_bytes),
                int(t.sequence_number),
                len(t.deletes),
                pos,
                len(t.deletes) - pos,
                json.dumps(t.column_bounds, default=str)
                if t.column_bounds
                else None,
                None,
                None,
            )
        )
        for d in t.deletes:
            content = (
                CONTENT_EQUALITY_DELETES
                if d.content == EQUALITY_DELETE
                else CONTENT_POSITION_DELETES
            )
            row = deletes.setdefault(
                d.path,
                [
                    content,
                    d.path,
                    _file_format(d.path),
                    int(t.spec_id),
                    pm,
                    int(d.record_count),
                    int(d.file_size_in_bytes),
                    int(d.sequence_number),
                    None,
                    None,
                    None,
                    None,
                    json.dumps(list(d.equality_ids))
                    if d.equality_ids
                    else None,
                    0,
                ],
            )
            row[13] += 1  # data files this delete file attaches to
            # A delete file shared across partitions has no single
            # partition cell: null it (matches the applies_to_files
            # aggregation stance) instead of reporting the first data
            # file's partition as if it were the delete's own.
            if row[13] > 1 and row[4] != pm:
                row[4] = None
    rows.extend(tuple(r) for r in deletes.values())
    return rows


def partitions_rows(manifest: "Manifest") -> list[tuple]:
    """Per-partition layout summary over the current snapshot's data
    files (delete files count toward ``delete_file_count`` only)."""
    agg: dict[tuple, list] = {}
    for t in manifest.data_files:
        pm = _part_map(t, manifest)
        key = tuple(sorted(pm.items())) if pm else ()
        a = agg.setdefault(key, [pm, int(t.spec_id), 0, 0, 0, set()])
        a[2] += 1
        a[3] += int(t.record_count)
        a[4] += int(t.file_size_in_bytes)
        a[5].update(d.path for d in t.deletes)
    return [
        (pm, spec, files, recs, size, len(dels))
        for pm, spec, files, recs, size, dels in agg.values()
    ]


def snapshots_rows(catalog, name: str) -> list[tuple]:
    rows = []
    for sid in catalog.table_history(name):
        m = catalog.load_table_at(name, sid)
        dels = {d.path for t in m.data_files for d in t.deletes}
        rows.append(
            (
                int(m.snapshot_id),
                int(m.sequence_number),
                m.operation or None,
                int(m.schema_id),
                len(m.data_files),
                len(dels),
                sum(int(t.record_count) for t in m.data_files),
                sum(int(t.file_size_in_bytes) for t in m.data_files),
                int(m.format_version),
            )
        )
    return rows


def history_rows(catalog, name: str) -> list[tuple]:
    """Round 10: lineage-aware like Iceberg's history table — the
    current head is the PINNED main when refs exist (WAP), ``parent_id``
    comes from the commit's parent stamp (legacy versions degrade to the
    previous retained version), and ``is_current_ancestor`` is real:
    False for unpublished branch snapshots and for rolled-past commits
    off the current chain."""
    hist = catalog.table_history(name)
    head = max(hist, default=0)
    try:
        main = catalog.list_refs(name).get("main")
        if main:
            head = main["snapshot_id"]
    except (AttributeError, FileNotFoundError):
        pass
    parents = {}
    sp = getattr(catalog, "snapshot_parents", None)
    if sp is not None:
        parents = sp(name)
    lineage = set(hist)
    sl = getattr(catalog, "snapshot_lineage", None)
    if sl is not None and head:
        try:
            lineage = set(sl(name, head, 0))
        except ValueError:
            pass  # mid-chain expired: fall back to retained-set
    rows = []
    for prev, sid in zip([None, *hist[:-1]], hist):
        parent = parents.get(sid) or prev  # stamp wins; legacy = linear
        rows.append(
            (
                int(sid),
                int(parent) if parent is not None else None,
                sid in lineage,
                sid == head,
            )
        )
    return rows


def _lineage_to(catalog, name: str, sid: int) -> list[int]:
    """Snapshot ids on ``sid``'s parent chain, ascending — tolerant of
    an expired tail (same stance as history_rows); catalogs without
    lineage degrade to the linear history up to ``sid``."""
    sl = getattr(catalog, "snapshot_lineage", None)
    if sl is not None:
        try:
            return sl(name, sid, 0)
        except ValueError:
            pass  # tail expired: fall through to best-effort linear
    return [s for s in catalog.table_history(name) if s <= sid]


def _first_appearance(
    catalog, name: str, sid: int, loader=None
) -> tuple[dict, dict]:
    """(data_first, delete_first): file path -> the lineage snapshot
    that first carried it, walking ``sid``'s ancestors ascending.  One
    driver-side metadata pass, O(history x files) — the same cost class
    as snapshots_rows (metadata scales with file count, not data).
    ``loader`` memoizes snapshot loads for callers that walk many
    snapshots (the ``all_*`` relations would otherwise re-parse each
    version file O(history) times)."""
    load = loader or (lambda s: catalog.load_table_at(name, s))
    data_first: dict = {}
    delete_first: dict = {}
    for s in _lineage_to(catalog, name, sid):
        m = load(s)
        for t in m.data_files:
            data_first.setdefault(t.data_file_path, (s, t))
            for d in t.deletes:
                delete_first.setdefault(d.path, (s, d))
    return data_first, delete_first


def manifests_rows(
    catalog, name: str, snapshot_id: int | None = None, _loader=None
) -> list[tuple]:
    """``tbl$manifests``: the current (or given) snapshot's manifest
    groupings — files grouped by (adding snapshot, data/deletes), with
    counts, sequence-number range and per-spec-field partition
    summaries.  See MANIFESTS_SCHEMA's note on the path-less logical
    grouping."""
    import json

    m = (
        (_loader or (lambda v: catalog.load_table_at(name, v)))(snapshot_id)
        if snapshot_id is not None
        else catalog.load_table(name)
    )
    sid = m.snapshot_id
    data_first, delete_first = _first_appearance(
        catalog, name, sid, loader=_loader
    )
    spec = m.partition_spec or []
    groups: dict = {}
    for t in m.data_files:
        add_sid = data_first.get(t.data_file_path, (sid, None))[0]
        g = groups.setdefault((add_sid, 0), [])
        g.append((t.sequence_number, t.record_count, tuple(t.partition or ())))
    seen_del = set()
    for t in m.data_files:
        for d in t.deletes:
            if d.path in seen_del:
                continue
            seen_del.add(d.path)
            add_sid = delete_first.get(d.path, (sid, None))[0]
            g = groups.setdefault((add_sid, 1), [])
            g.append((d.sequence_number, d.record_count, ()))
    rows = []
    for (add_sid, content), entries in sorted(groups.items()):
        seqs = [e[0] for e in entries]
        summaries = None
        parts = [e[2] for e in entries if e[2]]
        if parts and spec:
            arity = len(spec)
            per_field = []
            for i in range(arity):
                vals = [p[i] for p in parts if len(p) == arity]
                nn = [v for v in vals if v is not None]
                # Recorded cells arrive native OR as hive-path strings
                # (dual representation, plans/pruning.py): when every
                # cell parses as a NUMBER (int or float, either
                # representation), compare numerically so '15' is not
                # "below" '9' and 10.25 not below 9.5; otherwise fall
                # back to lexicographic on str() — never a TypeError,
                # never an unguarded int() crash on exotic digits
                lo = hi = None
                if nn:
                    try:
                        keyed = [(float(str(v)), str(v)) for v in nn]
                        lo = min(keyed)[1]
                        hi = max(keyed)[1]
                    except (ValueError, TypeError):
                        svals = [str(v) for v in nn]
                        lo, hi = min(svals), max(svals)
                per_field.append(
                    {
                        "contains_null": any(v is None for v in vals),
                        "lower_bound": lo,
                        "upper_bound": hi,
                    }
                )
            summaries = json.dumps(per_field)
        rows.append(
            (
                content,
                int(m.default_spec_id or 0),
                int(add_sid),
                len(entries),
                int(sum(e[1] for e in entries)),
                int(min(seqs)),
                int(max(seqs)),
                summaries,
            )
        )
    return rows


def entries_rows(
    catalog, name: str, snapshot_id: int | None = None, _loader=None
) -> list[tuple]:
    """``tbl$entries``: one row per file entry of the current (or
    given) snapshot, status-tagged against its PARENT snapshot — ADDED
    (1) for files this commit introduced, EXISTING (0) for carried
    files, DELETED (2) for the parent's files this commit removed
    (shown with the removing snapshot's id, like Iceberg's deleted
    entries retained in the new manifest)."""
    load = _loader or (lambda v: catalog.load_table_at(name, v))
    m = (
        load(snapshot_id)
        if snapshot_id is not None
        else catalog.load_table(name)
    )
    sid = m.snapshot_id
    lineage = _lineage_to(catalog, name, sid)
    parent = None
    if len(lineage) > 1:
        try:
            parent = load(lineage[-2])
        except Exception:
            parent = None
    data_first, delete_first = _first_appearance(
        catalog, name, sid, loader=_loader
    )
    parent_data = (
        {t.data_file_path for t in parent.data_files} if parent else set()
    )
    parent_dels = (
        {d.path for t in parent.data_files for d in t.deletes}
        if parent
        else set()
    )
    rows = []
    for t in m.data_files:
        status = 0 if t.data_file_path in parent_data else 1
        rows.append(
            (
                status,
                int(data_first.get(t.data_file_path, (sid,))[0]),
                int(t.sequence_number),
                CONTENT_DATA,
                t.data_file_path,
                int(t.record_count),
                int(t.file_size_in_bytes),
                _part_map(t, m),
            )
        )
    seen = set()
    for t in m.data_files:
        for d in t.deletes:
            if d.path in seen:
                continue
            seen.add(d.path)
            rows.append(
                (
                    0 if d.path in parent_dels else 1,
                    int(delete_first.get(d.path, (sid,))[0]),
                    int(d.sequence_number),
                    CONTENT_EQUALITY_DELETES
                    if d.content == EQUALITY_DELETE
                    else CONTENT_POSITION_DELETES,
                    d.path,
                    int(d.record_count),
                    int(d.file_size_in_bytes),
                    None,
                )
            )
    if parent is not None:
        cur_data = {t.data_file_path for t in m.data_files}
        for t in parent.data_files:
            if t.data_file_path not in cur_data:
                rows.append(
                    (
                        2,
                        int(sid),  # the REMOVING snapshot
                        int(t.sequence_number),
                        CONTENT_DATA,
                        t.data_file_path,
                        int(t.record_count),
                        int(t.file_size_in_bytes),
                        _part_map(t, parent),
                    )
                )
        cur_dels = seen
        seen_p = set()
        for t in parent.data_files:
            for d in t.deletes:
                if d.path in cur_dels or d.path in seen_p:
                    continue
                seen_p.add(d.path)
                rows.append(
                    (
                        2,
                        int(sid),
                        int(d.sequence_number),
                        CONTENT_EQUALITY_DELETES
                        if d.content == EQUALITY_DELETE
                        else CONTENT_POSITION_DELETES,
                        d.path,
                        int(d.record_count),
                        int(d.file_size_in_bytes),
                        None,
                    )
                )
    return rows


def all_rows(catalog, name: str, kind: str) -> list[tuple]:
    """Iceberg's history-wide ``all_*`` relations (``tbl$all_files``,
    ``$all_entries``, ``$all_manifests``): the per-snapshot relation
    unioned over every RETAINED snapshot, each row stamped with
    ``reference_snapshot_id`` — what commit forensics reads to trace a
    file across history ("which snapshots carried this file", "when did
    this delete first attach").  O(history x per-snapshot cost),
    driver-side metadata only; histories are tens-to-hundreds of
    snapshots under normal expiration."""
    memo: dict = {}

    def _load(sid):
        if sid not in memo:
            memo[sid] = catalog.load_table_at(name, sid)
        return memo[sid]

    base = {
        "all_files": lambda sid: files_rows(_load(sid)),
        "all_entries": lambda sid: entries_rows(
            catalog, name, sid, _loader=_load
        ),
        "all_manifests": lambda sid: manifests_rows(
            catalog, name, sid, _loader=_load
        ),
    }
    if kind not in base:
        raise ValueError(f"unknown all_* relation {kind!r}")
    fn = base[kind]
    rows: list[tuple] = []
    for sid in catalog.table_history(name):
        rows.extend((int(sid), *r) for r in fn(sid))
    return rows


def refs_rows(catalog, name: str) -> list[tuple]:
    try:
        refs = catalog.list_refs(name)
    except (AttributeError, FileNotFoundError):
        return []
    def _opt(r, k):
        v = r.get(k)
        return int(v) if v is not None else None

    return [
        (
            rname,
            str(r.get("type", "branch")),
            int(r.get("snapshot_id", 0)),
            _opt(r, "max_ref_age_ms"),
            _opt(r, "max_snapshot_age_ms"),
            _opt(r, "min_snapshots_to_keep"),
        )
        for rname, r in sorted(refs.items())
    ]


def metadata_log_rows(catalog, name: str) -> list[tuple]:
    """``tbl$metadata_log_entries``: the retained metadata VERSION FILE
    trail — (commit timestamp, physical file, declared head snapshot /
    schema / sequence number).  All three catalog tiers keep one
    version file per commit (``v<N>.metadata.json``), so the log is
    the retained history itself; rows for expired versions disappear
    with their files, like Iceberg's after expiration.

    Scale shape: metadata-sized by definition (one row per retained
    version; retention bounds it) — a driver build like snapshots/
    history/refs."""
    ts: dict = {}
    tsfn = getattr(catalog, "snapshot_timestamps", None)
    if tsfn is not None:
        try:
            ts = tsfn(name)
        except (FileNotFoundError, KeyError):
            ts = {}
    pathfn = getattr(catalog, "_vpath", None) or getattr(
        catalog, "_version_path", None
    )
    rows = []
    for sid in catalog.table_history(name):
        m = catalog.load_table_at(name, sid)
        fpath = (
            pathfn(name, sid) if pathfn else f"v{sid}.metadata.json"
        )
        rows.append(
            (
                int(ts.get(sid, 0) or 0),
                str(fpath),
                int(m.snapshot_id),
                int(m.schema_id),
                int(m.sequence_number),
            )
        )
    return rows


_SCHEMAS = {
    "files": FILES_SCHEMA,
    "delete_files": FILES_SCHEMA,
    "partitions": PARTITIONS_SCHEMA,
    "snapshots": SNAPSHOTS_SCHEMA,
    "history": HISTORY_SCHEMA,
    "refs": REFS_SCHEMA,
    "manifests": MANIFESTS_SCHEMA,
    "entries": ENTRIES_SCHEMA,
    "metadata_log_entries": METADATA_LOG_SCHEMA,
    "all_files": _with_ref_snapshot(FILES_SCHEMA),
    "all_entries": _with_ref_snapshot(ENTRIES_SCHEMA),
    "all_manifests": _with_ref_snapshot(MANIFESTS_SCHEMA),
}


def metadata_schema(kind: str) -> T.StructType:
    if kind not in _SCHEMAS:
        raise ValueError(
            f"unknown metadata table {kind!r}; one of {METADATA_TABLES}"
        )
    return _SCHEMAS[kind]


def metadata_rows(catalog, name: str, kind: str,
                  snapshot_id: int | None = None) -> list[tuple]:
    """Shared row source for the helpers below AND the DataSource's
    ``option("metadata", kind)`` read path."""
    if kind in ("snapshots", "history", "refs", "metadata_log_entries"):
        return {
            "snapshots": snapshots_rows,
            "history": history_rows,
            "refs": refs_rows,
            "metadata_log_entries": metadata_log_rows,
        }[kind](catalog, name)
    if kind in ("manifests", "entries"):
        return {
            "manifests": manifests_rows,
            "entries": entries_rows,
        }[kind](catalog, name, snapshot_id)
    if kind.startswith("all_"):
        if snapshot_id is not None:
            raise ValueError(
                f"metadata kind {kind!r} is history-wide; snapshot_id/"
                "ref scoping does not apply — filter the "
                "reference_snapshot_id column instead"
            )
        return all_rows(catalog, name, kind)
    m = (
        catalog.load_table_at(name, snapshot_id)
        if snapshot_id is not None
        else catalog.load_table(name)
    )
    if kind == "files":
        return [r for r in files_rows(m) if r[0] == CONTENT_DATA]
    if kind == "delete_files":
        return [r for r in files_rows(m) if r[0] != CONTENT_DATA]
    if kind == "partitions":
        return partitions_rows(m)
    raise ValueError(
        f"unknown metadata table {kind!r}; one of {METADATA_TABLES}"
    )


# --- DataFrame helpers (library surface) -------------------------------------


def files_df(spark: "SparkSession", manifest: "Manifest") -> "DataFrame":
    """All file entries (data + deletes) of one snapshot as a DataFrame."""
    return driver_frame(spark, files_rows(manifest), FILES_SCHEMA)


def partitions_df(spark: "SparkSession", manifest: "Manifest") -> "DataFrame":
    return driver_frame(spark, partitions_rows(manifest), PARTITIONS_SCHEMA)


def snapshots_df(spark: "SparkSession", catalog, name: str) -> "DataFrame":
    return driver_frame(spark, snapshots_rows(catalog, name), SNAPSHOTS_SCHEMA)


def history_df(spark: "SparkSession", catalog, name: str) -> "DataFrame":
    return driver_frame(spark, history_rows(catalog, name), HISTORY_SCHEMA)


def refs_df(spark: "SparkSession", catalog, name: str) -> "DataFrame":
    return driver_frame(spark, refs_rows(catalog, name), REFS_SCHEMA)


def metadata_log_entries_df(
    spark: "SparkSession", catalog, name: str
) -> "DataFrame":
    return driver_frame(
        spark, metadata_log_rows(catalog, name), METADATA_LOG_SCHEMA
    )


def position_deletes_df(spark: "SparkSession", manifest: "Manifest") -> "DataFrame":
    """Iceberg's ``tbl$position_deletes`` metadata table: the actual
    position-delete ROWS of a snapshot — ``(file_path, pos)`` per
    recorded delete, stamped with the delete file that recorded it and
    its data sequence number.

    Unlike the other metadata tables this is DATA-sized (a delete-heavy
    snapshot can hold billions of positions), so it is a real
    distributed read, never driver-built: parquet delete files go
    through ``spark.read.parquet`` (grouped by sequence number so the
    stamp is a literal), puffin deletion vectors decode executor-side
    via :func:`~.operators.mor.puffin_dv_frame` (footers driver-read,
    Roaring bitmaps expanded in an Arrow-batched mapInPandas).  Engine
    hidden column names and the spec's ``file_path``/``pos`` are both
    accepted, so externally-written delete files list too."""
    import pyspark.sql.functions as F

    from iceberg_compaction_spark.sources.puffin import is_puffin_file
    from iceberg_compaction_spark.sources.scan import read_listed_parquet

    dels: dict = {}
    for t in manifest.data_files:
        for d in t.deletes:
            if d.content != EQUALITY_DELETE:
                dels[d.path] = d
    frames = []
    by_seq: dict = {}
    for p, d in sorted(dels.items()):
        if not is_puffin_file(p):
            by_seq.setdefault(int(d.sequence_number), []).append(p)
    for seq, paths in sorted(by_seq.items()):
        df = read_listed_parquet(spark, paths)
        cols = set(df.columns)
        fp = (
            "sys_hidden_file_path"
            if "sys_hidden_file_path" in cols
            else "file_path"
        )
        po = "sys_hidden_pos" if "sys_hidden_pos" in cols else "pos"
        frames.append(
            df.select(
                F.col(fp).alias("file_path"),
                F.col(po).cast("long").alias("pos"),
                F.input_file_name().alias("delete_file_path"),
                F.lit(seq).cast("long").alias("sequence_number"),
            )
        )
    for p, d in sorted(dels.items()):
        if not is_puffin_file(p):
            continue
        from iceberg_compaction_spark.operators.mor import puffin_dv_frame

        frames.append(
            puffin_dv_frame(spark, [p]).select(
                F.col("__dv_path").alias("file_path"),
                F.col("__dv_pos").cast("long").alias("pos"),
                F.lit(p).alias("delete_file_path"),
                F.lit(int(d.sequence_number))
                .cast("long")
                .alias("sequence_number"),
            )
        )
    if not frames:
        return driver_frame(
            spark,
            [],
            "file_path string, pos long, delete_file_path string, "
            "sequence_number long",
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def manifests_df(
    spark: "SparkSession", catalog, name: str, snapshot_id: int | None = None
) -> "DataFrame":
    return driver_frame(
        spark, manifests_rows(catalog, name, snapshot_id), MANIFESTS_SCHEMA
    )


def entries_df(
    spark: "SparkSession", catalog, name: str, snapshot_id: int | None = None
) -> "DataFrame":
    return driver_frame(
        spark, entries_rows(catalog, name, snapshot_id), ENTRIES_SCHEMA
    )
