"""File-level min/max pruning — Iceberg's ``InclusiveMetricsEvaluator``
re-expressed for this engine's manifests.

At 100 TB the cheapest scan is the file you never open: Iceberg keeps
per-column lower/upper bounds and null counts in manifest entries and
evaluates query predicates against them at PLAN time, skipping whole
files whose bound range cannot contain a match (reference:
iceberg-rust's ``InclusiveMetricsEvaluator`` used by the scan planner the
compaction reads through; spec §Manifests `lower_bounds`/`upper_bounds`).

Semantics are INCLUSIVE (may-match): a file is dropped only when its
stats PROVE no row can match.  Missing stats for a referenced column keep
the file — correctness never depends on stats being present.  Bound
comparisons happen on plain Python scalars of the column's own type
(int/float/str/date/datetime), which order identically to Spark/parquet
ordering for these primitives; NaN-polluted float columns surface in
parquet footers as has-no-min-max and therefore never prune.

Stats are collected from parquet FOOTERS only (``collect_file_stats``) —
metadata reads, no data IO — at manifest bootstrap and on files written
by the compaction/ingest writers.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from typing import Any, Iterable

# ops with a value operand
_BINARY_OPS = {"eq", "ne", "lt", "le", "gt", "ge", "in"}
_UNARY_OPS = {"is_null", "not_null"}


@dataclass(frozen=True)
class ColumnPredicate:
    """One conjunct of a scan filter: ``col <op> value``.

    op: eq | ne | lt | le | gt | ge | in | is_null | not_null
    (`in` takes a tuple/list of values; unary ops ignore `value`).
    """

    col: str
    op: str
    value: Any = None

    def __post_init__(self) -> None:
        if self.op not in _BINARY_OPS | _UNARY_OPS:
            raise ValueError(f"unknown predicate op: {self.op!r}")


def collect_file_stats(path: str) -> tuple[dict[str, tuple], dict[str, int]]:
    """(column_bounds, null_counts) from a parquet footer.

    Bounds cover a column only when EVERY row group publishes min/max for
    it (a single stats-less row group makes the file's range unknown).
    Only flat orderable primitives participate; nested/binary columns are
    skipped (never pruned on).
    """
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.sources.fileio import open_input

    with open_input(path) as fh:
        return footer_stats(pq.read_metadata(fh))


def footer_stats(md) -> tuple[dict[str, tuple], dict[str, int]]:
    """:func:`collect_file_stats` over an already-read footer
    (``pyarrow.parquet.FileMetaData``)."""
    bounds: dict[str, list] = {}
    nulls: dict[str, int] = {}
    dead: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if "." in name or name in dead:  # nested leaf — skip
                dead.add(name)
                continue
            st = c.statistics
            if st is None or not st.has_min_max:
                dead.add(name)
                continue
            try:
                lo, hi = st.min, st.max
            except NotImplementedError:  # e.g. Spark's INT64 decimals
                dead.add(name)
                continue
            if not isinstance(lo, tuple(_TYPE_TAGS)):
                # physical binary without logical order, or a type with
                # no manifest form (e.g. Decimal)
                dead.add(name)
                continue
            if name in bounds:
                b = bounds[name]
                b[0] = min(b[0], lo)
                b[1] = max(b[1], hi)
            else:
                bounds[name] = [lo, hi]
            if st.has_null_count:
                nulls[name] = nulls.get(name, 0) + st.null_count
            else:
                nulls.pop(name, None)
                dead.add(name)
    for name in dead:
        bounds.pop(name, None)
        nulls.pop(name, None)
    return {k: (v[0], v[1]) for k, v in bounds.items()}, nulls


def might_match(
    bounds: dict[str, tuple],
    null_counts: dict[str, int],
    record_count: int,
    predicates: Iterable[ColumnPredicate],
) -> bool:
    """Inclusive evaluation of a predicate CONJUNCTION against file stats.

    Returns False only when some conjunct provably matches no row.
    """
    for p in predicates:
        b = bounds.get(p.col)
        nn = null_counts.get(p.col)
        if p.op == "is_null":
            # prunable only when the null count is known to be zero
            if nn == 0:
                return False
            continue
        if p.op == "not_null":
            if (
                nn is not None
                and record_count > 0
                and nn >= record_count
            ):
                return False
            continue
        if b is None:
            continue  # no stats — cannot prune
        lo, hi = b
        v = p.value
        try:
            if p.op == "eq" and (v < lo or v > hi):
                return False
            if p.op == "lt" and lo >= v:
                return False
            if p.op == "le" and lo > v:
                return False
            if p.op == "gt" and hi <= v:
                return False
            if p.op == "ge" and hi < v:
                return False
            if p.op == "in" and all(x < lo or x > hi for x in v):
                return False
            # `ne` can only prune a single-value file.  NULL rows never
            # satisfy any comparison predicate (SQL three-valued logic),
            # so bounds over the non-null values alone decide this.
            if p.op == "ne" and lo == hi == v:
                return False
        except TypeError:
            # cross-type comparison (e.g. predicate str vs int bounds):
            # stats can't decide — keep the file
            continue
    return True


def prune_tasks(tasks, predicates: Iterable[ColumnPredicate]):
    """Return the sub-list of FileScanTasks whose stats may match."""
    preds = list(predicates)
    return [
        t
        for t in tasks
        if might_match(
            getattr(t, "column_bounds", {}) or {},
            getattr(t, "null_counts", {}) or {},
            t.record_count,
            preds,
        )
    ]


def predicate_to_spark(preds: Iterable[ColumnPredicate]):
    """The same conjunction as a Spark Column (residual filter: pruning
    skips files, this keeps row-level exactness inside surviving files)."""
    from pyspark.sql import functions as F

    out = None
    for p in preds:
        c = F.col(p.col)
        if p.op == "eq":
            e = c == F.lit(p.value)
        elif p.op == "ne":
            e = c != F.lit(p.value)
        elif p.op == "lt":
            e = c < F.lit(p.value)
        elif p.op == "le":
            e = c <= F.lit(p.value)
        elif p.op == "gt":
            e = c > F.lit(p.value)
        elif p.op == "ge":
            e = c >= F.lit(p.value)
        elif p.op == "in":
            e = c.isin(list(p.value))
        elif p.op == "is_null":
            e = c.isNull()
        else:
            e = c.isNotNull()
        out = e if out is None else (out & e)
    return out


# ---- JSON wire helpers (manifest persistence) ------------------------------

_TYPE_TAGS = {
    int: "i",
    float: "f",
    str: "s",
    bool: "b",
    _dt.date: "d",
    _dt.datetime: "ts",
}


def bound_to_json(v: Any) -> list:
    """[tag, value] — dates/datetimes as ISO strings, rest as-is."""
    t = type(v)
    tag = _TYPE_TAGS.get(t)
    if tag is None:  # subclass (e.g. datetime is a date subclass)
        for k, g in _TYPE_TAGS.items():
            if isinstance(v, k):
                tag, t = g, k
                break
    if tag in ("d", "ts"):
        return [tag, v.isoformat()]
    if tag is None:
        raise TypeError(f"unsupported bound type: {t}")
    return [tag, v]


def bound_from_json(x: list) -> Any:
    tag, v = x
    if tag == "d":
        return _dt.date.fromisoformat(v)
    if tag == "ts":
        return _dt.datetime.fromisoformat(v)
    return v


def prune_tasks_by_partition(
    tasks, spec: list[dict], default_spec_id: int, predicates
) -> list:
    """Partition-transform file pruning (Iceberg's partition-spec
    evaluator, the tier manifest COLUMN bounds cannot express): an
    ``eq``/``in`` predicate on a partition SOURCE column pins the
    partition cell through the transform — ``id = 42`` on a
    ``bucket[16](id)`` table keeps only files whose recorded bucket is
    ``transform_value('bucket[16]', 42)``.  Every spec transform is a
    deterministic total function, so equality on the source implies
    equality on the cell; range predicates are NOT mapped here (bucket
    ranges are meaningless; identity ranges are already covered by the
    column-bounds tier).

    Safety rails: files written under a DIFFERENT spec id (partition
    evolution — same arity can mean different cells) or with a
    mismatched partition arity are never pruned; untransformable
    values skip the conjunct.  At 100 TB this is the difference between
    opening one bucket's files and all 16."""
    from iceberg_compaction_spark.functions.transforms import (
        transform_value,
    )

    if not spec or not predicates:
        return list(tasks)
    by_src = {
        f["source"]: (i, f.get("transform", "identity"))
        for i, f in enumerate(spec)
    }
    out = []
    for t in tasks:
        part = tuple(t.partition or ())
        if len(part) != len(spec) or t.spec_id != default_spec_id:
            out.append(t)
            continue
        keep = True
        for col, op, v in predicates:
            ent = by_src.get(col)
            if ent is None or op not in ("eq", "in"):
                continue
            i, tr = ent
            try:
                if op == "eq":
                    cells = {transform_value(tr, v)}
                else:
                    cells = {transform_value(tr, x) for x in v}
            except (ValueError, TypeError, AttributeError):
                continue  # value the transform can't take: no pruning
            # cells are NATIVE transform outputs, but recorded partition
            # values arrive in two representations: native (Arrow write
            # path) or hive-path STRINGS (sized fan-out writer) — a raw
            # `not in` across those types wrongly pruned every
            # compaction-written file (str "2" != int 2: silent missing
            # rows).  Match on either representation; unparseable or
            # null cells never prune.
            pv = part[i]
            if pv is None:
                continue
            if pv not in cells and str(pv) not in {
                str(c) for c in cells
            }:
                keep = False
                break
        if keep:
            out.append(t)
    return out


def parse_where(where: str) -> list[ColumnPredicate]:
    """Parse a simple conjunctive filter string into
    :class:`ColumnPredicate` conjuncts — the CLI/convenience surface of
    predicate-scoped compaction (Iceberg's ``rewrite_data_files(where
    => …)``).  Grammar: ``col OP value [AND col OP value …]`` with OP
    in ``= != < <= > >=``, values as int/float/'quoted string', plus
    ``col IS NULL`` / ``col IS NOT NULL``.  Anything richer (OR,
    nesting, functions) is rejected loudly — pass ColumnPredicate
    objects for full control."""
    import re

    ops = {
        "=": "eq",
        "!=": "ne",
        "<>": "ne",
        "<": "lt",
        "<=": "le",
        ">": "gt",
        ">=": "ge",
    }
    def _split_outside_quotes(s: str, word: str) -> list[str]:
        # split on the keyword only OUTSIDE quoted string values, so
        # name = 'rock AND roll' stays one conjunct
        out, buf, i, q = [], [], 0, None
        up = s.upper()
        wlen = len(word)
        while i < len(s):
            ch = s[i]
            if q:
                buf.append(ch)
                if ch == q:
                    q = None
                i += 1
                continue
            if ch in ("'", '"'):
                q = ch
                buf.append(ch)
                i += 1
                continue
            if (
                up.startswith(word, i)
                and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"))
                and (
                    i + wlen == len(s)
                    or not (s[i + wlen].isalnum() or s[i + wlen] == "_")
                )
            ):
                out.append("".join(buf))
                buf = []
                i += wlen
                continue
            buf.append(ch)
            i += 1
        out.append("".join(buf))
        return out

    def _has_paren_outside_quotes(s: str) -> bool:
        # same quote tracking as the AND/OR splitter: a '(' INSIDE a
        # quoted value (name = 'foo (bar)') is data, not grouping
        # (ADVICE r12)
        q = None
        for ch in s:
            if q:
                if ch == q:
                    q = None
            elif ch in ("'", '"'):
                q = ch
            elif ch == "(":
                return True
        return False

    if (
        len(_split_outside_quotes(where, "OR")) > 1
        or _has_paren_outside_quotes(where)
    ):
        raise ValueError(
            f"unsupported where clause {where!r}: only AND-joined "
            "conjuncts are parseable — pass ColumnPredicate objects "
            "for anything richer"
        )
    preds: list[ColumnPredicate] = []
    for raw in _split_outside_quotes(where, "AND"):
        term = raw.strip()
        if not term:
            raise ValueError(f"empty conjunct in where clause: {where!r}")
        m = re.fullmatch(
            r"(\w+)\s+IS\s+(NOT\s+)?NULL", term, flags=re.IGNORECASE
        )
        if m:
            preds.append(
                ColumnPredicate(
                    col=m.group(1),
                    op="not_null" if m.group(2) else "is_null",
                )
            )
            continue
        m = re.fullmatch(
            r"(\w+)\s*(<=|>=|!=|<>|=|<|>)\s*(.+)", term
        )
        if not m:
            raise ValueError(
                f"unsupported where conjunct {term!r} (grammar: "
                "col OP value, col IS [NOT] NULL, joined by AND)"
            )
        col, op, val = m.group(1), m.group(2), m.group(3).strip()
        if (val.startswith("'") and val.endswith("'")) or (
            val.startswith('"') and val.endswith('"')
        ):
            value: Any = val[1:-1]
        else:
            try:
                value = int(val)
            except ValueError:
                try:
                    value = float(val)
                except ValueError:
                    raise ValueError(
                        f"unquoted non-numeric value in {term!r} — "
                        "quote strings"
                    ) from None
        preds.append(ColumnPredicate(col=col, op=ops[op], value=value))
    return preds
