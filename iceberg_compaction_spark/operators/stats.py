"""Table statistics: the ANALYZE surface (Iceberg's
``compute_table_stats`` procedure / ``ANALYZE TABLE ... COMPUTE
STATISTICS FOR COLUMNS``).

Per-column NDV, null count, and min/max over a table's current
snapshot, computed as ONE distributed aggregation, plus
:func:`analyze_table`, which commits the scalars into table properties
(``stats.<col>.ndv`` etc.) stamped with the analyzed snapshot id — the
feed a cost-based optimizer or a maintenance planner reads without
scanning data.

Iceberg stores NDV as apache-datasketches theta blobs in a puffin
StatisticsFile registered in table metadata; :func:`compute_table_stats`
is that procedure — a DataSketches-compatible theta sketch per column
(sources/theta.py, interop-proven against the datasketches-java the
Spark distribution bundles), written as ``apache-datasketches-theta-v1``
puffin blobs and committed into the table's ``statistics`` list.
:func:`analyze_table` remains the scalar property channel (fast
human-readable stats); the puffin channel is the spec-parity one.

Scale shape: ``approx=True`` (the default for :func:`analyze_table`)
uses HyperLogLog++ (``approx_count_distinct``) — one pass, mergeable
sketches, no expand; the exact form uses count-distinct over an expand
operator (the classic multi-distinct plan), right at oracle scale and
for exactness-critical columns.  Either way the stats never leave the
JVM until the final one-row collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def column_stats(
    df: DataFrame, columns: list[str] | None = None, approx: bool = False
) -> DataFrame:
    """Long-format per-column profile: one row per column with
    ``(column, n_rows, n_nulls, ndv, min_value, max_value)`` —
    min/max cast to string so heterogeneous column types share one
    schema (how ``DESCRIBE EXTENDED`` renders them).

    ONE aggregation over the input (all columns' stats in a single
    pass), then a JVM-side ``stack`` to long format — no Python in the
    row path, no per-column jobs."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"__nulls_{c}"
            )
        )
        aggs.append(
            (
                F.approx_count_distinct(c)
                if approx
                else F.countDistinct(c)
            ).alias(f"__ndv_{c}")
        )
        aggs.append(F.min(c).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(c).cast("string").alias(f"__max_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __nulls_{c}, __ndv_{c}, __min_{c}, __max_{c}"
        for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) as "
        "(column, n_nulls, ndv, min_value, max_value)",
        "__n as n_rows",
    ).select("column", "n_rows", "n_nulls", "ndv", "min_value", "max_value")


STATS_SNAPSHOT_PROP = "stats.snapshot-id"


def analyze_table(
    spark: SparkSession,
    catalog,
    name: str,
    columns: list[str] | None = None,
    approx: bool = True,
    to_branch: str | None = None,
):
    """Compute column stats over the table's current snapshot and
    COMMIT them as table properties —
    ``stats.<col>.{ndv,nulls,min,max}`` plus ``stats.n-rows`` and
    ``stats.snapshot-id`` (the snapshot the stats describe, so a
    reader can tell stale stats from fresh).  The commit is a
    properties-only ``replace`` snapshot (row-preserving by contract:
    streaming consumers correctly skip it) through the standard CAS
    retry loop.  Returns the committed Manifest."""
    from iceberg_compaction_spark.commit import commit_catalog, load_head
    from iceberg_compaction_spark.sources.ingest import read_table_mor

    current = load_head(catalog, name, to_branch)
    analyzed_sid = current.snapshot_id
    rows = column_stats(
        read_table_mor(spark, current), columns, approx=approx
    ).collect()  # one row per column: metadata-sized by definition

    def build(cur):
        new = cur.successor("replace")  # rows unchanged
        props = dict(new.properties or {})
        props["stats.snapshot-id"] = str(analyzed_sid)
        if rows:
            props["stats.n-rows"] = str(rows[0]["n_rows"])
        for r in rows:
            c = r["column"]
            props[f"stats.{c}.ndv"] = str(r["ndv"])
            props[f"stats.{c}.nulls"] = str(r["n_nulls"])
            if r["min_value"] is not None:
                props[f"stats.{c}.min"] = r["min_value"]
            if r["max_value"] is not None:
                props[f"stats.{c}.max"] = r["max_value"]
        new.properties = props
        new.assign_row_ids()  # v3 row lineage (no-op on v2)
        return new

    return commit_catalog(catalog, name, build, to_branch)


# ---------------------------------------------------------------------------
# Theta-sketch NDV statistics (Iceberg compute_table_stats parity):
# DataSketches-compatible sketches built DISTRIBUTED, shipped as
# apache-datasketches-theta-v1 blobs in a puffin StatisticsFile, and
# registered in the table's statistics list.
# ---------------------------------------------------------------------------

THETA_BLOB_TYPE = "apache-datasketches-theta-v1"

_SPARK_TO_ICEBERG = {
    "integer": "int",
    "long": "long",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}


def theta_sketch_columns(
    df: DataFrame, columns: list[str], lg_k: int | None = None
) -> dict:
    """Build one DataSketches-compatible theta sketch per column over
    ``df`` in ONE distributed pass.  Returns ``{column: ThetaSketch}``.

    Scale shape: a ``mapInPandas`` hashes every value executor-side
    (numpy-vectorized murmur for 8-/4-byte fixed-width types, a tight
    loop for strings) and emits only each Arrow batch's k+1 smallest
    DISTINCT hashes per column — the map-side combine.  A per-column
    window top-(k+1) then reduces the candidate stream (batches × cols
    × (k+1) rows, metadata-sized) and the driver folds the survivors
    into the final sketches.  Rows never leave the JVM except as
    already-trimmed candidate hashes; nothing corpus-sized is
    collected."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from iceberg_compaction_spark.sources import theta as th

    lg_k = th.DEFAULT_LG_K if lg_k is None else lg_k
    k = 1 << lg_k
    types = {}
    tz_sensitive = {}
    for f_ in df.schema.fields:
        if f_.name in columns:
            t = _SPARK_TO_ICEBERG.get(f_.dataType.typeName())
            if t is None:
                raise ValueError(
                    f"theta NDV unsupported for column {f_.name!r} of "
                    f"type {f_.dataType.simpleString()}"
                )
            types[f_.name] = t
            # Spark's TimestampType (instant semantics) arrives in
            # mapInPandas as tz-NAIVE values rendered in the SESSION
            # timezone — hashing their micros directly would shift every
            # instant by the session offset relative to Iceberg's UTC
            # single-value serialization (ADVICE r12).  timestamp_ntz is
            # wall-clock and must NOT be shifted.
            tz_sensitive[f_.name] = f_.dataType.typeName() == "timestamp"
    missing = [c for c in columns if c not in types]
    if missing:
        raise ValueError(f"columns not in table schema: {missing}")
    session_tz = (
        df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
        or "UTC"
    )

    def _hash_batch(series: "pd.Series", ice_type: str, localize: bool):
        import numpy as np

        s = series.dropna()
        if s.empty:
            return np.empty(0, dtype=np.uint64)
        if ice_type in ("long", "timestamp"):
            if ice_type == "timestamp":
                dt = pd.DatetimeIndex(pd.to_datetime(s))
                if dt.tz is not None:
                    dt = dt.tz_convert("UTC").tz_localize(None)
                elif localize:
                    # naive instant values are in the session tz:
                    # interpret there, take UTC micros.  DST-ambiguous /
                    # nonexistent wall times lost their offset in the
                    # naive rendering — drop them (NaT) rather than
                    # crash the stats job or hash a guessed instant.
                    dt = (
                        dt.tz_localize(
                            session_tz, ambiguous="NaT", nonexistent="NaT"
                        )
                        .tz_convert("UTC")
                        .tz_localize(None)
                    )
                    dt = dt[~dt.isna()]
                vals = dt.asi8 // 1000  # ns -> micros (single-value ser)
            else:
                vals = s.to_numpy(dtype=np.int64)
            return th.hash_longs_vec(np.unique(vals))
        if ice_type in ("int", "date"):
            if ice_type == "date":
                days = pd.DatetimeIndex(pd.to_datetime(s)).asi8
                vals = (days // 86_400_000_000_000).astype(np.int32)
            else:
                vals = s.to_numpy(dtype=np.int32)
            return th.hash_ints_vec(np.unique(vals))
        # variable-width / float types: scalar loop over DISTINCT values
        hs = {
            th.hash_update(th.single_value_bytes(v, ice_type))
            for v in set(s.tolist())
        }
        return np.fromiter(hs, dtype=np.uint64, count=len(hs))

    cols = list(types)

    def build(batches):
        import numpy as np

        for pdf in batches:
            out_c, out_h = [], []
            for c in cols:
                hs = _hash_batch(pdf[c], types[c], tz_sensitive[c])
                hs = hs[hs != 0]
                if hs.size > k + 1:  # map-side combine: k+1 smallest
                    hs = np.partition(hs, k)[: k + 1]
                out_c.extend([c] * hs.size)
                out_h.extend(hs.astype(np.int64).tolist())
            yield pd.DataFrame({"c": out_c, "h": out_h})

    cand = df.select(*cols).mapInPandas(build, schema="c string, h long")
    # the same hash arrives once per batch that saw the value: dedupe
    # (a shuffle over the already-trimmed candidate stream, not the
    # corpus), then per-column top-(k+1) smallest
    w = Window.partitionBy("c").orderBy("h")
    top = (
        cand.dropDuplicates(["c", "h"])
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k + 1)
        .select("c", "h")
        .collect()
    )
    by_col: dict[str, list[int]] = {c: [] for c in cols}
    for r in top:
        by_col[r["c"]].append(r["h"])
    return {
        c: th.ThetaSketch(lg_k=lg_k).update_hashes(by_col[c]) for c in cols
    }


def compute_table_stats(
    spark: SparkSession,
    catalog,
    name: str,
    columns: list[str] | None = None,
    lg_k: int | None = None,
    to_branch: str | None = None,
):
    """Iceberg's ``compute_table_stats`` procedure: build a theta NDV
    sketch per column over the table's current snapshot, write them as
    ``apache-datasketches-theta-v1`` blobs in ONE puffin StatisticsFile
    under the table's metadata directory, and commit the file into the
    table's ``statistics`` list (replacing any prior entry for the same
    snapshot).  Returns ``(manifest, {column: ndv_estimate})``.

    The registered file is owned by its snapshot: expire_snapshots
    drops the registration (and file) with the snapshot, and the
    orphan sweeps treat REGISTERED statistics files as referenced."""
    import os
    import uuid as _uuid

    from iceberg_compaction_spark.commit import commit_catalog, load_head
    from iceberg_compaction_spark.sources.fileio import fileio_for
    from iceberg_compaction_spark.sources.ingest import read_table_mor
    from iceberg_compaction_spark.sources.puffin import write_puffin

    current = load_head(catalog, name, to_branch)
    analyzed_sid = current.snapshot_id
    df = read_table_mor(spark, current)
    if columns is None:
        columns = [
            f_.name
            for f_ in df.schema.fields
            if f_.dataType.typeName() in _SPARK_TO_ICEBERG
        ]
    sketches = theta_sketch_columns(df, columns, lg_k=lg_k)
    field_ids = {
        f["name"]: f["id"] for f in (current.schema_fields or [])
    }
    stats_dir = os.path.join(current.table_root, "metadata")
    io = fileio_for(stats_dir)
    if not io.is_dir(stats_dir):
        io.makedirs(stats_dir)
    path = os.path.join(
        stats_dir, f"{analyzed_sid}-{_uuid.uuid4().hex[:12]}.stats.puffin"
    )
    blobs = []
    ndv = {}
    for c in columns:
        sk = sketches[c]
        ndv[c] = int(round(sk.estimate()))
        blobs.append(
            {
                "type": THETA_BLOB_TYPE,
                # no field-id schema on engine-native tables -> empty
                # fields (a FAKE ordinal id could later collide with a
                # real schema's ids and misattribute NDV on read-back;
                # the "column" property is the name channel instead)
                "fields": (
                    [field_ids[c]] if c in field_ids else []
                ),
                "snapshot-id": analyzed_sid,
                "sequence-number": current.sequence_number,
                # "ndv" is the property the Iceberg puffin spec names;
                # "column" is ours — engine-native tables have no
                # field-id schema, so the reader resolves names by it
                # "lg-k" carries the sketch's true nominal size
                # OUTSIDE the blob: serialize() stays byte-identical to
                # datasketches-java (which writes lgNomLongs=0 in
                # compact images), and read-back recovers the right k
                # for later unions (ADVICE r12)
                "properties": {
                    "ndv": str(ndv[c]),
                    "column": c,
                    "lg-k": str(sk.lg_k),
                },
                "data": sk.serialize(),
            }
        )
    footer_size = write_puffin(
        path, blobs, {"created-by": "iceberg-compaction-spark theta"}
    )
    entry = {
        # stamped with the COMMITTED snapshot's id inside build():
        # spec readers (Spark/Trino CBO) select statistics whose
        # snapshot-id equals the CURRENT snapshot, and this engine's
        # registration commit itself creates a snapshot — stamping the
        # analyzed id would leave the entry permanently one behind the
        # head (ADVICE r12).  The registration is a row-preserving
        # "replace" (data identical between analyzed and committed
        # snapshots), so the NDV is exactly as valid for the committed
        # one; the analyzed id stays readable in STATS_SNAPSHOT_PROP
        # and each blob's own snapshot-id.
        "snapshot-id": analyzed_sid,
        "statistics-path": path,
        "file-size-in-bytes": io.size(path),
        "file-footer-size-in-bytes": footer_size,
        "blob-metadata": [
            {k: v for k, v in b.items() if k != "data"} for b in blobs
        ],
    }

    def build(cur):
        new = cur.successor("replace")  # rows unchanged
        entry["snapshot-id"] = new.snapshot_id
        # retention: prune registrations whose snapshot has been
        # EXPIRED — their files then age out through the orphan sweep
        # (Iceberg's expireSnapshots drops expired snapshots'
        # statistics the same way; here the next stats run is the tidy
        # point).  Entries otherwise accumulate one per registration
        # snapshot, exactly like Iceberg's one-StatisticsFile-per-
        # snapshot model; read_table_ndv merges them latest-wins.
        try:
            alive = set(catalog.table_history(name))
        except Exception:
            alive = None
        new.statistics_files = [
            s
            for s in (cur.statistics_files or [])
            if alive is None or s.get("snapshot-id") in alive
        ] + [entry]
        props = dict(new.properties or {})
        props[STATS_SNAPSHOT_PROP] = str(analyzed_sid)
        new.properties = props
        new.assign_row_ids()  # v3 row lineage (no-op on v2)
        return new

    return commit_catalog(catalog, name, build, to_branch), ndv


def read_table_ndv(manifest) -> dict[str, float]:
    """Read the NDV estimates back from a table's registered theta
    StatisticsFiles (latest registration per column wins).  Returns
    ``{column_name_or_field_id: estimate}`` — names resolved through
    the manifest's schema when field ids match."""
    from iceberg_compaction_spark.sources.puffin import read_puffin_blobs
    from iceberg_compaction_spark.sources.theta import ThetaSketch

    def th_default_lg_k() -> int:
        from iceberg_compaction_spark.sources.theta import DEFAULT_LG_K

        return DEFAULT_LG_K

    id_to_name = {
        f["id"]: f["name"] for f in (manifest.schema_fields or [])
    }
    out: dict = {}
    for entry in manifest.statistics_files or []:
        for meta, data in read_puffin_blobs(
            entry["statistics-path"], THETA_BLOB_TYPE
        ):
            props_ = meta.get("properties", {})
            sk = ThetaSketch.deserialize(
                data,
                lg_k=int(props_.get("lg-k") or th_default_lg_k()),
            )
            fid = (meta.get("fields") or [None])[0]
            name_ = id_to_name.get(
                fid, meta.get("properties", {}).get("column", fid)
            )
            out[name_] = sk.estimate()
    return out

# ---------------------------------------------------------------------------
# Partition statistics files (Iceberg "Partition Statistics" spec
# section — one sorted stats file per snapshot, registered in table
# metadata under "partition-statistics").
# ---------------------------------------------------------------------------


def partition_stats_rows(manifest) -> list[dict]:
    """Per-partition statistics over one snapshot — the spec's
    partition statistics file content: data/delete record and file
    counts plus byte sizes, keyed by the spec-named partition tuple.
    Shared delete files (one delete file attached to many data files in
    the partition) are counted ONCE.  ``total_record_count`` is the
    post-delete count when it is EXACT — no equality deletes in the
    partition AND no position-delete file shared ACROSS partitions
    (a global predicate delete's per-partition record split is unknown
    without reading it) — and None otherwise; readers treat None as
    "unavailable", never as 0.  Cross-partition delete files count
    toward ``position_delete_file_count`` everywhere they apply but
    contribute no per-partition record count.

    Driver-side on purpose: the input is the manifest's file-entry
    list (metadata-sized, already in memory — the same source the
    ``.partitions`` relation aggregates); no row data is touched."""
    from iceberg_compaction_spark.sources.metadata_tables import _part_map

    agg: dict[tuple, dict] = {}
    pos_by_part: dict[tuple, dict] = {}
    eq_by_part: dict[tuple, dict] = {}
    parts_by_delete: dict[str, set] = {}
    for t in manifest.data_files:
        pm = _part_map(t, manifest) or {}
        key = tuple(sorted(pm.items()))
        a = agg.setdefault(
            key,
            {
                "partition": pm,
                "spec_id": int(t.spec_id),
                "data_record_count": 0,
                "data_file_count": 0,
                "total_data_file_size_in_bytes": 0,
            },
        )
        a["data_record_count"] += int(t.record_count)
        a["data_file_count"] += 1
        a["total_data_file_size_in_bytes"] += int(t.file_size_in_bytes)
        for d in t.deletes:
            bucket = pos_by_part if d.content == 1 else eq_by_part
            bucket.setdefault(key, {})[d.path] = int(d.record_count)
            parts_by_delete.setdefault(d.path, set()).add(key)
    rows = []
    for key in sorted(agg):
        a = agg[key]
        pos = pos_by_part.get(key, {})
        eq = eq_by_part.get(key, {})
        # a delete file attached in MULTIPLE partitions (a global
        # predicate delete) has an unknown per-partition record split —
        # attributing its full count to every partition would
        # over-count (and can push total_record_count negative).  Count
        # the FILE everywhere it applies, but record counts only for
        # single-partition files; partitions touched by a shared file
        # get total_record_count = None (unavailable, like the
        # equality-delete case).
        shared = {
            p for p in pos if len(parts_by_delete[p]) > 1
        }
        a["position_delete_record_count"] = sum(
            n for p, n in pos.items() if p not in shared
        )
        a["position_delete_file_count"] = len(pos)
        a["equality_delete_record_count"] = sum(eq.values())
        a["equality_delete_file_count"] = len(eq)
        a["total_record_count"] = (
            a["data_record_count"] - a["position_delete_record_count"]
            if not eq and not shared
            else None
        )
        a["last_updated_snapshot_id"] = int(manifest.snapshot_id)
        rows.append(a)
    return rows


def compute_partition_stats(catalog, name: str, to_branch: str | None = None):
    """Iceberg's partition-statistics maintenance: write the current
    snapshot's per-partition stats as ONE sorted parquet file under the
    table's metadata directory and register it in the table metadata's
    ``partition-statistics`` list (one entry per snapshot, replaced on
    recompute).  Returns ``(manifest, rows)``.

    The registered file is snapshot-owned like the NDV StatisticsFile:
    the orphan sweep keeps registered ``*.pstats.parquet`` and collects
    unregistered ones; recompute prunes registrations whose snapshot
    has been expired."""
    import os
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.commit import commit_catalog, load_head
    from iceberg_compaction_spark.config import DEFAULT_COMPRESSION
    from iceberg_compaction_spark.sources.fileio import fileio_for

    current = load_head(catalog, name, to_branch)
    analyzed_sid = current.snapshot_id
    rows = partition_stats_rows(current)
    stats_dir = os.path.join(current.table_root, "metadata")
    io = fileio_for(stats_dir)
    if not io.is_dir(stats_dir):
        io.makedirs(stats_dir)
    path = os.path.join(
        stats_dir,
        f"partition-stats-{analyzed_sid}-{_uuid.uuid4().hex[:12]}"
        ".pstats.parquet",
    )
    cols = {
        "partition": [
            [f"{k}={v}" for k, v in sorted(r["partition"].items())]
            for r in rows
        ],
        "spec_id": pa.array(
            [r["spec_id"] for r in rows], type=pa.int32()
        ),
        "data_record_count": pa.array(
            [r["data_record_count"] for r in rows], type=pa.int64()
        ),
        "data_file_count": pa.array(
            [r["data_file_count"] for r in rows], type=pa.int32()
        ),
        "total_data_file_size_in_bytes": pa.array(
            [r["total_data_file_size_in_bytes"] for r in rows],
            type=pa.int64(),
        ),
        "position_delete_record_count": pa.array(
            [r["position_delete_record_count"] for r in rows],
            type=pa.int64(),
        ),
        "position_delete_file_count": pa.array(
            [r["position_delete_file_count"] for r in rows],
            type=pa.int32(),
        ),
        "equality_delete_record_count": pa.array(
            [r["equality_delete_record_count"] for r in rows],
            type=pa.int64(),
        ),
        "equality_delete_file_count": pa.array(
            [r["equality_delete_file_count"] for r in rows],
            type=pa.int32(),
        ),
        "total_record_count": pa.array(
            [r["total_record_count"] for r in rows], type=pa.int64()
        ),
        "last_updated_snapshot_id": pa.array(
            [r["last_updated_snapshot_id"] for r in rows],
            type=pa.int64(),
        ),
    }
    buf = pa.BufferOutputStream()
    pq.write_table(pa.table(cols), buf, compression=DEFAULT_COMPRESSION)
    io.write_atomic(path, buf.getvalue().to_pybytes())
    entry = {
        "snapshot-id": analyzed_sid,
        "statistics-path": path,
        "file-size-in-bytes": io.size(path),
    }

    def build(cur):
        new = cur.successor("replace")  # rows unchanged
        try:
            alive = set(catalog.table_history(name))
        except Exception:
            alive = None
        new.partition_statistics_files = [
            s
            for s in (cur.partition_statistics_files or [])
            if s.get("snapshot-id") != analyzed_sid
            and (alive is None or s.get("snapshot-id") in alive)
        ] + [entry]
        new.assign_row_ids()  # v3 row lineage (no-op on v2)
        return new

    return commit_catalog(catalog, name, build, to_branch), rows


def read_partition_stats(manifest) -> list[dict]:
    """Read back the registered partition-statistics file for the
    NEWEST registered snapshot; [] when none is registered."""
    import pyarrow.parquet as pq

    from iceberg_compaction_spark.sources.fileio import open_input

    entries = manifest.partition_statistics_files or []
    if not entries:
        return []
    latest = max(entries, key=lambda e: e.get("snapshot-id", 0))
    with open_input(latest["statistics-path"]) as f:
        return pq.read_table(f).to_pylist()
