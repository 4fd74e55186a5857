"""Local simulation of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry at the given scale factor in Spark AND the
matching ``oracle_sql()`` in DuckDB, then compares row count, column
names, and an order-insensitive value hash.  Usage:

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v) -> str:
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        # DuckDB HUGEINT/DECIMAL surface as Decimal in some fetch paths;
        # integral values must hash identically to Spark's bigint.
        if v == v.to_integral_value():
            return str(int(v))
        return f"{float(v):.10g}"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import duckdb

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    # the shared builder adds the preloading worker daemon (guide §4.5)
    # so this runner's Python-boundary queries fork warm workers, same
    # as the bench session (r16: previously bench-only)
    from iceberg_compaction_spark.session import session_builder

    spark = session_builder(
        master="local[8]",
        app_name="oracle-check",
        shuffle_partitions=8,
    ).getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(srows)})")
            continue
        try:
            res = con.sql(oracles[name])
            # Fetch through Arrow, like the driver: DuckDB HUGEINT (the
            # type of any uncast SUM(BIGINT)) degrades to float64 in the
            # Arrow conversion, so an uncast oracle aggregate fails HERE
            # the same way it fails the driver gate.  fetchall() would
            # mask it (HUGEINT -> Python int).
            atbl = res.arrow()
            ocols = [c.lower() for c in atbl.column_names]
            orows = [tuple(d.values()) for d in atbl.to_pylist()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        ok_rows = len(srows) == len(orows)
        ok_cols = sorted(c.lower() for c in scols) == sorted(ocols)
        sh = table_hash([c.lower() for c in scols], srows)
        oh = table_hash(ocols, orows)
        ok_hash = sh == oh
        status = "OK  " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status} {name}: rows {len(srows)}/{len(orows)} "
            f"cols_match={ok_cols} hash {sh}/{oh}"
        )
        if not ok_cols:
            print(f"     spark cols: {scols}\n     duck cols:  {res.columns}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
