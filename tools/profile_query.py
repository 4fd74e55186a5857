"""Per-query isolation harness (optimization guide §1).

Usage:
    python tools/profile_query.py [--reps N] [--explain DIR] q1 q2 ...

Builds the SAME session as bench.py ($SPARK_GRAFT_SF_DIR /
$SPARK_GRAFT_CPUS), runs bench.py's warmup, then times each named
query with the noop sink ``reps`` times (reporting every rep plus the
min) and optionally dumps ``explain("formatted")`` to
``<DIR>/<name>.txt``.  Jobs are labelled so the (disabled-by-default)
UI and event logs attribute stages to queries.  The last stdout line is
``{"metrics": {name: min_s}}``, so ``tools/ab.py`` can compare entries
across revisions:

    python3 tools/ab.py HEAD . --pairs 10 -- \\
        python3 tools/profile_query.py dedup_contamination
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain", default=None, help="dir for plan dumps")
    args = ap.parse_args()

    import bench

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = bench.build_spark(cpus)
    from iceberg_compaction_spark import registry

    # bench.py's warmup, abbreviated: JIT + parquet footers + Python pool
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    bench.run_query(spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000))
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    from iceberg_compaction_spark.operators import synthetic as syn

    syn.position_delete_table(spark, sf_dir).count()
    syn.equality_delete_table(spark, sf_dir).count()

    mins = {}
    for name in args.queries:
        fn = registry.QUERIES[name]
        if args.explain:
            import contextlib
            import io

            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        times = []
        for r in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.monotonic()
            bench.run_query(fn(spark, sf_dir))
            times.append(round(time.monotonic() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        mins[name] = min(times)
        print(f"{name}: reps={times} min={mins[name]}", flush=True)
    spark.stop()
    print(json.dumps({"metrics": mins}))


if __name__ == "__main__":
    main()
