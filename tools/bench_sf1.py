"""One-off sf~1 scale validation (VERDICT r4 #9).

No sf1 testdata exists in this environment, so this builds a 10x
row-count input by LISTING each sf0.1 parquet file ten times (symlink
directory — no synthetic data, the driver's own files read repeatedly)
and times a set of near-linear headline queries at both scales.  If the
sf0.1 totals are overhead-dominated (fixed JVM/planning cost), the 10x
run should come in well under 10x the time; per-query ratios are the
honest throughput read.

Queries with pair-expansion semantics (minhash/embedding dedup) are
excluded: duplicating every doc 10x changes their workload shape
(every copy-pair becomes a candidate), which measures duplication
handling, not scan/agg throughput.

Usage: python tools/bench_sf1.py   (writes one JSON line to stdout)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPL = "/tmp/sfx10"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
QUERIES = [
    "emb_quantize",
    "emb_normalize",
    "text_quality",
    "text_token_count",
    "events_hourly",
    "events_sessionize",
    "events_sessionize_salted",
    "zorder_lineitem",
    "dedup_exact",
]


def build_replicated(factor: int = 10) -> str:
    for t in TABLES:
        d = os.path.join(REPL, f"{t}.parquet")
        os.makedirs(d, exist_ok=True)
        src = os.path.join(SRC, f"{t}.parquet")
        for i in range(factor):
            link = os.path.join(d, f"copy{i}.parquet")
            if not os.path.exists(link):
                os.symlink(src, link)
    return REPL


def main() -> None:
    from iceberg_compaction_spark import registry

    from iceberg_compaction_spark.session import session_builder

    spark = session_builder(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="bench-sf1",
        shuffle_partitions=32,
        **{"spark.driver.memory": "48g"},
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    repl = build_replicated()

    out = {"factor": 10, "src": SRC, "queries": {}}
    for name in QUERIES:
        fn = registry.QUERIES[name]
        t0 = time.monotonic()
        n_small = fn(spark, SRC).count()
        t_small = time.monotonic() - t0
        t0 = time.monotonic()
        n_big = fn(spark, repl).count()
        t_big = time.monotonic() - t0
        out["queries"][name] = {
            "sf0.1_sec": round(t_small, 3),
            "x10_sec": round(t_big, 3),
            "ratio": round(t_big / t_small, 2) if t_small > 0 else None,
            "rows": [n_small, n_big],
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
