"""Scoped DataFrame caching.

Operators like :func:`~iceberg_compaction_spark.operators.dedup.minhash_lsh_dedup_pairs`
can persist small intermediate tables (shingle sets, signatures) that
feed multiple join branches.  They do so only through a ``CacheScope``:
a cache needs an owner that releases it, and a lazy result frame has
none.  Without a scope the operators cache nothing and their branches
share those subtrees through the query's own exchange reuse.

``CacheScope`` makes the lifetime explicit: every DataFrame persisted
through the scope is unpersisted (non-blocking) when the scope exits.
The consuming action must run INSIDE the scope — the result DataFrame is
lazy, so collecting it after exit would recompute the unpersisted
subtrees.

    with CacheScope() as cs:
        pairs = minhash_lsh_dedup_pairs(corpus, scope=cs)
        result = pairs.collect()
    # shingle/signature storage released here

The curation flagship (``registry.q_pipeline_curation_full``) scopes its
pair generation this way: connected components materializes the pairs
(``localCheckpoint``) before the scope exits, and neither its labels nor
the kept documents read the cached frames, so a long-lived session
running it again and again keeps no cache entries behind.

Mirrors the reference's per-run materialization of hash-join build sides
inside DataFusion (freed when the plan finishes) rather than its
process-global caches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class CacheScope:
    """Tracks DataFrames persisted within a ``with`` block and releases
    their storage on exit (LIFO, non-blocking)."""

    def __init__(self) -> None:
        self._dfs: list[DataFrame] = []

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._dfs.append(df)
        return df

    def unpersist_all(self) -> None:
        for df in reversed(self._dfs):
            df.unpersist(blocking=False)
        self._dfs.clear()

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        self.unpersist_all()
