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

A scope pays off when the shared intermediate would otherwise be
recomputed.  ``minhash_lsh_dedup_pairs`` needs none: its four readers of
the per-doc shingle sets share one reused exchange, and the curation
flagship (``registry.q_pipeline_curation_full``) measured faster without
a scope.

Mirrors the reference's per-run materialization of hash-join build sides
inside DataFusion (freed when the plan finishes) rather than its
process-global caches.

``temp_views`` binds DataFrames into SQL text (one ``spark.sql`` call
builds a whole subplan) without evicting their cache entries: dropping a
temp view through ``spark.catalog`` — as ``spark.sql(text, df=frame)``
does on return — also uncaches any persisted plan equal to the view's.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def temp_views(**frames: DataFrame):
    """Registers each DataFrame as a uniquely named temp view and yields
    ``{key: view name}``; build the ``spark.sql`` frames inside the block
    (analysis is eager, so they keep working after it).  On exit the
    views are dropped from the session catalog only, so a persisted
    frame passed here stays cached."""
    names = {k: f"__{k}_{uuid.uuid4().hex}" for k in frames}
    for k, df in frames.items():
        df.createOrReplaceTempView(names[k])
    try:
        yield names
    finally:
        spark = next(iter(frames.values())).sparkSession
        catalog = spark._jsparkSession.sessionState().catalog()
        for name in names.values():
            catalog.dropTempView(name)


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
