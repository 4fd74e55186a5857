"""The curation flagship builds its plan from SQL text in a few calls:
py4j round trips of the lazy build, the shape of the MinHash-LSH pair
plan, and the Spark jobs of the connected-components fast path."""

import uuid

import pytest
from conftest import py4j_round_trips
from test_plan_quality import SF

from iceberg_compaction_spark import registry
from iceberg_compaction_spark.operators import dedup as dd
from iceberg_compaction_spark.operators.cache import CacheScope, temp_views
from iceberg_compaction_spark.sources.scan import driver_frame


def _jobs(spark, fn) -> int:
    """Spark jobs started by ``fn()`` on this thread."""
    sc = spark.sparkContext
    group = f"curation-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "pinned curation job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _final_plan(df) -> str:
    """The final adaptive plan of an executed ``df``."""
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]


def _cache(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _temp_views(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables() if t.isTemporary]


def test_flagship_lazy_frame_builds_in_few_round_trips(spark):
    q = registry.QUERIES["pipeline_curation_full"]
    q(spark, SF)  # the first build also resolves JVM classes once
    with py4j_round_trips() as rt:
        q(spark, SF)
    # ~3,300 when every column expression was its own PySpark call
    assert rt.n <= 600


def test_shingle_sets_drives_ngram_directly(spark):
    docs = registry._docs(spark, SF)
    with py4j_round_trips() as rt:
        dd.shingle_sets(docs)
    # the pyspark.ml NGram wrapper alone made 229
    assert rt.n <= 80


def test_flagship_pair_plan(spark, monkeypatch):
    """The pairs the flagship hands to connected components verify by
    array intersection in double arithmetic, and the corpus is tokenized
    and shingled once: one NGram UDF in the executed plan, read by the
    other branches through a reused exchange, with nothing cached."""
    seen = []
    cc = dd.connected_components

    def spy(pairs, *args, **kwargs):
        seen.append(pairs)
        return cc(pairs, *args, **kwargs)

    monkeypatch.setattr(dd, "connected_components", spy)
    spark.catalog.clearCache()
    registry.QUERIES["pipeline_curation_full"](spark, SF).collect()
    (pairs,) = seen
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "array_intersect(" in plan
    # a bare 1000000.0 in SQL text is a DECIMAL literal
    assert "decimal(" not in plan
    pairs.collect()
    final = _final_plan(pairs)
    assert final.count("UDF(") == 1, final
    assert "ReusedExchange" in final, final
    assert _cache(spark).isEmpty()
    assert not [v for v in _temp_views(spark) if v.startswith("__")]


def test_scoped_pairs_persist_and_release(spark):
    docs = registry._docs(spark, SF)
    t = registry.JACCARD_THRESHOLD_PPM
    spark.catalog.clearCache()
    plain = sorted(map(tuple, dd.minhash_lsh_dedup_pairs(docs, threshold_ppm=t).collect()))
    assert _cache(spark).isEmpty()
    with CacheScope() as cs:
        pairs = dd.minhash_lsh_dedup_pairs(docs, threshold_ppm=t, scope=cs)
        scoped = sorted(map(tuple, pairs.collect()))
        assert not _cache(spark).isEmpty()
    assert _cache(spark).isEmpty()
    assert scoped == plain and plain


def test_temp_views_keep_a_persisted_frame_cached(spark):
    """Binding a persisted frame into SQL text leaves it cached; the
    ``spark.sql(text, name=frame)`` form drops its view through
    ``spark.catalog`` and so uncaches it."""
    df = spark.range(10).selectExpr("id", "id * 2 AS x").persist()
    try:
        with temp_views(t=df) as v:
            out = spark.sql(f"SELECT x FROM {v['t']}")
        assert v["t"] not in _temp_views(spark)
        assert "InMemoryRelation" in out._jdf.queryExecution().optimizedPlan().toString()
        assert sorted(r.x for r in out.collect()) == list(range(0, 20, 2))
    finally:
        df.unpersist()


def _components(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_connected_components_fast_path_jobs(spark):
    """The fast path runs the checkpoint (an AQE shuffle stage plus its
    result) and one limit collect of the half edges — no count()."""
    pairs = driver_frame(
        spark, [(1, 2), (2, 3), (5, 6), (7, 7), (2, 1)], "id_a long, id_b long"
    )
    out = []
    assert _jobs(spark, lambda: out.append(dd.connected_components(pairs))) == 3
    # the self-loop (7, 7) names no component, as the SQL src != dst did
    assert _components(out[0]) == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)]


@pytest.mark.parametrize("dme, fast", [(6, True), (5, False)])
def test_connected_components_cap_boundary(spark, dme, fast):
    """Three half edges fit a cap of 6 // 2 and take the driver path; a
    cap of 5 // 2 sees one edge too many and runs the fixpoint from the
    same checkpoint.  Both give the same components."""
    pairs = driver_frame(spark, [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    out = []
    jobs = _jobs(
        spark,
        lambda: out.append(dd.connected_components(pairs, driver_max_edges=dme)),
    )
    assert (jobs == 3) == fast
    assert _components(out[0]) == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)]


def test_pairs_over_null_empty_and_short_texts(spark, tmp_path):
    """Null texts shingle to ``[null]``, which intersects nothing (the
    shingle join this verification replaces never matched a null); empty
    and short texts keep their whole-text shingle and pair when equal."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [
        "the same five words here",
        "the same five words here",
        None,
        None,
        "",
        "",
        "two words",
        "Two  Words",
    ]
    path = str(tmp_path / "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(range(1, 9), pa.int64()), "text": texts}), path
    )
    docs = spark.read.parquet(path)
    got = sorted(map(tuple, dd.minhash_lsh_dedup_pairs(docs, threshold_ppm=0).collect()))
    assert got == [(1, 2, 1000000), (5, 6, 1000000), (7, 8, 1000000)]
    with CacheScope() as cs:
        scoped = dd.minhash_lsh_dedup_pairs(docs, threshold_ppm=0, scope=cs)
        assert sorted(map(tuple, scoped.collect())) == got
