"""Similarity search over embedding columns (north-star extensions).

The embedding column is ``array<float>``; all math is done in DOUBLE
(float->double casts are exact) with built-in higher-order functions
(``zip_with`` + ``aggregate``) — JVM-side, no Python in the row path.
Similarities are emitted as integer ppm (floor(1e6*cos)) so cross-engine
hashing is stable.

- ``brute_force_topk``: exact top-k per query — the correctness baseline.
  Plan: broadcast the (small) query set, one pass over the corpus, window
  row_number per query.  At 100 TB this is the "scan once per query
  batch" pattern: cost O(|corpus| x |queries|), embarrassingly parallel.
- ``ivf_topk``: IVF-style two-stage ANN — assign every vector to its
  nearest centroid (data-derived centroids), then search only the
  query's cluster (single-probe).  The scale path: the corpus is
  partitioned by cluster id, so each query touches ~1/n_clusters of the
  data; recall trades against probes exactly like FAISS IVF.
- ``cosine_pairs``: exact pairwise cosine >= threshold (embedding
  near-dup detection; quadratic — bound the input or use ivf buckets).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from iceberg_compaction_spark.sources.scan import driver_frame


def as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double dot product (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_ppm(a: Column, b: Column) -> Column:
    return F.floor(cosine(a, b) * 1000000).cast("long")


def vec_norm(col: Column) -> Column:
    """L2 norm — the same ``sqrt(dot(v, v))`` subexpression
    :func:`cosine` evaluates per pair."""
    return F.sqrt(dot(col, col))


def cosine_ppm_prenorm(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine_ppm` with the two vector norms HOISTED into
    per-side projections before the join.  The expression tree is
    identical (``floor(dot/(na*nb) * 1e6)`` with ``na = sqrt(dot(a,a))``
    evaluated over the same array), so results are bit-identical — but
    each norm is computed once per VECTOR instead of once per scored
    PAIR: a bucket of m vectors evaluates 2m norm aggregates instead of
    ~m², and the per-pair hot loop drops from three array passes to
    one.  This is the constant factor that dominates every bucketed /
    brute-force cosine stage at corpus scale."""
    return F.floor(dot(a, b) / (na * nb) * 1000000).cast("long")


def l2_normalize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Unit-normalize each embedding; emit integer micro-units.

    Output: ``(id, norm_micro, unit_micro: array<bigint>)`` — the L2
    norm and the unit vector scaled by 1e6 and floored, so the result
    hashes identically across engines (raw doubles differ in the last
    ulp between formatters).  Pure higher-order functions in the scan
    projection: narrow, zero-shuffle, whole-stage codegen — the shape
    that matters when normalizing 10^11 vectors before ANN indexing.
    Zero vectors emit NULL components (division by zero -> NULL) rather
    than failing the batch.

    The norm is STAGED as a real column in a prior projection before the
    per-element ``transform``.  Referencing the aggregate expression
    directly inside the lambda would re-evaluate the full-array dot
    product for every element — O(d²) per row, measured 15-25x slower at
    d=64 and another 12-24x worse at production d=768-1536.  Catalyst
    does not collapse the two projections because the staged column is
    referenced more than once and is non-cheap (CollapseProject's
    duplicate-expensive-expression guard), so the O(d) shape survives
    optimization.
    """
    staged = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    ).select(
        F.col(id_col),
        F.col("__v"),
        F.sqrt(dot(F.col("__v"), F.col("__v"))).alias("__norm"),
    )
    norm = F.col("__norm")
    return staged.select(
        F.col(id_col),
        F.floor(norm * 1000000).cast("long").alias("norm_micro"),
        F.transform(
            F.col("__v"), lambda x: F.floor(x / norm * 1000000).cast("long")
        ).alias("unit_micro"),
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric scalar int8 quantization (the standard ANN-index
    compression: 4x smaller than float32, distance error ~0.4%).

    Per-vector scale ``127 / max(|x|)``; components become
    ``floor(x * scale)`` in [-128, 127].  Output:
    ``(id, scale_micro, q: array<bigint>)`` with the scale in integer
    micro-units for engine-stable hashing.  All-zero vectors quantize
    to all-zero with NULL scale (no max magnitude to normalize by).

    Quantization runs as a vectorized Arrow kernel (optimization r15,
    guide §4.2) instead of interpreted per-element lambda HOFs — still
    a narrow zero-shuffle projection (the plan gate), with the
    identical IEEE arithmetic: ``max(|x|)`` is order-independent so it
    equals the ``greatest`` fold exactly; ``127.0/absmax``,
    ``floor(scale*1e6)`` and ``floor(x*scale)`` are the same
    elementwise double ops; and the ``~(absmax <= 0)`` mask reproduces
    Spark's NaN-is-largest comparison semantics for degenerate inputs.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<scale_micro: bigint, q: array<bigint>>")
    def _q(embs: pd.Series) -> pd.DataFrame:
        import numpy as np

        V = np.vstack(embs.to_numpy()).astype(np.float64)
        absm = np.abs(V).max(1)
        mask = ~(absm <= 0)  # NaN -> True, matching Spark's NaN > 0
        with np.errstate(divide="ignore", invalid="ignore"):
            scale = np.where(mask, 127.0 / absm, np.nan)
            sm = np.floor(scale * 1_000_000)
            qf = np.floor(V * scale[:, None])
        q = np.where(np.isfinite(qf), qf, 0.0).astype(np.int64)
        q[~mask] = 0
        # scale_micro mirrors `floor(scale * 1e6).cast("long")` exactly:
        # NULL only when the WHEN guard failed (absmax <= 0, scale NULL);
        # a NaN scale (NaN absmax passes Spark's NaN-is-largest `> 0`)
        # casts to 0L like any non-finite double-to-long cast (r16 fix,
        # ADVICE r15 — previously emitted NULL here)
        return pd.DataFrame(
            {
                "scale_micro": [
                    int(v) if np.isfinite(v) else (0 if m else None)
                    for v, m in zip(sm, mask)
                ],
                "q": list(q),
            }
        )

    return df.select(
        F.col(id_col), _q(F.col(vec_col)).alias("__s")
    ).select(
        F.col(id_col),
        F.col("__s.scale_micro").alias("scale_micro"),
        F.col("__s.q").alias("q"),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos_ppm, rank).

    Scoring is a vectorized Arrow kernel with per-batch partial top-k
    (optimization r15 — the same port as :func:`pq_topk` /
    :func:`lsh_topk`, minus any bucketing: this stays the EXACT
    correctness baseline, every (query, doc) pair is scored).  The
    query set collects driver-side (it is small by construction — it
    was already broadcast whole as the crossJoin build side); each
    corpus batch computes the full (queries x batch) cosine matrix in
    numpy and emits its LOCAL top-k per query, so the one remaining
    exchange carries (#batches x #queries x k) candidate rows instead
    of the full |corpus| x |queries| scored cross product the old
    BroadcastNestedLoopJoin pushed through the ranking window.

    Bit-equality with the interpreted HOF expressions this replaces:
    dot products and norms accumulate DIMENSION BY DIMENSION across
    the batch (reproducing ``aggregate``'s fold-left IEEE order), and
    ``floor(dot / (qn * cn) * 1e6)`` evaluates in the same operation
    order — oracle hashes are unchanged.  Local top-k is lossless
    under the (cos_ppm desc, neighbor_id asc) total order: the global
    top-k is a subset of the union of batch top-ks.  Ties break by
    neighbor id for determinism, as before.
    """
    from pyspark.sql.window import Window

    spark = corpus.sparkSession
    _require_bigint_ids(corpus, id_col, "brute_force_topk")
    _require_bigint_ids(queries, id_col, "brute_force_topk")
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_fields = f"query_id {id_type}, neighbor_id {id_type}, cos_ppm long"

    q_rows = sorted(
        (r[0], r[1])
        for r in _collect_queries_guarded(
            queries, id_col, vec_col, max_query_rows, "brute_force_topk"
        )
    )
    if not q_rows:
        return driver_frame(spark, [], out_fields + ", rank int")

    qids_np = np.asarray([q for q, _ in q_rows], dtype=np.int64)
    Q = np.asarray(
        [[float(x) for x in v] for _, v in q_rows], dtype=np.float64
    )
    qn = np.zeros(len(q_rows), dtype=np.float64)
    for j in range(Q.shape[1]):
        qn += Q[:, j] * Q[:, j]
    qn = np.sqrt(qn)
    bc = spark.sparkContext.broadcast((qids_np, Q, qn))
    kk = int(k)

    def _score(batches):
        import numpy as np
        import pyarrow as pa

        qids, Qv, qnorm = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if batch.column(0).null_count or batch.column(1).null_count:
                raise ValueError(
                    "top-k Arrow kernel: NULL ids/embeddings are not "
                    "supported; filter them out before calling"
                )
            nid = batch.column(0).to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            vals = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            V = np.asarray(vals, dtype=np.float64).reshape(
                batch.num_rows, Qv.shape[1]
            )
            # fold-left dot matrix + corpus norms, dimension by dimension
            acc = np.zeros((len(qids), batch.num_rows), dtype=np.float64)
            cn = np.zeros(batch.num_rows, dtype=np.float64)
            for j in range(Qv.shape[1]):
                acc += Qv[:, j, None] * V[None, :, j]
                cn += V[:, j] * V[:, j]
            cn = np.sqrt(cn)
            cos = np.floor(
                acc / (qnorm[:, None] * cn[None, :]) * 1e6
            ).astype(np.int64)
            # exclude self-pairs via a sentinel below any real cos_ppm
            # (safely negatable for the descending sort key)
            excl = np.int64(-(1 << 62))
            cos = np.where(qids[:, None] == nid[None, :], excl, cos)
            take = min(kk, batch.num_rows)
            order = np.lexsort(
                (np.broadcast_to(nid, cos.shape), -cos), axis=-1
            )[:, :take]
            cv = np.take_along_axis(cos, order, 1).ravel()
            keep = cv != excl
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(qids, take)[keep]),
                    pa.array(nid[order].ravel()[keep]),
                    pa.array(cv[keep]),
                ],
                names=["query_id", "neighbor_id", "cos_ppm"],
            )

    cand = corpus.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    ).mapInArrow(_score, out_fields)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_ppm").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_ppm", F.col("rank").cast("int").alias("rank"))
    )


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment: (id, cluster_id, vector).

    Ties break toward the lower centroid id.

    Assignment is a ZERO-shuffle narrow projection (optimization r15,
    guide §4.2): the centroid table — driver-scale by the same bound
    that let the previous form broadcast it — is collected once,
    sorted by cluster id, and shipped inside a vectorized Arrow kernel
    that computes the whole (batch x k) cosine matrix in numpy.  The
    per-pair expression this replaces was an interpreted zip_with +
    aggregate fold (lambda HOFs are excluded from whole-stage codegen)
    under a crossJoin and a groupBy max(struct) that re-shuffled the
    vectors; now the corpus is scanned once with no exchange at all.

    Bit-equivalence: the kernel accumulates every dot product and norm
    DIMENSION BY DIMENSION, reproducing :func:`dot`'s fold-left IEEE
    order, then applies the identical ``floor(dot/(na*nb) * 1e6)``
    expression; ``argmax`` over centroid columns sorted by cluster_id
    returns the first maximum — the same (c_ppm, -cluster_id)
    tie-break the max(struct) aggregate encoded.  A zero-norm vector
    (all cosines NULL in the old form, which then fell to the lowest
    cluster id) maps to all -inf, whose argmax is likewise the lowest
    cluster id.
    """
    from pyspark.sql.functions import pandas_udf

    cent_rows = sorted(
        (r[0], r[1])
        for r in centroids.select("cluster_id", vec_col).collect()
    )
    if not cent_rows:
        raise ValueError("assign_clusters needs at least one centroid")
    ctype = centroids.schema["cluster_id"].dataType.simpleString()
    cids = np.asarray([c for c, _ in cent_rows], dtype=np.int64)
    C = np.asarray(
        [[float(x) for x in v] for _, v in cent_rows], dtype=np.float64
    )
    k, d = C.shape
    cn = np.zeros(k)
    for j in range(d):
        cn += C[:, j] * C[:, j]
    cn = np.sqrt(cn)

    @pandas_udf(ctype)
    def _best(embs: pd.Series) -> pd.Series:
        import numpy as np

        if embs.isna().any():
            raise ValueError(
                "assign_clusters: NULL embeddings are not supported; "
                "filter them out before calling"
            )
        V = np.vstack(embs.to_numpy()).astype(np.float64)
        n = len(V)
        vn2 = np.zeros(n)
        M = np.zeros((n, k))
        for j in range(d):
            col = V[:, j]
            vn2 += col * col
            M += col[:, None] * C[:, j][None, :]
        vn = np.sqrt(vn2)
        with np.errstate(divide="ignore", invalid="ignore"):
            ppm = np.floor(M / (vn[:, None] * cn[None, :]) * 1000000)
        ppm[np.isnan(ppm)] = -np.inf
        return pd.Series(cids[ppm.argmax(1)])

    return vectors.select(
        F.col(id_col),
        _best(F.col(vec_col)).alias("cluster_id"),
        as_double(F.col(vec_col)).alias("v"),
    )


# semantic_dedup's grouped kernel materializes each cluster's rows in
# ONE Python worker (applyInPandas group residency); this cap bounds
# that residency — 500k rows x 64 dims x 8 B ≈ 256 MB of vectors plus
# the pandas frame.  Clusters above it fall back to the self-join form.
DEFAULT_SEMANTIC_CLUSTER_MAX_ROWS = 500_000


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold_ppm: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int | None = DEFAULT_SEMANTIC_CLUSTER_MAX_ROWS,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then remove
    near-duplicates WITHIN each cluster — the clusters are what keep
    the pairwise stage tractable at corpus scale (k clusters of ~n/k
    vectors evaluate ~n²/k cosine pairs instead of n², and each
    cluster's pairs stay inside one shuffle partition group).

    Keep rule (deterministic, order-free): a vector is REMOVED iff a
    LOWER-id vector in the same cluster scores cosine >= threshold —
    the id-ordered greedy representative choice, decided by a single
    anti-join rather than an iterative sweep.  Returns survivors as
    ``(id, cluster_id)``.

    Scale shape: centroid assignment is the broadcast argmax
    :func:`assign_clusters` uses (map-side combine, no window); the
    pair stage is cluster-grouped — never a global cartesian.  Skewed
    clusters bound the worst case; raise k (more, smaller clusters) to
    trade recall for cost, exactly the paper's knob.

    The within-cluster pair stage is a vectorized grouped kernel
    (optimization r15, guide §4.2): one exchange routes each cluster's
    vectors to a task, where the pairwise cosine blocks compute in
    numpy — accumulating the dot products DIMENSION BY DIMENSION so
    every pair's sum is evaluated in exactly the fold-left IEEE order
    of :func:`dot` (and each norm in the order of :func:`vec_norm`),
    making the ppm floors bit-identical to the joined-HOF formulation
    it replaces.  That formulation evaluated ~n²/(2k) interpreted
    zip_with+aggregate folds (no codegen for lambda HOFs) across a
    self-join that shuffled the vectors twice; the kernel shuffles them
    once and emits only the removed ids.

    Memory (r16, ADVICE r15): pair blocks are tiled 4096 x 4096 (128 MB
    of doubles each) in BOTH dimensions, and only the lower-triangle
    row tiles are computed — id-sorted rows mean a remover is always a
    lower index, so tiles entirely above the diagonal are skipped
    (~half the FLOPs of the r15 column-strip form, identical results).
    The remaining per-task residency is the cluster's own rows, which
    ``applyInPandas`` materializes by construction; ``max_cluster_rows``
    caps that: clusters above the cap are diverted to an equivalent
    within-cluster self-join (the r14 formulation — quadratic but
    spillable, never a single-worker OOM), decided from one cheap
    (cluster_id) count aggregation.  Pass ``max_cluster_rows=None`` to
    skip the sizing pass when cluster sizes are known-bounded.
    """
    _require_bigint_ids(vectors, id_col, "semantic_dedup")
    assigned = assign_clusters(vectors, centroids, id_col, vec_col)

    thr = int(threshold_ppm)

    def _removed_in_cluster(pdf: pd.DataFrame):
        import numpy as np

        nc = len(pdf)
        if nc < 2:
            return pd.DataFrame({"__removed_id": pd.Series([], dtype="int64")})
        if pdf["v"].isna().any():
            raise ValueError(
                "semantic_dedup: NULL embeddings are not supported; "
                "filter them out before calling"
            )
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        V = np.vstack(pdf["v"].to_numpy()[order]).astype(np.float64)
        d = V.shape[1]
        # norms in fold-left order: nrm2 += v_j * v_j, dimension by
        # dimension — the exact additions vec_norm performs
        nrm2 = np.zeros(nc)
        for j in range(d):
            nrm2 += V[:, j] * V[:, j]
        na = np.sqrt(nrm2)
        removed = np.zeros(nc, dtype=bool)
        B = 4096
        for lo in range(0, nc, B):  # column tile: removal candidates
            hi = min(lo + B, nc)
            cols = np.arange(lo, hi)[None, :]
            hit_any = np.zeros(hi - lo, dtype=bool)
            # row tiles: potential removers; ids are sorted, so only
            # rows with index < hi can satisfy row < col — tiles above
            # the diagonal are never computed
            for rlo in range(0, hi, B):
                rhi = min(rlo + B, hi)
                M = np.zeros((rhi - rlo, hi - lo))
                for j in range(d):
                    M += V[rlo:rhi, j][:, None] * V[lo:hi, j][None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    ppm = np.floor(
                        M / (na[rlo:rhi, None] * na[None, lo:hi]) * 1000000
                    )
                hit = ppm >= thr
                hit &= np.arange(rlo, rhi)[:, None] < cols
                hit_any |= hit.any(axis=0)
            removed[lo:hi] |= hit_any
        return pd.DataFrame({"__removed_id": ids[removed].astype("int64")})

    big_ids: list = []
    if max_cluster_rows is not None:
        # one k-row aggregation; the collect is bounded by #clusters
        big_ids = [
            r[0]
            for r in assigned.groupBy("cluster_id")
            .count()
            .where(F.col("count") > int(max_cluster_rows))
            .select("cluster_id")
            .collect()
        ]

    kernel_side = (
        assigned.where(~F.col("cluster_id").isin(big_ids))
        if big_ids
        else assigned
    )
    removed = kernel_side.groupBy("cluster_id").applyInPandas(
        _removed_in_cluster, "__removed_id long"
    )
    if big_ids:
        big = assigned.where(F.col("cluster_id").isin(big_ids))
        a = big.select(
            "cluster_id",
            F.col(id_col).alias("__ida"),
            F.col("v").alias("__va"),
        )
        b = big.select(
            "cluster_id",
            F.col(id_col).alias("__idb"),
            F.col("v").alias("__vb"),
        )
        removed_big = (
            a.join(b, "cluster_id")
            .where(F.col("__ida") < F.col("__idb"))
            .where(cosine_ppm(F.col("__va"), F.col("__vb")) >= F.lit(thr))
            .select(F.col("__idb").cast("long").alias("__removed_id"))
            .distinct()
        )
        removed = removed.unionByName(removed_big)
    return assigned.join(
        removed,
        assigned[id_col] == removed["__removed_id"],
        "left_anti",
    ).select(id_col, "cluster_id")


def kmeans_train(
    vectors: DataFrame,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over the embedding column — trains the IVF
    centroid table with pure DataFrame aggregations (no MLlib, no UDFs).

    Init is deterministic: the ``k`` lowest ids (callers wanting k-means++
    can pass a pre-seeded corpus sample).  Each iteration is one
    broadcast assignment (narrow) + one groupBy mean:  element-wise
    centroid means come from ``posexplode`` -> groupBy (cluster,
    position) -> avg -> ``array_agg`` sorted by position.  Per-iteration
    cost is two shuffles of k x dim rows — independent of corpus row
    width, the shape that holds at 10^11 vectors.

    Returns the final ``(cluster_id, embedding)`` centroid table (double
    components), directly usable by :func:`assign_clusters` /
    :func:`ivf_topk`.  Iterative and data-dependent, so no SQL oracle —
    convergence (non-increasing inertia) is pinned by pytest instead.
    """
    from pyspark.sql.window import Window

    v = vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    # the k-row init is driver-scale; the single-partition window is fine
    centroids = (
        v.orderBy(id_col)
        .limit(k)
        .withColumn(
            "cluster_id", F.row_number().over(Window.orderBy(id_col)) - 1
        )
        .select("cluster_id", F.col("v").alias("embedding"))
    )
    for _ in range(iters):
        # assign_clusters reads vec_col from BOTH sides; centroids are
        # always named (cluster_id, embedding)
        assigned = assign_clusters(
            v.select(F.col(id_col), F.col("v").alias("embedding")),
            centroids,
            id_col=id_col,
            vec_col="embedding",
        )
        centroids = (
            assigned.select(
                "cluster_id", F.posexplode("v").alias("pos", "x")
            )
            .groupBy("cluster_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "cluster_id",
                F.transform(F.col("pm"), lambda s: s["m"]).alias("embedding"),
            )
        )
    return centroids


def kmeans_inertia(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Mean cosine distance (1 - cos, in ppm) of vectors to their
    assigned centroid — the convergence metric for :func:`kmeans_train`."""
    assigned = assign_clusters(vectors, centroids, id_col, vec_col)
    cent = F.broadcast(
        centroids.select(
            F.col("cluster_id"), as_double(F.col("embedding")).alias("centv")
        )
    )
    row = (
        assigned.join(cent, "cluster_id")
        .select((1000000 - cosine_ppm(F.col("v"), F.col("centv"))).alias("d"))
        .agg(F.avg("d").alias("inertia"))
        .collect()[0]
    )
    return float(row["inertia"])


def probe_clusters(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``nprobe`` nearest centroids per query: (id, cluster_id, v),
    one row per (query, probed cluster).

    The ranking window partitions by query over only ``k_centroids``
    scored rows per query — the query side is the small side by IVF
    construction, so this never windows over corpus-scale data.
    """
    from pyspark.sql.window import Window

    cent = F.broadcast(
        centroids.select(
            F.col("cluster_id"), as_double(F.col(vec_col)).alias("centv")
        ).withColumn("centn", vec_norm(F.col("centv")))
    )
    v = queries.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("v")
    ).withColumn("vn", vec_norm(F.col("v")))
    scored = v.crossJoin(cent).select(
        id_col,
        "cluster_id",
        "v",
        cosine_ppm_prenorm(
            F.col("v"), F.col("centv"), F.col("vn"), F.col("centn")
        ).alias("c_ppm"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("c_ppm").desc(), F.col("cluster_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= nprobe)
        .select(id_col, "cluster_id", "v")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF ANN: search the query's ``nprobe`` nearest clusters.

    Output: (query_id, neighbor_id, cos_ppm, rank) — approximate (recall
    < 1 when true neighbors live in unprobed clusters, which is the
    point); raising ``nprobe`` trades cost ~``nprobe/k_centroids`` of
    the corpus per query for recall, exactly the FAISS IVF knob.  Each
    (query, neighbor) pair appears at most once even under multi-probe:
    a neighbor lives in exactly one cluster, which matches at most one
    of the query's probe rows.
    """
    from pyspark.sql.window import Window

    c_assign = assign_clusters(corpus, centroids, id_col, vec_col)
    q_assign = (
        assign_clusters(queries, centroids, id_col, vec_col)
        if nprobe <= 1
        else probe_clusters(queries, centroids, nprobe, id_col, vec_col)
    )

    q = q_assign.select(
        F.col(id_col).alias("query_id"), F.col("cluster_id"), F.col("v").alias("qv")
    ).withColumn("qn", vec_norm(F.col("qv")))
    c = c_assign.select(
        F.col(id_col).alias("neighbor_id"), F.col("cluster_id"), F.col("v").alias("cv")
    ).withColumn("cn", vec_norm(F.col("cv")))
    scored = (
        F.broadcast(q)
        .join(c, on="cluster_id")  # co-partition by cluster: the IVF probe
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_ppm_prenorm(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("cos_ppm"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_ppm").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_ppm", F.col("rank").cast("int").alias("rank"))
    )


def lsh_bucket(
    v: Column, anchor_pairs: list[tuple[list[float], list[float]]]
) -> Column:
    """Random-hyperplane LSH bucket id from sign bits.

    Bit i is set when ``dot(v, a_i) >= dot(v, b_i)`` — i.e. which side of
    the hyperplane through the origin with normal ``(a_i - b_i)`` the
    vector falls on.  Using two anchor dots instead of one hyperplane dot
    keeps the arithmetic bit-reproducible across engines (no elementwise
    vector subtraction whose FP rounding could differ).

    n pairs -> 2^n buckets; bucketing is a narrow per-row projection
    (broadcast-free, shuffle-free) — the scale path for ANN at 100 TB.
    """
    bucket: Column = F.lit(0)
    for i, (ea, eb) in enumerate(anchor_pairs):
        la = F.array(*[F.lit(float(x)) for x in ea])
        lb = F.array(*[F.lit(float(x)) for x in eb])
        bucket = bucket + F.when(
            dot(v, la) >= dot(v, lb), F.lit(1 << i)
        ).otherwise(F.lit(0))
    return bucket.cast("int")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    anchor_pairs: list[tuple[list[float], list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = None,
) -> DataFrame:
    """LSH-bucketed ANN: search only the query's hash bucket.

    Same two-stage shape as :func:`ivf_topk` but the partitioning step is
    a pure projection (no centroid broadcast, no assignment shuffle):
    bucket each vector by hyperplane sign bits, join queries to corpus on
    the bucket, rank within the bucket.

    Scoring is a vectorized Arrow kernel with per-batch partial top-k
    (optimization r15, guide §4.2/§2.3 — the same port as
    :func:`pq_topk`): the query set collects driver-side (it was
    already broadcast whole as the build side of the bucket join) with
    its buckets and norms computed in numpy; each corpus batch buckets
    its vectors, scores only the within-bucket (query, doc) pairs, and
    emits its LOCAL top-k per query, so the only exchange carries
    (#batches x #queries x k) candidate rows instead of every scored
    pair.  Bit-equality with the interpreted HOF expressions this
    replaces: every dot product (bucket sign bits, norms, pair scores)
    accumulates DIMENSION BY DIMENSION across the batch, reproducing
    ``aggregate``'s fold-left IEEE order exactly, and the final
    ``floor(dot / (qn * cn) * 1e6)`` evaluates in the same operation
    order — oracle hashes are unchanged.  Local top-k is lossless: the
    global top-k is a subset of the union of batch top-ks.
    """
    from pyspark.sql.window import Window

    spark = corpus.sparkSession
    _require_bigint_ids(corpus, id_col, "lsh_topk")
    _require_bigint_ids(queries, id_col, "lsh_topk")
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_fields = f"query_id {id_type}, neighbor_id {id_type}, cos_ppm long"

    q_rows = sorted(
        (r[0], r[1])
        for r in _collect_queries_guarded(
            queries, id_col, vec_col, max_query_rows, "lsh_topk"
        )
    )
    if not q_rows:
        return driver_frame(spark, [], out_fields + ", rank int")

    # anchor matrix (2 * npairs, d): rows 2i / 2i+1 are pair i's (a, b)
    A = np.asarray(
        [v for ea, eb in anchor_pairs for v in (ea, eb)], dtype=np.float64
    )
    npairs = len(anchor_pairs)
    qids_np = np.asarray([q for q, _ in q_rows], dtype=np.int64)
    Q = np.asarray([[float(x) for x in v] for _, v in q_rows], dtype=np.float64)

    def _buckets_norms(V):
        # fold-left dot products, dimension by dimension: acc_k after
        # processing dim j equals aggregate()'s partial sum after the
        # j-th zip_with element — bit-identical to the interpreted HOF
        d = V.shape[1]
        acc = np.zeros((V.shape[0], 2 * npairs), dtype=np.float64)
        nrm = np.zeros(V.shape[0], dtype=np.float64)
        for j in range(d):
            acc += V[:, j, None] * A[None, :, j]
            nrm += V[:, j] * V[:, j]
        bits = (acc[:, 0::2] >= acc[:, 1::2]) << np.arange(npairs)
        return bits.sum(1).astype(np.int64), np.sqrt(nrm)

    q_bucket, q_norm = _buckets_norms(Q)
    bc = spark.sparkContext.broadcast((qids_np, Q, q_bucket, q_norm))
    kk = int(k)

    def _score(batches):
        import numpy as np
        import pyarrow as pa

        qids, Qv, qb, qn = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if batch.column(0).null_count or batch.column(1).null_count:
                raise ValueError(
                    "top-k Arrow kernel: NULL ids/embeddings are not "
                    "supported; filter them out before calling"
                )
            nid = batch.column(0).to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            vals = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            V = np.asarray(vals, dtype=np.float64).reshape(
                batch.num_rows, Qv.shape[1]
            )
            cb, cn = _buckets_norms(V)
            out_q, out_n, out_c = [], [], []
            for b in np.unique(cb):
                qi = np.nonzero(qb == b)[0]
                if qi.size == 0:
                    continue
                ci = np.nonzero(cb == b)[0]
                Qb, Cb = Qv[qi], V[ci]
                acc = np.zeros((qi.size, ci.size), dtype=np.float64)
                for j in range(Qv.shape[1]):
                    acc += Qb[:, j, None] * Cb[None, :, j]
                cos = np.floor(
                    acc / (qn[qi, None] * cn[None, ci]) * 1e6
                ).astype(np.int64)
                self_pair = qids[qi, None] == nid[None, ci]
                # exclude self-pairs from the local top-k via a sentinel
                # below any real cos_ppm (and safely negatable for the
                # descending sort key — int64 min would overflow under
                # negation), then drop them after the take
                excl = np.int64(-(1 << 62))
                cos = np.where(self_pair, excl, cos)
                take = min(kk, ci.size)
                order = np.lexsort(
                    (np.broadcast_to(nid[ci], cos.shape), -cos), axis=-1
                )[:, :take]
                cv = np.take_along_axis(cos, order, 1).ravel()
                keep = cv != excl
                out_q.append(np.repeat(qids[qi], take)[keep])
                out_n.append(nid[ci][order].ravel()[keep])
                out_c.append(cv[keep])
            if out_q:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_q)),
                        pa.array(np.concatenate(out_n)),
                        pa.array(np.concatenate(out_c)),
                    ],
                    names=["query_id", "neighbor_id", "cos_ppm"],
                )

    cand = corpus.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    ).mapInArrow(_score, out_fields)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_ppm").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cos_ppm",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def n_bits_for_target_occupancy(
    n_vectors: int, target_bucket_size: int = 1024, max_bits: int = 24
) -> int:
    """Hyperplane-bit count so expected bucket occupancy stays bounded.

    ``2^bits >= n / target`` — with b bits a uniform corpus lands
    ``n / 2^b`` vectors per bucket, so within-bucket pairing costs
    ``sum |bucket|^2 ~ n * target`` instead of ``n^2 / 2^b``.  A FIXED
    bit count (e.g. 4 bits -> 16 buckets) silently degrades to ~n²/16
    as the corpus grows — bits must scale with log2(n).  Recall loss
    from more bits is recovered by extra hash tables
    (:func:`lsh_cosine_pairs_multi` / :func:`lsh_topk_multi`).
    """
    import math

    if n_vectors <= target_bucket_size:
        return 1
    return min(max_bits, math.ceil(math.log2(n_vectors / target_bucket_size)))


def _with_table_buckets(
    v: DataFrame, tables: list[list[tuple[list[float], list[float]]]]
) -> DataFrame:
    for t, pairs in enumerate(tables):
        v = v.withColumn(f"__bucket_{t}", lsh_bucket(F.col("v"), pairs))
    return v


def lsh_cosine_pairs_multi(
    vectors: DataFrame,
    tables: list[list[tuple[list[float], list[float]]]],
    threshold_ppm: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table LSH near-dup pairs: a candidate pair only needs to
    collide in ONE of the hash tables, so recall at b bits with T tables
    is ``1 - (1 - p^b)^T`` instead of ``p^b`` — the standard recall
    recovery when bits grow with the corpus.  Candidates are unioned
    across tables and de-duplicated BEFORE the cosine is computed, so
    each surviving pair is scored exactly once."""
    v = _with_table_buckets(
        vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias("v")), tables
    ).withColumn("n", vec_norm(F.col("v")))
    cands = None
    for t in range(len(tables)):
        a = v.select(
            F.col(id_col).alias("id_a"), F.col("v").alias("va"),
            F.col("n").alias("na"), F.col(f"__bucket_{t}").alias("__bk"),
        )
        b = v.select(
            F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
            F.col("n").alias("nb"), F.col(f"__bucket_{t}").alias("__bk"),
        )
        c = a.join(b, on="__bk").where(F.col("id_a") < F.col("id_b")).drop("__bk")
        cands = c if cands is None else cands.unionByName(c)
    return (
        cands.dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            cosine_ppm_prenorm(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos_ppm"),
        )
        .where(F.col("cos_ppm") >= threshold_ppm)
    )


def lsh_topk_multi(
    corpus: DataFrame,
    queries: DataFrame,
    tables: list[list[tuple[list[float], list[float]]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table LSH ANN: candidates from every table's bucket join,
    de-duplicated per (query, neighbor), then one ranking window."""
    from pyspark.sql.window import Window

    c = _with_table_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("v")
        ),
        tables,
    ).withColumnRenamed("v", "cv").withColumn("cn", vec_norm(F.col("cv")))
    q = _with_table_buckets(
        queries.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("v")
        ),
        tables,
    ).withColumnRenamed("v", "qv").withColumn("qn", vec_norm(F.col("qv")))

    cands = None
    for t in range(len(tables)):
        qt = q.select(
            "query_id", "qv", "qn", F.col(f"__bucket_{t}").alias("__bk")
        )
        ct = c.select(
            "neighbor_id", "cv", "cn", F.col(f"__bucket_{t}").alias("__bk")
        )
        x = (
            F.broadcast(qt)
            .join(ct, on="__bk")
            .where(F.col("query_id") != F.col("neighbor_id"))
            .drop("__bk")
        )
        cands = x if cands is None else cands.unionByName(x)

    scored = cands.dropDuplicates(["query_id", "neighbor_id"]).select(
        "query_id",
        "neighbor_id",
        cosine_ppm_prenorm(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
        ).alias("cos_ppm"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_ppm").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cos_ppm",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def lsh_cosine_pairs(
    vectors: DataFrame,
    anchor_pairs: list[tuple[list[float], list[float]]],
    threshold_ppm: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed near-dup pairs: only pairs sharing an LSH bucket are
    scored — the scale path for :func:`cosine_pairs` (quadratic in the
    corpus) — cost becomes sum over buckets of |bucket|², and the
    bucketing itself is a shuffle-free projection.  Approximate by
    design: cross-bucket pairs are unseen (recall rises with fewer
    hyperplane bits or multiple tables)."""
    v = (
        vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
        .withColumn("bucket", lsh_bucket(F.col("v"), anchor_pairs))
        .withColumn("n", vec_norm(F.col("v")))
    )
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), "bucket",
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), "bucket",
    )
    return (
        a.join(b, on="bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_ppm_prenorm(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos_ppm"),
        )
        .where(F.col("cos_ppm") >= threshold_ppm)
    )


# All-pairs baselines refuse to run above this row count: n^2 cost is a
# correctness-verification tool, never a scale path.  Raise the bound
# explicitly (max_rows=...) to acknowledge the quadratic cost.
DEFAULT_ALL_PAIRS_MAX_ROWS = 100_000


class AllPairsScaleError(RuntimeError):
    """Refusal to run a quadratic baseline on an input too large for it."""


def _guard_all_pairs(vectors: DataFrame, max_rows: int, what: str) -> None:
    n = vectors.count()
    if n > max_rows:
        raise AllPairsScaleError(
            f"{what} is an O(n^2) correctness baseline; input has {n} rows "
            f"(> max_rows={max_rows}). Use the bucketed scale path "
            "(lsh_cosine_pairs / simhash_banded_pairs / minhash LSH) or "
            "pass a larger max_rows to acknowledge the quadratic cost."
        )


# The top-k kernels collect the QUERY side onto the driver (it is the
# former broadcast build side, small by construction) — but a collect
# has no planner size accounting, so an oversized query set would be a
# silent driver OOM instead of a broadcast-threshold error.  Cap it
# (ADVICE r15): ~100k queries x 64 dims x 8 B ≈ 51 MB driver-resident,
# comparable to what the replaced broadcast carried.  The cap rides the
# collect itself (limit(max+1)) — no extra guard job, and the driver
# transfer is bounded even when the input is huge.
DEFAULT_QUERY_COLLECT_MAX_ROWS = 100_000


def _require_bigint_ids(df: DataFrame, id_col: str, what: str) -> None:
    """The Arrow top-k kernels build their id arrays as int64 and
    declare the mapInArrow schema from the input's id type — any other
    id type would die deep in the kernel with an Arrow schema-mismatch
    (ADVICE r15).  Fail fast with the actual restriction instead."""
    dt = df.schema[id_col].dataType.simpleString()
    if dt != "bigint":
        raise TypeError(
            f"{what} requires a BIGINT id column ({id_col} is {dt}); "
            "cast ids to bigint (or map string ids through xxhash64) "
            "before calling the kernel."
        )


def _collect_queries_guarded(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    max_rows: int | None,
    what: str,
) -> list:
    cap = (
        max_rows if max_rows is not None else DEFAULT_QUERY_COLLECT_MAX_ROWS
    )
    rows = (
        queries.select(F.col(id_col), F.col(vec_col))
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        raise AllPairsScaleError(
            f"{what} collects the query set driver-side for its scoring "
            f"kernel; input exceeds max_query_rows={cap}. Split the "
            "query set, or pass a larger max_query_rows to acknowledge "
            "the driver memory cost."
        )
    return rows


def cosine_pairs(
    vectors: DataFrame,
    threshold_ppm: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = DEFAULT_ALL_PAIRS_MAX_ROWS,
) -> DataFrame:
    """Exact pairwise cosine pairs >= threshold (id_a < id_b).

    Quadratic baseline — guarded by ``max_rows`` (the count costs one
    metadata-cheap job and prevents an accidental 10^22-pair plan at
    corpus scale)."""
    _guard_all_pairs(vectors, max_rows, "cosine_pairs")
    a = vectors.select(
        F.col(id_col).alias("id_a"), as_double(F.col(vec_col)).alias("va")
    ).withColumn("na", vec_norm(F.col("va")))
    b = vectors.select(
        F.col(id_col).alias("id_b"), as_double(F.col(vec_col)).alias("vb")
    ).withColumn("nb", vec_norm(F.col("vb")))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_ppm_prenorm(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos_ppm"),
        )
        .where(F.col("cos_ppm") >= threshold_ppm)
    )


# --- product quantization (PQ) ---------------------------------------------


def micro_vec(col: Column) -> Column:
    """Integer micro-unit quantization of a float/double vector:
    ``floor(x * 1e6)`` per component as BIGINT.  float->double casts are
    exact and the single multiply+floor is one deterministic IEEE op, so
    every engine derives the identical integer vector — the foundation
    that makes PQ codes and ADC distances hash-stable across engines."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * 1000000).cast("long")
    )


def _pq_subdist(xm: Column, entry: Column, j: Column, subdim: int) -> Column:
    """Exact integer squared L2 distance between subvector ``j`` of a
    micro-quantized vector and one codebook entry (a ``subdim``-long
    micro int array).  Components are <= 1e6 in magnitude, so each
    squared diff is <= 4e12 and the sum over a subspace stays far below
    2^63 — exact int64 arithmetic, order-independent."""
    sub = F.slice(xm, j * subdim + 1, subdim)
    return F.aggregate(
        F.zip_with(sub, entry, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda s, d: s + d,
    )


def _pq_codebook_literal(codebook: list[list[list[int]]]) -> Column:
    """The trained codebook as a nested array literal:
    ``CB[m][k][subdim]`` of micro ints.  m*k*subdim is a few thousand
    scalars — planner metadata, the same scale as z-order bounds; it
    ships inside the serialized plan, so encoding needs no join at all.

    Built as ONE ``F.lit`` of the nested Python list — a single Literal
    node — rather than nested ``F.array`` constructors, which produce a
    ~m*k*subdim-node expression tree that Catalyst re-analyzes on every
    plan (measured ~4.5 s of pure driver time per ann_pq run at m=8,
    k=16, d=64; the single-literal form planned in <1 s)."""
    return F.lit([[[int(v) for v in entry] for entry in sub] for sub in codebook])


def pq_train_from_anchors(
    anchors: DataFrame,
    m: int,
    id_col: str = "anchor_code",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Build a deterministic PQ codebook from k anchor vectors: sub-
    centroid ``c`` of subspace ``j`` is anchor ``c``'s j-th subvector,
    micro-quantized.  (Production training would run kmeans_train per
    subspace; anchors keep the codebook reproducible for oracle checks,
    the same device the IVF queries use.)  The collect is k rows of
    driver-scale metadata."""
    rows = sorted(
        (r[id_col], r[vec_col])
        for r in anchors.select(id_col, vec_col).collect()
    )
    cb: list[list[list[int]]] = []
    d = len(rows[0][1])
    subdim = d // m
    for j in range(m):
        sub = []
        for _, vec in rows:
            sub.append(
                [
                    int(__import__("math").floor(float(x) * 1000000))
                    for x in vec[j * subdim : (j + 1) * subdim]
                ]
            )
        cb.append(sub)
    return cb


def pq_encode(
    corpus: DataFrame,
    codebook: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` codebook indices: (id, codes).

    Encoding is one narrow map over the corpus — no join, no shuffle —
    implemented as an Arrow-batched numpy kernel: quantize the batch to
    int64 micro units, broadcast-subtract the (m, k, subdim) codebook,
    square-sum, argmin.  This is the documented pandas-UDF exception:
    the pure higher-order-function formulation (kept below as
    :func:`pq_encode_hof`, pinned equal in tests) runs on Catalyst's
    INTERPRETED expression path — lambda HOFs are excluded from
    whole-stage codegen — and measured ~1.7 ms/row at m=8, k=16, d=64,
    ~400x slower than the vectorized kernel.  At 10^11 rows that is the
    difference between a scan-speed encode and an unrunnable one.

    numpy argmin returns the FIRST minimal index, so ties break toward
    the lower code, identical to the HOF fold and the oracle's
    (dist, c) ordering.  All arithmetic is exact int64 (diffs <= 2e6,
    squares <= 4e12, subspace sums < 2^63), so the codes are
    bit-identical to the oracle's.
    """
    from pyspark.sql.functions import pandas_udf

    cb_list = [[[int(v) for v in e] for e in sub] for sub in codebook]
    m = len(cb_list)
    subdim = len(cb_list[0][0])

    @pandas_udf("array<int>")
    def _codes(embs: pd.Series) -> pd.Series:
        import numpy as np

        cb = np.asarray(cb_list, dtype=np.float64)  # (m, k, sub)
        c2 = (cb * cb).sum(-1)  # (m, k) exact: entries <= 1e6
        X = np.vstack(embs.to_numpy())
        Xm = np.floor(X.astype(np.float64) * 1_000_000)
        Xs = Xm.reshape(len(Xm), m, subdim)
        # exact-in-double expansion ||x-c||^2 = ||x||^2 - 2<x,c> + ||c||^2
        # per subspace, via BLAS dgemm: every term is an integer below
        # 2^53 (components <= 1e6 -> products <= 1e12, subspace sums of
        # <= subdim of them <= ~1e13), so float64 arithmetic is EXACT
        # and the argmin ties break identically to the int64 broadcast
        # form this replaces — which materialized an (n, m, k, subdim)
        # temporary and ran ~50x slower at n=32k (optimization r15).
        codes = np.empty((len(Xm), m), dtype=np.int32)
        for j in range(m):
            Xj = Xs[:, j, :]
            x2 = (Xj * Xj).sum(1)
            d2 = x2[:, None] - 2.0 * (Xj @ cb[j].T) + c2[j][None, :]
            codes[:, j] = d2.argmin(1)
        return pd.Series(list(codes))

    return corpus.select(
        F.col(id_col), _codes(F.col(vec_col)).alias("codes")
    )


def pq_encode_hof(
    corpus: DataFrame,
    codebook: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pure-DataFrame twin of :func:`pq_encode` (codebook as a plan
    literal, argmin as an ``aggregate`` fold).  Same output bit-for-bit
    — kept as the zero-Python-worker reference implementation and the
    parity pin for the vectorized kernel; see pq_encode's docstring for
    why it is not the default (interpreted HOF path, ~400x slower).
    """
    m = len(codebook)
    k = len(codebook[0])
    subdim = len(codebook[0][0])
    cb = _pq_codebook_literal(codebook)
    xm = micro_vec(F.col(vec_col))

    def best_code(j: Column) -> Column:
        entries = cb[j]  # Column.__getitem__ -> 0-based getItem
        zero = F.struct(
            F.lit(2**62).cast("long").alias("d"), F.lit(-1).alias("c")
        )

        def merge(acc: Column, c: Column) -> Column:
            dist = _pq_subdist(xm, entries[c], j, subdim)
            return F.when(
                dist < acc["d"],
                F.struct(dist.alias("d"), c.cast("int").alias("c")),
            ).otherwise(acc)

        return F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)), zero, merge
        )["c"]

    return corpus.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)), best_code
        ).alias("codes"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: list[list[list[int]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = DEFAULT_ALL_PAIRS_MAX_ROWS,
    max_query_rows: int = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: exact query-to-codebook
    distance tables + code lookups over the encoded corpus.

    Output: (query_id, neighbor_id, adc_dist, rank) — approximate by
    construction (distances to sub-centroids, not raw vectors), which is
    the PQ memory/recall trade.

    Plan shape: each query precomputes its ``m x k`` integer distance
    table (a projection over the query set); the table set broadcasts;
    the corpus side is the CODES (m small ints per doc, not the d-float
    embedding) and never shuffles before the per-query top-k window.
    ADC cost per (query, doc) is m integer adds vs d multiplies for
    brute force — the classic Jegou/Douze/Schmid trade.

    Exhaustive over the corpus (every query scores every code), so the
    same ``max_rows`` guard as the other quadratic baselines applies:
    at scale use :func:`ivfpq_topk`, whose coarse quantizer restricts
    ADC to the probed cells.

    Scoring is a vectorized Arrow kernel with per-batch partial top-k
    (optimization r15, guide §4.2/§2.3): the query distance tables are
    a driver-scale array (#queries x m x k ints — the same bound the
    previous broadcast-join shipped) broadcast to executors; each codes
    batch computes the full (queries x batch) ADC matrix with numpy
    gathers and emits only its LOCAL top-k per query, so the stream
    entering the global top-k exchange is (#batches x #queries x k)
    candidate rows instead of (#queries x #corpus) scored pairs.  The
    per-pair interpreted-HOF fold this replaces measured ~8 us/pair
    (~10M pairs -> seconds of per-task Python-free but interpreted JVM
    eval, then a full window sort of the pair stream); the kernel does
    the identical exact int64 arithmetic (bit-equal distances, same
    (adc_dist, neighbor_id) tie-break) at memory bandwidth.  Local
    top-k is lossless: the global top-k is a subset of the union of
    batch top-ks.
    """
    from pyspark.sql.window import Window

    _require_bigint_ids(corpus, id_col, "pq_topk")
    _require_bigint_ids(queries, id_col, "pq_topk")
    _guard_all_pairs(corpus, max_rows, "pq_topk (exhaustive ADC baseline)")

    m = len(codebook)
    spark = corpus.sparkSession
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_fields = (
        f"query_id {id_type}, neighbor_id {id_type}, adc_dist long"
    )

    # exact int64 distance tables, built driver-side from the collected
    # query vectors (#queries x d doubles — strictly smaller than the
    # m x k tables the broadcast-join form shipped through the driver):
    # dt[q, j, c] = sum((micro(q_sub_j) - cb[j][c])^2), the same
    # arithmetic micro_vec/_pq_subdist express in Catalyst.
    q_rows = sorted(
        (r[0], r[1])
        for r in _collect_queries_guarded(
            queries, id_col, vec_col, max_query_rows, "pq_topk"
        )
    )
    if not q_rows:
        empty = driver_frame(spark, [], out_fields + ", rank int")
        return empty

    cb_np = np.asarray(
        [[[int(v) for v in e] for e in sub] for sub in codebook],
        dtype=np.int64,
    )  # (m, k, subdim)
    subdim = cb_np.shape[2]
    qids_np = np.asarray([q for q, _ in q_rows], dtype=np.int64)
    qm = np.floor(
        np.asarray([v for _, v in q_rows], dtype=np.float64) * 1_000_000
    ).astype(np.int64)  # (nq, d)
    qs = qm.reshape(len(qm), m, subdim)
    # (nq, m, k): exact integer squared L2 per (query, subspace, code)
    dtab = ((qs[:, :, None, :] - cb_np[None]) ** 2).sum(-1)
    bc = spark.sparkContext.broadcast((qids_np, dtab))

    codes = pq_encode(corpus, codebook, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    kk = int(k)
    mm = m

    def _score(batches):
        import numpy as np
        import pyarrow as pa

        qids, dt = bc.value
        nq = len(qids)
        excl = np.iinfo(np.int64).max
        for batch in batches:
            nb = batch.num_rows
            if nb == 0:
                continue
            nid = batch.column(0).to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            col = batch.column(1)
            vals = col.flatten().to_numpy(zero_copy_only=False)
            C = np.asarray(vals, dtype=np.int64).reshape(nb, mm)
            D = dt[:, 0, :][:, C[:, 0]].copy()
            for j in range(1, mm):
                D += dt[:, j, :][:, C[:, j]]
            D[nid[None, :] == qids[:, None]] = excl
            take = min(kk, nb)
            order = np.lexsort(
                (np.broadcast_to(nid, D.shape), D), axis=-1
            )[:, :take]
            dv = np.take_along_axis(D, order, 1).ravel()
            keep = dv != excl
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(qids, take)[keep]),
                    pa.array(nid[order].ravel()[keep]),
                    pa.array(dv[keep]),
                ],
                names=["query_id", "neighbor_id", "adc_dist"],
            )

    cand = codes.mapInArrow(_score, out_fields)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def pq_train_kmeans(
    corpus: DataFrame,
    m: int,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Production PQ training: per-subspace Lloyd k-means over the
    corpus (composes :func:`kmeans_train` on sliced subvectors), micro-
    quantized into the same codebook layout :func:`pq_encode` consumes.

    m sequential k-means runs, each two shuffles of k x subdim rows per
    iteration — training cost is independent of corpus width and tiny
    next to one corpus scan.  Data-dependent and iterative, so no SQL
    oracle: pytest pins that the trained codebook's recall beats the
    anchor codebook's on the same fixture (0.24 vs 0.16 L2 recall@5 —
    both modest because uniform-random vectors are PQ's worst case;
    structured real-world embeddings concentrate much better).
    """
    import math

    first = corpus.select(vec_col).first()[0]
    subdim = len(first) // m
    cb: list[list[list[int]]] = []
    for j in range(m):
        sv = corpus.select(
            F.col(id_col),
            F.slice(F.col(vec_col), j * subdim + 1, subdim).alias(vec_col),
        )
        cents = kmeans_train(sv, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
        got = {
            r["cluster_id"]: [
                math.floor(float(x) * 1000000) for x in r["embedding"]
            ]
            for r in cents.collect()
        }
        cb.append([got[c] for c in sorted(got)])
    return cb


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: list[list[list[int]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: coarse cluster restriction + ADC over codes — the
    composition FAISS ships as IndexIVFPQ and the shape that actually
    runs at 10^11 vectors: the corpus is bucketed by nearest coarse
    centroid AND stored as m-byte PQ codes, so a query touches
    ~1/n_clusters of the corpus and pays m integer adds per candidate.

    Both stages reuse the verified parts: cluster assignment is
    :func:`assign_clusters` (broadcast centroids, map-side argmax) and
    distances are :func:`pq_encode`'s exact integer ADC.  Output:
    (query_id, neighbor_id, adc_dist, rank).
    """
    from pyspark.sql.window import Window

    m = len(codebook)
    n_codes = len(codebook[0])
    subdim = len(codebook[0][0])
    cb = _pq_codebook_literal(codebook)

    c_assign = assign_clusters(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "cluster_id"
    )
    codes = pq_encode(corpus, codebook, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    corpus_side = codes.join(c_assign, "neighbor_id")

    qxm = micro_vec(F.col(vec_col))
    dtable = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.sequence(F.lit(0), F.lit(n_codes - 1)),
            lambda c: _pq_subdist(qxm, cb[j][c], j, subdim),
        ),
    )
    q_assign = assign_clusters(queries, centroids, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), "cluster_id"
    )
    qt = queries.select(
        F.col(id_col).alias("query_id"), dtable.alias("dt")
    ).join(q_assign, "query_id")

    scored = (
        F.broadcast(qt)
        .join(corpus_side, "cluster_id")  # the IVF probe restriction
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0).cast("long"),
                lambda s, j: s + F.col("dt")[j][F.col("codes")[j]],
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def matryoshka_truncate(
    df: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka representation truncation (Kusupati et al. 2022,
    "Matryoshka Representation Learning"): keep the embedding's first
    ``dims`` components and re-L2-normalize — the standard way to trade
    recall for index size/speed with MRL-trained models (a 1536-dim
    corpus becomes a 256-dim ANN index with a metadata-only change to
    this knob).

    Output mirrors :func:`l2_normalize`: ``(id, norm_micro,
    unit_micro: array<bigint>)`` in integer micro-units for
    engine-stable hashing; the norm is the TRUNCATED prefix's.  Same
    staged-norm O(d) discipline, pure scan-projection HOFs, zero
    shuffle."""
    staged = df.select(
        F.col(id_col),
        F.slice(as_double(F.col(vec_col)), 1, int(dims)).alias("__v"),
    ).select(
        F.col(id_col),
        F.col("__v"),
        F.sqrt(dot(F.col("__v"), F.col("__v"))).alias("__norm"),
    )
    norm = F.col("__norm")
    return staged.select(
        F.col(id_col),
        F.floor(norm * 1000000).cast("long").alias("norm_micro"),
        F.transform(
            F.col("__v"), lambda x: F.floor(x / norm * 1000000).cast("long")
        ).alias("unit_micro"),
    )
