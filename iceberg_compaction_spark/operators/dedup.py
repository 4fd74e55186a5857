"""Deduplication operators for LLM data pipelines (north-star extensions).

Five families, all expressed with built-in Spark functions (JVM-side,
codegen) so they scale to 100 TB document sets:

- **exact**: group by md5 of normalized text; keep the lowest doc id.
  One shuffle on a 32-byte key — the minimal possible exact dedup.
- **n-gram Jaccard**: word n-gram shingles -> inverted-index self-join on
  shingle -> exact Jaccard from intersection/union counts.  Shuffles on
  the shingle key; candidate pairs only materialize for docs sharing a
  shingle (never the full cross product).
- **MinHash + LSH**: k permutation-style hashes over shingles ->
  signatures via one groupBy -> band keys -> candidate pairs from band
  buckets -> exact-Jaccard verification of candidates only.  The scale
  path: cost is O(docs x shingles) + O(candidates), independent of the
  pair count.
- **SimHash**: per-token md5-derived hashes -> bitwise majority vote ->
  compact integer fingerprint; near-dup pairs via hamming distance.
- **embedding cosine**: exact pairwise cosine over an embedding column
  (see similarity.py for the ANN variants).

Hash function: ``H(s) = int(md5(s)[:8], 16)`` — engine-agnostic (md5 is
md5 everywhere), so the DuckDB oracle reproduces signatures bit-for-bit.
A production deployment would swap xxhash64 for md5 (faster, same
plumbing); md5 keeps the correctness gate cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from iceberg_compaction_spark.operators.cache import temp_views
from iceberg_compaction_spark.operators.text import (
    normalize_text,
    normalize_text_sql,
    sql_ident,
)
from iceberg_compaction_spark.sources.scan import driver_frame

MERSENNE_P = 2147483647  # 2^31-1, modulus for the affine hash family
DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_SIZE = 2


def md5_hash64(col: Column) -> Column:
    """First 8 hex chars of md5 as a non-negative bigint (0..2^32)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _md5_hash64_sql(expr: str) -> str:
    """:func:`md5_hash64` as SQL text over the expression ``expr``."""
    return f"CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)"


def _ngrams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, __tk, __tk_in, __ng): the normalized token array of
    ``text_col`` (null for a null text) and its word n-grams.

    The n-grams come from the JVM ``org.apache.spark.ml.feature.NGram``
    transformer (JVM-side; 6x faster than the interpreted
    higher-order-function formulation, measured at sf0.1), built and
    applied directly over py4j in about a dozen round trips: the
    ``pyspark.ml`` wrapper copies every param to the JVM one call at a
    time, 229 round trips per call.  NGram reads ``__tk_in``, the tokens
    with null replaced by an empty array, because it fails on a null."""
    spark = df.sparkSession
    tk = df.selectExpr(
        sql_ident(id_col),
        f"split({normalize_text_sql(sql_ident(text_col))}, ' ') AS __tk",
        "coalesce(__tk, array()) AS __tk_in",
    )
    ngram = spark._jvm.org.apache.spark.ml.feature.NGram()
    ngram.setN(n).setInputCol("__tk_in").setOutputCol("__ng")
    return DataFrame(ngram.transform(tk._jdf), spark)


def _shingles_sql(n: int) -> str:
    """SQL text of a doc's distinct shingles over :func:`_ngrams`'
    columns.  Texts shorter than n words keep the whole text as their one
    shingle (NGram alone would emit an empty array); a null text keeps
    ``[null]``."""
    return (
        f"array_distinct(CASE WHEN size(__tk) >= {n} THEN __ng"
        " ELSE array(array_join(__tk, ' ')) END)"
    )


def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shs: array<string>, sz: int) with per-doc DISTINCT shingles:
    the space-joined word n-grams of :func:`_ngrams`, or the whole text
    when it is shorter than n words.  Everything is a narrow per-row op —
    per-document dedup needs no shuffle, unlike explode + dropDuplicates.
    """
    # ``sz`` reads ``shs`` as a lateral column alias: one call, and the
    # analyzer still stages ``shs`` in its own projection
    return _ngrams(df, id_col, text_col, n).selectExpr(
        sql_ident(id_col), f"{_shingles_sql(n)} AS shs", "size(shs) AS sz"
    )


def shingle_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct (id, shingle) pairs — the inverted-index input (narrow:
    dedup happens in the array before the explode)."""
    return shingle_sets(df, id_col, text_col, n).select(
        F.col(id_col), F.explode("shs").alias("shingle")
    )


# --- exact dedup ------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group identical (normalized) texts: (content_fp, keep_id, n_docs)."""
    return (
        df.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("content_fp"))
        .groupBy("content_fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Return rows surviving exact dedup (lowest id per content group).

    Window-free formulation: min-id per fingerprint then semi-join, so the
    heavy side shuffles once on the fingerprint; no global sort.
    """
    keepers = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keepers, on=id_col, how="left_semi")


# --- n-gram Jaccard ---------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_ppm: int = 100000,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity pairs from the shingle inverted index.

    Output: (id_a, id_b, jaccard_ppm) with id_a < id_b, similarity as
    integer ppm = floor(1e6 * |A∩B| / |A∪B|).

    The self-join's cost is sum over shingles of df(s)^2 — one shingle
    appearing in 1M docs alone generates 10^12 candidate rows.  At scale
    pass ``max_df`` to drop such stop-shingles from the index (standard
    stop-word treatment): Jaccard is then computed over the FILTERED
    shingle space — both intersections and set sizes exclude capped
    shingles, so the measure stays a true Jaccard of the reduced sets
    (a doc whose shingles are all hot vanishes from the output).  The
    default (None) keeps the exact oracle-checkable semantics; the
    MinHash/LSH path is the other scale answer when exact similarity
    on the full shingle space is required.
    """
    sets = shingle_sets(df, id_col, text_col, n)
    if max_df is None:
        # Carry each doc's set size through the inverted-index self-join
        # and recover it with FIRST in the pair aggregate: the two
        # size-lookup join shuffles the max_df branch needs disappear
        # (4 exchanges -> 2 on the hot path; the pair count is the same).
        sh = sets.select(
            F.col(id_col), F.col("sz"), F.explode("shs").alias("shingle")
        )
        a = sh.select(
            F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "shingle"
        )
        b = sh.select(
            F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "shingle"
        )
        inter = (
            a.join(b, on="shingle")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).alias("inter"),
                F.first("sz_a").alias("sz_a"),
                F.first("sz_b").alias("sz_b"),
            )
        )
        return (
            inter.withColumn(
                "jaccard_ppm",
                F.floor(
                    F.col("inter") * 1000000.0
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                ).cast("long"),
            )
            .where(F.col("jaccard_ppm") >= threshold_ppm)
            .select("id_a", "id_b", "jaccard_ppm")
        )
    sh = sets.select(F.col(id_col), F.explode("shs").alias("shingle"))
    if max_df is not None:
        # semi-join against the sub-cap shingle vocabulary; the shuffle
        # on `shingle` is the same partitioning the self-join needs, so
        # the cap adds one aggregate, not a new exchange pattern
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    else:
        sizes = sets.select(F.col(id_col), "sz")

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard_ppm",
            F.floor(
                F.col("inter") * 1000000.0
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).cast("long"),
        )
        .where(F.col("jaccard_ppm") >= threshold_ppm)
        .select("id_a", "id_b", "jaccard_ppm")
    )


# --- MinHash + LSH ----------------------------------------------------------


def hash_params(num_hashes: int = DEFAULT_NUM_HASHES) -> list[tuple[int, int]]:
    """Deterministic affine-hash coefficients (a_i, b_i)."""
    return [(2 * i + 1, 101 * i + 7) for i in range(num_hashes)]


def _signatures_sql(sets: str, id_col: str, num_hashes: int) -> str:
    """SQL text of :func:`minhash_signatures` over the relation ``sets``."""
    i = sql_ident(id_col)
    mins = ", ".join(
        f"min(({a} * __h + {b}) % {MERSENNE_P}) AS sig_{k}"
        for k, (a, b) in enumerate(hash_params(num_hashes))
    )
    return (
        f"SELECT {i}, {mins} FROM (SELECT {i}, {_md5_hash64_sql('__s')} AS __h"
        f" FROM (SELECT {i}, explode(shs) AS __s FROM {sets})) GROUP BY {i}"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    sets: DataFrame | None = None,
) -> DataFrame:
    """One row per doc: sig_0..sig_{k-1} minhash signature columns.

    WHOLE-STAGE-CODEGEN formulation (r16 session 3, guide §4.2): the
    shingle arrays are exploded, the md5 evaluates as a regular codegen
    column, and each signature folds as a ``min()`` aggregate over the
    doc's rows.  Every md5 and affine map runs in generated code — the
    previous formulation (md5 staged once, then per-signature
    ``array_min(transform(...))`` folds) kept the whole stage in the
    INTERPRETED higher-order-function evaluator, measured 1.3x slower
    at sf0.1 and pure per-shingle CPU at scale.  The exchange this adds
    is negligible by construction: each doc's shingles live in ONE
    array row, so the partial aggregate collapses the exploded stream
    back to one row per doc before the shuffle — the exchange carries
    |docs| rows of ``num_hashes`` longs, while the corpus-sized shingle
    stream never crosses it (the plan gate pins partial_min below the
    single exchange).

    Pass a (persisted) ``sets`` DataFrame from :func:`shingle_sets` to
    share the shingle computation with other consumers — building on the
    SAME DataFrame object guarantees cache reuse, where rebuilding the
    plan would rely on cache-manager plan matching (which the NGram
    UDF instances inside shingle_sets defeat).

    Values are identical to the HOF formulation — ``min`` over the same
    affine images of the same md5 hashes, exact integer arithmetic —
    so signatures, bands, candidates and the oracle hash are unchanged
    (pinned by test_extensions.py's signature equivalence test; every
    doc has >= 1 shingle by shingle_sets' whole-text fallback, so no
    row can vanish in the group-by).
    """
    if sets is None:
        sets = shingle_sets(df, id_col, text_col, n)
    with temp_views(sets=sets) as v:
        return sets.sparkSession.sql(_signatures_sql(v["sets"], id_col, num_hashes))


def _band_keys_sql(num_hashes: int, band_size: int) -> str:
    """SQL text of the LSH band keys of a signature row, one per band."""
    if num_hashes % band_size != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by band_size "
            f"({band_size}) — trailing signatures would be silently unused"
        )
    keys = ", ".join(
        f"md5(concat_ws('_', '{j}', "
        + ", ".join(f"sig_{j * band_size + k}" for k in range(band_size))
        + "))"
        for j in range(num_hashes // band_size)
    )
    return f"explode(array({keys}))"


def band_table(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """(id, band_key) LSH bucket membership — one row per (doc, band).

    Band keys are produced with one explode over an inline array (a
    single pass over the signature table) rather than an n_bands-way
    union, which would re-evaluate the signature subtree per band.
    At 100 TB this IS the persisted dedup index: store it once per
    corpus snapshot and every new batch joins against it (see
    :func:`minhash_lsh_incremental_pairs`)."""
    return signatures.selectExpr(
        sql_ident(id_col), f"{_band_keys_sql(num_hashes, band_size)} AS band_key"
    )


def _candidates_sql(bands: str, id_col: str) -> str:
    """SQL text of the distinct (id_a < id_b) pairs sharing a band of
    the (id, band_key) relation ``bands``."""
    i = sql_ident(id_col)
    return (
        f"SELECT DISTINCT a.{i} AS id_a, b.{i} AS id_b FROM {bands} a"
        f" JOIN {bands} b ON a.band_key = b.band_key WHERE a.{i} < b.{i}"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """Distinct (id_a, id_b) pairs sharing at least one LSH band bucket."""
    bands = band_table(signatures, id_col, num_hashes, band_size)
    with temp_views(bands=bands) as v:
        return bands.sparkSession.sql(_candidates_sql(v["bands"], id_col))


# Pair similarities as integer ppm over the staged intersection size
# ``__inter`` and the set sizes ``__sz_l``/``__sz_r`` of
# :func:`verify_candidates`.  ``1000000.0D`` keeps the arithmetic in
# double: a bare ``1000000.0`` is a DECIMAL literal in Spark SQL text.
JACCARD_PPM_SQL = "__inter * 1000000.0D / (__sz_l + __sz_r - __inter)"
CONTAINMENT_PPM_SQL = "__inter * 1000000.0D / least(__sz_l, __sz_r)"


def _verify_sql(
    cands: str,
    sets: str,
    ppm_sql: str,
    metric: str,
    threshold_ppm: int,
    id_col: str,
    left: str,
    right: str,
) -> str:
    """SQL text of :func:`verify_candidates` over the relations
    ``cands`` and ``sets``."""
    i, l, r, m = (sql_ident(x) for x in (id_col, left, right, metric))
    return f"""
    SELECT {l}, {r}, {m} FROM (
      SELECT {l}, {r}, __inter, CAST(FLOOR({ppm_sql}) AS BIGINT) AS {m}
      FROM (
        SELECT c.{l}, c.{r}, sl.sz AS __sz_l, sr.sz AS __sz_r,
          size(array_compact(array_intersect(sl.shs, sr.shs))) AS __inter
        FROM {cands} c
        JOIN {sets} sl ON sl.{i} = c.{l}
        JOIN {sets} sr ON sr.{i} = c.{r}))
    WHERE __inter > 0 AND {m} >= {int(threshold_ppm)}"""


def verify_candidates(
    cands: DataFrame,
    sets: DataFrame,
    ppm_sql: str,
    metric: str,
    threshold_ppm: int,
    id_col: str = "doc_id",
    left: str = "id_a",
    right: str = "id_b",
) -> DataFrame:
    """Exact verification of candidate pairs: ``(left, right, metric)``
    for the candidates sharing at least one shingle whose
    ``floor(ppm_sql)`` reaches ``threshold_ppm``.

    Each candidate joins both docs' rows of ``sets`` (from
    :func:`shingle_sets`) once, and the intersection is
    ``size(array_intersect(shs_l, shs_r))`` — exact, because ``shs`` is
    already distinct — without the null shingle of a null text, which
    matches nothing, as in a join on the shingle.  Verification cost is two joins of the candidate
    set, never a join of the corpus-sized shingle stream.
    """
    with temp_views(cands=cands, sets=sets) as v:
        return sets.sparkSession.sql(
            _verify_sql(
                v["cands"], v["sets"], ppm_sql, metric, threshold_ppm,
                id_col, left, right,
            )
        )


def lsh_verified_pairs(
    df: DataFrame,
    ppm_sql: str,
    metric: str,
    threshold_ppm: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    scope=None,
) -> DataFrame:
    """MinHash-LSH candidate pairs of the documents ``df``, verified by
    :func:`verify_candidates`: shingle sets, signatures, band keys, the
    candidate self-join and the verification are ONE ``spark.sql``
    query over the n-grams of :func:`_ngrams`, so the subplan is parsed
    and analyzed once.

    The shingle sets are an aggregate on the doc id (ids are unique per
    the documents contract, so ``first`` is exact): the only filters
    their four readers — both band sides and both verification sides —
    can push below it are on the id, so all four read one reused
    exchange and the corpus is tokenized and shingled once per query
    with no cache.  With a ``scope`` the sets are persisted through it
    instead."""
    spark = df.sparkSession
    i = sql_ident(id_col)

    def query(docs: str) -> str:
        return f"""
        WITH docs AS ({docs}),
        sigs AS ({_signatures_sql("docs", id_col, num_hashes)}),
        bands AS (SELECT {i}, {_band_keys_sql(num_hashes, band_size)} AS band_key
                  FROM sigs),
        cands AS ({_candidates_sql("bands", id_col)})
        {_verify_sql("cands", "docs", ppm_sql, metric, threshold_ppm,
                     id_col, "id_a", "id_b")}"""

    with temp_views(grams=_ngrams(df, id_col, text_col, n)) as v:
        docs = (
            f"SELECT {i}, shs, size(shs) AS sz FROM (SELECT {i},"
            f" first({_shingles_sql(n)}) AS shs FROM {v['grams']}"
            f" WHERE {i} IS NOT NULL GROUP BY {i})"
        )
        if scope is None:
            return spark.sql(query(docs))
        cached = scope.persist(spark.sql(docs))
    with temp_views(sets=cached) as v:
        return spark.sql(query(f"SELECT * FROM {v['sets']}"))


def _persister(scope):
    """How an operator shares an intermediate between its branches:
    persisted through ``scope`` (a CacheScope, which releases it on
    exit), or — with no scope to own a cache — left to the query plan."""
    return scope.persist if scope is not None else (lambda d: d)


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    threshold_ppm: int = 100000,
    scope=None,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard — computed for the
    candidate pairs ONLY.

    This is the point of LSH at scale: the all-pairs shingle join
    (cost ~ sum of shingle-frequency squared) is replaced by
    :func:`verify_candidates`, which joins each candidate to both docs'
    distinct shingle arrays once and intersects them with
    ``array_intersect``, so verification cost scales with the number of
    candidate pairs, not with corpus co-occurrence.

    The plan is built from SQL text: the n-grams in two DataFrame steps,
    then shingle sets, signatures, bands, candidates and verification as
    one ``spark.sql`` query (:func:`lsh_verified_pairs`) holding the
    expressions ``registry._minhash_ctes`` writes for the DuckDB oracle.
    Building it costs a few dozen py4j round trips, not thousands.

    ``scope``: an optional
    :class:`~iceberg_compaction_spark.operators.cache.CacheScope`.  With
    one, the per-doc shingle-set table that the band and verification
    branches read is persisted through it — consume the result inside
    the scope and the storage is released on exit.  Without one nothing
    is cached, and the branches read one reused exchange of that table,
    so the corpus is still tokenized and shingled once per query.
    """
    return lsh_verified_pairs(
        df, JACCARD_PPM_SQL, "jaccard_ppm", threshold_ppm, id_col, text_col,
        n, num_hashes, band_size, scope,
    )


def minhash_lsh_incremental_pairs(
    df: DataFrame,
    is_new,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    threshold_ppm: int = 100000,
    broadcast_new: bool = True,
    scope=None,
) -> DataFrame:
    """Delta-priced near-dup check: a NEW batch against the EXISTING
    corpus — the daily-ingest shape of dedup at 100 TB, where re-running
    all-pairs LSH over corpus+delta every day is unaffordable.

    ``is_new`` is a Column predicate over ``df`` marking the new batch.
    Candidates come from joining the new batch's band buckets against
    the corpus band index ONLY (never corpus x corpus): cost scales
    with |delta| x bucket-collision rate, not with the corpus.  With
    ``broadcast_new`` (default) the delta's band table broadcasts —
    right whenever delta << corpus; pass False for a huge backfill
    batch and let AQE pick the join.  In production the corpus side of
    this join is the PERSISTED band index (:func:`band_table` stored at
    corpus-build time) plus shingle sets for verification; here both
    derive from the same input frame, which keeps the operator
    oracle-checkable.

    Output: (new_id, old_id, jaccard_ppm) — exact Jaccard computed for
    candidate pairs only by :func:`verify_candidates`, as in
    :func:`minhash_lsh_dedup_pairs`; ``scope`` as there.
    """
    _persist = _persister(scope)
    sets = _persist(shingle_sets(df, id_col, text_col, n))
    sigs = _persist(
        minhash_signatures(df, id_col, text_col, n, num_hashes, sets=sets)
    )
    flags = df.select(F.col(id_col), is_new.alias("__is_new"))
    bands = band_table(sigs, id_col, num_hashes, band_size).join(
        flags, id_col
    )
    new_b = bands.where(F.col("__is_new")).select(
        F.col(id_col).alias("new_id"), "band_key"
    )
    old_b = bands.where(~F.col("__is_new")).select(
        F.col(id_col).alias("old_id"), "band_key"
    )
    if broadcast_new:
        new_b = F.broadcast(new_b)
    cands = (
        old_b.join(new_b, "band_key")
        .select("new_id", "old_id")
        .dropDuplicates()
    )

    return verify_candidates(
        cands, sets, JACCARD_PPM_SQL, "jaccard_ppm", threshold_ppm, id_col,
        left="new_id", right="old_id",
    )


# --- SimHash ----------------------------------------------------------------


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    hash_via_vocab: bool = True,
) -> DataFrame:
    """Token-frequency-weighted simhash fingerprint (one int per doc).

    Tokens keep their multiplicity (standard simhash weighting). A bit is
    set when the weighted vote is strictly positive.

    ``hash_via_vocab`` (default): md5 runs once per DISTINCT token, and
    occurrences pick their hash up through a join — natural-language
    vocabularies are orders of magnitude smaller than token streams
    (Heaps' law), so this cuts the dominant md5 cost by the corpus's
    repetition factor (5x measured on the sf0.1 documents).  The join
    strategy is left to AQE: a small vocabulary broadcasts, a huge one
    (adversarial token space) falls back to a shuffle join rather than
    OOMing the driver.  ``False`` hashes inline per occurrence — same
    result, no join — for token spaces known to be near-unique.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    t = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    if hash_via_vocab:
        vocab = t.select("tok").distinct().withColumn(
            "__h", md5_hash64(F.col("tok"))
        )
        t = t.join(vocab, "tok")
        h = F.col("__h")
    else:
        h = md5_hash64(F.col("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(bits)
    ]
    sig = t.groupBy(id_col).agg(*votes)
    expr = None
    for j in range(bits):
        bit = F.when(F.col(f"v_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        expr = bit if expr is None else expr + bit
    return sig.select(F.col(id_col), expr.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_hamming: int = 3,
    max_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance (quadratic baseline).

    The pair join here is an all-pairs crossJoin — correctness baseline
    only; :func:`simhash_banded_pairs` is the bucketed scale path with
    identical output.  Guarded like the similarity baselines: refuses
    inputs above ``max_rows`` (default
    ``similarity.DEFAULT_ALL_PAIRS_MAX_ROWS``).
    """
    from iceberg_compaction_spark.operators.similarity import (
        DEFAULT_ALL_PAIRS_MAX_ROWS,
        _guard_all_pairs,
    )

    _guard_all_pairs(
        df, max_rows if max_rows is not None else DEFAULT_ALL_PAIRS_MAX_ROWS,
        "simhash_pairs",
    )
    s = simhash(df, id_col, text_col, bits)
    a = s.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = s.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _band_layout(bits: int, n_bands: int) -> list[tuple[int, int]]:
    """(offset, width) per band, widths as even as possible, covering all bits."""
    layout, off = [], 0
    for i in range(n_bands):
        w = bits // n_bands + (1 if i < bits % n_bands else 0)
        layout.append((off, w))
        off += w
    return layout


def simhash_banded_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    scope=None,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance — Hamming-LSH scale path.

    Pigeonhole: splitting a ``bits``-wide fingerprint into
    ``max_hamming + 1`` disjoint bands guarantees that any pair within
    Hamming distance ``max_hamming`` agrees EXACTLY on at least one full
    band.  So candidates come from equality joins on (band index, band
    value) buckets — cost proportional to bucket co-occupancy, never the
    n² crossJoin of :func:`simhash_pairs` — and the exact Hamming
    distance is verified for candidates only.  Output is identical to
    the quadratic baseline (no false negatives by construction).

    The fingerprint rides along through the band explode so verification
    needs no join back to the fingerprint table.
    """
    n_bands = max_hamming + 1
    # The fingerprint table (one long per doc) feeds three branches
    # (distinct banding + both expansion sides); under a ``scope`` (a
    # CacheScope) it is persisted so the token-explode/vote subtree runs
    # once — without one nothing is cached, as in minhash_lsh_dedup_pairs.
    _persist = _persister(scope)
    s = _persist(simhash(df, id_col, text_col, bits))

    # Work on DISTINCT fingerprints, not documents.  Template-heavy
    # corpora put thousands of docs on one fingerprint; banding doc
    # rows directly would square that multiplicity inside every band
    # bucket.  Distinct-fingerprint banding keeps the candidate join
    # proportional to fingerprint entropy; doc multiplicity re-enters
    # only in the final expansion, whose cost is the OUTPUT size.
    fps = s.select("simhash").distinct()
    band_cols = [
        F.concat_ws(
            "_",
            F.lit(i),
            F.shiftright(F.col("simhash"), off)
            .bitwiseAND(F.lit((1 << w) - 1))
            .cast("string"),
        )
        for i, (off, w) in enumerate(_band_layout(bits, n_bands))
    ]
    bands = fps.select(
        F.col("simhash"), F.explode(F.array(*band_cols)).alias("band_key")
    )
    a = bands.select(F.col("simhash").alias("sh_a"), "band_key")
    b = bands.select(F.col("simhash").alias("sh_b"), "band_key")
    # <= keeps equal fingerprints: distinct docs sharing one fingerprint
    # are hamming-0 pairs of the output
    fp_pairs = (
        a.join(b, "band_key")
        .where(F.col("sh_a") <= F.col("sh_b"))
        .select("sh_a", "sh_b")
        .dropDuplicates()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
    )

    da = s.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    db = s.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    # For distinct fingerprints every cross doc pair appears exactly once
    # (a doc has one fingerprint); least/greatest restores id order.  For
    # equal fingerprints the self cross-product needs the id_a < id_b
    # half-filter.
    expanded = (
        fp_pairs.join(da, "sh_a")
        .join(db, "sh_b")
        .where((F.col("sh_a") != F.col("sh_b")) | (F.col("id_a") < F.col("id_b")))
    )
    return expanded.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


# --- duplicate-group resolution (connected components) ----------------------


# Edge-count ceiling for the driver-side union-find fast path.  2M edges
# collect as ~32 MB of longs over Arrow — bounded driver memory.  The
# pair graph a near-dup pipeline feeds here is the LSH/band SURVIVOR set,
# orders of magnitude smaller than the corpus (25 pairs per 500 docs on
# the synthetic fixture); corpora dirty enough to exceed the ceiling fall
# back to the distributed fixpoint below, which has no driver bound.
CC_DRIVER_MAX_EDGES = 2_000_000


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Plain union-find with path compression; roots re-labeled to the
    component minimum afterward so the output contract (min reachable id)
    matches the distributed fixpoint exactly."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        for n in (a, b):
            if n not in parent:
                parent[n] = n
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Resolve pairwise duplicate candidates into groups: for every node
    appearing in ``pairs``, the minimum id reachable through the
    undirected pair graph — the canonical representative every dedup
    pipeline needs after pair generation (keep min-id, drop the rest).

    Output: (doc_id, component_id).

    Hybrid execution: when the pair graph fits under ``driver_max_edges``
    (the common case — LSH-band survivors are a vanishing fraction of the
    corpus), edges are collected once and resolved with an in-memory
    union-find: after the checkpoint, one ``limit`` collect both decides
    the path and fetches the edges, instead of ~2 jobs per fixpoint
    round.
    The labels come back as an Arrow-built JVM relation
    (:func:`~iceberg_compaction_spark.sources.scan.driver_frame`), so
    the queries that read them run no Python worker.  Above the ceiling
    the distributed algorithm below runs with no driver bound:

    Min-label propagation with pointer jumping: each round a node takes
    the min of (its label, its neighbors' labels, its LABEL'S label).
    The last term is the pointer-doubling trick — label chains halve
    every round, so convergence is O(log diameter) rounds instead of
    O(diameter), the same asymptotic as the large-star/small-star CC
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond") with simpler per-round shapes: two shuffle-joins keyed on
    node id plus one groupBy-min with map-side partial aggregation.

    Two fixpoint-loop essentials: ``localCheckpoint`` (not persist)
    after each round — caching alone leaves the logical plan growing
    exponentially (round k's plan embeds round k-1's twice) until
    Catalyst analysis itself OOMs; and the per-round convergence count,
    the unavoidable driver action of any fixpoint algorithm (it reads
    one scalar, not the data).  On a real cluster prefer
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` for
    executor-loss fault tolerance; localCheckpoint keeps the local
    harness dependency-free.
    """
    # Materialize the (usually expensive) candidate-pair computation ONCE
    # before symmetrizing: the two union branches otherwise each embed the
    # full upstream pair join in their physical plan, so the edge build
    # runs it twice.  At corpus scale the pair join is the dominant cost
    # of the whole CC call — halving it is structural, not a micro-win.
    half_edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .dropDuplicates()
        .localCheckpoint()
    )
    # Small-graph fast path: the fixpoint loop below costs ~2 Spark jobs
    # per round of pure fixed overhead, which dominates when the survivor
    # pair graph is small (the common case — measured 4.4 s -> ~2 s on
    # the sf0.1 curation flagship).  The fast path reads the HALF edges
    # directly; the symmetrize + global dropDuplicates + second
    # localCheckpoint run only on the distributed path.  Each undirected
    # edge contributes 2 rows to the symmetrized set the driver_max_edges
    # threshold was calibrated against, so at most half of it may come
    # back.  Collecting one edge past that cap decides the path in the
    # same job that fetches the edges — a separate count() cost two more
    # jobs (an AQE stage plus its result) — and an over-cap graph goes on
    # from the same checkpoint, so the pairs are never computed twice.
    # ``toArrow`` runs the limit as ONE job whatever the partition count
    # (``collect`` would scan partitions in growing batches, a job each).
    cap = max(driver_max_edges, 0) // 2
    head = half_edges.limit(cap + 1).toArrow()
    if head.num_rows == 0:
        # clean corpus: no pairs, no components — skip the fixpoint loop
        return half_edges.select(
            F.col("src").alias("doc_id"), F.col("dst").alias("component_id")
        )
    if head.num_rows <= cap:
        # the SQL ``src != dst`` filter: self-loops and null ends drop out
        half = [
            (a, b)
            for a, b in zip(head["src"].to_pylist(), head["dst"].to_pylist())
            if a is not None and b is not None and a != b
        ]
        comp = _union_find_components(half)
        return driver_frame(
            pairs.sparkSession,
            sorted(comp.items()),
            "doc_id long, component_id long",
        )
    edges = (
        half_edges.union(
            half_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .dropDuplicates()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )

    for _ in range(max_iters):
        neighbor = edges.join(
            labels, edges["src"] == labels["node"]
        ).select(F.col("dst").alias("node"), "lbl")
        jumped = (
            labels.alias("x")
            .join(labels.alias("y"), F.col("x.lbl") == F.col("y.node"))
            .select(F.col("x.node").alias("node"), F.col("y.lbl").alias("lbl"))
        )
        # Convergence detection rides the SAME aggregation (r16, guide
        # §2.4): the labels branch carries its current label in an
        # `old` column (every node has exactly one labels row, so
        # max(old) recovers it; the other branches contribute NULLs),
        # and `changed` becomes a filter-count over the checkpointed
        # result — the r15 form re-joined new_labels against labels
        # every round, one extra join job per iteration.
        null_old = F.lit(None).cast(labels.schema["lbl"].dataType)
        new_labels = (
            labels.withColumn("old", F.col("lbl"))
            .unionByName(neighbor.withColumn("old", null_old))
            .unionByName(jumped.withColumn("old", null_old))
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"), F.max("old").alias("old"))
            .localCheckpoint()
        )
        changed = new_labels.where(F.col("lbl") != F.col("old")).count()
        labels = new_labels.select("node", "lbl")
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("component_id")
    )


# --- benchmark decontamination ---------------------------------------------


def contamination_hits(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bench_mod: int = 97,
) -> DataFrame:
    """Test-set decontamination scan: for every corpus document, how many
    of its distinct word n-gram shingles appear anywhere in the benchmark
    partition (here: ``id % bench_mod == 0``, standing in for an eval
    set).  Standard practice before training-data release (GPT-3 appendix
    C / PaLM §C): docs with high overlap get dropped or flagged.

    Output: (doc_id, n_hit_shingles) for corpus docs with >= 1 hit.

    Scale shape: the benchmark shingle vocabulary is tiny next to the
    corpus (eval sets are thousands of docs, corpora are billions), so it
    is deduped then BROADCAST — the corpus side never shuffles for the
    join, and the per-doc count partial-aggregates map-side.
    """
    sets = shingle_sets(df, id_col, text_col, n)
    sh = sets.select(F.col(id_col), F.explode("shs").alias("shingle"))
    bench_vocab = (
        sh.where(F.col(id_col) % bench_mod == 0)
        .select("shingle")
        .dropDuplicates()
    )
    corpus = sh.where(F.col(id_col) % bench_mod != 0)
    return (
        corpus.join(F.broadcast(bench_vocab), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )


# --- prefix-filtered exact Jaccard (AllPairs / PPJoin) ----------------------


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_ppm: int = 100000,
) -> DataFrame:
    """Exact Jaccard pairs >= threshold via prefix filtering — same output
    contract as :func:`jaccard_pairs`, different candidate generation:
    the AllPairs/PPJoin bound (Bayardo et al. WWW'07; Xiao et al.
    WWW'08).  Order every doc's shingles by ascending global document
    frequency; two sets with Jaccard >= t MUST share a shingle within
    each one's first ``sz - ceil(t*sz) + 1`` shingles (else their overlap
    is provably < t*max(|A|,|B|)).  Joining only on prefix shingles kills
    the hot-shingle df^2 blowup twice over: prefixes are ~(1-t) of each
    set, and the global-frequency order pushes them onto the RARE end of
    the vocabulary.  Measured on the sf0.1 fixture at t=0.6: 1.40M
    classic candidates -> 0.37M.  Candidates are then verified by
    :func:`verify_candidates` (an exact array_intersect against the full
    shingle sets), so the output is identical to the classic
    inverted-index join (same oracle SQL).

    The prefix length uses pure integer arithmetic —
    ``sz - ceil_div(threshold_ppm * sz, 1e6) + 1`` — because a float
    ``ceil(0.6 * sz)`` can land on either side of an exact multiple and
    silently shrink the prefix below the safe bound (a missed-pair bug,
    not a perf bug).
    """
    sets = shingle_sets(df, id_col, text_col, n)  # (id, shs, sz)
    sh = sets.select(F.col(id_col), F.explode("shs").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfr"))
    # prefix = the (sz - ceil(t*sz) + 1) globally-rarest shingles of each
    # doc; (dfr, shingle) is a total order so both sides sort identically
    pre = (
        sh.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("dfr", "shingle")).alias("items"))
        .withColumn("items", F.array_sort("items"))
        .withColumn("sz", F.size("items"))
        .withColumn(
            "plen",
            F.expr(
                f"sz - ((sz * CAST({threshold_ppm} AS BIGINT) + 999999)"
                " div 1000000) + 1"
            ),
        )
        .select(
            F.col(id_col),
            F.col("sz"),
            F.explode(
                F.transform(
                    F.slice(F.col("items"), F.lit(1), F.col("plen")),
                    lambda s: s["shingle"],
                )
            ).alias("shingle"),
        )
    )
    ca = pre.select(
        F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "shingle"
    )
    cb = pre.select(
        F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "shingle"
    )
    cand = (
        ca.join(cb, "shingle")
        .where(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J >= t forces min(sz)/max(sz) >= t
            & (
                F.least("sz_a", "sz_b") * 1000000
                >= F.greatest("sz_a", "sz_b") * threshold_ppm
            )
        )
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    return verify_candidates(
        cand, sets, JACCARD_PPM_SQL, "jaccard_ppm", threshold_ppm, id_col
    )


def canonical_exact_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Quality-aware canonical selection for exact-dup groups: keep the
    LONGEST variant of each normalized-content group (a trailing-space
    or casing twin of a longer original loses), ties broken by lowest
    id.  This is the curation policy real pipelines want — min-id keeps
    whichever copy crawled first; longest keeps the most complete one.

    Window-free: ``min(struct(-len, id))`` per fingerprint is ONE
    groupBy with a map-side partial combine (structs compare
    lexicographically), vs a rank-1 window that would shuffle and sort
    every row — the same aggregate-instead-of-window shape as
    argmin_cheapest_supplier, at corpus scale a single exchange keyed
    on the fingerprint.

    Output: (content_fp, canonical_id, canonical_len, n_docs).
    """
    from iceberg_compaction_spark.operators.text import normalize_text

    g = df.select(
        F.col(id_col),
        F.md5(normalize_text(F.col(text_col))).alias("content_fp"),
        F.length(F.col(text_col)).cast("long").alias("len"),
    )
    best = g.groupBy("content_fp").agg(
        F.min(
            F.struct(
                (-F.col("len")).alias("nl"), F.col(id_col).alias("i")
            )
        ).alias("b"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return best.select(
        "content_fp",
        F.col("b.i").cast("long").alias("canonical_id"),
        (-F.col("b.nl")).cast("long").alias("canonical_len"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def span_dup_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact shared-span coverage: for each document, how much of it is
    k-token text that appears VERBATIM in at least one other document.

    This is the span-level (suffix-array-style) dedup signal — the
    measure behind substring-dedup pipelines: near-dup methods (minhash,
    simhash) score whole documents, but boilerplate/licenses/quoted
    passages duplicate at the SPAN level inside otherwise-unique
    documents, and those spans are what a trained model memorizes.  The
    distributed formulation replaces the suffix array with positional
    k-shingle hashes: a shingle occurring in >= 2 distinct documents is
    a duplicated span window.

    Output: ``(doc_id, total_shingles, dup_shingles, dup_ppm)`` for
    every document with at least ``k`` tokens; ``dup_ppm`` is the
    integer-exact duplicated-shingle fraction (floor ppm).

    Scale shape: one explode fan-out of the shingle stream (the
    honest cost — a 100 TB corpus has ~100 TB of shingle hashes), one
    hash-partitioned count per (shingle, doc) with map-side partial
    aggregation, then the "appears in >= 2 distinct docs" predicate as
    ``min(doc_id) != max(doc_id)`` over a WINDOW on the reduced set's
    h partition (r16 — the corpus-sized lineage runs once; the join
    formulation re-evaluated it per consumer).  No driver
    materialization, no quadratic pair set.

    Round-15 cost cuts (VERDICT r14 #1), both shape-preserving:
    ``total_shingles`` is ARITHMETIC (``n_tokens - k + 1`` per row —
    the stream's per-doc cardinality is known without streaming it),
    which deletes one full recomputation of the shingle stream plus a
    groupBy exchange; and the shingle key is ``xxhash64`` over the
    token-slice ARRAY — an 8-byte shuffle/join key with no
    per-window string materialization, vs the md5-hex 32-char string
    (the hash is engine-internal: the oracle derives its dup set from
    its own hashing of the same shingle STRINGS, so results stay
    string-exact; a 64-bit collision marking a span duplicated has
    probability ~n²/2⁶⁵ — negligible against corpus sizes, and zero
    effect unless the two colliding windows sit in different docs).
    ``doc_id`` is assumed unique per row (the documents contract).

    ``max_df`` caps the document frequency of shingles that COUNT as
    duplicated (stop-shingle treatment, mirroring ``jaccard_pairs``):
    a boilerplate shingle present in millions of documents is dropped
    from the dup set, bounding the fan-in of the stream-vs-dup-set
    join without relying on AQE skew splitting.  Coverage is then
    "share of spans duplicated in 2..max_df docs"; None keeps the
    exact semantics.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # MATERIALIZE the token array (and the per-token hashes) as real
    # columns BEFORE the window expansion.  Referencing the split
    # expression from inside the transform lambda re-evaluates the
    # whole tokenization PER WINDOW (higher-order functions are
    # interpreted, no cross-element CSE) — measured 3-4x of this
    # operator's map stage.  CollapseProject keeps the staging projects
    # separate because the aliases are referenced more than once.
    base = (
        df.where(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col), toks.alias("__t"))
        .where(F.size("__t") >= k)
        .select(
            F.col(id_col),
            F.size("__t").alias("__n"),
            F.transform("__t", lambda x: F.xxhash64(x)).alias("__th"),
        )
    )
    # TOTAL expression (empty index array when n < k), not a bare
    # partial expression: Catalyst's infer-filters-from-generate can
    # evaluate the generator input eagerly on rows a filter would drop
    idx = F.when(
        F.col("__n") >= k, F.sequence(F.lit(0), F.col("__n") - k)
    ).otherwise(F.array().cast("array<int>"))
    # window key = hash over the k per-token hashes (a slice of longs,
    # not k re-materialized strings)
    shingles = F.transform(
        idx,
        lambda i: F.xxhash64(F.slice(F.col("__th"), i + 1, k)),
    )
    sh = base.select(F.col(id_col), F.explode(shingles).alias("h"))
    # ONE pass over the raw stream: reduce to per-(shingle, doc)
    # occurrence counts first (map-side combinable).
    g = sh.groupBy("h", id_col).agg(F.count(F.lit(1)).alias("__c"))
    # r16 (guide §7.2 duplicated subtree): the r15 shape derived the
    # duplicated-shingle set as a SECOND aggregation over `g` and
    # joined it back — but `g` fed two consumers and Catalyst has no
    # plan-level CSE across them, so the whole corpus-sized
    # tokenize+hash+explode lineage (and its full-stream exchange) ran
    # TWICE (3 documents scans in the physical plan).  The dup decision
    # is a per-h-group predicate, so it rides a WINDOW over the reduced
    # (h, doc, count) set instead: one corpus map pass, one full-stream
    # exchange, then a reduced-set exchange + per-h sort (spillable —
    # no per-group buffering, hot boilerplate shingles can't OOM a
    # task).  Values are identical: min/max (or row-count) over the h
    # partition equal the grouped min/max (count) the join form used.
    from pyspark.sql import Window as _W

    _w = _W.partitionBy("h")
    if max_df is None:
        # ">= 2 distinct docs" as min != max over the h partition.
        dup_flag = F.min(id_col).over(_w) != F.max(id_col).over(_w)
    else:
        # g's rows are distinct (h, doc) pairs by construction, so the
        # partition row-count IS the distinct-doc frequency.
        _df = F.count(F.lit(1)).over(_w)
        dup_flag = (_df >= 2) & (_df <= max_df)
    # per-doc stream cardinality is n - k + 1 by construction: compute
    # it arithmetically instead of re-streaming + re-aggregating the
    # whole shingle fan-out (one full pass and one exchange deleted)
    tot = base.select(
        F.col(id_col),
        (F.col("__n") - k + 1).cast("long").alias("total_shingles"),
    )
    d = (
        g.withColumn("__dup", dup_flag)
        .where(F.col("__dup"))
        .groupBy(id_col)
        .agg(F.sum("__c").alias("dup_shingles"))
    )
    return (
        tot.join(d, id_col, "left")
        .select(
            F.col(id_col),
            F.col("total_shingles").cast("long").alias("total_shingles"),
            F.coalesce(F.col("dup_shingles"), F.lit(0))
            .cast("long")
            .alias("dup_shingles"),
            F.floor(
                1e6
                * F.coalesce(F.col("dup_shingles"), F.lit(0))
                / F.col("total_shingles")
            )
            .cast("long")
            .alias("dup_ppm"),
        )
    )


def dedup_lines_across_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 30,
) -> DataFrame:
    """C4-style cross-document LINE deduplication (round 12; Raffel et
    al., arXiv:1910.10683 §2.2: "we discarded all but one of any
    three-sentence span occurring more than once", applied here at
    line granularity like most open reproductions): every line of
    ``min_line_chars`` or more that occurs in MULTIPLE places in the
    corpus is kept only at its FIRST occurrence (lowest (doc, position)
    — deterministic) and removed everywhere else; short lines are never
    deduped (boilerplate-length fragments like blank lines would
    otherwise cross-link every document).  Documents are reassembled
    with their surviving lines in original order; a document whose
    every line was removed still emits with empty text (corpus
    bookkeeping: downstream filters drop empties explicitly).

    Returns ``(id_col, text, n_lines, n_removed)``.

    Spark-first shape: one posexplode (corpus -> lines), ONE window
    over the line key to rank occurrences (hash shuffle on the line —
    the same key a groupBy would shuffle on, but rank-in-place avoids
    the join back), then a groupBy(doc) reassembly with
    ``array_sort(collect_list(struct(pos, line)))`` so order never
    depends on shuffle arrival.  No Python in the row path; the line
    key could be swapped for a hash at 100 TB to shrink shuffle bytes
    (md5 keeps the oracle cross-engine)."""
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    dedupable = F.length("line") >= int(min_line_chars)
    w = Window.partitionBy("line").orderBy(F.asc(id_col), F.asc("pos"))
    ranked = lines.withColumn(
        "rk",
        F.when(dedupable, F.row_number().over(w)).otherwise(F.lit(1)),
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("rk") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rk") == 1,
                                F.struct(
                                    F.col("pos"), F.col("line")
                                ),
                            )
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
            ).alias(text_col),
        )
        .select(
            id_col,
            text_col,
            F.col("n_lines").cast("long").alias("n_lines"),
            "n_removed",
        )
    )
