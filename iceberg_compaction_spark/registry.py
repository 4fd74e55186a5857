"""Query + oracle registry backing ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 (plus the LLM-pipeline
extensions) registers a Spark callable and, when SQL-expressible, a
DuckDB oracle string computing the identical result.  Cross-engine
determinism rules used throughout:

- similarities/ratios as integer ppm: ``floor(1e6 * x)`` over doubles
  derived from identical integer/float inputs (bit-identical both sides);
- hashes via md5 (identical everywhere), int-valued via first 8 hex chars;
- ties broken by explicit id ordering;
- timestamps projected as DATE or field-extracted ints.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_compaction_spark.operators import corpus as cp
from iceberg_compaction_spark.operators import dedup as dd
from iceberg_compaction_spark.operators import similarity as sim
from iceberg_compaction_spark.operators import synthetic as syn
from iceberg_compaction_spark.operators import text as tx
from iceberg_compaction_spark.operators.mor import (
    EqualityDeleteTable,
    apply_equality_deletes,
    apply_position_deletes,
)
from iceberg_compaction_spark.sources.scan import (
    driver_frame,
    read_listed_parquet,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _spread(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition when the source yields (far) fewer scan
    splits than cores — single-row-group test files otherwise serialize
    every compute-heavy narrow op onto one task (6x slowdown measured on
    text_quality at sf0.1).  The split estimate comes straight from the
    filesystem (bytes / maxPartitionBytes), costing no Spark planning;
    at production scale a table has orders of magnitude more splits than
    cores, so the condition never triggers and no exchange is added."""
    import os

    cores = spark.sparkContext.defaultParallelism
    mpb = 128 * 1024 * 1024  # spark.sql.files.maxPartitionBytes default
    try:
        if os.path.isdir(path):
            # Spark-written table directory (the scaled fixtures): the
            # dir entry's own size says nothing — sum the part files
            size = sum(
                e.stat().st_size
                for e in os.scandir(path)
                if e.name.endswith(".parquet")
            )
        else:
            size = os.path.getsize(path)
        est_splits = max(1, size // mpb)
    except OSError:
        return df
    if est_splits < max(2, cores // 2):
        return df.repartition(cores)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # canonicalize dtypes at the read boundary (the events fixture's ts
    # type changed across rounds — cheap insurance that an int32 doc_id
    # or varchar-typed text never breaks 20 downstream queries)
    p = f"{sf_dir}/documents.parquet"
    df = read_listed_parquet(spark, [p]).withColumn(
        "doc_id", F.col("doc_id").cast("long")
    ).withColumn("text", F.col("text").cast("string"))
    return _spread(spark, df, p)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # raw (unspread): the ANN queries broadcast a side derived from this
    # scan, and a repartition in the lineage would serialize the
    # broadcast behind the exchange.  The quadratic pair queries spread
    # explicitly (_emb_spread) where the compute amortizes it 4-8x.
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _emb_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = f"{sf_dir}/embeddings.parquet"
    return _spread(spark, spark.read.parquet(p), p)


# ===========================================================================
# MOR core (S1/S8/S9, J1, J2, P1, A1) — SURVEY §2.1-2.3
# ===========================================================================

EQ_KEYS = ["l_orderkey", "l_linenumber"]

_MOR_EQ_WHERE = f"""NOT EXISTS (
    SELECT 1 FROM (
        SELECT DISTINCT l_orderkey AS k1, l_linenumber AS k2
        FROM lineitem WHERE {syn.EQ_KEY_RULE_SQL}
    ) e
    WHERE e.k1 = d.l_orderkey AND e.k2 = d.l_linenumber
      AND d.seq < {syn.EQ_DELETE_SEQ}
)"""

_MOR_FULL_SQL = f"""
    WITH d AS (SELECT *, {syn.SEQ_RULE_SQL} AS seq FROM lineitem)
    SELECT {syn.OUTPUT_COLS_SQL} FROM d
    WHERE NOT {syn.POS_RULE_SQL} AND {_MOR_EQ_WHERE}
"""


@register("mor_no_deletes", f"SELECT {syn.OUTPUT_COLS_SQL} FROM lineitem")
def q_mor_no_deletes(spark, sf_dir):
    """P1: projection-only scan."""
    return syn.output_select(spark.read.parquet(syn.lineitem_path(sf_dir)))


@register(
    "mor_pos_delete",
    f"SELECT {syn.OUTPUT_COLS_SQL} FROM lineitem WHERE NOT {syn.POS_RULE_SQL}",
)
def q_mor_pos_delete(spark, sf_dir):
    """J1: anti-join on (sys_hidden_file_path, sys_hidden_pos)."""
    data = syn.read_lineitem_with_hidden(spark, sf_dir)
    pos = syn.position_delete_table(spark, sf_dir)
    return syn.output_select(apply_position_deletes(data, pos, broadcast=True))


@register(
    "mor_eq_delete",
    f"""
    WITH d AS (SELECT *, {syn.SEQ_RULE_SQL} AS seq FROM lineitem)
    SELECT {syn.OUTPUT_COLS_SQL} FROM d WHERE {_MOR_EQ_WHERE}
    """,
)
def q_mor_eq_delete(spark, sf_dir):
    """J2: anti-join on equality keys + strict seq residual."""
    data = syn.read_lineitem_with_hidden(spark, sf_dir)
    eq = EqualityDeleteTable(
        df=syn.equality_delete_table(spark, sf_dir), equality_keys=EQ_KEYS
    )
    return syn.output_select(apply_equality_deletes(data, eq, broadcast=True))


@register("mor_full", _MOR_FULL_SQL)
def q_mor_full(spark, sf_dir):
    """Flagship: full MOR rewrite (J1 innermost, then J2, then P1)."""
    data = syn.read_lineitem_with_hidden(spark, sf_dir)
    pos = syn.position_delete_table(spark, sf_dir)
    eq = EqualityDeleteTable(
        df=syn.equality_delete_table(spark, sf_dir), equality_keys=EQ_KEYS
    )
    out = apply_position_deletes(data, pos, broadcast=True)
    out = apply_equality_deletes(out, eq, broadcast=True)
    return syn.output_select(out)


@register(
    "validate_counts",
    f"""
    SELECT (SELECT COUNT(*) FROM lineitem) AS input_rows,
           (SELECT COUNT(*) FROM ({_MOR_FULL_SQL}) s) AS output_rows
    """,
)
def q_validate_counts(spark, sf_dir):
    """A1: row-count validation."""
    input_rows = spark.read.parquet(syn.lineitem_path(sf_dir)).agg(
        F.count(F.lit(1)).alias("input_rows")
    )
    survivors = q_mor_full(spark, sf_dir).agg(F.count(F.lit(1)).alias("output_rows"))
    return input_rows.crossJoin(survivors)


@register(
    "mor_after_rename",
    """
    SELECT l_orderkey, l_linenumber, l_quantity,
           CASE WHEN l_orderkey % 2 <> 0 THEN l_discount END AS l_discount
    FROM lineitem
    """,
)
def q_mor_after_rename(spark, sf_dir):
    """Field-id schema evolution through the scan/MOR path (VERDICT r6
    #1; reference: datafusion_processor.rs:741-774): a real
    Iceberg-metadata table whose files straddle a column RENAME
    (quantity -> l_quantity) and ADD (l_discount) — the pre-rename file
    must resolve by FIELD ID (sources/schema_evo.py), yielding the
    renamed column's values and NULL for the added column, matching the
    oracle's reconstruction from the raw fixture.

    Scale shape: resolution is Spark's native parquet field-id matching
    (requested-schema metadata, JVM-side, whole-stage codegen intact) —
    no Python in the row path, no shuffle added."""
    from iceberg_compaction_spark.sources.iceberg_meta import (
        load_iceberg_table,
    )
    from iceberg_compaction_spark.sources.ingest import read_table_mor

    tdir = syn.evolution_table_dir(sf_dir)
    return read_table_mor(spark, load_iceberg_table(tdir))


@register(
    "mor_nested_rename",
    """
    SELECT doc_id,
      CASE WHEN doc_id % 2 = 0 AND doc_id % 7 = 0 THEN NULL
           ELSE ['en','fr','de'][(doc_id % 3) + 1] END AS language,
      CASE WHEN doc_id % 2 = 0 AND doc_id % 7 = 0 THEN NULL
           ELSE doc_id % 100 END AS score,
      CASE WHEN doc_id % 2 <> 0 THEN length(text) END AS tokens
    FROM documents
    """,
)
def q_mor_nested_rename(spark, sf_dir):
    """NESTED-struct field-id schema evolution (round 8; VERDICT r7 #2):
    a catalog table whose files straddle a rename of a struct AND of a
    child inside it, a child int->long promotion, and a child add —
    resolved per file by CHILD field id in the DataSource's executor-
    side Arrow remap (schema_evo._remap_struct_array).  The reference
    threads nested schemas opaquely (datafusion_processor.rs:741-774);
    this resolves them, exceeding parity.  The oracle reconstructs the
    flattened projection from raw ``documents`` via the same
    deterministic rules the fixture builder used.

    Scale shape: the projection is built once per file from its footer
    and applied per batch as zero-copy child selection/rename on
    executors — no shuffle, no driver involvement, embarrassingly
    parallel across files."""
    from iceberg_compaction_spark.sources.datasource import register as _reg

    wh = syn.nested_evolution_warehouse(sf_dir)
    _reg(spark)
    df = (
        spark.read.format("iceberg-table")
        .option("warehouse", wh)
        .option("table", "docs_nested")
        .load()
    )
    return df.select(
        "doc_id",
        F.col("info.language").alias("language"),
        F.col("info.score").alias("score"),
        F.col("info.tokens").alias("tokens"),
    )


# ===========================================================================
# Text analysis (extensions)
# ===========================================================================

_NORM = "regexp_replace(trim(lower(text)),'\\s+',' ','g')"
_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"
_STOPS = "['" + "','".join(tx.ENGLISH_STOPWORDS) + "']"


@register(
    "text_token_count",
    f"""
    SELECT doc_id,
      CAST(CASE WHEN trim(text)='' THEN 0 ELSE len({_TOKS}) END AS INTEGER) AS ws_tokens,
      CAST(len(regexp_extract_all(text, '{tx.BPE_TOKEN_RE}')) AS INTEGER) AS bpe_tokens
    FROM documents
    """,
)
def q_text_token_count(spark, sf_dir):
    return tx.with_token_counts(_docs(spark, sf_dir)).select(
        "doc_id", "ws_tokens", "bpe_tokens"
    )


@register(
    "text_quality",
    f"""
    WITH b AS (
      SELECT doc_id,
        length(text) AS n,
        greatest(length(text),1) AS n_safe,
        length(regexp_replace(text,'[^A-Za-z]','','g')) AS alpha,
        length(regexp_replace(text,'[^0-9]','','g')) AS digit,
        length(regexp_replace(text,'[^ ]','','g')) AS space,
        CASE WHEN trim(text)='' THEN 0 ELSE len({_TOKS}) END AS n_toks,
        len(list_filter({_TOKS}, x -> list_contains({_STOPS}, x))) AS stops
      FROM documents
    ), c AS (
      SELECT *, greatest(n_toks,1) AS n_toks_safe FROM b
    )
    SELECT doc_id,
      CAST(n AS INTEGER) AS n_chars_c,
      CAST(n_toks AS INTEGER) AS n_tokens,
      CAST(FLOOR(1000000*(alpha*1.0/n_safe)) AS BIGINT) AS alpha_ppm,
      CAST(FLOOR(1000000*(digit*1.0/n_safe)) AS BIGINT) AS digit_ppm,
      CAST(FLOOR(1000000*(space*1.0/n_safe)) AS BIGINT) AS space_ppm,
      CAST(FLOOR(1000000*(stops*1.0/n_toks_safe)) AS BIGINT) AS stopword_ppm,
      CAST(FLOOR(1000000*((alpha+digit)*1.0/n_toks_safe)) AS BIGINT) AS avg_token_len_ppm,
      CAST(FLOOR(1000000*least(greatest(
            alpha*1.0/n_safe + least(stops*1.0/n_toks_safe, 0.2)
            + least(space*1.0/n_safe, 0.25) - digit*1.0/n_safe, 0.0), 1.0)) AS BIGINT)
        AS quality_ppm
    FROM c
    """,
)
def q_text_quality(spark, sf_dir):
    return tx.with_quality(_docs(spark, sf_dir)).select(
        "doc_id",
        "n_chars_c",
        "n_tokens",
        "alpha_ppm",
        "digit_ppm",
        "space_ppm",
        "stopword_ppm",
        "avg_token_len_ppm",
        "quality_ppm",
    )


def _lang_scores_sql() -> str:
    parts = []
    for name, words in tx.LANG_PROFILES:
        lst = "['" + "','".join(words) + "']"
        parts.append(
            f"CAST(len(list_filter({_TOKS}, x -> list_contains({lst}, x))) AS INTEGER)"
            f" AS score_{name}"
        )
    return ", ".join(parts)


@register(
    "text_langid",
    f"""
    WITH s AS (SELECT doc_id, {_lang_scores_sql()} FROM documents)
    SELECT doc_id, score_en, score_db, score_ops, score_perf,
      CASE WHEN score_perf > greatest(score_en, score_db, score_ops) THEN 'perf'
           WHEN score_ops  > greatest(score_en, score_db) THEN 'ops'
           WHEN score_db   > score_en THEN 'db'
           ELSE 'en' END AS pred_lang,
      greatest(score_en, score_db, score_ops, score_perf) AS pred_score
    FROM s
    """,
)
def q_text_langid(spark, sf_dir):
    return tx.with_language_id(_docs(spark, sf_dir)).select(
        "doc_id", "score_en", "score_db", "score_ops", "score_perf",
        "pred_lang", "pred_score",
    )


@register(
    "text_langid_confusion",
    f"""
    WITH s AS (SELECT doc_id, lang, {_lang_scores_sql()} FROM documents),
    p AS (
      SELECT lang,
        CASE WHEN score_perf > greatest(score_en, score_db, score_ops) THEN 'perf'
             WHEN score_ops  > greatest(score_en, score_db) THEN 'ops'
             WHEN score_db   > score_en THEN 'db'
             ELSE 'en' END AS pred_lang
      FROM s
    )
    SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY lang, pred_lang
    """,
)
def q_text_langid_confusion(spark, sf_dir):
    """Classifier-evaluation rollup: ground-truth lang x predicted lang
    counts — the confusion matrix a data-quality pipeline monitors.  One
    partial-aggregated groupBy over the narrow langid projection."""
    docs = _docs(spark, sf_dir)
    pred = tx.with_language_id(docs).select("lang", "pred_lang")
    return pred.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id, md5({_NORM}) AS content_fp,
      md5(array_to_string(list_slice(string_split({_NORM}, ' '), 1, 2), ' ')) AS prefix_fp
    FROM documents
    """,
)
def q_text_fingerprint(spark, sf_dir):
    return tx.with_fingerprints(_docs(spark, sf_dir)).select(
        "doc_id", "content_fp", "prefix_fp"
    )


# ===========================================================================
# Dedup (extensions)
# ===========================================================================

_SHINGLES = f"""
  sh AS (
    SELECT DISTINCT doc_id,
      array_to_string(list_slice(toks, i, i+2), ' ') AS shingle
    FROM (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents) d,
         LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-2,1))) AS i) g
  )
"""

_JACCARD = f"""
  WITH {_SHINGLES},
  sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
    FROM sh a JOIN sh b USING (shingle)
    WHERE a.doc_id < b.doc_id GROUP BY 1, 2
  ),
  jac AS (
    SELECT id_a, id_b,
      CAST(FLOOR(c*1000000.0/(sa.sz+sb.sz-c)) AS BIGINT) AS jaccard_ppm
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
  )
"""

JACCARD_THRESHOLD_PPM = 600000


@register(
    "dedup_exact",
    f"""
    SELECT md5({_NORM}) AS content_fp, min(doc_id) AS keep_id,
           count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark, sf_dir):
    return dd.exact_dedup_groups(_docs(spark, sf_dir))


@register(
    "dedup_ngram_jaccard",
    f"{_JACCARD} SELECT id_a, id_b, jaccard_ppm FROM jac "
    f"WHERE jaccard_ppm >= {JACCARD_THRESHOLD_PPM}",
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    return dd.jaccard_pairs(
        _docs(spark, sf_dir), threshold_ppm=JACCARD_THRESHOLD_PPM
    )


def _minhash_ctes() -> str:
    """The minhash/banding CTE chain (appended to ``_JACCARD``): ends at
    ``cands`` (the deterministic LSH candidate set) so both the
    dedup_minhash_lsh query and the curation flagship can build on it."""
    sig_exprs = ", ".join(
        f"min(({a}*h + {b}) % {dd.MERSENNE_P}) AS sig_{i}"
        for i, (a, b) in enumerate(dd.hash_params())
    )
    n_bands = dd.DEFAULT_NUM_HASHES // dd.DEFAULT_BAND_SIZE
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, md5(concat_ws('_', '{j}', "
        + ", ".join(
            f"CAST(sig_{j * dd.DEFAULT_BAND_SIZE + k} AS VARCHAR)"
            for k in range(dd.DEFAULT_BAND_SIZE)
        )
        + ")) AS band_key FROM sigs"
        for j in range(n_bands)
    )
    return f"""
    {_JACCARD},
    hs AS (SELECT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM sh),
    sigs AS (SELECT doc_id, {sig_exprs} FROM hs GROUP BY doc_id),
    bands AS ({band_selects}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b USING (band_key)
      WHERE a.doc_id < b.doc_id
    )"""


def _minhash_sql() -> str:
    return f"""
    {_minhash_ctes()}
    SELECT j.id_a, j.id_b, j.jaccard_ppm
    FROM jac j JOIN cands c ON c.id_a = j.id_a AND c.id_b = j.id_b
    WHERE j.jaccard_ppm >= {JACCARD_THRESHOLD_PPM}
    """


@register("dedup_minhash_lsh", _minhash_sql())
def q_dedup_minhash_lsh(spark, sf_dir):
    return dd.minhash_lsh_dedup_pairs(
        _docs(spark, sf_dir), threshold_ppm=JACCARD_THRESHOLD_PPM
    )


def _simhash_sql(bits: int = 16) -> str:
    votes = ", ".join(
        f"CAST(sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" AS BIGINT) AS v_{j}"
        for j in range(bits)
    )
    total = " + ".join(
        f"CASE WHEN v_{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
    ),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok),1,8))::BIGINT AS h FROM t),
    votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM votes
    """


@register("dedup_simhash", _simhash_sql())
def q_dedup_simhash(spark, sf_dir):
    return dd.simhash(_docs(spark, sf_dir))


SIMHASH_PAIR_BITS = 32
SIMHASH_MAX_HAMMING = 3


def _simhash_pairs_sql(bits: int = SIMHASH_PAIR_BITS) -> str:
    # Oracle is the quadratic formulation (fine at sf0.01); the Spark side
    # runs the banded Hamming-LSH scale path — identical output by the
    # pigeonhole guarantee (dedup.simhash_banded_pairs).
    fingerprints = _simhash_sql(bits).strip()
    return f"""
    WITH fp AS ({fingerprints})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """


@register("dedup_simhash_pairs", _simhash_pairs_sql())
def q_dedup_simhash_pairs(spark, sf_dir):
    return dd.simhash_banded_pairs(
        _docs(spark, sf_dir),
        bits=SIMHASH_PAIR_BITS,
        max_hamming=SIMHASH_MAX_HAMMING,
    )


EMB_PAIR_THRESHOLD_PPM = 350000

_COS = (
    "CAST(FLOOR(1000000 * list_dot_product({a},{b}) / "
    "(sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b})))) AS BIGINT)"
)


@register(
    "dedup_embedding",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      {_COS.format(a="a.v", b="b.v")} AS cos_ppm
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND {_COS.format(a="a.v", b="b.v")} >= {EMB_PAIR_THRESHOLD_PPM}
    """,
)
def q_dedup_embedding(spark, sf_dir):
    return sim.cosine_pairs(_emb_spread(spark, sf_dir), EMB_PAIR_THRESHOLD_PPM)


@register(
    "pipeline_corpus_filter",
    f"""
    WITH keepers AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM})
    ),
    kept AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
    q AS (
      SELECT doc_id,
        CASE WHEN trim(text)='' THEN 0 ELSE len({_TOKS}) END AS n_toks,
        len(list_filter({_TOKS}, x -> list_contains({_STOPS}, x))) AS stops
      FROM kept
    ),
    qq AS (
      SELECT doc_id, CAST(n_toks AS INTEGER) AS n_tokens,
        CAST(FLOOR(1000000*(stops*1.0/greatest(n_toks,1))) AS BIGINT)
          AS stopword_ppm
      FROM q
    ),
    l AS (
      SELECT doc_id, pred_lang FROM (
        SELECT doc_id, score_en, score_db, score_ops, score_perf,
          CASE WHEN score_perf > greatest(score_en, score_db, score_ops) THEN 'perf'
               WHEN score_ops  > greatest(score_en, score_db) THEN 'ops'
               WHEN score_db   > score_en THEN 'db'
               ELSE 'en' END AS pred_lang
        FROM (SELECT doc_id, {_lang_scores_sql()} FROM kept) s)
    )
    SELECT qq.doc_id, n_tokens, stopword_ppm, pred_lang
    FROM qq JOIN l ON qq.doc_id = l.doc_id
    WHERE n_tokens >= 40 AND stopword_ppm >= 50000
    """,
)
def q_pipeline_corpus_filter(spark, sf_dir):
    """Composed cleaning pipeline: exact-dedup survivors -> token-count
    and stopword-ratio gates -> language tag.  Quality and language are
    both narrow per-row projections over the SAME survivor rows, so
    they chain in one pass (r16, guide §2.4/§7.2): the previous
    two-branch + join form embedded the full exact_dedup lineage in
    BOTH branches — the corpus was scanned, fingerprint-shuffled and
    semi-joined twice, then re-joined on doc_id to glue columns the
    single pass already had side by side.  Same rows, same values; the
    join and one whole dedup evaluation are gone."""
    docs = _docs(spark, sf_dir)
    kept = dd.exact_dedup(docs)
    return (
        tx.with_language_id(tx.with_quality(kept))
        .where((F.col("n_tokens") >= 40) & (F.col("stopword_ppm") >= 50000))
        .select("doc_id", "n_tokens", "stopword_ppm", "pred_lang")
    )


# ===========================================================================
# Similarity search (extensions)
# ===========================================================================


@register(
    "ann_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id % 100 = 0),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, {_COS.format(a="qv", b="cv")} AS cos_ppm
      FROM q, c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cos_ppm, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 5
    """,
)
def q_ann_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return sim.brute_force_topk(emb, queries, k=5)


IVF_CENTROID_IDS = [1, 2, 3, 5]


def _centroids(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    m = {v: i for i, v in enumerate(IVF_CENTROID_IDS)}
    mapping = F.create_map(*[F.lit(x) for kv in m.items() for x in kv])
    return emb.where(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.element_at(mapping, F.col("vec_id")).cast("int").alias("cluster_id"),
        "embedding",
    )


def _ivf_sql(nprobe: int = 1) -> str:
    cent_case = " ".join(
        f"WHEN {v} THEN {i}" for i, v in enumerate(IVF_CENTROID_IDS)
    )
    ids = ", ".join(str(v) for v in IVF_CENTROID_IDS)
    return f"""
    WITH cent AS (
      SELECT CASE vec_id {cent_case} END AS cluster_id, embedding::DOUBLE[] AS centv
      FROM embeddings WHERE vec_id IN ({ids})
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
      SELECT vec_id, cluster_id, v FROM (
        SELECT v.vec_id, cent.cluster_id, v.v,
          row_number() OVER (PARTITION BY v.vec_id
            ORDER BY {_COS.format(a="v.v", b="cent.centv")} DESC, cent.cluster_id) AS rn
        FROM v, cent) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, cluster_id, v AS qv FROM (
        SELECT v.vec_id, cent.cluster_id, v.v,
          row_number() OVER (PARTITION BY v.vec_id
            ORDER BY {_COS.format(a="v.v", b="cent.centv")} DESC, cent.cluster_id) AS rn
        FROM v, cent WHERE v.vec_id % 100 = 0) WHERE rn <= {nprobe}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
        {_COS.format(a="q.qv", b="c.v")} AS cos_ppm
      FROM q JOIN assign c USING (cluster_id)
      WHERE q.query_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cos_ppm, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 5
    """


@register("ann_ivf", _ivf_sql())
def q_ann_ivf(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return sim.ivf_topk(emb, queries, _centroids(spark, sf_dir), k=5)


def _kmeans_iter_sql() -> str:
    cent_case = " ".join(
        f"WHEN {v} THEN {i}" for i, v in enumerate(IVF_CENTROID_IDS)
    )
    ids = ", ".join(str(v) for v in IVF_CENTROID_IDS)
    return f"""
    WITH cent AS (
      SELECT CASE vec_id {cent_case} END AS cluster_id, embedding::DOUBLE[] AS centv
      FROM embeddings WHERE vec_id IN ({ids})
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
      SELECT vec_id, cluster_id, v FROM (
        SELECT v.vec_id, cent.cluster_id, v.v,
          row_number() OVER (PARTITION BY v.vec_id
            ORDER BY {_COS.format(a="v.v", b="cent.centv")} DESC, cent.cluster_id) AS rn
        FROM v, cent) WHERE rn = 1
    ),
    ex AS (
      SELECT cluster_id,
             CAST(generate_subscripts(v, 1) - 1 AS INTEGER) AS pos,
             CAST(FLOOR(unnest(v) * 1000000) AS BIGINT) AS xm
      FROM assign
    )
    SELECT cluster_id, pos, COUNT(*) AS n_vectors,
           CAST(SUM(xm) AS BIGINT) AS sum_micro
    FROM ex GROUP BY 1, 2
    """


@register("ann_kmeans_iteration", _kmeans_iter_sql())
def q_ann_kmeans_iteration(spark, sf_dir):
    """One Lloyd k-means step from the fixed IVF centroid init —
    nearest-centroid assignment + per-(cluster, dimension) mean, the
    building block kmeans_train iterates (similarity.py:226).

    The update is emitted as exact integer sums (floor(x*1e6) summed as
    longs, with the count to divide by) rather than float means: long
    addition is order-independent, so the result hashes identically
    whatever partitioning/combiner order Spark or DuckDB uses — the
    same trick the events rollups use for value sums.  Scale shape:
    posexplode fans out n_vectors x dim rows, but map-side partial
    aggregation reduces each task to k x dim rows before the single
    shuffle."""
    assigned = sim.assign_clusters(
        _emb(spark, sf_dir), _centroids(spark, sf_dir)
    )
    return (
        assigned.select("cluster_id", F.posexplode("v").alias("pos", "x"))
        .withColumn("xm", F.floor(F.col("x") * 1000000).cast("long"))
        .groupBy("cluster_id", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("xm").alias("sum_micro"),
        )
        .select(
            "cluster_id",
            F.col("pos").cast("int").alias("pos"),
            "n_vectors",
            "sum_micro",
        )
    )


@register("ann_ivf_multiprobe", _ivf_sql(nprobe=2))
def q_ann_ivf_multiprobe(spark, sf_dir):
    """IVF with nprobe=2 (the FAISS recall knob): each query searches
    its two nearest clusters — ~2/k_centroids of the corpus instead of
    1/k_centroids, recovering neighbors that straddle a cluster
    boundary."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return sim.ivf_topk(
        emb, queries, _centroids(spark, sf_dir), k=5, nprobe=2
    )


# anchor-pair vec_ids defining the LSH hyperplanes (bit i: closer to a
# than b); 4 pairs -> 16 buckets
LSH_ANCHOR_PAIRS = [(1, 2), (3, 5), (7, 11), (13, 17)]


def _lsh_bucket_sql_bits() -> str:
    def adot(vid: int) -> str:
        return (
            f"list_dot_product(v, (SELECT embedding::DOUBLE[] "
            f"FROM embeddings WHERE vec_id = {vid}))"
        )

    return " + ".join(
        f"(CASE WHEN {adot(a)} >= {adot(b)} THEN {1 << i} ELSE 0 END)"
        for i, (a, b) in enumerate(LSH_ANCHOR_PAIRS)
    )


def _collect_anchor_pairs(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    anchor_ids = sorted({v for p in LSH_ANCHOR_PAIRS for v in p})
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id").isin(anchor_ids)).collect()
    }
    return [(vecs[a], vecs[b]) for a, b in LSH_ANCHOR_PAIRS]


def _dedup_embedding_lsh_sql() -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v,
          CAST({_lsh_bucket_sql_bits()} AS INTEGER) AS bucket FROM v)
    SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
      {_COS.format(a="a.v", b="b2.v")} AS cos_ppm
    FROM b a JOIN b b2 USING (bucket)
    WHERE a.vec_id < b2.vec_id
      AND {_COS.format(a="a.v", b="b2.v")} >= {EMB_PAIR_THRESHOLD_PPM}
    """


@register("dedup_embedding_lsh", _dedup_embedding_lsh_sql())
def q_dedup_embedding_lsh(spark, sf_dir):
    """Bucketed embedding near-dup: pairs scored only within LSH buckets
    (the scale path for dedup_embedding's quadratic scan)."""
    return sim.lsh_cosine_pairs(
        _emb_spread(spark, sf_dir),
        _collect_anchor_pairs(spark, sf_dir),
        EMB_PAIR_THRESHOLD_PPM,
    )


def _lsh_sql() -> str:
    def adot(vid: int) -> str:
        return (
            f"list_dot_product(v, (SELECT embedding::DOUBLE[] "
            f"FROM embeddings WHERE vec_id = {vid}))"
        )

    bits = " + ".join(
        f"(CASE WHEN {adot(a)} >= {adot(b)} THEN {1 << i} ELSE 0 END)"
        for i, (a, b) in enumerate(LSH_ANCHOR_PAIRS)
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, CAST({bits} AS INTEGER) AS bucket FROM v),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b
          WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
        {_COS.format(a="q.qv", b="c.v")} AS cos_ppm
      FROM q JOIN b c USING (bucket)
      WHERE q.query_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cos_ppm, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 5
    """


@register("ann_lsh", _lsh_sql())
def q_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN (random-hyperplane sign bits; shuffle-free
    bucketing — the 100 TB scale path next to ann_ivf's centroid probe)."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return sim.lsh_topk(emb, queries, _collect_anchor_pairs(spark, sf_dir), k=5)


def _zorder_sql(bits: int = 8) -> str:
    from iceberg_compaction_spark.operators import zorder as zo

    top = (1 << bits) - 1
    sp = f"((l_partkey - pmin) * {top} // greatest(pmax - pmin, 1))"
    ss = f"((l_suppkey - smin) * {top} // greatest(smax - smin, 1))"
    z = zo.zorder_code_expr([sp, ss], bits)
    return f"""
    WITH mm AS (SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
                       MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
                FROM lineitem)
    SELECT l_orderkey, l_linenumber, CAST({z} AS BIGINT) AS zcode
    FROM lineitem, mm
    """


@register("zorder_lineitem", _zorder_sql())
def q_zorder_lineitem(spark, sf_dir):
    """Morton code over (l_partkey, l_suppkey): the clustering key a
    z-ordered compaction sorts by.  Pure integer shift/mask expressions
    (whole-stage codegen); the min/max scaling aggregate is one tiny
    metadata-sized job."""
    from iceberg_compaction_spark.operators import zorder as zo

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df, code = zo.zorder_code(li, ["l_partkey", "l_suppkey"], bits=8)
    if code is None:  # empty input: no bounds, code column is all-NULL
        code = F.lit(None).cast("long")
    return df.select(
        "l_orderkey", "l_linenumber", code.cast("long").alias("zcode")
    )


SAMPLE_PCT = 5


@register(
    "sample_docs_hash",
    f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 100 < {SAMPLE_PCT}
    """,
)
def q_sample_docs_hash(spark, sf_dir):
    """Deterministic systematic sampling: hash(doc_id) mod 100 — the
    reproducible sampling a training-data pipeline needs (same sample
    across engines/runs/partitionings, unlike rng-based df.sample);
    pure narrow filter, pushes through any scan."""
    from iceberg_compaction_spark.operators.dedup import md5_hash64

    docs = _docs(spark, sf_dir)
    return docs.where(
        md5_hash64(F.col("doc_id").cast("string")) % 100 < SAMPLE_PCT
    ).select("doc_id", "lang", "n_chars")


TOP_NGRAMS_K = 20


@register(
    "text_top_ngrams",
    f"""
    WITH t AS (SELECT string_split({_NORM}, ' ') AS toks FROM documents),
    b AS (
      SELECT unnest(list_transform(range(1, array_length(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS ngram
      FROM t
    )
    SELECT ngram, COUNT(*) AS n
    FROM b GROUP BY ngram
    ORDER BY n DESC, ngram ASC LIMIT {TOP_NGRAMS_K}
    """,
)
def q_text_top_ngrams(spark, sf_dir):
    """Corpus-wide top-k word bigrams WITH multiplicity (vocabulary
    statistics for a training corpus).  One explode + one count shuffle;
    the top-k is orderBy().limit() — Spark's TakeOrderedAndProject does
    per-partition top-k then merges k rows per partition on the driver,
    never a single-partition global sort."""
    from iceberg_compaction_spark.operators.text import normalize_text

    docs = _docs(spark, sf_dir)
    toks_df = docs.select(
        F.split(normalize_text(F.col("text")), " ").alias("toks")
    )
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(0, size(toks) - 2),"
            " i -> concat(toks[i], ' ', toks[i + 1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks_df.select(F.explode(bigrams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram").asc())
        .limit(TOP_NGRAMS_K)
    )


@register(
    "emb_normalize",
    """
    WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n)
    SELECT vec_id,
           CAST(FLOOR(nrm * 1000000) AS BIGINT) AS norm_micro,
           CAST(g.i - 1 AS INTEGER) AS pos,
           CAST(FLOOR(v[g.i] / nrm * 1000000) AS BIGINT) AS u_micro
    FROM m, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g
    """,
)
def q_emb_normalize(spark, sf_dir):
    """L2 normalization to integer micro-units — narrow scan projection,
    zero shuffle (the pre-index normalize pass of an ANN pipeline).
    The driver-facing result explodes the unit vector to one scalar row
    per component (the gate's canonicalizer hashes scalars only); the
    array-valued operator surface is :func:`sim.l2_normalize`."""
    nm = sim.l2_normalize(_emb(spark, sf_dir))
    return nm.select(
        "vec_id",
        "norm_micro",
        F.posexplode("unit_micro").alias("pos", "u_micro"),
    )


@register(
    "emb_quantize",
    """
    WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS am FROM n)
    SELECT vec_id,
           CAST(FLOOR(CASE WHEN am > 0 THEN 127.0 / am END * 1000000)
             AS BIGINT) AS scale_micro,
           CAST(g.i - 1 AS INTEGER) AS pos,
           CAST(CASE WHEN am > 0 THEN FLOOR(v[g.i] * (127.0 / am)) ELSE 0 END
             AS BIGINT) AS q
    FROM m, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g
    """,
)
def q_emb_quantize(spark, sf_dir):
    """Symmetric int8 scalar quantization (4x index compression) —
    per-row higher-order functions, zero shuffle; exploded to scalar
    rows for the driver gate (array surface: :func:`sim.quantize_int8`)."""
    qt = sim.quantize_int8(_emb(spark, sf_dir))
    return qt.select(
        "vec_id", "scale_micro", F.posexplode("q").alias("pos", "q")
    )


# ===========================================================================
# Events / streaming (batch forms; streaming twins live in streaming/pipeline)
# ===========================================================================

from iceberg_compaction_spark.streaming import events as ev  # noqa: E402


@register(
    "events_hourly",
    """
    SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value*1000000) AS BIGINT)) AS BIGINT)
             AS sum_value_micro
    FROM events GROUP BY 1, 2
    """,
)
def q_events_hourly(spark, sf_dir):
    """Tumbling 1-hour rollup (exact integer value sums)."""
    return ev.hourly_rollup(ev.read_events(spark, sf_dir))


@register(
    "events_sessionize",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts,
             CAST(FLOOR(value*1000000) AS BIGINT) AS vmicro,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN prev IS NULL OR ts - prev > 1800000000
                     THEN 1 ELSE 0 END AS is_new
      FROM e
    ), sess AS (
      SELECT *, CAST(SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx, COUNT(*) AS n_events,
           MIN(ts) AS start_ts, MAX(ts) AS end_ts,
           (MAX(ts) - MIN(ts)) // 1000000 AS duration_sec,
           CAST(SUM(vmicro) AS BIGINT) AS sum_value_micro
    FROM sess GROUP BY user_id, session_idx
    """,
)
def q_events_sessionize(spark, sf_dir):
    """Gaps-and-islands sessionization (30-minute gap).

    Runs at MICROsecond precision: DuckDB timestamps are us-resolution,
    so the oracle can only see us — we truncate the ns column the same
    way (`ts div 1000`) and scale the gap accordingly.
    """
    from pyspark.sql import functions as F

    events = ev.read_events(spark, sf_dir).withColumn(
        "ts", F.expr("ts div 1000")
    )
    return ev.sessionize(events, gap=1_800_000_000, ts_unit_per_sec=1_000_000)


@register(
    "events_sliding",
    """
    SELECT win_start_half, event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value*1000000) AS BIGINT)) AS BIGINT)
             AS sum_value_micro
    FROM (
      SELECT unnest([epoch_ns(ts) // 1800000000000,
                     epoch_ns(ts) // 1800000000000 - 1]) AS win_start_half,
             event_type, value
      FROM events
    )
    GROUP BY 1, 2
    """,
)
def q_events_sliding(spark, sf_dir):
    """Sliding 1h/30min rollup (each event in exactly 2 windows)."""
    return ev.sliding_rollup(ev.read_events(spark, sf_dir))


@register(
    "events_asof_join",
    """
    SELECT p.user_id,
           epoch_us(p.ts) AS purchase_us,
           epoch_us(c.ts) AS click_us,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def q_events_asof_join(spark, sf_dir):
    """As-of join (most recent click at-or-before each purchase) via the
    union + running-max window — one user_id shuffle, no range blow-up;
    the oracle uses DuckDB's native ASOF JOIN."""
    return ev.asof_join_last_event(ev.read_events(spark, sf_dir))


@register(
    "events_range_join",
    """
    SELECT p.user_id, epoch_us(p.ts) AS purchase_us,
           count(c.ts) AS n_clicks_30m
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND epoch_us(c.ts) > epoch_us(p.ts) - 1800000000
     AND epoch_us(c.ts) <= epoch_us(p.ts)
    GROUP BY 1, 2
    """,
)
def q_events_range_join(spark, sf_dir):
    """Range join (clicks within 30 min before each purchase) via
    window-sized bin bucketing + residual — candidate pairs bounded by
    bin occupancy, never a nested-loop time join."""
    return ev.range_join_counts(ev.read_events(spark, sf_dir))


@register(
    "events_rollup",
    """
    SELECT event_type,
           epoch_ns(ts) // 86400000000000 AS day_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value*1000000) AS BIGINT)) AS BIGINT)
             AS sum_value_micro
    FROM events
    GROUP BY ROLLUP(event_type, day_bucket)
    """,
)
def q_events_rollup(spark, sf_dir):
    """Hierarchical rollup (event_type -> day -> grand total) — Spark's
    native ROLLUP produces the partial-aggregate expansion; subtotal
    rows carry NULL group keys in both engines."""
    events = ev.read_events(spark, sf_dir)
    return (
        events.withColumn(
            "day_bucket", F.expr("ts div 86400000000000").cast("long")
        )
        .withColumn("vmicro", F.floor(F.col("value") * 1000000).cast("long"))
        .rollup("event_type", "day_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vmicro").alias("sum_value_micro"),
        )
    )


@register(
    "events_cube",
    """
    SELECT event_type,
           CAST(epoch_ns(ts) // 86400000000000 % 7 AS BIGINT) AS weekday_bucket,
           COUNT(*) AS n_events
    FROM events
    GROUP BY CUBE(event_type, weekday_bucket)
    """,
)
def q_events_cube(spark, sf_dir):
    """Full cube over (event_type, weekday): all four grouping-set
    combinations in one pass."""
    events = ev.read_events(spark, sf_dir)
    return (
        events.withColumn(
            "weekday_bucket", F.expr("(ts div 86400000000000) % 7").cast("long")
        )
        .cube("event_type", "weekday_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "events_median_value",
    """
    SELECT event_type,
           CAST(FLOOR(median(CAST(FLOOR(value*1000000) AS BIGINT))) AS BIGINT)
             AS median_micro,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q_events_median_value(spark, sf_dir):
    """Exact per-group median via an Arrow-batched grouped-aggregate
    pandas UDF — the UDAF surface (built-in percentile_approx is
    approximate; the UDAF computes the true median).  Cost: one shuffle
    on the group key, values Arrow-transferred per group."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def median_floor(v: pd.Series) -> int:
        import math

        return int(math.floor(v.median()))

    # Spark can't mix pandas and JVM aggregates in one agg; count rides
    # along as a second tiny pandas UDAF
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    events = ev.read_events(spark, sf_dir).withColumn(
        "vmicro", F.floor(F.col("value") * 1000000).cast("long")
    )
    return events.groupBy("event_type").agg(
        median_floor("vmicro").alias("median_micro"),
        n_rows("vmicro").alias("n_events"),
    )


@register(
    "events_top_users",
    """
    SELECT CAST(rank AS INTEGER) AS rank, user_id, n_events, sum_value_micro
    FROM (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(FLOOR(value*1000000) AS BIGINT)) AS BIGINT)
               AS sum_value_micro,
             row_number() OVER (ORDER BY COUNT(*) DESC, user_id) AS rank
      FROM events GROUP BY user_id
    ) WHERE rank <= 10
    """,
)
def q_events_top_users(spark, sf_dir):
    """Window-function top-k (ranking over aggregated counts)."""
    return ev.top_users_by_activity(ev.read_events(spark, sf_dir), k=10)


@register(
    "agg_price_quantiles",
    """
    SELECT l_returnflag,
           CAST(FLOOR(quantile_cont(l_extendedprice, 0.5)*100) AS BIGINT)
             AS p50_c,
           CAST(FLOOR(quantile_cont(l_extendedprice, 0.9)*100) AS BIGINT)
             AS p90_c
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_price_quantiles(spark, sf_dir):
    """Exact interpolated quantiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`: both linear-interpolate on the sorted
    group).  Exact percentile sorts within each group — fine when group
    count is small and groups are large; the approx path at stricter
    memory bounds is `percentile_approx`."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag").agg(
        F.floor(F.expr("percentile(l_extendedprice, 0.5)") * 100)
        .cast("long")
        .alias("p50_c"),
        F.floor(F.expr("percentile(l_extendedprice, 0.9)") * 100)
        .cast("long")
        .alias("p90_c"),
    )


@register(
    "events_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q_events_json_extract(spark, sf_dir):
    """Semi-structured extraction: JSON path into the props column with
    the JVM-side get_json_object (no Python, schema-on-read), then a
    partial-aggregated rollup."""
    e = ev.read_events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "events_retention",
    """
    WITH active AS (
      SELECT DISTINCT user_id, epoch_ns(ts) // 3600000000000 AS hour_b
      FROM events
    )
    SELECT a.hour_b * 3600 AS hour_s,
           COUNT(*) AS n_active,
           CAST(SUM(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_retained
    FROM active a
    LEFT JOIN active r
      ON r.user_id = a.user_id AND r.hour_b = a.hour_b + 1
    GROUP BY a.hour_b
    """,
)
def q_events_retention(spark, sf_dir):
    """Cohort retention: of each hour's active users, how many return
    the next hour.  One distinct shuffle on (user, hour), then a
    self-join keyed on the same columns — the second shuffle reuses the
    first's partitioning on user_id."""
    e = ev.read_events(spark, sf_dir)
    active = e.select(
        "user_id", F.expr("ts div 3600000000000").alias("hour_b")
    ).distinct()
    nxt = active.select(
        F.col("user_id").alias("r_user"), (F.col("hour_b") - 1).alias("r_prev")
    )
    joined = active.join(
        nxt,
        (active.user_id == nxt.r_user) & (active.hour_b == nxt.r_prev),
        "left",
    )
    return (
        joined.groupBy("hour_b")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(F.when(F.col("r_user").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_retained"),
        )
        .select(
            (F.col("hour_b") * 3600).alias("hour_s"), "n_active", "n_retained"
        )
    )


_FUNNEL_SQL = """
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS step0_us
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS step1_us
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.step0_us
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS step2_us
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.step1_us
      GROUP BY e.user_id
    )
    SELECT v.user_id, v.step0_us, c.step1_us, p.step2_us
    FROM v JOIN c ON v.user_id = c.user_id JOIN p ON p.user_id = c.user_id
    """


@register("events_funnel", _FUNNEL_SQL)
def q_events_funnel(spark, sf_dir):
    """view -> click -> purchase funnel (CEP sequence detection): one
    exchange on user_id, then per-step narrow passes."""
    return ev.funnel(
        ev.read_events(spark, sf_dir), ["view", "click", "purchase"]
    )


@register("stream_funnel", _FUNNEL_SQL)
def q_stream_funnel(spark, sf_dir):
    """applyInPandasWithState funnel state machine over the events
    stream; oracle is the batch funnel (identical under the in-order
    single-trigger replay)."""
    from iceberg_compaction_spark.streaming import pipeline as sp
    from iceberg_compaction_spark.streaming import stateful as st

    stream = sp.read_events_stream(spark, sf_dir)
    return sp.run_available_now(
        st.stateful_funnel(stream), spark, output_mode="append"
    )


# Structured Streaming twins — WITH batch-twin oracles.  The streaming
# semantics themselves (watermark eviction, state) aren't SQL, but under
# the driver's bounded replay (one file, availableNow => a single
# trigger) the RESULT is deterministic and batch-expressible:
#  - hourly rollup: all data arrives in batch 0, the late-data filter
#    uses the pre-batch watermark (epoch), so nothing is dropped and
#    complete-mode output == the batch rollup;
#  - stateful sessions: append-mode emits exactly the CLOSED sessions —
#    every session except each user's last (the open tail held in
#    state).  Multi-trigger behavior is pinned by tests/test_streaming.py.


@register(
    "stream_hourly_rollup",
    """
    SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS window_start_s,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value*1000000) AS BIGINT)) AS BIGINT)
             AS sum_value_micro
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_hourly_rollup(spark, sf_dir):
    """readStream -> watermark -> tumbling 1h window, run to completion
    with availableNow; returns the materialized result."""
    from iceberg_compaction_spark.streaming import pipeline as sp

    stream = sp.read_events_stream(spark, sf_dir)
    return sp.run_available_now(sp.streaming_hourly_rollup(stream), spark)


@register(
    "stream_stateful_sessions",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts,
             CAST(FLOOR(value*1000000) AS BIGINT) AS vmicro,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN prev IS NULL OR ts - prev > 1800000000
                     THEN 1 ELSE 0 END AS is_new
      FROM e
    ), sess AS (
      SELECT *, CAST(SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS session_idx
      FROM flagged
    ), agg AS (
      SELECT user_id, session_idx, COUNT(*) AS n_events,
             MIN(ts) AS start_us, MAX(ts) AS end_us,
             CAST(SUM(vmicro) AS BIGINT) AS sum_value_micro
      FROM sess GROUP BY user_id, session_idx
    )
    SELECT user_id, start_us, end_us, n_events, sum_value_micro
    FROM agg
    WHERE session_idx < (SELECT MAX(session_idx) FROM agg a2
                         WHERE a2.user_id = agg.user_id)
    """,
)
def q_stream_stateful_sessions(spark, sf_dir):
    """applyInPandasWithState sessionizer over the events stream
    (closed sessions only; open tails stay in state — the oracle is the
    batch sessionization minus each user's final session)."""
    from iceberg_compaction_spark.streaming import pipeline as sp
    from iceberg_compaction_spark.streaming import stateful as st

    stream = sp.read_events_stream(spark, sf_dir)
    return sp.run_available_now(
        st.stateful_sessionize(stream), spark, output_mode="append"
    )


@register(
    "stream_dedup",
    """
    SELECT DISTINCT user_id, event_type,
           (epoch_ns(ts) // 3600000000000) * 3600 AS hour_s
    FROM events
    """,
)
def q_stream_dedup(spark, sf_dir):
    """dropDuplicatesWithinWatermark over the events stream (bounded
    dedup state); under the driver's single-trigger replay every
    duplicate is in-watermark, so the result equals batch DISTINCT on
    the key."""
    from iceberg_compaction_spark.streaming import pipeline as sp

    stream = sp.read_events_stream(spark, sf_dir)
    return sp.run_available_now(
        sp.streaming_dedup(stream), spark, output_mode="append"
    )


@register(
    "stream_interval_join",
    """
    SELECT v.user_id,
           epoch_us(v.ts) AS view_us,
           epoch_us(c.ts) AS click_us
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND epoch_us(c.ts) >= epoch_us(v.ts)
     AND epoch_us(c.ts) <= epoch_us(v.ts) + 1800000000
    """,
)
def q_stream_interval_join(spark, sf_dir):
    """Stream-stream interval join (view->click attribution within 30
    minutes) — watermarked on both sides so join state is bounded; the
    single-trigger replay makes the result equal the batch self-join."""
    from iceberg_compaction_spark.streaming import pipeline as sp

    stream = sp.read_events_stream(spark, sf_dir)
    return sp.run_available_now(
        sp.streaming_interval_join(stream), spark, output_mode="append"
    )


# ===========================================================================
# Multimodal plumbing (mapInPandas decode stage; fake decode is arithmetic)
# ===========================================================================


@register(
    "multimodal_meta",
    """
    WITH b AS (SELECT doc_id, octet_length(encode(text)) AS blen FROM documents)
    SELECT doc_id,
           CAST(blen AS BIGINT) AS byte_len,
           CAST(16*(1 + blen % 64) AS INTEGER) AS width,
           CAST(16*(1 + blen % 48) AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(1 + blen % 7 AS INTEGER) AS n_frames
    FROM b
    """,
)
def q_multimodal_meta(spark, sf_dir):
    """Binary payload -> typed metadata via Arrow-batched mapInPandas.

    Reads the raw (unspread) scan: fanning a small table out to all
    cores costs more in Python-worker startup than the decode saves —
    mapInPandas parallelism should follow the data, not the core count.
    """
    from iceberg_compaction_spark.operators import multimodal as mm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mm.decode_meta(mm.to_binary_table(docs))


@register(
    "multimodal_frames",
    """
    WITH b AS (SELECT doc_id, octet_length(encode(text)) AS blen FROM documents),
    m AS (SELECT doc_id, 1 + blen % 7 AS n_frames FROM b)
    SELECT doc_id, unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx FROM m
    """,
)
def q_multimodal_frames(spark, sf_dir):
    """Frame-sampling fan-out plan for video-like payloads."""
    from iceberg_compaction_spark.operators import multimodal as mm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    meta = mm.decode_meta(mm.to_binary_table(docs))
    return mm.frame_sample_plan(meta, every_k=2)


# ===========================================================================
# General analytics (beyond reference surface: groupBy/agg + joins; shows
# partial aggregation, broadcast joins, predicate pushdown)
# ===========================================================================


@register(
    "supplier_part_region",
    """
    SELECT r.r_name,
           COUNT(*) AS n_parts,
           COUNT(DISTINCT s.s_suppkey) AS n_suppliers,
           CAST(SUM(CAST(FLOOR(p.p_retailprice*100) AS BIGINT)) AS BIGINT)
             AS sum_retail_c
    FROM part p
    JOIN supplier s
      ON s.s_suppkey = p.p_partkey % (SELECT COUNT(*) FROM supplier)
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE p.p_size <= 20
    GROUP BY r.r_name
    """,
)
def q_supplier_part_region(spark, sf_dir):
    """Star join over part/supplier/nation/region (distinct agg +
    broadcast dims; the part-supplier link is a synthetic ONE-TO-ONE
    equi-key — each part maps to exactly one supplier via
    ``p_partkey % n_supp`` — since the driver testdata has no partsupp
    table.  One-to-one keeps output linear in |part| at any scale
    (the old ``% 1000`` on both sides fanned out |part|*|supp|/1000)."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(F.col("p_size") <= 20)
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    # scalar dim cardinality (suppliers are keyed 0..n-1); a one-value
    # action on a dimension table, not a per-row collect
    n_supp = supp.count()
    return (
        part.join(F.broadcast(supp), part.p_partkey % n_supp == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            F.sum(F.floor(F.col("p_retailprice") * 100).cast("long")).alias(
                "sum_retail_c"
            ),
        )
    )


@register(
    "setop_part_overlap",
    """
    WITH f AS (SELECT DISTINCT l_partkey FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               WHERE o_orderstatus = 'F'),
    o AS (SELECT DISTINCT l_partkey FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'O')
    SELECT 'both' AS bucket, COUNT(*) AS n_parts
      FROM (SELECT l_partkey FROM f INTERSECT SELECT l_partkey FROM o)
    UNION ALL
    SELECT 'f_only', COUNT(*)
      FROM (SELECT l_partkey FROM f EXCEPT SELECT l_partkey FROM o)
    UNION ALL
    SELECT 'o_only', COUNT(*)
      FROM (SELECT l_partkey FROM o EXCEPT SELECT l_partkey FROM f)
    """,
)
def q_setop_part_overlap(spark, sf_dir):
    """Set operations (INTERSECT / EXCEPT / UNION ALL) over part-key
    populations of finished vs open orders."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    f = j.where(F.col("o_orderstatus") == "F").select("l_partkey").distinct()
    o = j.where(F.col("o_orderstatus") == "O").select("l_partkey").distinct()

    def count_row(name, df):
        return df.agg(F.count(F.lit(1)).alias("n_parts")).select(
            F.lit(name).alias("bucket"), "n_parts"
        )

    return (
        count_row("both", f.intersect(o))
        .unionAll(count_row("f_only", f.exceptAll(o).distinct()))
        .unionAll(count_row("o_only", o.exceptAll(f).distinct()))
    )


@register(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(l_quantity*100) AS BIGINT)) AS BIGINT)
             AS sum_qty_c,
           CAST(SUM(CAST(FLOOR(l_extendedprice*100) AS BIGINT)) AS BIGINT)
             AS sum_price_c,
           CAST(SUM(CAST(FLOOR(l_discount*10000) AS BIGINT)) AS BIGINT)
             AS sum_disc_bp
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-style aggregation (map-side partial agg; exact integer
    sums in cents/basis points)."""
    li = spark.read.parquet(syn.lineitem_path(sf_dir))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).alias("sum_qty_c"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
                "sum_price_c"
            ),
            F.sum(F.floor(F.col("l_discount") * 10000).cast("long")).alias(
                "sum_disc_bp"
            ),
        )
    )


@register(
    "join_order_revenue",
    """
    SELECT n.n_name, COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice*(1-l.l_discount)*100)
                         AS BIGINT)) AS BIGINT)
             AS revenue_c
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
)
def q_join_order_revenue(spark, sf_dir):
    """Multi-join star query: fact-fact shuffle join + broadcast dims."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(orders.where(F.col("o_orderstatus") == "F"),
                li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(rev_c).alias("revenue_c"),
        )
    )


BIG_ORDER_THRESHOLD = 300000


@register(
    "anti_customers_no_orders",
    f"""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > {BIG_ORDER_THRESHOLD})
    """,
)
def q_anti_customers_no_orders(spark, sf_dir):
    """NOT EXISTS as a distributed left anti-join (TPC-H Q22 pattern):
    customers with no high-value orders.  The filter prunes the build
    side before the join; both sides shuffle on the key, and at scale
    AQE converts to broadcast when the filtered key set fits."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_totalprice") > BIG_ORDER_THRESHOLD
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "window_running_revenue",
    """
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders
    )
    SELECT o_custkey, o_orderkey,
           CAST(SUM(price_c) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS running_revenue_c
    FROM o
    """,
)
def q_window_running_revenue(spark, sf_dir):
    """Per-customer running revenue: partitioned window (one shuffle on
    o_custkey, never a global sort); deterministic ORDER BY tiebreak on
    the unique order key."""
    from pyspark.sql.window import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    price_c = F.floor(F.col("o_totalprice") * 100).cast("long")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(price_c).over(w).cast("long").alias("running_revenue_c"),
    )


@register(
    "subquery_above_brand_avg",
    """
    WITH avgs AS (
      SELECT p_brand, AVG(p_retailprice) AS brand_avg
      FROM part GROUP BY p_brand
    )
    SELECT p.p_partkey, p.p_brand,
           CAST(FLOOR(p.p_retailprice * 100) AS BIGINT) AS price_c
    FROM part p JOIN avgs a ON p.p_brand = a.p_brand
    WHERE p.p_retailprice > a.brand_avg
    """,
)
def q_subquery_above_brand_avg(spark, sf_dir):
    """Correlated-aggregate pattern (parts above their brand's average
    price) decorrelated into groupBy + broadcast join — the scalable
    rewrite of a per-row correlated subquery."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    avgs = part.groupBy("p_brand").agg(
        F.avg("p_retailprice").alias("brand_avg")
    )
    return (
        part.join(F.broadcast(avgs), "p_brand")
        .where(F.col("p_retailprice") > F.col("brand_avg"))
        .select(
            "p_partkey",
            "p_brand",
            F.floor(F.col("p_retailprice") * 100).cast("long").alias("price_c"),
        )
    )


@register(
    "text_tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS dfr FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST((1000000 * tf.tf * n.n_docs) // dfreq.dfr AS BIGINT)
               AS score_ppm
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, score_ppm, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score_ppm DESC, term) AS rank
      FROM scored) WHERE rank <= 3
    """,
)
def q_text_tfidf_top_terms(spark, sf_dir):
    """Per-document characteristic terms (TF-IDF, linear idf in exact
    bigint ppm — see operators/text.py tfidf_top_terms for why not
    log)."""
    return tx.tfidf_top_terms(_docs(spark, sf_dir), k=3)


@register(
    "events_hourly_users",
    """
    SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
    """,
)
def q_events_hourly_users(spark, sf_dir):
    """Hourly distinct active users (exact).  The two-aggregate shape
    (distinct + plain count in one pass) compiles to Spark's expand +
    two-level partial aggregation — the distinct shuffles (hour, user)
    pairs, already deduplicated map-side, never raw events.  The HLL
    twin (events_hourly_users_approx) is the sketch path when the
    per-hour user set itself is too wide to shuffle."""
    events = ev.read_events(spark, sf_dir)
    return (
        events.withColumn(
            "hour_bucket", F.expr("ts div 3600000000000").cast("long")
        )
        .groupBy("hour_bucket")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register("events_hourly_users_approx")  # approximate: no SQL oracle
def q_events_hourly_users_approx(spark, sf_dir):
    """HLL-sketch hourly distinct users: ``approx_count_distinct``
    shuffles ONE fixed-size sketch per (hour, task) instead of the
    per-hour user set — the only shape that survives when an hour has
    10^9 distinct users.  Sketches are mergeable, so partial aggregation
    applies exactly as for sums.  Approximate by construction (default
    rsd 5%), hence no value oracle; the error bound against the exact
    twin is pinned in test_extensions.py."""
    events = ev.read_events(spark, sf_dir)
    return (
        events.withColumn(
            "hour_bucket", F.expr("ts div 3600000000000").cast("long")
        )
        .groupBy("hour_bucket")
        .agg(F.approx_count_distinct("user_id").alias("n_users_approx"))
    )


@register(
    "events_interarrival",
    """
    WITH d AS (
      SELECT (epoch_ns(ts) - lag(epoch_ns(ts)) OVER (
                PARTITION BY user_id
                ORDER BY epoch_ns(ts), event_id)) // 1000 AS delta_us
      FROM events
    )
    SELECT CAST(LENGTH(CAST(delta_us AS VARCHAR)) AS INTEGER) AS delta_digits,
           COUNT(*) AS n_gaps
    FROM d WHERE delta_us IS NOT NULL GROUP BY 1
    """,
)
def q_events_interarrival(spark, sf_dir):
    """Inter-arrival-time histogram per user: decimal-digit-count
    buckets (~log10) of the gap between a user's consecutive events —
    the burstiness diagnostic behind session-gap and watermark tuning.

    Buckets are DIGIT COUNTS of the exact integer gap, not floor(log2):
    JVM and C log functions disagree in the last ulp near exact powers
    (Math.log(8)/Math.log(2) = 2.9999...96 is the classic), which would
    flip boundary buckets between engines; string length of an exact
    integer is exact everywhere.  One shuffle on user_id for the lag
    window, then a map-side-combined global aggregate."""
    from pyspark.sql.window import Window

    e = ev.read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    delta_us = F.expr("(ts - __prev) div 1000")
    return (
        e.withColumn("__prev", F.lag("ts").over(w))
        .where(F.col("__prev").isNotNull())
        .select(
            F.length(delta_us.cast("string")).cast("int").alias("delta_digits")
        )
        .groupBy("delta_digits")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )


@register(
    "text_zipf_histogram",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT term, COUNT(*) AS freq FROM toks GROUP BY 1)
    SELECT CAST(LENGTH(CAST(freq AS VARCHAR)) AS BIGINT) AS freq_digits_bucket,
           COUNT(*) AS n_terms,
           CAST(SUM(freq) AS BIGINT) AS n_occurrences
    FROM tf GROUP BY 1
    """,
)
def q_text_zipf_histogram(spark, sf_dir):
    """Zipf / frequency-of-frequency histogram: how many distinct terms
    fall in each decimal-magnitude corpus-frequency bucket — the
    standard one-look corpus health check (a natural corpus shows the
    Zipf slope; scraped boilerplate shows a hot-bucket bulge).  Two
    aggregations, both with map-side partial combine; the second runs
    over distinct terms only.

    Buckets are the DIGIT COUNT of the exact integer frequency (string
    length), not floor(log2): JVM and libm log functions disagree in
    the last ulp at exact powers of two (Math.log(8)/Math.log(2) =
    2.999...96), which flips floor buckets between engines.  Integer
    digit count is exact everywhere — same trick as
    events_interarrival.
    """
    toks = _docs(spark, sf_dir).select(
        F.explode(
            F.split(tx.normalize_text(F.col("text")), " ")
        ).alias("term")
    )
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    return tf.groupBy(
        F.length(F.col("freq").cast("string"))
        .cast("long")
        .alias("freq_digits_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("freq").alias("n_occurrences"),
    )


STRATIFIED_RATES_PPM = {0: 500000, 1: 250000, 2: 125000}  # label % 3 -> rate


@register(
    "sample_stratified",
    f"""
    WITH r AS (
      SELECT vec_id, label,
        CASE label % 3 WHEN 0 THEN 500000 WHEN 1 THEN 250000 ELSE 125000 END
          AS rate_ppm,
        ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
          AS bucket
      FROM embeddings
    )
    SELECT vec_id, label FROM r WHERE bucket < rate_ppm
    """,
)
def q_sample_stratified(spark, sf_dir):
    """Stratified deterministic sampling: per-stratum rates (here by
    label mod 3) with an md5-hash acceptance test — reproducible across
    engines and runs, unlike rand()-based sampling, and a narrow
    filter in the scan projection: no shuffle, no driver state, the
    shape that samples 10^11 rows by just scanning them.  Downsampling
    over-represented strata is the training-mix knob every corpus
    pipeline ends up needing."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rate = (
        F.when(F.col("label") % 3 == 0, STRATIFIED_RATES_PPM[0])
        .when(F.col("label") % 3 == 1, STRATIFIED_RATES_PPM[1])
        .otherwise(STRATIFIED_RATES_PPM[2])
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000000
    )
    return emb.select("vec_id", "label").where(bucket < rate)


@register(
    "dedup_cc_groups",
    _JACCARD.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
    prs AS (SELECT id_a, id_b FROM jac WHERE jaccard_ppm >= {JACCARD_THRESHOLD_PPM}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION SELECT id_b, id_a FROM prs
    ),
    reach(node, lbl) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS component_id
    FROM reach GROUP BY node
    """,
)
def q_dedup_cc_groups(spark, sf_dir):
    """Duplicate-GROUP resolution: connected components over the
    near-dup pair graph (min reachable id per node) — pairwise
    candidates alone can't say "keep one per group" when dups chain
    A~B~C without A~C.  Iterative min-label propagation
    (operators/dedup.py connected_components); the DuckDB oracle is the
    same fixpoint as a recursive transitive-closure CTE."""
    pairs = dd.jaccard_pairs(
        _docs(spark, sf_dir), threshold_ppm=JACCARD_THRESHOLD_PPM
    )
    return dd.connected_components(pairs)


@register(
    "dedup_prefix_groups",
    f"""
    WITH p AS (
      SELECT doc_id,
        md5(array_to_string(({_TOKS})[1:2], ' ')) AS prefix_fp
      FROM documents
    )
    SELECT prefix_fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
    FROM p GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def q_dedup_prefix_groups(spark, sf_dir):
    """Prefix-fingerprint grouping (operators/text.py with_fingerprints):
    documents sharing their first two normalized tokens — the cheap
    boilerplate/mirror detector crawl pipelines run before any shingle
    machinery (identical page headers collide here at md5-groupBy cost,
    one 16-byte-key shuffle)."""
    fps = tx.with_fingerprints(_docs(spark, sf_dir), prefix_tokens=2)
    return (
        fps.groupBy("prefix_fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .where(F.col("n_docs") > 1)
    )


@register(
    "pipeline_curation_full",
    _minhash_ctes().replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
    prs AS (
      SELECT j.id_a, j.id_b
      FROM jac j JOIN cands c ON c.id_a = j.id_a AND c.id_b = j.id_b
      WHERE j.jaccard_ppm >= {JACCARD_THRESHOLD_PPM}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION SELECT id_b, id_a FROM prs
    ),
    reach(node, lbl) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    demoted AS (
      SELECT node AS doc_id FROM reach GROUP BY node
      HAVING MIN(lbl) <> node
    ),
    kept AS (
      SELECT d.* FROM documents d
      WHERE NOT EXISTS (SELECT 1 FROM demoted x WHERE x.doc_id = d.doc_id)
    ),
    q AS (
      SELECT doc_id,
        CASE WHEN trim(text)='' THEN 0 ELSE len({_TOKS}) END AS n_toks,
        len(list_filter({_TOKS}, x -> list_contains({_STOPS}, x))) AS stops
      FROM kept
    )
    SELECT doc_id, CAST(n_toks AS INTEGER) AS n_tokens,
      CAST(FLOOR(1000000*(stops*1.0/greatest(n_toks,1))) AS BIGINT)
        AS stopword_ppm
    FROM q
    WHERE n_toks >= 40
      AND FLOOR(1000000*(stops*1.0/greatest(n_toks,1))) >= 50000
    """,
)
def q_pipeline_curation_full(spark, sf_dir):
    """The full curation flagship: near-dup GROUP demotion (connected
    components over the near-dup pair graph keep only each component's
    min-id representative — this subsumes exact dedup, since exact dups
    are Jaccard-1.0 pairs and always share every LSH band) -> quality
    gates (token count, stopword ratio).  Composes
    minhash_lsh_dedup_pairs + connected_components + with_quality
    end-to-end; the CC fast path's one edge collect is the only eager
    stage, everything else stays lazy.  The plan is built from SQL text:
    the pair subplan is one ``spark.sql`` query holding the expressions
    the oracle CTEs below spell out, and the quality gates one projection
    of SQL expressions, so the lazy frame costs a few hundred py4j round
    trips, not thousands.

    Pair generation is the banded-LSH scale path, not the inverted-index
    exact join: at a 10x-scaled fixture the classic shingle self-join
    measured 75 s vs 7.8 s for LSH (the df^2 co-occurrence term grows
    quadratically with corpus density while band buckets stay bounded),
    and at 100 TB the exact join is not runnable at all.  Candidates are
    verified by ``array_intersect`` of the two docs' distinct shingle
    arrays.  The banding is deterministic (fixed hash params, mirrored
    CTE-for-CTE in the oracle), so both engines see the identical
    candidate set and the demotion output is hash-exact, same as
    dedup_minhash_lsh."""
    docs = _docs(spark, sf_dir)
    # no CacheScope: the pair plan's four readers of the per-doc shingle
    # sets share one reused exchange, so the corpus is tokenized once and
    # nothing is cached (persisting those sets measured slower at the
    # perfbench corpus and at sf0.01)
    pairs = dd.minhash_lsh_dedup_pairs(docs, threshold_ppm=JACCARD_THRESHOLD_PPM)
    cc = dd.connected_components(pairs)
    demoted = cc.where("component_id != doc_id").select("doc_id")
    kept = docs.join(demoted, "doc_id", "left_anti")
    q = tx.with_quality(kept).select("doc_id", "n_tokens", "stopword_ppm")
    return q.where("n_tokens >= 40 AND stopword_ppm >= 50000")


@register("events_sessionize_salted", ORACLES["events_sessionize"])
def q_events_sessionize_salted(spark, sf_dir):
    """Skew-safe twin of events_sessionize (same oracle, same output):
    users above the hot threshold sessionize via time-bucketed local
    windows + a session-summary stitch (streaming/events.py
    sessionize_skew), so one hot user never serializes a reducer —
    the leftover flagged by the round-4 scale audit.  Thresholds are
    tuned so the hot path genuinely engages at oracle scale (users
    have ~60-90 events; bucket = 4 x gap forces cross-bucket
    stitching); the plan gate asserts the heavy window partitions by
    (user, bucket), not raw user_id."""
    gap = 1_800_000_000  # 30 min in us
    events = ev.read_events(spark, sf_dir).withColumn(
        "ts", F.expr("ts div 1000")
    )
    return ev.sessionize_skew(
        events,
        gap=gap,
        ts_unit_per_sec=1_000_000,
        hot_min_events=80,
        bucket_units=4 * gap,
    )


# ===========================================================================
# Round-5 additions (all tail registrations — pytest oracle-checks every
# entry, window or tail, via tests/test_oracle_tail.py)
# ===========================================================================


@register(
    "text_repetition",
    f"""
    WITH t AS (
      SELECT doc_id,
        CASE WHEN trim(text)='' THEN [] ELSE {_TOKS} END AS toks
      FROM documents
    ), b AS (
      SELECT doc_id, len(toks) AS n_toks,
        CASE WHEN len(toks) >= 2 THEN [
          array_to_string(list_slice(toks, i, i+1), ' ')
          for i in range(1, len(toks))]
        ELSE [] END AS bis
      FROM t
    ), m AS (
      SELECT doc_id, max(c) AS mx FROM (
        SELECT doc_id, tok, count(*) AS c FROM (
          SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT b.doc_id,
      CAST(len(bis) AS INTEGER) AS n_bigrams,
      CASE WHEN len(bis) > 0 THEN
        CAST(FLOOR(1000000*((len(bis) - len(list_distinct(bis)))*1.0
             / len(bis))) AS BIGINT)
      ELSE 0 END AS dup_bigram_ppm,
      CASE WHEN n_toks > 0 THEN
        CAST(FLOOR(1000000*(COALESCE(m.mx, 0)*1.0 / n_toks)) AS BIGINT)
      ELSE 0 END AS top_token_ppm
    FROM b LEFT JOIN m ON m.doc_id = b.doc_id
    """,
)
def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition filters (operators/text.py
    with_repetition): duplicate-bigram fraction + top-token share, all
    narrow JVM-side HOFs — the run-length fold keeps the most-common-
    token signal O(n log n) per doc with zero shuffle."""
    return tx.with_repetition(_docs(spark, sf_dir)).select(
        "doc_id", "n_bigrams", "dup_bigram_ppm", "top_token_ppm"
    )


@register(
    "dedup_contamination",
    f"""
    WITH {_SHINGLES},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
    SELECT doc_id, count(*) AS n_hit_shingles
    FROM sh JOIN bench USING (shingle)
    WHERE doc_id % 97 <> 0
    GROUP BY doc_id
    """,
)
def q_dedup_contamination(spark, sf_dir):
    """Benchmark decontamination (operators/dedup.py
    contamination_hits): corpus docs sharing 3-gram shingles with the
    doc_id%97==0 'eval set'.  The benchmark vocabulary broadcasts; the
    corpus side never shuffles for the join."""
    return dd.contamination_hits(_docs(spark, sf_dir), n=3, bench_mod=97)


@register(
    "dedup_ngram_jaccard_prefix",
    ORACLES["dedup_ngram_jaccard"],
)
def q_dedup_ngram_jaccard_prefix(spark, sf_dir):
    """AllPairs/PPJoin prefix-filtered twin of dedup_ngram_jaccard —
    identical output (same oracle string), candidate generation joins
    only each doc's (1-t) globally-rarest shingles with an integer-exact
    prefix bound plus the Jaccard length filter, then verifies with
    array_intersect.  The exact-pairs scale path when a df cap is not
    acceptable (operators/dedup.py jaccard_pairs_prefix)."""
    return dd.jaccard_pairs_prefix(
        _docs(spark, sf_dir), threshold_ppm=JACCARD_THRESHOLD_PPM
    )


_ANN_RECALL_SQL = f"""
    WITH exact AS ({ORACLES["ann_topk"]}),
    approx AS ({ORACLES["ann_ivf"]}),
    h AS (
      SELECT e.query_id, count(*) AS c
      FROM exact e JOIN approx a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY 1
    )
    SELECT q.query_id,
      CAST(COALESCE(h.c, 0) AS INTEGER) AS hits_at_5,
      CAST(FLOOR(COALESCE(h.c, 0)*1000000.0/5) AS BIGINT) AS recall_ppm
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN h USING (query_id)
    """


@register("ann_recall_eval", _ANN_RECALL_SQL)
def q_ann_recall_eval(spark, sf_dir):
    """Recall@5 of the IVF index against the brute-force ground truth,
    per query — the evaluation loop every ANN deployment needs.  Both
    sides reuse the registered operators (oracle composes the two
    registered oracle strings as CTEs, so the three stay in lockstep)."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = sim.brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = sim.ivf_topk(
        emb, queries, _centroids(spark, sf_dir), k=5
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qids = exact.select("query_id").dropDuplicates()
    return (
        qids.join(hits, "query_id", "left")
        .withColumn(
            "hits_at_5", F.coalesce(F.col("c"), F.lit(0)).cast("int")
        )
        .withColumn(
            "recall_ppm",
            F.floor(F.col("hits_at_5") * 1000000.0 / 5).cast("long"),
        )
        .select("query_id", "hits_at_5", "recall_ppm")
    )


@register(
    "events_anomaly",
    """
    WITH h AS (
      SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_bucket,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, count(*) AS k,
             CAST(sum(n_events) AS BIGINT) AS s,
             CAST(sum(n_events*n_events) AS BIGINT) AS ss
      FROM h GROUP BY 1
    )
    SELECT event_type, hour_bucket, n_events, z_milli FROM (
      SELECT h.event_type, h.hour_bucket, h.n_events,
        CAST(FLOOR(1000 * (n_events - s / CAST(k AS DOUBLE)) /
          sqrt(greatest((ss - s * (s / CAST(k AS DOUBLE))) / (k - 1),
               1e-12))) AS BIGINT) AS z_milli
      FROM h JOIN m USING (event_type) WHERE k >= 2
    ) WHERE abs(z_milli) >= 2000
    """,
)
def q_events_anomaly(spark, sf_dir):
    """Hourly-count z-score anomalies per event type
    (streaming/events.py anomaly_zscore).  Exact integer moments +
    identical float expression text on both engines keep the floored
    milli-sigma bit-stable; the per-type moment table broadcasts."""
    return ev.anomaly_zscore(ev.read_events(spark, sf_dir))


@register(
    "events_scd2",
    """
    SELECT user_id, event_id, event_type, valid_from_ns, valid_to_ns,
           CAST(valid_to_ns IS NULL AS INTEGER) AS is_current
    FROM (
      SELECT user_id, event_id, event_type,
        epoch_ns(ts) AS valid_from_ns,
        lead(epoch_ns(ts)) OVER (
          PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        ) AS valid_to_ns
      FROM events
    )
    """,
)
def q_events_scd2(spark, sf_dir):
    """SCD-2 changelog materialization (streaming/events.py
    scd2_intervals): per-user validity intervals via LEAD over the
    (ts, event_id) total order — one shuffle on the window key."""
    df = ev.scd2_intervals(ev.read_events(spark, sf_dir))
    return df.withColumn("is_current", F.col("is_current").cast("int"))


# --- argmin join-back (TPC-H Q2 shape without partsupp) ---------------------


@register(
    "argmin_cheapest_supplier",
    """
    SELECT l_partkey,
           CAST(best_suppkey AS BIGINT) AS best_suppkey,
           CAST(best_price_micro AS BIGINT) AS best_price_micro
    FROM (
      SELECT l_partkey, l_suppkey AS best_suppkey,
        CAST(FLOOR(l_extendedprice * 1000000) AS BIGINT) AS best_price_micro,
        row_number() OVER (
          PARTITION BY l_partkey
          ORDER BY CAST(FLOOR(l_extendedprice * 1000000) AS BIGINT),
                   l_suppkey) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def q_argmin_cheapest_supplier(spark, sf_dir):
    """Cheapest supplier per part (the TPC-H Q2 argmin shape over the
    available tables): implemented as ``min(struct(price, suppkey))``
    per part — structs compare lexicographically, so one groupBy with a
    MAP-SIDE partial combine replaces the rank-1 window (which would
    shuffle and sort every lineitem row).  The same
    aggregate-instead-of-window trick as assign_clusters; the oracle
    keeps the window formulation, proving the two agree."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    best = (
        li.select(
            "l_partkey",
            F.struct(
                F.floor(F.col("l_extendedprice") * 1000000)
                .cast("long")
                .alias("p"),
                F.col("l_suppkey").alias("s"),
            ).alias("cand"),
        )
        .groupBy("l_partkey")
        .agg(F.min("cand").alias("b"))
    )
    return best.select(
        "l_partkey",
        F.col("b.s").cast("long").alias("best_suppkey"),
        F.col("b.p").alias("best_price_micro"),
    )


# --- containment near-dup (asymmetric: quote/subset detection) --------------

CONTAINMENT_THRESHOLD_PPM = 800_000


@register(
    "dedup_containment",
    f"""
    {_minhash_ctes()},
    szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
            FROM sh GROUP BY doc_id),
    cont AS (
      SELECT i.id_a, i.id_b,
        CAST(FLOOR(i.c * 1000000.0 / LEAST(sa.sz, sb.sz)) AS BIGINT)
          AS containment_ppm
      FROM inter i
      JOIN cands cd ON cd.id_a = i.id_a AND cd.id_b = i.id_b
      JOIN szs sa ON sa.doc_id = i.id_a
      JOIN szs sb ON sb.doc_id = i.id_b
    )
    SELECT id_a, id_b, containment_ppm FROM cont
    WHERE containment_ppm >= {CONTAINMENT_THRESHOLD_PPM}
    """,
)
def q_dedup_containment(spark, sf_dir):
    """Asymmetric containment near-dup: ``|A ∩ B| / min(|A|, |B|)`` over
    the banded-LSH candidate set — catches a short document quoted
    inside a long one, which symmetric Jaccard misses (the union term
    drowns the overlap).  Candidates come from the same deterministic
    minhash banding as dedup_minhash_lsh (bucketed, 100 TB-safe); only
    the verification formula differs (``dd.lsh_verified_pairs`` with a
    LEAST() denominator), so the oracle reuses the shared CTE chain with
    the same denominator."""
    # no scope: the result is a lazy frame, so nothing here could release
    # a cache; the branches share the shingle sets through the query's
    # exchange reuse
    return dd.lsh_verified_pairs(
        _docs(spark, sf_dir),
        dd.CONTAINMENT_PPM_SQL,
        "containment_ppm",
        CONTAINMENT_THRESHOLD_PPM,
    )


# --- pivot ------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "events_pivot",
    f"""
    SELECT day_bucket,
      {", ".join(
        f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END)"
        f" AS BIGINT) AS n_{t}"
        for t in EVENT_TYPES
      )}
    FROM (
      SELECT event_type, epoch_ns(ts) // 86400000000000 AS day_bucket
      FROM events
    )
    GROUP BY day_bucket
    """,
)
def q_events_pivot(spark, sf_dir):
    """Day x event-type pivot (wide daily counts) — Spark's native
    ``groupBy().pivot(values=...)`` with the value list FIXED so the
    output schema is deterministic and the plan skips the
    distinct-values discovery job a bare pivot() would run (an extra
    full scan at 100 TB).  The pivot compiles to one hash aggregate
    with map-side partial combine — same shuffle as the tall rollup."""
    events = ev.read_events(spark, sf_dir)
    wide = (
        events.withColumn(
            "day_bucket", F.expr("ts div 86400000000000").cast("long")
        )
        .groupBy("day_bucket")
        .pivot("event_type", EVENT_TYPES)
        .count()
    )
    return wide.select(
        "day_bucket",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


# --- document chunking (operators/text.py) ---------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 32


@register(
    "text_chunking",
    f"""
    WITH t AS (
      SELECT doc_id,
        CASE WHEN trim(text)='' THEN [] ELSE {_TOKS} END AS toks
      FROM documents
    ), w AS (
      SELECT doc_id, toks,
        CASE WHEN len(toks) = 0 THEN 0
             ELSE 1 + (greatest(len(toks) - {CHUNK_TOKENS}, 0)
                       + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE} END AS n_win
      FROM t
    ), e AS (
      SELECT doc_id, toks, unnest(range(0, n_win)) AS w FROM w
    )
    SELECT doc_id, CAST(w AS BIGINT) AS chunk_id,
      array_to_string(list_slice(
        toks, w*{CHUNK_STRIDE} + 1,
        w*{CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ') AS chunk_text,
      CAST(len(list_slice(
        toks, w*{CHUNK_STRIDE} + 1,
        w*{CHUNK_STRIDE} + {CHUNK_TOKENS})) AS INTEGER) AS n_tokens
    FROM e
    """,
)
def q_text_chunking(spark, sf_dir):
    """Overlapping token-window chunking (operators/text.py
    chunk_documents): the embedding-pipeline unit splitter.  One
    projection of array HOFs into a posexplode — narrow until the
    fan-out, which IS the output."""
    return tx.chunk_documents(
        _docs(spark, sf_dir),
        chunk_tokens=CHUNK_TOKENS,
        stride=CHUNK_STRIDE,
    )


# --- product quantization (operators/similarity.py) ------------------------

PQ_M = 8  # subspaces (d=64 -> 8 dims each)
PQ_ANCHOR_IDS = [1, 2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47]


def _pq_ctes() -> str:
    """PQ CTE chain ending at ``codes`` (corpus PQ codes) and ``qd``
    (per-query distance-table rows) — shared by ann_pq and ann_ivfpq."""
    m = PQ_M
    sub = 64 // m
    cb_case = " ".join(
        f"WHEN {v} THEN {i}" for i, v in enumerate(PQ_ANCHOR_IDS)
    )
    ids = ", ".join(str(v) for v in PQ_ANCHOR_IDS)
    t_list = "[" + ", ".join(str(t) for t in range(1, sub + 1)) + "]"
    dist = (
        f"CAST(list_sum(list_transform({t_list}, t -> "
        f"(x.xm[j.j*{sub} + t] - c.xm[j.j*{sub} + t])"
        f" * (x.xm[j.j*{sub} + t] - c.xm[j.j*{sub} + t]))) AS BIGINT)"
    )
    j_list = "[" + ", ".join(str(j) for j in range(m)) + "]"
    return f"""
    WITH xm AS (
      SELECT vec_id,
        list_transform(embedding::DOUBLE[],
                       x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS xm
      FROM embeddings
    ),
    cb AS (
      SELECT CASE vec_id {cb_case} END AS c, xm
      FROM xm WHERE vec_id IN ({ids})
    ),
    js AS (SELECT unnest({j_list}) AS j),
    -- per (vector, subspace, code) exact integer squared L2
    ex AS (
      SELECT x.vec_id, j.j, c.c, {dist} AS dist
      FROM xm x, js j, cb c
    ),
    codes AS (
      SELECT vec_id, j, c AS code FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        FROM ex) WHERE rn = 1
    ),
    qd AS (
      SELECT * FROM ex WHERE vec_id % 100 = 0
    )"""


def _pq_sql(k: int = 5) -> str:
    return f"""
    {_pq_ctes()},
    adc AS (
      SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
             CAST(SUM(q.dist) AS BIGINT) AS adc_dist
      FROM codes d JOIN qd q ON q.j = d.j AND q.c = d.code
      WHERE q.vec_id <> d.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
      FROM adc) WHERE rank <= {k}
    """


@register("ann_pq", _pq_sql())
def q_ann_pq(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.py pq_encode /
    pq_topk): anchor-trained codebook -> one-projection corpus encoding
    (codebook is a plan literal; no join, no shuffle) -> ADC search with
    broadcast per-query distance tables.  All distances are exact int64
    on micro-quantized components, so codes and rankings hash
    identically across engines; ties break toward the lower code /
    neighbor id on both sides."""
    emb = _emb(spark, sf_dir)
    anchors = emb.where(F.col("vec_id").isin(PQ_ANCHOR_IDS)).select(
        F.col("vec_id").alias("anchor_code"), "embedding"
    )
    codebook = sim.pq_train_from_anchors(anchors, m=PQ_M)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return sim.pq_topk(emb, queries, codebook, k=5)


def _ivfpq_sql(k: int = 5) -> str:
    cent_case = " ".join(
        f"WHEN {v} THEN {i}" for i, v in enumerate(IVF_CENTROID_IDS)
    )
    ids = ", ".join(str(v) for v in IVF_CENTROID_IDS)
    return f"""
    {_pq_ctes()},
    cent AS (
      SELECT CASE vec_id {cent_case} END AS cluster_id,
             embedding::DOUBLE[] AS centv
      FROM embeddings WHERE vec_id IN ({ids})
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    iassign AS (
      SELECT vec_id, cluster_id FROM (
        SELECT v.vec_id, cent.cluster_id,
          row_number() OVER (PARTITION BY v.vec_id
            ORDER BY {_COS.format(a="v.v", b="cent.centv")} DESC,
                     cent.cluster_id) AS rn
        FROM v, cent) WHERE rn = 1
    ),
    adc AS (
      SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
             CAST(SUM(q.dist) AS BIGINT) AS adc_dist
      FROM codes d
      JOIN qd q ON q.j = d.j AND q.c = d.code
      JOIN iassign ia ON ia.vec_id = d.vec_id
      JOIN iassign iq ON iq.vec_id = q.vec_id
                     AND iq.cluster_id = ia.cluster_id
      WHERE q.vec_id <> d.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
      FROM adc) WHERE rank <= {k}
    """


@register("ann_ivfpq", _ivfpq_sql())
def q_ann_ivfpq(spark, sf_dir):
    """IVF-PQ composition (operators/similarity.py ivfpq_topk): coarse
    cluster restriction (broadcast centroids, cosine-ppm argmax — the
    verified assign_clusters) + exact-integer ADC over PQ codes.  The
    FAISS IndexIVFPQ shape: a query touches ~1/n_clusters of the corpus
    and pays m integer adds per candidate."""
    emb = _emb(spark, sf_dir)
    anchors = emb.where(F.col("vec_id").isin(PQ_ANCHOR_IDS)).select(
        F.col("vec_id").alias("anchor_code"), "embedding"
    )
    codebook = sim.pq_train_from_anchors(anchors, m=PQ_M)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return sim.ivfpq_topk(
        emb, queries, _centroids(spark, sf_dir), codebook, k=5
    )


# --- corpus assembly (operators/corpus.py) ---------------------------------


@register(
    "pipeline_split",
    """
    SELECT doc_id,
      CASE WHEN b < 800000 THEN 'train'
           WHEN b < 900000 THEN 'val'
           ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
        ('0x' || substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 8))
          ::BIGINT % 1000000 AS b
      FROM documents
    )
    """,
)
def q_pipeline_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment
    (operators/corpus.py train_val_test_split): salted-md5 bucket per
    doc, so a doc's split never changes as the corpus grows.  Pure
    scan-side projection — no shuffle, no state."""
    return cp.train_val_test_split(_docs(spark, sf_dir)).select(
        "doc_id", "split"
    )


# target mixture: source index mod 4 -> acceptance ppm (keep premium
# sources whole, downsample the crawl-like tail)
MIXTURE_RATES_PPM = {
    f"src{i}": (900_000, 600_000, 300_000, 100_000)[i % 4] for i in range(20)
}


@register(
    "pipeline_mixture",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
        CASE CAST(substr(source, 4) AS INTEGER) % 4
          WHEN 0 THEN 900000 WHEN 1 THEN 600000
          WHEN 2 THEN 300000 ELSE 100000 END AS rate_ppm,
        ('0x' || substr(md5('mix_' || CAST(doc_id AS VARCHAR)), 1, 8))
          ::BIGINT % 1000000 AS b
      FROM documents
    ) WHERE b < rate_ppm
    """,
)
def q_pipeline_mixture(spark, sf_dir):
    """Source-weighted mixture sampling (operators/corpus.py
    mixture_sample): per-source hash-acceptance rates — the knob that
    sets the training mix.  Salted independently of pipeline_split so
    mixture membership doesn't correlate with split membership.
    Scan-side filter: samples 10^11 rows by scanning them once."""
    return cp.mixture_sample(
        _docs(spark, sf_dir), MIXTURE_RATES_PPM
    ).select("doc_id", "source")


@register(
    "pipeline_source_filter",
    f"""
    WITH s AS (
      SELECT source,
        count(*) AS n_docs,
        count(distinct md5({_NORM})) AS n_unique,
        CAST(floor(CAST(sum(length(text)) AS BIGINT)*1.0 / count(*))
             AS BIGINT) AS mean_chars,
        CAST(floor(1e6 * CAST(sum(CASE WHEN length(text) < 100
             THEN 1 ELSE 0 END) AS BIGINT)
             * 1.0 / count(*)) AS BIGINT) AS short_ppm
      FROM documents GROUP BY source
    )
    SELECT source,
      CAST(n_docs AS BIGINT) AS n_docs,
      mean_chars,
      short_ppm,
      CAST(floor(1e6*(n_docs - n_unique)*1.0/n_docs) AS BIGINT) AS dup_ppm,
      CAST(CASE WHEN n_docs >= 1 AND mean_chars >= 300
        AND floor(1e6*(n_docs - n_unique)*1.0/n_docs) <= 100000
        AND short_ppm <= 500000 THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
    FROM s
    """,
)
def q_pipeline_source_filter(spark, sf_dir):
    """Domain/source-level curation (operators/corpus.py
    source_curation; round 8): the C4/Gopher-style stage that drops
    WHOLE sources on aggregate stats — per-document filters miss
    systematic source rot (spam domains, boilerplate mirrors, scrape
    failures).  Verdict per source: doc count, mean length, short-doc
    fraction, exact-dup fraction on the normalized-text md5, and the
    keep gate; ``filter_by_source`` then broadcast-semi-joins the
    verdict back onto the corpus.

    Scale shape: (source, fp) pre-agg -> source agg, both with map-side
    partials; output is source-cardinality small, so the follow-up doc
    filter is a broadcast semi-join — the corpus shuffles once for the
    distinct, never for the filter."""
    v = cp.source_curation(_docs(spark, sf_dir))
    return v.select(
        "source",
        "n_docs",
        "mean_chars",
        "short_ppm",
        "dup_ppm",
        F.col("keep").cast("long").alias("keep_flag"),
    )


PACK_CAPACITY = 2048
PACK_BUCKETS = 32


@register(
    "pipeline_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id,
        CASE WHEN trim(text)='' THEN 0 ELSE len({_TOKS}) END AS n
      FROM documents
    ), p AS (
      SELECT doc_id, doc_id % {PACK_BUCKETS} AS pack_bucket,
        CAST(n AS BIGINT) AS n_tokens,
        CAST(sum(CAST(n AS BIGINT)) OVER (
          PARTITION BY doc_id % {PACK_BUCKETS} ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM t WHERE n > 0
    )
    SELECT doc_id, pack_bucket, n_tokens,
      (cum - n_tokens) // {PACK_CAPACITY} AS seq_id,
      (cum - n_tokens) % {PACK_CAPACITY} AS seq_offset,
      CAST((cum - n_tokens) // {PACK_CAPACITY}
           <> (cum - 1) // {PACK_CAPACITY} AS INTEGER) AS spans_cut
    FROM p
    """,
)
def q_pipeline_pack_sequences(spark, sf_dir):
    """Concat-and-cut sequence packing (operators/corpus.py
    pack_sequences): each doc's position in the fixed-length training-
    sequence stream — bucketed cumulative window, parallel across
    {PACK_BUCKETS} independent streams."""
    docs = tx.with_token_counts(_docs(spark, sf_dir))
    return cp.pack_sequences(
        docs,
        tokens_col="ws_tokens",
        capacity=PACK_CAPACITY,
        n_buckets=PACK_BUCKETS,
    )




_PII_SQL = r"""
    WITH aug AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 7 = 0
           THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com'
           ELSE '' END
        || CASE WHEN doc_id % 11 = 0
           THEN printf(' ssn %03d-%02d-%04d', doc_id % 1000, doc_id % 100, doc_id % 10000)
           ELSE '' END
        || CASE WHEN doc_id % 13 = 0
           THEN printf(' call %03d-555-%04d', 100 + doc_id % 900, doc_id % 10000)
           ELSE '' END
        || CASE WHEN doc_id % 17 = 0
           THEN printf(' from 10.%d.%d.%d', doc_id % 256, (doc_id * 7) % 256, (doc_id * 13) % 256)
           ELSE '' END AS t
      FROM documents
    ),
    s1 AS (SELECT doc_id, len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t FROM aug),
    s2 AS (SELECT doc_id, n_email, len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
                  regexp_replace(t, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t FROM s1),
    s3 AS (SELECT doc_id, n_email, n_ssn, len(regexp_extract_all(t, '(?:\+?1[-. ]?)?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b')) AS n_phone,
                  regexp_replace(t, '(?:\+?1[-. ]?)?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS t FROM s2),
    s4 AS (SELECT doc_id, n_email, n_ssn, n_phone, len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ip,
                  regexp_replace(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t FROM s3)
    SELECT doc_id, CAST(n_email AS INTEGER) AS n_email, CAST(n_ssn AS INTEGER) AS n_ssn,
           CAST(n_phone AS INTEGER) AS n_phone, CAST(n_ip AS INTEGER) AS n_ip,
           md5(t) AS scrub_fp
    FROM s4
"""


@register("pipeline_scrub_pii", _PII_SQL)
def q_pipeline_scrub_pii(spark, sf_dir):
    """PII redaction (operators/corpus.py scrub_pii) hash-checked end to
    end: the fixture corpus carries no PII strings, so deterministic
    doc_id-derived PII (email/SSN/phone/IP) is appended to a subset of
    docs IN the query, then scrubbed — per-class hit counts and the
    md5 of the scrubbed text must match DuckDB running the identical
    progressive redaction (VERDICT r6 #6).

    Scale shape: all JVM-side regexp_replace/regexp_count in one narrow
    projection — zero shuffle, whole-stage codegen, scan-speed at
    100 TB."""
    d = F.col("doc_id")
    aug = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                d % 7 == 0,
                F.format_string(" reach me at user%d@example.com", d),
            ).otherwise(""),
            F.when(
                d % 11 == 0,
                F.format_string(
                    " ssn %03d-%02d-%04d", d % 1000, d % 100, d % 10000
                ),
            ).otherwise(""),
            F.when(
                d % 13 == 0,
                F.format_string(
                    " call %03d-555-%04d", d % 900 + 100, d % 10000
                ),
            ).otherwise(""),
            F.when(
                d % 17 == 0,
                F.format_string(
                    " from 10.%d.%d.%d",
                    d % 256,
                    (d * 7) % 256,
                    (d * 13) % 256,
                ),
            ).otherwise(""),
        ),
    )
    return cp.scrub_pii(aug).select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ip",
        F.md5(F.col("text_scrubbed")).alias("scrub_fp"),
    )




_SPAN_K = 8

_SPAN_SQL = rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ),
    sh AS (
      SELECT doc_id, md5(array_to_string(t[i:i+{_SPAN_K - 1}], ' ')) AS h
      FROM toks, LATERAL unnest(generate_series(1, len(t) - {_SPAN_K - 1})) AS g(i)
      WHERE len(t) >= {_SPAN_K}
    ),
    dup AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    tot AS (SELECT doc_id, count(*) AS total_shingles FROM sh GROUP BY doc_id),
    d AS (SELECT s.doc_id, count(*) AS dup_shingles
          FROM sh s JOIN dup USING (h) GROUP BY s.doc_id)
    SELECT t.doc_id,
           CAST(t.total_shingles AS BIGINT) AS total_shingles,
           CAST(COALESCE(d.dup_shingles, 0) AS BIGINT) AS dup_shingles,
           CAST(floor(1e6 * COALESCE(d.dup_shingles, 0) / t.total_shingles) AS BIGINT) AS dup_ppm
    FROM tot t LEFT JOIN d ON t.doc_id = d.doc_id
"""


@register("dedup_span_coverage", _SPAN_SQL)
def q_dedup_span_coverage(spark, sf_dir):
    """Exact shared-span coverage (operators/dedup.py span_dup_coverage):
    per-document fraction of {_SPAN_K}-token shingles appearing VERBATIM
    in other documents — the suffix-array-style substring-dedup signal
    that whole-document near-dup methods miss (boilerplate, licenses,
    quoted passages inside otherwise-unique docs).

    Scale shape: positional-shingle hash stream (one posexplode), one
    hash-partitioned per-shingle count with map-side combine, one
    shuffle join against the duplicated-hash set; no windows, no
    cartesian, JVM-side md5."""
    return dd.span_dup_coverage(_docs(spark, sf_dir), k=_SPAN_K)


# ===========================================================================
# CDC changelog (sources/changes.py row_changes) — round 6
# ===========================================================================

# A deterministic "upsert commit" derived purely from lineitem content
# (same style as the MOR delete rules): the snapshot-A live set is the
# position-surviving rows; the commit eq-deletes every l_orderkey % 17
# row and re-inserts the linenumber-1 ones with +1000 quantity (an
# UPDATE).  The changelog must therefore show those rows as
# delete+insert pairs and the other %17 rows as pure deletes.

_CDC_COLS = ", ".join(syn.LINEITEM_COLS)
_CDC_UPD_COLS = ", ".join(
    "l_quantity + 1000 AS l_quantity" if c == "l_quantity" else c
    for c in syn.LINEITEM_COLS
)

_CDC_SQL = f"""
    WITH old AS (
        SELECT {_CDC_COLS}, CAST(l_shipdate AS DATE) AS l_shipdate
        FROM lineitem WHERE NOT {syn.POS_RULE_SQL}
    ),
    new AS (
        SELECT * FROM old WHERE NOT (l_orderkey % 17 = 0)
        UNION ALL
        SELECT {_CDC_UPD_COLS}, l_shipdate FROM old
        WHERE l_orderkey % 17 = 0 AND l_linenumber = 1
    )
    SELECT *, 'insert' AS _change_type
    FROM (SELECT * FROM new EXCEPT ALL SELECT * FROM old)
    UNION ALL
    SELECT *, 'delete' AS _change_type
    FROM (SELECT * FROM old EXCEPT ALL SELECT * FROM new)
"""


_CDC_PAIRED_SQL = f"""
    WITH old AS (
        SELECT {_CDC_COLS}, CAST(l_shipdate AS DATE) AS l_shipdate
        FROM lineitem WHERE NOT {syn.POS_RULE_SQL}
    ),
    new AS (
        SELECT * FROM old WHERE NOT (l_orderkey % 17 = 0)
        UNION ALL
        SELECT {_CDC_UPD_COLS}, l_shipdate FROM old
        WHERE l_orderkey % 17 = 0 AND l_linenumber = 1
    ),
    chg AS (
        SELECT *, 'insert' AS _change_type
        FROM (SELECT * FROM new EXCEPT ALL SELECT * FROM old)
        UNION ALL
        SELECT *, 'delete' AS _change_type
        FROM (SELECT * FROM old EXCEPT ALL SELECT * FROM new)
    ),
    flagged AS (
        SELECT *,
            MAX(CASE WHEN _change_type = 'insert' THEN 1 ELSE 0 END)
                OVER (PARTITION BY l_orderkey, l_linenumber) AS has_i,
            MAX(CASE WHEN _change_type = 'delete' THEN 1 ELSE 0 END)
                OVER (PARTITION BY l_orderkey, l_linenumber) AS has_d
        FROM chg
    )
    SELECT {_CDC_COLS}, l_shipdate,
           CASE WHEN has_i = 1 AND has_d = 1 AND _change_type = 'insert'
                THEN 'update_after'
                WHEN has_i = 1 AND has_d = 1 AND _change_type = 'delete'
                THEN 'update_before'
                ELSE _change_type END AS _change_type
    FROM flagged
"""


@register("cdc_update_images", _CDC_PAIRED_SQL)
def q_cdc_update_images(spark, sf_dir):
    """Changelog UPDATE-image pairing (round 11; Iceberg's
    create_changelog_view with identifier columns): the same upsert
    changelog as cdc_changelog, but delete+insert pairs sharing a key
    are re-tagged update_before/update_after — unpaired deletes (the
    touched rows the upsert did NOT re-insert) stay plain deletes.
    Replication consumers need the distinction: updates keep the key
    live, deletes tombstone it.

    Scale shape: the single-scan signed-count diff pass (carried rows
    cancel map-side, optimization r15), plus two windowed presence
    flags over ONE hash shuffle on the key — no self-join, no driver
    work."""
    from iceberg_compaction_spark.sources.changes import (
        pair_update_images,
        row_changes_single_scan,
    )

    base = syn.output_select(
        spark.read.parquet(syn.lineitem_path(sf_dir)).where(
            ~F.expr(syn.POS_RULE_SQL)
        )
    )
    touched = F.col("l_orderkey") % 17 == 0
    changes = row_changes_single_scan(
        base,
        new_keep=~touched | (F.col("l_linenumber") == 1),
        new_overrides={
            "l_quantity": F.when(
                touched, F.col("l_quantity") + 1000
            ).otherwise(F.col("l_quantity"))
        },
    )
    return pair_update_images(
        changes, keys=["l_orderkey", "l_linenumber"]
    )


@register("cdc_changelog", _CDC_SQL)
def q_cdc_changelog(spark, sf_dir):
    """Row-level changelog of an upsert commit (Iceberg changelog-scan
    semantics: updates appear as delete+insert pairs) — the distributed
    multiset-diff core the manifest-level table_changes/
    changelog_between delegate to (sources/changes.py:row_changes).

    Scale shape: ONE signed-count diff pass over only the AFFECTED row
    sets (the manifest layer restricts to changed files before this
    runs) — BOTH row variants of each input row emitted from a single
    scan (row_changes_single_scan, optimization r15), so carried rows
    cancel inside the map task and only changed rows cross the
    exchange; no window, no driver materialization."""
    from iceberg_compaction_spark.sources.changes import (
        row_changes_single_scan,
    )

    base = syn.output_select(
        spark.read.parquet(syn.lineitem_path(sf_dir)).where(
            ~F.expr(syn.POS_RULE_SQL)
        )
    )
    touched = F.col("l_orderkey") % 17 == 0
    # new = (old minus touched) union (touched line-1 rows updated),
    # expressed as ONE conditional pass over the same scan
    return row_changes_single_scan(
        base,
        new_keep=~touched | (F.col("l_linenumber") == 1),
        new_overrides={
            "l_quantity": F.when(
                touched, F.col("l_quantity") + 1000
            ).otherwise(F.col("l_quantity"))
        },
    )


# ===========================================================================
# DataSource end-to-end MOR read (sources/datasource.py) — round 6
# ===========================================================================


@register("datasource_mor_read", _MOR_FULL_SQL)
def q_datasource_mor_read(spark, sf_dir):
    """The full MOR semantics through Spark's Python DataSource surface:
    ``spark.read.format("iceberg-table")`` over a real catalog table
    (two data files carrying the seq rule as FILE sequence numbers, a
    (path,pos) position-delete file, an equality-delete file at the
    delete sequence) must equal the same ``_MOR_FULL_SQL`` oracle the
    native mor_full path is checked against — the executor-side
    vectorized pyarrow MOR (position masks + fused-key is_in) verified
    end to end, not just unit-tested.

    Scale shape: one partition per data file (embarrassingly parallel),
    delete content parsed once per executor via the worker cache."""
    from iceberg_compaction_spark.sources.datasource import register as _reg

    wh = syn.datasource_warehouse(spark, sf_dir)
    _reg(spark)
    df = (
        spark.read.format("iceberg-table")
        .option("warehouse", wh)
        .option("table", "lineitem_mor")
        .load()
    )
    return syn.output_select(df)


# ===========================================================================
# Incremental dedup (operators/dedup.py minhash_lsh_incremental_pairs) — r6
# ===========================================================================

_INCR_NEW_RULE = "doc_id % 10 = 0"  # deterministic "today's batch"


def _minhash_incremental_sql() -> str:
    return f"""
    {_minhash_ctes()}
    SELECT CASE WHEN j.id_a % 10 = 0 THEN j.id_a ELSE j.id_b END AS new_id,
           CASE WHEN j.id_a % 10 = 0 THEN j.id_b ELSE j.id_a END AS old_id,
           j.jaccard_ppm
    FROM jac j JOIN cands c ON c.id_a = j.id_a AND c.id_b = j.id_b
    WHERE j.jaccard_ppm >= {JACCARD_THRESHOLD_PPM}
      AND ((j.id_a % 10 = 0) <> (j.id_b % 10 = 0))
    """


@register("dedup_incremental", _minhash_incremental_sql())
def q_dedup_incremental(spark, sf_dir):
    """Delta-priced dedup of a new batch (doc_id % 10 = 0) against the
    existing corpus: new-batch band buckets broadcast against the
    corpus band index, exact-Jaccard verify on candidates only — never
    corpus x corpus.  The daily-crawl shape at 100 TB: cost scales with
    the delta, and the corpus side is a persisted band_table index in
    production."""
    return dd.minhash_lsh_incremental_pairs(
        _docs(spark, sf_dir),
        is_new=F.expr(_INCR_NEW_RULE),
        threshold_ppm=JACCARD_THRESHOLD_PPM,
    )


@register(
    "pipeline_shuffle_order",
    """
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5('shuffle-epoch-0' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hh
      FROM documents
    ),
    b AS (SELECT doc_id, hh, hh % 32 AS shuffle_bucket FROM h)
    SELECT doc_id, shuffle_bucket,
           CAST(row_number() OVER (PARTITION BY shuffle_bucket ORDER BY hh, doc_id) - 1 AS BIGINT) AS bucket_rank,
           CAST((row_number() OVER (PARTITION BY shuffle_bucket ORDER BY hh, doc_id) - 1) * 32 + shuffle_bucket AS BIGINT) AS global_pos
    FROM b
    """,
)
def q_pipeline_shuffle_order(spark, sf_dir):
    """Deterministic epoch shuffle for training order: salted-hash
    bucket + parallel within-bucket rank — a reproducible uniform
    permutation with NO total-order sort (each of n_buckets reducers
    ranks corpus/n rows; round-robin bucket reads yield the global
    order)."""
    return cp.shuffle_order(_docs(spark, sf_dir))


@register(
    "dedup_canonical",
    f"""
    SELECT content_fp,
           CAST(canonical_id AS BIGINT) AS canonical_id,
           CAST(canonical_len AS BIGINT) AS canonical_len,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM (
      SELECT md5({_NORM}) AS content_fp, doc_id AS canonical_id,
             length(text) AS canonical_len,
             count(*) OVER (PARTITION BY md5({_NORM})) AS n_docs,
             row_number() OVER (
               PARTITION BY md5({_NORM})
               ORDER BY length(text) DESC, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def q_dedup_canonical(spark, sf_dir):
    """Canonical-doc selection per exact-dup group (keep the LONGEST
    variant, tie -> lowest id): min(struct(-len, id)) aggregate with a
    map-side combine instead of a rank-1 window; the oracle keeps the
    window formulation, proving the two agree."""
    return dd.canonical_exact_groups(_docs(spark, sf_dir))


# ===========================================================================
# Metadata tables (sources/metadata_tables.py) — Iceberg's
# files/partitions/snapshots relations; no reference equivalent
# (SURVEY §2.9).  All three run over the deterministic two-snapshot,
# lang-partitioned docs_meta fixture so DuckDB can reconstruct the
# expected metadata from raw ``documents``.
# ===========================================================================

_META_FILE_UNION = """
      SELECT lang,
             lang || CASE WHEN doc_id % 2 = 0
                          THEN '-even.parquet' ELSE '-odd.parquet'
                     END AS file_name,
             1 AS seq
      FROM documents
      UNION ALL
      SELECT lang, lang || '-m10.parquet', 2
      FROM documents WHERE doc_id % 10 = 0
"""


def _meta_catalog(sf_dir):
    from iceberg_compaction_spark.sources.catalog import FileCatalog

    return FileCatalog(warehouse=syn.metadata_fixture_warehouse(sf_dir))


@register(
    "meta_files",
    f"""
    SELECT file_name, lang,
           CAST(count(*) AS BIGINT) AS record_count,
           CAST(max(seq) AS BIGINT) AS sequence_number
    FROM ({_META_FILE_UNION})
    GROUP BY file_name, lang
    """,
)
def q_meta_files(spark, sf_dir):
    """``files`` metadata table (Iceberg's ``tbl$files``): one row per
    data file of the current snapshot with partition values, record
    count and data sequence number — the relation every table operator
    queries to audit layout and pick compaction targets.

    Scale shape: metadata rows scale with FILE COUNT (~10^5 at 100 TB),
    built once on the driver from the manifest and distributed as a
    normal DataFrame — the same stance as the planning layer."""
    from iceberg_compaction_spark.sources.metadata_tables import files_df

    cat = _meta_catalog(sf_dir)
    df = files_df(spark, cat.load_table("docs_meta")).filter(
        F.col("content") == 0
    )
    return df.select(
        F.element_at(F.split("file_path", "/"), -1).alias("file_name"),
        F.col("partition")["lang"].alias("lang"),
        "record_count",
        "sequence_number",
    )


@register(
    "meta_partitions",
    f"""
    SELECT lang,
           CAST(count(DISTINCT file_name) AS BIGINT) AS file_count,
           CAST(count(*) AS BIGINT) AS record_count
    FROM ({_META_FILE_UNION})
    GROUP BY lang
    """,
)
def q_meta_partitions(spark, sf_dir):
    """``partitions`` metadata table, served through the DataSource's
    ``option("metadata", ...)`` read path (the SQL-facing equivalent of
    ``tbl$partitions``): per-partition file/record totals."""
    from iceberg_compaction_spark.sources.datasource import (
        register as _reg,
    )

    wh = syn.metadata_fixture_warehouse(sf_dir)
    _reg(spark)
    df = (
        spark.read.format("iceberg-table")
        .option("warehouse", wh)
        .option("table", "docs_meta")
        .option("metadata", "partitions")
        .load()
    )
    return df.select(
        F.col("partition")["lang"].alias("lang"),
        "file_count",
        "record_count",
    )


@register(
    "meta_snapshots",
    """
    WITH v1 AS (
      SELECT CAST(count(DISTINCT lang || CAST(doc_id % 2 AS VARCHAR))
                  AS BIGINT) AS files,
             CAST(count(*) AS BIGINT) AS records
      FROM documents
    ),
    m10 AS (
      SELECT CAST(count(DISTINCT lang) AS BIGINT) AS files,
             CAST(count(*) AS BIGINT) AS records
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT CAST(1 AS BIGINT) AS snapshot_id, 'append' AS operation,
           v1.files AS data_file_count, v1.records AS total_records
    FROM v1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'append',
           v1.files + m10.files, v1.records + m10.records
    FROM v1, m10
    """,
)
def q_meta_snapshots(spark, sf_dir):
    """``snapshots`` metadata table: one row per snapshot in the
    table's history with its operation and cumulative file/record
    totals — the time-travel audit surface (``tbl$snapshots``)."""
    from iceberg_compaction_spark.sources.metadata_tables import (
        snapshots_df,
    )

    return snapshots_df(spark, _meta_catalog(sf_dir), "docs_meta").select(
        "snapshot_id", "operation", "data_file_count", "total_records"
    )


@register(
    "cdc_changelog_branch",
    """
    SELECT doc_id, 'xx' AS lang, 'insert' AS _change_type,
           CAST(2 AS BIGINT) AS _commit_snapshot_id
    FROM documents WHERE doc_id % 9 = 4
    UNION ALL
    SELECT doc_id, lang, 'delete', CAST(2 AS BIGINT)
    FROM documents WHERE doc_id % 9 = 4
    """,
)
def q_cdc_changelog_branch(spark, sf_dir):
    """Branch changelog on a WAP table (round 11 — the audit-consumer
    view): ``changelog_for_ref('audit', from_snapshot=fork)`` returns
    exactly the branch's staged commit as delete+insert pairs, stamped
    with the BRANCH snapshot id.  The fixture interleaves a LATER main
    commit (storage v3) after the branch's v2; lineage walking keeps it
    out — under raw version order the main commit's rows would pollute
    the changelog and flip the hash.

    Scale shape: the changelog is delta-priced (only the upsert's
    affected files are diffed, one signed-count hash aggregate over
    the affected row sets);
    the lineage walk is O(history) driver-side metadata."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.changes import changelog_for_ref

    wh = syn.wap_changelog_warehouse(spark, sf_dir)
    cat = FileCatalog(warehouse=wh)
    return changelog_for_ref(
        spark, cat, "docs_cfr", "audit", from_snapshot=1
    ).select("doc_id", "lang", "_change_type", "_commit_snapshot_id")


@register(
    "meta_manifests",
    """
    SELECT CAST(1 AS BIGINT) AS added_snapshot_id,
           CAST(count(DISTINCT lang || CAST(doc_id % 2 AS VARCHAR))
                AS INT) AS added_files_count,
           CAST(count(*) AS BIGINT) AS added_rows_count,
           CAST(1 AS BIGINT) AS sequence_number,
           min(lang) AS lower_lang, max(lang) AS upper_lang
    FROM documents
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(count(DISTINCT lang) AS INT),
           CAST(count(*) AS BIGINT), CAST(2 AS BIGINT),
           min(lang), max(lang)
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def q_meta_manifests(spark, sf_dir):
    """``manifests`` metadata table (Iceberg's ``tbl$manifests``,
    round 11 — VERDICT r10 #7): the current snapshot's manifest
    groupings with added-file/row counts, sequence range and per-field
    partition summaries — what an operator reads to see which commit
    produced which files before expiring or compacting.

    Scale shape: rows scale with COMMIT COUNT x content kinds, built
    driver-side from the lineage walk (O(history x files) metadata
    reads, no data IO) and distributed as a normal DataFrame."""
    from iceberg_compaction_spark.sources.metadata_tables import (
        manifests_df,
    )

    df = manifests_df(spark, _meta_catalog(sf_dir), "docs_meta")
    return df.select(
        "added_snapshot_id",
        "added_files_count",
        "added_rows_count",
        "sequence_number",
        F.get_json_object("partition_summaries", "$[0].lower_bound").alias(
            "lower_lang"
        ),
        F.get_json_object("partition_summaries", "$[0].upper_bound").alias(
            "upper_lang"
        ),
    )


@register(
    "meta_entries",
    """
    SELECT CAST(0 AS INT) AS status, CAST(1 AS BIGINT) AS snapshot_id,
           file_name, CAST(count(*) AS BIGINT) AS record_count
    FROM (SELECT lang || CASE WHEN doc_id % 2 = 0
                              THEN '-even.parquet'
                              ELSE '-odd.parquet' END AS file_name
          FROM documents)
    GROUP BY file_name
    UNION ALL
    SELECT CAST(1 AS INT), CAST(2 AS BIGINT),
           lang || '-m10.parquet', CAST(count(*) AS BIGINT)
    FROM documents WHERE doc_id % 10 = 0
    GROUP BY lang
    """,
)
def q_meta_entries(spark, sf_dir):
    """``entries`` metadata table (Iceberg's ``tbl$entries``, round 11
    — VERDICT r10 #7), served through the DataSource's
    ``option("metadata", "entries")`` read path: one row per file entry
    of the head snapshot, status-tagged against the parent (ADDED=1 for
    the second commit's m10 files, EXISTING=0 for carried files) with
    the ADDING snapshot id — the commit-forensics relation."""
    from iceberg_compaction_spark.sources.datasource import (
        register as _reg,
    )

    wh = syn.metadata_fixture_warehouse(sf_dir)
    _reg(spark)
    df = (
        spark.read.format("iceberg-table")
        .option("warehouse", wh)
        .option("table", "docs_meta")
        .option("metadata", "entries")
        .load()
    )
    return df.select(
        "status",
        "snapshot_id",
        F.element_at(F.split("file_path", "/"), -1).alias("file_name"),
        "record_count",
    )


@register(
    "text_unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, t AS token
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
            FROM documents)
      WHERE t <> ''
    ),
    model AS (
      SELECT token,
             count(*) * 1.0 / (SELECT count(*) FROM toks) AS p
      FROM toks GROUP BY token
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(FLOOR(10000 * (-avg(log2(model.p)))) AS BIGINT)
               AS logprob_e4
    FROM toks JOIN model USING (token)
    GROUP BY doc_id
    """,
)
def q_text_unigram_logprob(spark, sf_dir):
    """CCNet-style unigram LM quality scoring (round 11): per document,
    the mean negative log2 probability of its tokens under a unigram
    model fit on the corpus itself — the classic perplexity-filter
    shape with the LM simplified to unigrams so the whole computation
    stays JVM-side and the oracle can refit the identical model.
    Score surfaces as a e4-floored integer (established ppm practice:
    float avg accumulation order differs across engines).

    Scale shape: one explode, one map-side-combinable model fit, one
    token->p join (broadcast when the vocabulary fits), one
    groupBy(doc).  No Python in the row path, no window."""
    from iceberg_compaction_spark.operators.text import unigram_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out = unigram_logprob(docs, "text", id_cols=["doc_id"])
    return out.select(
        "doc_id",
        "n_tokens",
        F.floor(F.lit(10000) * F.col("logprob"))
        .cast("long")
        .alias("logprob_e4"),
    )


@register(
    "dml_add_files",
    """
    SELECT doc_id, lang FROM documents
    UNION ALL
    SELECT doc_id, lang FROM documents WHERE doc_id % 13 = 1
    """,
)
def q_dml_add_files(spark, sf_dir):
    """add_files metadata-only import (round 11; Iceberg's add_files
    procedure): existing parquet files registered as a new append
    snapshot — footers read for counts/stats, data bytes never move,
    one CAS commit.  The oracle is the base rows UNION ALL the imported
    subset (append semantics: no dedup).

    Scale shape: THE bulk-import path at 100 TB — cost is per-file
    footer metadata + one commit, independent of data volume."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.ingest import read_table_mor

    wh = syn.add_files_warehouse(spark, sf_dir)
    m = FileCatalog(warehouse=wh).load_table("docs_add")
    return read_table_mor(spark, m).select("doc_id", "lang")


@register(
    "dml_overwrite_partitions",
    """
    SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'fr'
    UNION ALL
    SELECT doc_id, lang, -n_chars AS n_chars FROM documents
    WHERE lang = 'fr'
    """,
)
def q_dml_overwrite_partitions(spark, sf_dir):
    """Dynamic partition overwrite (round 12; Iceberg's
    replace-partitions / Spark's INSERT OVERWRITE dynamic mode,
    sources/ingest.py overwrite_partitions): the fixture replaces the
    WHOLE ``lang='fr'`` cell of a lang-partitioned table with
    negated-n_chars rows; every other cell keeps its files untouched.
    This is also the producer of the staged-overwrite snapshots
    cherry_pick can replay past a moved main (catalog.py
    _cherry_pick_overwrite).

    Scale shape: one distributed fan-out write into the replaced
    cells; the replaced-set computation and manifest edit are
    metadata-sized — untouched partitions are never read or written."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.ingest import read_table_mor

    wh = syn.overwrite_partitions_warehouse(spark, sf_dir)
    m = FileCatalog(warehouse=wh).load_table("docs_ow")
    return read_table_mor(spark, m).select("doc_id", "lang", "n_chars")


@register(
    "meta_position_deletes",
    """
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'even.parquet'
                ELSE 'odd.parquet' END AS file_name,
           CAST(rn - 1 AS BIGINT) AS pos
    FROM (SELECT doc_id,
                 row_number() OVER (PARTITION BY doc_id % 2
                                    ORDER BY doc_id) AS rn
          FROM documents)
    WHERE doc_id % 7 = 3
    """,
)
def q_meta_position_deletes(spark, sf_dir):
    """``position_deletes`` metadata table (round 11; Iceberg's
    ``tbl$position_deletes``): the actual delete ROWS a snapshot
    carries — (data file, 0-based position) per recorded delete,
    reconstructed by the oracle from the fixture's deterministic file
    split and the delete_where predicate.

    Scale shape: delete content is DATA-sized (billions of positions on
    a delete-heavy table), so this is a genuine distributed read —
    parquet delete files through spark.read.parquet, puffin DVs decoded
    executor-side — never a driver materialization."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.metadata_tables import (
        position_deletes_df,
    )

    wh = syn.delete_where_warehouse(spark, sf_dir)
    m = FileCatalog(warehouse=wh).load_table("docs_dml")
    return position_deletes_df(spark, m).select(
        F.element_at(F.split("file_path", "/"), -1).alias("file_name"),
        "pos",
    )


@register(
    "meta_metadata_log",
    """
    SELECT * FROM (VALUES
        ('v1.metadata.json', CAST(1 AS BIGINT), 0, CAST(1 AS BIGINT)),
        ('v2.metadata.json', CAST(2 AS BIGINT), 0, CAST(2 AS BIGINT))
    ) AS t(file_name, latest_snapshot_id, latest_schema_id,
           latest_sequence_number)
    """,
)
def q_meta_metadata_log(spark, sf_dir):
    """``metadata_log_entries`` metadata table (round 12; Iceberg's
    ``tbl$metadata_log_entries``): the metadata VERSION FILE trail —
    which physical file was current when and what head it declared,
    the forensics relation for commit archaeology.  The fixture's two
    deterministic versions (create + delete_where) pin the contract;
    the wall-clock timestamp column is projected out for the oracle
    (stable columns only, like the other meta_* entries).

    Scale shape: one row per RETAINED version — metadata-sized by
    definition, bounded by retention like Iceberg's own."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.metadata_tables import (
        metadata_log_entries_df,
    )

    wh = syn.delete_where_warehouse(spark, sf_dir)
    df = metadata_log_entries_df(
        spark, FileCatalog(warehouse=wh), "docs_dml"
    )
    return df.select(
        F.element_at(F.split("file", "/"), -1).alias("file_name"),
        "latest_snapshot_id",
        "latest_schema_id",
        "latest_sequence_number",
    )


@register(
    "text_bpe_pairs",
    """
    WITH words AS (
      SELECT w FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents
      ) WHERE length(w) >= 2
    ),
    pairs AS (
      SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
      FROM (SELECT w, unnest(range(1, length(w))) AS i FROM words)
    )
    SELECT pair, COUNT(*) AS n_pairs FROM pairs GROUP BY pair
    QUALIFY row_number() OVER (ORDER BY COUNT(*) DESC, pair ASC) <= 50
    """,
)
def q_text_bpe_pairs(spark, sf_dir):
    """BPE merge-pair statistics (round 12; Sennrich et al.,
    arXiv:1508.07909): global adjacent-character-pair frequencies
    inside words — the statistic each BPE training iteration maximizes
    — top-50 with a deterministic (count desc, pair asc) cut.

    Scale shape: two explodes feeding one map-side-combinable groupBy;
    the aggregate is vocabulary-sized so the final ranking window runs
    on a tiny frame.  The full trainer loops this stage with a
    driver-side merge-table update; the distributed count IS the cost."""
    from iceberg_compaction_spark.operators.text import bpe_pair_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
    return bpe_pair_stats(docs, top_k=50)


@register(
    "dedup_corpus_lines",
    """
    WITH ls AS (
      SELECT doc_id, string_split(text, chr(10)) AS arr FROM documents
    ),
    lines AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             arr[CAST(i AS INTEGER)] AS line
      FROM (SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS i
            FROM ls)
    ),
    ranked AS (
      SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line
                                ORDER BY doc_id, pos) AS rn,
             length(line) >= 30 AS dedupable
      FROM lines
    ),
    final AS (
      SELECT doc_id, pos, line,
             CASE WHEN dedupable THEN rn ELSE 1 END AS rk
      FROM ranked
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN rk = 1 THEN line END,
                               chr(10) ORDER BY pos), '') AS text,
           COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed
    FROM final GROUP BY doc_id
    """,
)
def q_dedup_corpus_lines(spark, sf_dir):
    """C4-style cross-document line dedup (round 12; arXiv:1910.10683
    §2.2): a >=30-char line occurring anywhere else in the corpus
    survives only at its first (doc, position); documents reassemble
    with surviving lines in original order.  The classic web-corpus
    boilerplate killer.

    Scale shape: posexplode -> ONE window rank on the line key (the
    same shuffle a groupBy would pay, no join-back) -> groupBy(doc)
    reassembly via array_sort(collect_list(struct)) so order never
    depends on shuffle arrival.  No Python in the row path."""
    from iceberg_compaction_spark.operators.dedup import (
        dedup_lines_across_corpus,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return dedup_lines_across_corpus(docs)


@register(
    "stats_column_profile",
    """
    SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
           COUNT(DISTINCT doc_id) AS ndv,
           CAST(MIN(doc_id) AS VARCHAR) AS min_value,
           CAST(MAX(doc_id) AS VARCHAR) AS max_value
    FROM documents
    UNION ALL
    SELECT 'lang', COUNT(*),
           CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT lang),
           CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'source', COUNT(*),
           CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT source),
           CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'n_chars', COUNT(*),
           CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT n_chars),
           CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
    FROM documents
    """,
)
def q_stats_column_profile(spark, sf_dir):
    """ANALYZE surface (round 12; Iceberg's compute_table_stats /
    ANALYZE TABLE ... FOR COLUMNS): per-column n_rows / nulls / NDV /
    min / max in ONE distributed aggregation, reshaped long-format
    JVM-side (stack) — the exact form here (oracle-checkable);
    analyze_table's default is the HLL single-pass twin (mergeable
    sketches, the 100 TB path) and commits the scalars into table
    properties stamped with the analyzed snapshot id.

    Scale shape: the stats never leave the JVM until a one-row-per-
    column collect; approx mode avoids the multi-distinct expand."""
    from iceberg_compaction_spark.operators.stats import column_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return column_stats(docs, approx=False).withColumnRenamed(
        "column", "col_name"
    )


@register(
    "dml_delete_where",
    """
    SELECT doc_id, lang FROM documents WHERE NOT (doc_id % 7 = 3)
    """,
)
def q_dml_delete_where(spark, sf_dir):
    """Predicate DELETE lifecycle (sources/ingest.py delete_where): the
    fixture commits ``DELETE WHERE doc_id % 7 = 3`` against a catalog
    table of ``documents`` as a real position-delete file; this query
    MOR-reads the result, so the oracle checks the whole
    scan -> predicate -> position-delete write -> anti-join loop.

    Scale shape: the delete was computed as a distributed filter over
    the hidden (file, pos) scan and written without positions ever
    reaching the driver; the read is the standard J1 anti-join."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.ingest import read_table_mor

    wh = syn.delete_where_warehouse(spark, sf_dir)
    m = FileCatalog(warehouse=wh).load_table("docs_dml")
    return read_table_mor(spark, m).select("doc_id", "lang")


@register(
    "dml_update_where",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 3 THEN 'xx' ELSE lang END AS lang,
           CASE WHEN doc_id % 7 = 3 THEN n_chars + 1000
                ELSE n_chars END AS n_chars
    FROM documents
    """,
)
def q_dml_update_where(spark, sf_dir):
    """Predicate UPDATE lifecycle (sources/ingest.py update_where):
    the fixture commits ``UPDATE SET lang='xx', n_chars=n_chars+1000
    WHERE doc_id % 7 = 3`` as ONE snapshot — a position delete over the
    matched rows plus a data file carrying the updated rows — and this
    query MOR-reads the result; the oracle's CASE projection is the
    copy-on-write ground truth.

    Scale shape: matched rows come from the same distributed
    predicate-eligible scan DELETE uses; unchanged rows never rewrite
    (the merge-on-read UPDATE contract at 100 TB)."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.ingest import read_table_mor

    wh = syn.update_where_warehouse(spark, sf_dir)
    m = FileCatalog(warehouse=wh).load_table("docs_upd")
    return read_table_mor(spark, m).select("doc_id", "lang", "n_chars")


@register(
    "dml_merge_into",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN 'zz' ELSE lang END AS lang
    FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, 'new' AS lang
    FROM documents WHERE doc_id % 97 = 0
    """,
)
def q_dml_merge_into(spark, sf_dir):
    """MERGE INTO lifecycle (sources/ingest.py merge_into): the fixture
    merges a source of updates (``doc_id % 10 = 0`` -> lang 'zz') and
    inserts (``doc_id % 97 = 0`` offset by 1e6 -> lang 'new') in one
    snapshot; this query MOR-reads the result against the oracle's
    CASE + UNION ground truth.

    Scale shape: one target x source key join (broadcast for
    micro-batch sources, AQE otherwise); matched rows become positions
    in a single delete artifact; updated + inserted rows share one data
    file."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.ingest import read_table_mor

    wh = syn.merge_warehouse(spark, sf_dir)
    m = FileCatalog(warehouse=wh).load_table("docs_merge")
    return read_table_mor(spark, m).select("doc_id", "lang")


@register(
    "streaming_upsert_sink",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN 'up' ELSE lang END AS lang
    FROM documents
    """,
)
def q_streaming_upsert_sink(spark, sf_dir):
    """Streaming UPSERT sink batch-twin (sources/datasource.py
    _StreamUpsertWriter): the fixture drives one availableNow
    micro-batch of updates (``doc_id % 10 = 0`` -> lang 'up') through
    ``writeStream.format('iceberg-table').option('mode','upsert')``,
    which commits the equality-delete + data-file pair a CDC producer
    emits; this query MOR-reads the maintained table against the
    oracle's CASE projection.

    Scale shape: executors write the batch's rolling data files; only
    the KEY COLUMNS of one micro-batch ever reach the driver (the same
    bound as any foreachBatch upsert); replays dedup via the batch-id
    snapshot property."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.ingest import read_table_mor

    wh = syn.streaming_upsert_warehouse(spark, sf_dir)
    m = FileCatalog(warehouse=wh).load_table("docs_sup")
    return read_table_mor(spark, m).select("doc_id", "lang")


@register(
    "dml_partitioned_write",
    """
    SELECT doc_id, lang, n_chars FROM documents
    """,
)
def q_dml_partitioned_write(spark, sf_dir):
    """Partitioned-write round trip (late r8): ``documents`` written
    ONCE through the DataSource's partitioned Arrow writer (vectorized
    transform routing, per-partition rolling streams, partition tuples
    committed in the manifest), read back through the MOR batch reader
    — the oracle proves no row is lost, duplicated or mis-routed by
    the fan-out.

    Scale shape: routing is per-batch Arrow compute on executors; each
    partition's stream rolls on real compressed bytes; the read prunes
    by partition at plan time when predicates allow."""
    from iceberg_compaction_spark.sources.datasource import register as _reg

    wh = syn.partitioned_write_warehouse(spark, sf_dir)
    _reg(spark)  # idempotent; the fixture may be cached from a prior session
    return (
        spark.read.format("iceberg-table")
        .option("warehouse", wh)
        .option("table", "docs_part")
        .load()
    )


SEMDEDUP_THRESHOLD_PPM = 350000
# SemDeDup's k is its scale knob (clusters bound the quadratic stage at
# ~n²/k pairs): a LARGER fixed centroid set than the 4-way IVF init —
# the paper raises k with corpus size; these ids exist at every sf
SEMDEDUP_CENTROID_IDS = [
    1, 2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47,
]


def _semantic_dedup_sql() -> str:
    cent_case = " ".join(
        f"WHEN {v} THEN {i}" for i, v in enumerate(SEMDEDUP_CENTROID_IDS)
    )
    ids = ", ".join(str(v) for v in SEMDEDUP_CENTROID_IDS)
    return f"""
    WITH cent AS (
      SELECT CASE vec_id {cent_case} END AS cluster_id,
             embedding::DOUBLE[] AS centv
      FROM embeddings WHERE vec_id IN ({ids})
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
      SELECT vec_id, cluster_id, v FROM (
        SELECT v.vec_id, cent.cluster_id, v.v,
          row_number() OVER (PARTITION BY v.vec_id
            ORDER BY {_COS.format(a="v.v", b="cent.centv")} DESC,
                     cent.cluster_id) AS rn
        FROM v, cent) WHERE rn = 1
    ),
    removed AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE {_COS.format(a="a.v", b="b.v")} >= {SEMDEDUP_THRESHOLD_PPM}
    )
    SELECT a.vec_id, a.cluster_id
    FROM assign a LEFT JOIN removed r ON a.vec_id = r.vec_id
    WHERE r.vec_id IS NULL
    """


@register("dedup_semantic", _semantic_dedup_sql())
def q_dedup_semantic(spark, sf_dir):
    """SemDeDup semantic deduplication (similarity.semantic_dedup;
    Abbas et al. 2023): kmeans-cluster the embeddings (fixed IVF
    centroid init), then drop every vector whose cluster holds a
    lower-id vector within the cosine threshold; survivors out.

    Scale shape: the clusters ARE the scalability mechanism — k
    clusters of ~n/k vectors cost ~n²/k within-cluster cosine pairs
    instead of n², evaluated as a cluster-key equi-join with hoisted
    norms (never a cartesian); assignment is a broadcast argmax with
    map-side combine."""
    emb = _emb(spark, sf_dir)
    m = {v: i for i, v in enumerate(SEMDEDUP_CENTROID_IDS)}
    mapping = F.create_map(*[F.lit(x) for kv in m.items() for x in kv])
    cents = emb.where(F.col("vec_id").isin(SEMDEDUP_CENTROID_IDS)).select(
        F.element_at(mapping, F.col("vec_id"))
        .cast("int")
        .alias("cluster_id"),
        "embedding",
    )
    return sim.semantic_dedup(emb, cents, SEMDEDUP_THRESHOLD_PPM)


@register(
    "dml_rollback",
    """
    SELECT doc_id, lang FROM documents
    """,
)
def q_dml_rollback(spark, sf_dir):
    """Snapshot rollback lifecycle (sources/catalog.py rollback_table):
    the fixture commits a predicate DELETE then rolls the table back to
    v1 as a NEW append-only commit (v3); this query MOR-reads the head,
    and the oracle — the untouched ``documents`` — proves the rollback
    restored the exact original state through real history.

    Scale shape: rollback is a metadata-only commit (the old snapshot's
    file list re-published at a fresh sequence); no data moves."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.ingest import read_table_mor

    wh = syn.rollback_warehouse(spark, sf_dir)
    m = FileCatalog(warehouse=wh).load_table("docs_rb")
    return read_table_mor(spark, m).select("doc_id", "lang")


@register(
    "dml_merge_conditional",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 AND doc_id % 20 <> 0
                     AND n_chars >= 300
                THEN 'cc' ELSE lang END AS lang,
           n_chars
    FROM documents
    WHERE doc_id % 20 <> 0
    """,
)
def q_dml_merge_conditional(spark, sf_dir):
    """Conditional MERGE (round 10, sources/ingest.py merge_into
    ``matched_clauses``): the fixture commits ``WHEN MATCHED AND
    s.op='D' THEN DELETE / WHEN MATCHED AND t.n_chars >= 300 THEN
    UPDATE`` — first-match-wins, exactly SQL MERGE's clause order, and
    the ``%20=0 AND n_chars>=300`` rows satisfy BOTH clauses so a wrong
    order is a hash mismatch; matched rows satisfying NO clause must
    stay byte-identical.  The oracle is the equivalent CASE + WHERE
    ground truth.

    Scale shape: the clause resolution is ONE JVM-side CASE expression
    stamped in the same pass as the target x source key join; each
    update clause projects only its own rows; unchanged rows never
    rewrite."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.ingest import read_table_mor

    wh = syn.merge_conditional_warehouse(spark, sf_dir)
    m = FileCatalog(warehouse=wh).load_table("docs_mergec")
    return read_table_mor(spark, m).select("doc_id", "lang", "n_chars")


@register(
    "dml_branch_wap",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN 'bb' ELSE lang END AS lang
    FROM documents
    """,
)
def q_dml_branch_wap(spark, sf_dir):
    """Write-audit-publish via branch-targeted commits (round 10,
    ``to_branch`` on upsert + compact_catalog; reference
    core/src/compaction/mod.rs:97,1307-1336): the fixture upserts AND
    compacts ON an audit branch — asserting main stayed at v1 between
    the commits — then fast-forwards main to the audited snapshot.
    This query MOR-reads the published head against the oracle's CASE
    ground truth, so the whole stage-audit-publish loop is
    driver-checked.

    Scale shape: a branch commit is the same CAS-allocated snapshot
    plus one refs-CAS pointer move — metadata-only overhead; the data
    path (upsert artifacts, compaction rewrite) is identical to the
    main-branch entries."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.ingest import read_table_mor

    wh = syn.branch_wap_warehouse(spark, sf_dir)
    m = FileCatalog(warehouse=wh).load_table("docs_wap")
    return read_table_mor(spark, m).select("doc_id", "lang")


@register(
    "dml_snapshot_fork",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 9 = 4 THEN 'zz' ELSE lang END AS lang
    FROM documents
    """,
)
def q_dml_snapshot_fork(spark, sf_dir):
    """snapshot_table zero-copy fork (round 12; Iceberg's
    ``snapshot_table`` procedure — sources/catalog.py snapshot_table):
    the fixture forks ``documents`` without copying a byte (the fork's
    first snapshot references the source's files), upserts ON THE FORK,
    and asserts the source stayed untouched, the new file landed under
    the fork's own root, and ``gc.enabled=false`` makes the fork's
    expire refuse.  This query MOR-reads the fork against the CASE
    ground truth, so the fork-isolation contract is driver-checked.

    Scale shape: the fork is a metadata-only commit — THE way to stage
    a dev/test fork of a 100 TB production table; subsequent DML prices
    identically to any table (shared files are read-only)."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.ingest import read_table_mor

    wh = syn.snapshot_fork_warehouse(spark, sf_dir)
    m = FileCatalog(warehouse=wh).load_table("docs_fork")
    return read_table_mor(spark, m).select("doc_id", "lang")


@register(
    "sample_exact_k",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             md5('topk_' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
      ORDER BY h, doc_id
      LIMIT 100
    ) ORDER BY doc_id
    """,
)
def q_sample_exact_k(spark, sf_dir):
    """Deterministic exactly-k sampling (round 12; operators/corpus.py
    sample_exact_k): the k smallest salted hashes — a fixed-budget,
    reproducible uniform sample (eval sets, human-review batches) that
    completes the sampling family next to the rate-based and stratified
    samplers.  Membership is stable under corpus growth only in
    expectation (new rows can displace old ones — that's what exact-k
    means); the rate-based sampler is the growth-stable form.

    Scale shape: orderBy(hash).limit(k) compiles to
    TakeOrderedAndProject — per-partition top-k merged on the driver,
    never a global sort; one corpus scan."""
    from iceberg_compaction_spark.operators.corpus import sample_exact_k

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    return sample_exact_k(docs, k=100)


@register(
    "emb_matryoshka",
    """
    WITH n AS (
      SELECT vec_id, (embedding::DOUBLE[])[1:16] AS v FROM embeddings
    ),
    m AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n)
    SELECT vec_id,
           CAST(FLOOR(nrm * 1000000) AS BIGINT) AS norm_micro,
           CAST(g.i - 1 AS INTEGER) AS pos,
           CAST(FLOOR(v[g.i] / nrm * 1000000) AS BIGINT) AS u_micro
    FROM m, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g
    """,
)
def q_emb_matryoshka(spark, sf_dir):
    """Matryoshka truncation (round 12; Kusupati et al. 2022 —
    operators/similarity.py matryoshka_truncate): keep the first 16
    embedding dims and re-L2-normalize, integer micro-units.  The MRL
    index-shrinking knob: at 100 TB this turns a 1536-dim ANN corpus
    into a 16x smaller index with a one-line change, and the truncated
    unit vectors feed the same IVF/LSH/PQ operators unchanged.

    Scale shape: identical to emb_normalize — staged-norm O(d)
    higher-order projections in the scan, zero shuffle, no Python."""
    return sim.matryoshka_truncate(_emb(spark, sf_dir), dims=16).select(
        "vec_id",
        "norm_micro",
        F.posexplode("unit_micro").alias("pos", "u_micro"),
    )


def _geo_tile_sql(bits: int = 6) -> str:
    from iceberg_compaction_spark.operators.geo import tile_id_expr

    z = tile_id_expr(
        "value", "CAST(user_id AS DOUBLE)", (0.0, 200.0), (0.0, 50.0), bits
    )
    return f"""
    SELECT CAST({z} AS BIGINT) AS tile_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_users
    FROM events GROUP BY 1
    """


@register("geo_tile_rollup", _geo_tile_sql())
def q_geo_tile_rollup(spark, sf_dir):
    """Spatial tile rollup (round 13; operators/geo.py st_tile_id):
    events quantized into a fixed-bounds Morton tile grid (the
    geohash-style bucketing key under distributed spatial joins — a
    point's tile never depends on the batch, so tiles are stable
    across incremental ingests), then a per-tile count + distinct
    users.  The tile expression is ONE generated string evaluated by
    both engines (the zorder entry's dialect-parity pattern), so the
    oracle hash-pins the quantization and the interleave bit-exactly.

    Scale shape: pure JVM integer expressions inside whole-stage
    codegen; the rollup is a map-side-combinable groupBy on a bounded
    key space (4^bits tiles)."""
    from iceberg_compaction_spark.operators.geo import st_tile_id

    e = ev.read_events(spark, sf_dir).select(
        "user_id", "value", F.col("user_id").cast("double").alias("uy")
    )
    t = st_tile_id(e, "value", "uy", (0.0, 200.0), (0.0, 50.0), bits=6)
    return t.groupBy("tile_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("nd_users"),
    )


@register(
    "meta_refs",
    """
    SELECT 'audit' AS name, 'branch' AS type, CAST(2 AS BIGINT)
               AS snapshot_id,
           CAST(NULL AS BIGINT) AS max_ref_age_ms,
           CAST(NULL AS BIGINT) AS max_snapshot_age_ms,
           CAST(NULL AS BIGINT) AS min_snapshots_to_keep
    WHERE (SELECT COUNT(*) FROM documents) > 0
    UNION ALL
    SELECT 'main', 'branch', CAST(3 AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT)
    WHERE (SELECT COUNT(*) FROM documents) > 0
    """,
)
def q_meta_refs(spark, sf_dir):
    """``refs`` metadata table (Iceberg's ``tbl$refs``, round 13): the
    named-ref listing — name, type, pinned snapshot, per-ref retention
    fields — over the WAP fixture whose audit branch sits at v2 while
    main moved to v3.  The oracle spells the fixture's exact ref
    state, so the entry hash-pins both the refs CAS lifecycle outcome
    and the relation's schema (including NULL retention columns).

    Scale shape: metadata-sized by definition (one row per ref); the
    read is one refs-state load, no data touched."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.metadata_tables import refs_df

    wh = syn.wap_changelog_warehouse(spark, sf_dir)
    return refs_df(spark, FileCatalog(warehouse=wh), "docs_cfr")


@register(
    "geo_bbox_filter",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_in_bbox,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    WHERE value >= 50 AND value <= 150
      AND user_id >= 10 AND user_id <= 40
    GROUP BY event_type
    """,
)
def q_geo_bbox_filter(spark, sf_dir):
    """Iceberg v3 GEOMETRY tier (round 13; operators/geo.py): events
    coordinates encoded as standard WKB POINT binary (the v3 storage
    form, decodable by shapely/JTS/PostGIS), then a bounding-box
    containment filter and rollup — the spatial-prune primitive,
    proven value-exact against the oracle's raw-column filter (i.e.
    the WKB round trip loses nothing).

    Scale shape: encode + coordinate decode are ONE numpy
    frombuffer/tobytes per Arrow batch (structured dtype — no per-row
    Python); the bbox predicate is an ordinary boolean column Catalyst
    can place before joins/aggregates."""
    from iceberg_compaction_spark.operators.geo import (
        st_point,
        st_within_bbox,
    )

    e = ev.read_events(spark, sf_dir).select(
        "event_type",
        "value",
        F.col("user_id").cast("double").alias("uy"),
    )
    g = st_point(e, "value", "uy")
    hits = st_within_bbox(g, "geom", 50, 10, 150, 40).where("in_bbox")
    return hits.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_in_bbox"),
        # per-row integer cents BEFORE the sum: float accumulation
        # order can differ between engines; integer sums cannot
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )


@register(
    "pipeline_dsir_weights",
    """
    WITH toks AS (
      SELECT doc_id,
             ('0x' || substr(md5('dsir_' || t), 1, 8))::BIGINT % 4096 AS b
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
            FROM documents)
      WHERE t <> ''
    ),
    flags AS (SELECT doc_id, lang = 'en' AS is_t FROM documents),
    tb AS (
      SELECT b,
             CAST(SUM(CASE WHEN f.is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_b,
             COUNT(*) AS r_b
      FROM toks JOIN flags f USING (doc_id)
      GROUP BY b
    ),
    agg AS (
      SELECT toks.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM((t_b * 1000000) // r_b) AS BIGINT) AS weight_scaled
      FROM toks JOIN tb USING (b)
      GROUP BY toks.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.weight_scaled, 0) AS BIGINT) AS weight_scaled
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN agg a USING (doc_id)
    """,
)
def q_pipeline_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights (round 13; "Data Selection via
    Importance Resampling", Xie et al. 2023 — operators/corpus.py
    dsir_importance_weights): hashed-token features (md5 buckets, the
    engine's cross-engine-deterministic hash), per-bucket importance
    ratio target/corpus as integer parts-per-million (linear-ratio
    variant: integer-exact, no libm ulp can flip a value), per-doc
    weight = sum of its tokens' ratios.  Target set: lang='en' — score
    every document by how English-like its token distribution is; the
    resampling step is any of the deterministic samplers over the
    weight column.

    Scale shape: ONE corpus explode, ONE conditional groupBy(bucket)
    (target + corpus counts in the same pass, map-side combinable), a
    BROADCAST of the 4096-row feature table into the token join, ONE
    groupBy(doc) sum — no window, no Python, no driver state beyond
    the broadcast map."""
    from iceberg_compaction_spark.operators.corpus import (
        dsir_importance_weights,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    return dsir_importance_weights(docs, F.col("lang") == "en")


@register(
    "pipeline_mixture_temperature",
    """
    WITH c AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, CAST(n AS BIGINT) AS n,
             CAST(FLOOR(SQRT(n)) AS BIGINT) AS w
      FROM c
    ),
    t AS (
      SELECT CAST(SUM(w) AS BIGINT) AS sumw,
             CAST(SUM(n) AS BIGINT) AS ntot
      FROM w
    ),
    r AS (
      SELECT source,
             LEAST((((1000000 * ((ntot * 500000) // 1000000)) // sumw)
                    * w) // n,
                   1000000) AS rate_ppm
      FROM w, t
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN r USING (source)
    WHERE ('0x' || substr(md5('tmix_' || CAST(d.doc_id AS VARCHAR)),
                          1, 8))::BIGINT % 1000000 < r.rate_ppm
    """,
)
def q_pipeline_mixture_temperature(spark, sf_dir):
    """Temperature-based source mixture (round 12; mT5/XLM-R corpus
    rebalancing, alpha = 0.5 — operators/corpus.py
    temperature_mixture_sample): per-source acceptance proportional to
    sqrt(n_s), computed entirely in 64-bit integer math (weights =
    floor(sqrt(n)), rates via integer DIV) so the oracle reproduces the
    exact sample — small sources upweighted toward equal share, the
    crawl downsampled, total pinned near the target fraction.

    Scale shape: one tiny source-count aggregate, scalar totals via a
    broadcast 1-row cross join, the rate table broadcast back, and ONE
    scan-side hash filter over the corpus — no corpus-sized shuffle."""
    from iceberg_compaction_spark.operators.corpus import (
        temperature_mixture_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    return temperature_mixture_sample(docs).select("doc_id", "source")


@register(
    "v3_row_lineage",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN doc_id // 2
                ELSE (SELECT COUNT(*) FROM documents
                      WHERE doc_id % 2 = 0) + (doc_id - 1) // 2
           END AS row_id
    FROM documents
    """,
)
def q_v3_row_lineage(spark, sf_dir):
    """Iceberg v3 row lineage THROUGH a compaction (round 12;
    sources/ingest.py read_table_mor_with_lineage, the materializing
    rewrite in compaction.py): the fixture builds a v3 table as two
    parity files (row ids assigned at create: evens get
    ``first_row_id=0``, odds continue after), COMPACTS it to one file —
    the rewrite must materialize ``_row_id`` because positions change —
    and this query reads the post-compaction lineage.  The oracle is
    the closed-form pre-compaction assignment, so a hash match proves
    the ids SURVIVED the file swap byte-for-byte.

    Scale shape: synthesis is the hidden-pos scan plus one inlined
    literal-map lookup (manifest metadata, never shuffled); the
    materialized class reads its columns straight off parquet — no
    joins, no Python."""
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.ingest import (
        read_table_mor_with_lineage,
    )

    wh = syn.row_lineage_warehouse(spark, sf_dir)
    m = FileCatalog(warehouse=wh).load_table("docs_lineage")
    return read_table_mor_with_lineage(spark, m).select(
        "doc_id", F.col("_row_id").alias("row_id")
    )


@register(
    "text_classifier_score",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                 AS tok
      FROM documents WHERE trim(text) <> ''
    ),
    top AS (
      SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
      ORDER BY cnt DESC, tok ASC LIMIT 256
    ),
    w AS (
      SELECT tok,
             1000 - 3 * CAST(
                 row_number() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT
             ) AS w_milli
      FROM top
    )
    SELECT t.doc_id,
           CAST(FLOOR(CAST(SUM(COALESCE(w.w_milli, -100)) AS BIGINT)
                      * 1.0 / COUNT(*))
                AS BIGINT) AS logit_milli
    FROM toks t LEFT JOIN w USING (tok)
    GROUP BY t.doc_id
    """,
)
def q_text_classifier_score(spark, sf_dir):
    """fastText-style linear quality classifier (round 12;
    operators/text.py with_classifier_score — Joulin et al. 2016 "Bag
    of Tricks"): per-document logit = mean token weight over a bounded
    vocabulary (self-fit rank weights here; a trained model's
    ``(tok, w_milli)`` table drops in unchanged), OOV floor, integer
    milli fixed-point so the oracle hash is engine-exact.

    Scale shape: vocabulary via one map-side-combined count + a
    TakeOrdered top-V (never a global window over the whole vocab);
    scoring is explode -> broadcast vocab join -> one doc-key groupBy —
    the identical plan family as text_unigram_logprob, all JVM-side."""
    from iceberg_compaction_spark.operators.text import (
        with_classifier_score,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return with_classifier_score(docs)


@register(
    "stats_theta_ndv",
    """
    SELECT 'doc_id' AS col_name, COUNT(DISTINCT doc_id) AS ndv
    FROM documents
    UNION ALL
    SELECT 'lang', COUNT(DISTINCT lang) FROM documents
    UNION ALL
    SELECT 'source', COUNT(DISTINCT source) FROM documents
    """,
)
def q_stats_theta_ndv(spark, sf_dir):
    """Theta-sketch NDV (round 12; Iceberg compute_table_stats /
    puffin apache-datasketches-theta-v1 — sources/theta.py,
    operators/stats.py theta_sketch_columns): per-column distinct
    counts via DataSketches-compatible theta sketches built in ONE
    distributed pass.  At these column cardinalities the sketches stay
    in EXACT mode (k = 2^13 nominal entries), so the estimates equal
    COUNT(DISTINCT) and the oracle hash-checks the whole hash →
    map-side-combine → top-k → sketch pipeline end to end (estimation
    mode's accuracy and its byte-level interop with datasketches-java
    are pinned in tests/test_theta.py).

    Scale shape: values are murmur-hashed executor-side (numpy-
    vectorized for fixed-width types), each Arrow batch emits only its
    k+1 smallest distinct hashes (map-side combine), and one top-k per
    column reduces the metadata-sized candidate stream — mergeable
    sketches are exactly how a 1000-executor ANALYZE stays one pass."""
    from iceberg_compaction_spark.operators.stats import (
        theta_sketch_columns,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source"
    )
    sketches = theta_sketch_columns(
        docs, ["doc_id", "lang", "source"], lg_k=13
    )
    rows = [
        (c, int(round(sketches[c].estimate())))
        for c in ["doc_id", "lang", "source"]
    ]
    return driver_frame(spark, rows, "col_name string, ndv long")


@register(
    "stream_update_images",
    """
    SELECT doc_id, lang, 'update_before' AS _change_type,
           CAST(2 AS BIGINT) AS _commit_snapshot_id
    FROM documents
    WHERE doc_id % 10 = 0 AND lang IS DISTINCT FROM 'up'
    UNION ALL
    SELECT doc_id, 'up', 'update_after', CAST(2 AS BIGINT)
    FROM documents
    WHERE doc_id % 10 = 0 AND lang IS DISTINCT FROM 'up'
    """,
)
def q_stream_update_images(spark, sf_dir):
    """Streaming changelog UPDATE-image pairing (round 13 — VERDICT
    r12 #6; sources/changes.py pair_update_images_stream): the
    DataSource's ``change_mode=cdc`` STREAM of the ``docs_sup`` upsert
    commit, re-tagged per micro-batch so same-commit same-key
    delete+insert pairs surface as ``update_before``/``update_after``
    — the stateless applyInPandasWithState shape (NO retained state;
    correct at snapshot granularity because the source never splits a
    commit across triggers).  The oracle is the batch pairing
    semantics spelled in SQL: every ``doc_id % 10 = 0`` row whose lang
    actually changed yields one before/after pair stamped with the
    upsert's snapshot id.

    Scale shape: one hash shuffle on (commit, key) per trigger — the
    same cost the batch window pays — and state size ZERO between
    triggers; reference parity is Iceberg's create_changelog_view
    procedure with identifier columns, streamed."""
    from iceberg_compaction_spark.sources.changes import (
        pair_update_images_stream,
    )
    from iceberg_compaction_spark.sources.datasource import register as _reg
    from iceberg_compaction_spark.streaming import pipeline as sp

    wh = syn.streaming_upsert_warehouse(spark, sf_dir)
    _reg(spark)  # idempotent; the fixture may be cached from a prior run
    stream = (
        spark.readStream.format("iceberg-table")
        .option("warehouse", wh)
        .option("table", "docs_sup")
        .option("change_mode", "cdc")
        .option("starting_snapshot", "1")
        .load()
    )
    paired = pair_update_images_stream(stream, keys=["doc_id"])
    return sp.run_available_now(paired, spark, output_mode="append").select(
        "doc_id", "lang", "_change_type", "_commit_snapshot_id"
    )


@register(
    "variant_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q_variant_extract(spark, sf_dir):
    """Iceberg v3 VARIANT tier (round 13 — VERDICT r12 #5;
    operators/variant_ops.py): the events ``props`` JSON encoded into
    the spec's variant binary pairs (byte-compatible with Spark's
    parse_json — pinned in tests/test_variant.py), ``$.k`` extracted
    back through the path-walking variant_get, then the same rollup as
    ``events_json_extract`` — proving encode -> extract round-trips
    values exactly.

    Scale shape: encode + extract are Arrow-batched column passes over
    the scan (no driver collect, no row-at-a-time UDF registration);
    the aggregate is the usual partial-agg rollup.  On JVM-variant
    clusters the extraction maps to the native variant_get."""
    from iceberg_compaction_spark.operators.variant_ops import (
        json_to_variant,
        variant_get_path,
    )

    e = ev.read_events(spark, sf_dir).select("event_type", "props")
    v = json_to_variant(e, "props", "pv")
    k = variant_get_path(v, "pv", "$.k", "long", "k")
    return k.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "geo_spatial_join",
    """
    WITH regions(region_name, xmin, ymin, xmax, ymax) AS (
      VALUES ('west', 0.0, 0.0, 60.0, 25.0),
             ('mid',  50.0, 10.0, 150.0, 40.0),
             ('east', 140.0, 0.0, 205.0, 52.0),
             ('core', 90.0, 20.0, 110.0, 30.0)
    )
    SELECT region_name,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_users,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events e JOIN regions r
      ON e.value >= r.xmin AND e.value <= r.xmax
     AND CAST(e.user_id AS DOUBLE) >= r.ymin
     AND CAST(e.user_id AS DOUBLE) <= r.ymax
    GROUP BY region_name
    """,
)
def q_geo_spatial_join(spark, sf_dir):
    """Distributed spatial JOIN (round 14 — VERDICT r13 #3;
    operators/geo.py st_tile_bbox_join): events points against four
    (overlapping, partly out-of-range) bbox regions via Morton tile
    bucketing — each point gets its single fixed-bounds tile, each
    region explodes into the tiles its box overlaps with the SAME
    clamped cell expressions, and the match is a tile equi-join plus
    the exact bbox residual.  The oracle is the naive cross-predicate
    join, so the hash pins that tile bucketing finds every matching
    (point, region) pair exactly once — including clamped edge cases.

    Scale shape: never a cartesian/nested-loop (plan-gated in
    tests/test_geo.py) — the exploded region side broadcasts (small
    dims; at large region counts the same equi-join shuffles both
    sides co-partitioned on the tile key), so work is points +
    region-tile pairs + candidates in shared tiles."""
    from iceberg_compaction_spark.operators.geo import st_tile_bbox_join

    e = ev.read_events(spark, sf_dir).select(
        "event_type",
        "value",
        "user_id",
        F.col("user_id").cast("double").alias("uy"),
    )
    regions = driver_frame(
        spark,
        [
            ("west", 0.0, 0.0, 60.0, 25.0),
            ("mid", 50.0, 10.0, 150.0, 40.0),
            ("east", 140.0, 0.0, 205.0, 52.0),
            ("core", 90.0, 20.0, 110.0, 30.0),
        ],
        "region_name string, xmin double, ymin double, "
        "xmax double, ymax double",
    )
    j = st_tile_bbox_join(
        e, "value", "uy", regions, (0.0, 200.0), (0.0, 50.0), bits=6
    )
    return j.groupBy("region_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.countDistinct("user_id").cast("long").alias("nd_users"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )


def _geo_pyramid_sql(table: str) -> str:
    """One GROUPING-SETS statement shared verbatim by both engines:
    counts at two independent tile resolutions in ONE pass (the expand
    feeds a single exchange — no second scan for the coarse level)."""
    from iceberg_compaction_spark.operators.geo import tile_id_expr

    t6 = tile_id_expr(
        "value", "CAST(user_id AS DOUBLE)", (0.0, 200.0), (0.0, 50.0), 6
    )
    t4 = tile_id_expr(
        "value", "CAST(user_id AS DOUBLE)", (0.0, 200.0), (0.0, 50.0), 4
    )
    return f"""
    WITH t AS (
      SELECT CAST({t6} AS BIGINT) AS tile6,
             CAST({t4} AS BIGINT) AS tile4,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM {table}
    )
    SELECT CASE WHEN GROUPING(tile6) = 0
                THEN CAST(6 AS BIGINT) ELSE CAST(4 AS BIGINT)
           END AS level,
           COALESCE(tile6, tile4) AS tile_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM t GROUP BY GROUPING SETS ((tile6), (tile4))
    """


@register("geo_tile_pyramid", _geo_pyramid_sql("events"))
def q_geo_tile_pyramid(spark, sf_dir):
    """Multi-resolution tile pyramid (round 14; operators/geo.py
    tile_id_expr): per-tile counts + integer value sums at bits=6 AND
    bits=4 in ONE statement via GROUPING SETS — the map-pyramid /
    drill-down rollup, each level quantized independently (the
    fixed-bounds quantizer is not power-of-two nested, so levels are
    computed, never bit-shifted).  The SAME SQL string runs on both
    engines (tile expressions are dialect-neutral), so the oracle
    hash pins quantization, interleave, and the grouping-sets
    semantics together.

    Scale shape: one scan, one expand (x2 rows), one
    map-side-combinable exchange over a bounded key space (4^6 + 4^4
    tiles); no self-union, no second scan for the coarse level."""
    ev.read_events(spark, sf_dir).createOrReplaceTempView(
        "__geo_pyramid_events"
    )
    return spark.sql(_geo_pyramid_sql("__geo_pyramid_events"))


@register(
    "events_ohlc",
    """
    WITH e AS (
      SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket,
             event_type,
             epoch_ns(ts) AS tsn,
             event_id,
             CAST(FLOOR(value * 1000000) AS BIGINT) AS vmicro
      FROM events
    ),
    w AS (
      SELECT *,
             FIRST_VALUE(vmicro) OVER (
               PARTITION BY hour_bucket, event_type
               ORDER BY tsn, event_id
             ) AS o_micro,
             FIRST_VALUE(vmicro) OVER (
               PARTITION BY hour_bucket, event_type
               ORDER BY tsn DESC, event_id DESC
             ) AS c_micro
      FROM e
    )
    SELECT hour_bucket, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(o_micro) AS BIGINT) AS open_micro,
           CAST(MAX(vmicro) AS BIGINT) AS high_micro,
           CAST(MIN(vmicro) AS BIGINT) AS low_micro,
           CAST(MIN(c_micro) AS BIGINT) AS close_micro
    FROM w GROUP BY hour_bucket, event_type
    """,
)
def q_events_ohlc(spark, sf_dir):
    """OHLC candle resampling (round 14; streaming/events.py
    ohlc_rollup): per (hour, event_type) the open/high/low/close in
    integer micro-units — open/close are argmin/argmax by STRUCT
    aggregate (min/max of (ts, event_id, value)), so the whole candle
    is ONE map-side-combinable exchange with deterministic ts-tie
    handling.  The oracle formulates open/close with rank windows —
    agreeing hashes prove the struct-aggregate shortcut exact.

    Scale shape: one partial-agg groupBy on a bounded key space; no
    window over the event stream (the oracle's window formulation
    would shuffle the full stream a second time)."""
    return ev.ohlc_rollup(ev.read_events(spark, sf_dir))


@register(
    "geo_envelope_join",
    """
    WITH rects AS (
      SELECT user_id, value,
             value - (0.5 + (event_id % 5) * 0.4) AS lxmin,
             CAST(user_id AS DOUBLE)
               - (0.25 + (event_id % 3) * 0.3) AS lymin,
             value + (0.5 + (event_id % 5) * 0.4) AS lxmax,
             CAST(user_id AS DOUBLE)
               + (0.25 + (event_id % 3) * 0.3) AS lymax
      FROM events
    ),
    regions(region_name, rxmin, rymin, rxmax, rymax) AS (
      VALUES ('west', 0.0, 0.0, 60.0, 25.0),
             ('mid',  50.0, 10.0, 150.0, 40.0),
             ('east', 140.0, 0.0, 205.0, 52.0),
             ('core', 90.0, 20.0, 110.0, 30.0)
    )
    SELECT region_name,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_users,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM rects l JOIN regions r
      ON l.lxmin <= r.rxmax AND l.lxmax >= r.rxmin
     AND l.lymin <= r.rymax AND l.lymax >= r.rymin
    GROUP BY region_name
    """,
)
def q_geo_envelope_join(spark, sf_dir):
    """Envelope-overlap spatial JOIN over EXTENDED geometries
    (round 14; operators/geo.py st_tile_envelope_join): event-derived
    rectangles (deterministic integer-modulo extents, identical in
    both engines) against four bbox regions — rectangle x rectangle
    interval overlap, the join shape for polygons/linestrings/raster
    footprints reduced to envelopes.  The oracle is the naive
    cross-predicate join, so the hash pins BOTH completeness and the
    exactly-once property of the PBSM reference-point dedup (a
    duplicated pair would flip every count).

    Scale shape: both sides explode into the tiles their box covers
    and equi-join on the tile key; the reference-point rule keeps one
    copy of each multi-tile pair with one JVM comparison — no distinct
    over the join output, which at 100 TB would be a second full
    shuffle of the result."""
    from iceberg_compaction_spark.operators.geo import (
        st_tile_envelope_join,
    )

    e = ev.read_events(spark, sf_dir).select(
        "user_id",
        "value",
        (F.lit(0.5) + (F.col("event_id") % 5) * 0.4).alias("__w"),
        (F.lit(0.25) + (F.col("event_id") % 3) * 0.3).alias("__h"),
        F.col("user_id").cast("double").alias("__uy"),
    )
    rects = e.select(
        "user_id",
        "value",
        (F.col("value") - F.col("__w")).alias("lxmin"),
        (F.col("__uy") - F.col("__h")).alias("lymin"),
        (F.col("value") + F.col("__w")).alias("lxmax"),
        (F.col("__uy") + F.col("__h")).alias("lymax"),
    )
    regions = driver_frame(
        spark,
        [
            ("west", 0.0, 0.0, 60.0, 25.0),
            ("mid", 50.0, 10.0, 150.0, 40.0),
            ("east", 140.0, 0.0, 205.0, 52.0),
            ("core", 90.0, 20.0, 110.0, 30.0),
        ],
        "region_name string, rxmin double, rymin double, "
        "rxmax double, rymax double",
    )
    j = st_tile_envelope_join(
        rects,
        ("lxmin", "lymin", "lxmax", "lymax"),
        regions,
        ("rxmin", "rymin", "rxmax", "rymax"),
        (0.0, 200.0),
        (0.0, 50.0),
        bits=6,
    )
    return j.groupBy("region_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("user_id").cast("long").alias("nd_users"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )


@register(
    "geo_knn_join",
    """
    WITH q(qid, qx, qy) AS (
      VALUES (1, 20.0, 10.0), (2, 100.0, 25.0), (3, 180.0, 45.0)
    ),
    cand AS (
      SELECT qid, user_id, value,
             (value - qx) * (value - qx)
             + (CAST(user_id AS DOUBLE) - qy)
               * (CAST(user_id AS DOUBLE) - qy) AS d2
      FROM events, q
    ),
    ranked AS (
      SELECT qid, user_id, value, d2,
             ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY d2, user_id, value
             ) AS rn
      FROM cand WHERE d2 <= 225.0
    )
    SELECT CAST(qid AS BIGINT) AS qid,
           CAST(rn AS BIGINT) AS knn_rank,
           user_id,
           CAST(FLOOR(value * 100) AS BIGINT) AS value_cents,
           CAST(FLOOR(d2 * 1000000) AS BIGINT) AS d2_micro
    FROM ranked WHERE rn <= 5
    """,
)
def q_geo_knn_join(spark, sf_dir):
    """Radius-bounded k-nearest-neighbor spatial JOIN (round 14;
    operators/geo.py st_tile_knn_join): for each of three query
    points, the 5 nearest events within radius 15 — the oracle is the
    naive cross-product formulation, so the hash pins that the tile
    path finds the identical neighbor sets, ranks, and distances
    (squared planar distance is the same IEEE expression both sides;
    ties fully ordered by (d2, user_id, value)).

    Scale shape: each query's search disk explodes into exactly the
    tiles it overlaps and joins by tile equality (never points x
    queries); the top-k window partitions per query over
    radius-bounded candidates.  No cartesian in the plan (gated in
    tests/test_geo.py on the operator)."""
    from iceberg_compaction_spark.operators.geo import st_tile_knn_join

    e = ev.read_events(spark, sf_dir).select(
        "user_id", "value", F.col("user_id").cast("double").alias("uy")
    )
    queries = driver_frame(
        spark,
        [(1, 20.0, 10.0), (2, 100.0, 25.0), (3, 180.0, 45.0)],
        "qid long, qx double, qy double",
    )
    j = st_tile_knn_join(
        e,
        "value",
        "uy",
        queries,
        "qid",
        "qx",
        "qy",
        k=5,
        radius=15.0,
        x_range=(0.0, 200.0),
        y_range=(0.0, 50.0),
        bits=6,
        tiebreak_cols=("user_id", "value"),
    )
    return j.select(
        "qid",
        F.col("knn_rank").cast("long").alias("knn_rank"),
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
        F.floor(F.col("dist2") * 1_000_000).cast("long").alias("d2_micro"),
    )


@register(
    "variant_shredded_read",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q_variant_shredded_read(spark, sf_dir):
    """Spec-shape variant shredding (round 14 — VERDICT r13 #4;
    operators/variant_ops.py shred_variant_spec): the events ``props``
    encoded as variants, shredded into the v3 spec's footer-visible
    ``typed_value`` group, then ``$.k`` read back through the
    zero-Python nested-column fast path — the same rollup as
    ``variant_extract``, so the oracle hash pins that write-time
    shredding loses nothing vs per-row decode.

    Scale shape: the decode cost moves entirely to WRITE time (one
    Arrow-batched pass); every subsequent read of a shredded path is a
    plain nested-column reference inside whole-stage codegen —
    prunable, pushdown-eligible, zero Python (plan-gated in
    tests/test_variant.py)."""
    from iceberg_compaction_spark.operators.variant_ops import (
        json_to_variant,
        shred_variant_spec,
        variant_get_path,
    )

    e = ev.read_events(spark, sf_dir).select("event_type", "props")
    v = json_to_variant(e, "props", "pv")
    s = shred_variant_spec(v, "pv", {"$.k": "long"})
    k = variant_get_path(s, "pv", "$.k", "long", "k")
    return k.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


# ===========================================================================
# Round-15 additions: multi-geometry WKB through the envelope join
# (VERDICT r14 #2) and antimeridian-crossing geographic boxes
# (VERDICT r14 #5).  Tail registrations; pytest oracle-checks them.
# ===========================================================================


@register(
    "geo_multipolygon_join",
    """
    WITH rects AS (
      SELECT user_id, value,
             LEAST(value - (0.5 + (event_id % 5) * 0.4),
                   value + 2.8) AS lxmin,
             LEAST(CAST(user_id AS DOUBLE)
                     - (0.25 + (event_id % 3) * 0.3),
                   CAST(user_id AS DOUBLE) + 1.8) AS lymin,
             GREATEST(value + (0.5 + (event_id % 5) * 0.4),
                      value + 3.2) AS lxmax,
             GREATEST(CAST(user_id AS DOUBLE)
                        + (0.25 + (event_id % 3) * 0.3),
                      CAST(user_id AS DOUBLE) + 2.2) AS lymax
      FROM events
    ),
    regions(region_name, rxmin, rymin, rxmax, rymax) AS (
      VALUES ('west', 0.0, 0.0, 60.0, 25.0),
             ('mid',  50.0, 10.0, 150.0, 40.0),
             ('east', 140.0, 0.0, 205.0, 52.0),
             ('core', 90.0, 20.0, 110.0, 30.0)
    )
    SELECT region_name,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_users,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM rects l JOIN regions r
      ON l.lxmin <= r.rxmax AND l.lxmax >= r.rxmin
     AND l.lymin <= r.rymax AND l.lymax >= r.rymin
    GROUP BY region_name
    """,
)
def q_geo_multipolygon_join(spark, sf_dir):
    """MULTIPOLYGON WKB end-to-end (round 15 — VERDICT r14 #2;
    operators/geo.py): each event encodes as a real 2-part WKB
    MULTIPOLYGON (main box around (value, user_id) with the
    geo_envelope_join extents, plus a fixed satellite box) via the
    vectorized st_multipolygon_boxes encoder; st_envelope decodes the
    multi-part envelope through the batch parser, and the envelopes
    drive st_tile_envelope_join against four regions.  The oracle is
    pure rectangle arithmetic (LEAST/GREATEST over the same
    expressions) + the naive cross-predicate join — the hash therefore
    pins the multi-geometry codec (encode -> multi-part envelope
    decode) AND the join's exactly-once property at once.

    Scale shape: encode is one structured-dtype tobytes per batch;
    decode is the struct-of-arrays batch parse; the join is the same
    tile equi-join + PBSM reference point as geo_envelope_join —
    nothing per-row Python beyond the two codec passes."""
    from iceberg_compaction_spark.operators.geo import (
        st_envelope,
        st_multipolygon_boxes,
        st_tile_envelope_join,
    )

    e = ev.read_events(spark, sf_dir).select(
        "user_id",
        "value",
        (F.lit(0.5) + (F.col("event_id") % 5) * 0.4).alias("__w"),
        (F.lit(0.25) + (F.col("event_id") % 3) * 0.3).alias("__h"),
        F.col("user_id").cast("double").alias("__uy"),
    )
    b = e.select(
        "user_id",
        "value",
        (F.col("value") - F.col("__w")).alias("ax0"),
        (F.col("__uy") - F.col("__h")).alias("ay0"),
        (F.col("value") + F.col("__w")).alias("ax1"),
        (F.col("__uy") + F.col("__h")).alias("ay1"),
        (F.col("value") + 2.8).alias("bx0"),
        (F.col("__uy") + 1.8).alias("by0"),
        (F.col("value") + 3.2).alias("bx1"),
        (F.col("__uy") + 2.2).alias("by1"),
    )
    g = st_multipolygon_boxes(
        b, [("ax0", "ay0", "ax1", "ay1"), ("bx0", "by0", "bx1", "by1")]
    )
    env = st_envelope(g, "geom", "__env")
    rects = env.select(
        "user_id",
        "value",
        F.col("__env.xmin").alias("lxmin"),
        F.col("__env.ymin").alias("lymin"),
        F.col("__env.xmax").alias("lxmax"),
        F.col("__env.ymax").alias("lymax"),
    )
    regions = driver_frame(
        spark,
        [
            ("west", 0.0, 0.0, 60.0, 25.0),
            ("mid", 50.0, 10.0, 150.0, 40.0),
            ("east", 140.0, 0.0, 205.0, 52.0),
            ("core", 90.0, 20.0, 110.0, 30.0),
        ],
        "region_name string, rxmin double, rymin double, "
        "rxmax double, rymax double",
    )
    j = st_tile_envelope_join(
        rects,
        ("lxmin", "lymin", "lxmax", "lymax"),
        regions,
        ("rxmin", "rymin", "rxmax", "rymax"),
        (0.0, 210.0),
        (0.0, 55.0),
        bits=6,
    )
    return j.groupBy("region_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("user_id").cast("long").alias("nd_users"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )


@register(
    "geo_antimeridian_filter",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_in_box,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM (
      SELECT event_type, value,
             (value * 2.0) % 360.0 - 180.0 AS lon,
             CAST(user_id % 120 AS DOUBLE) - 60.0 AS lat
      FROM events
    )
    WHERE (lon >= 170.0 OR lon <= -160.0)
      AND lat >= -50.0 AND lat <= 50.0
    GROUP BY event_type
    """,
)
def q_geo_antimeridian_filter(spark, sf_dir):
    """Antimeridian-crossing geographic box (round 15 — VERDICT r14
    #5; operators/geo.py st_within_bbox lon_wrap): events map onto
    (lon, lat) degrees via exact double arithmetic (identical
    expressions in both engines), encode as WKB POINTs, and filter
    with a Pacific-spanning box ``xmin=170 > xmax=-160`` — the seam
    case every planar bbox silently breaks.  lon_wrap splits the box
    into ``[170, 180] ∪ [-180, -160]``; the oracle states the same
    union directly, so the hash pins the split semantics.

    Scale shape: identical to geo_bbox_filter — vectorized point
    decode, one boolean column Catalyst can push, one rollup."""
    from iceberg_compaction_spark.operators.geo import (
        st_point,
        st_within_bbox,
    )

    e = ev.read_events(spark, sf_dir).select(
        "event_type",
        "value",
        ((F.col("value") * 2.0) % 360.0 - 180.0).alias("lon"),
        (F.col("user_id") % 120).cast("double").alias("__latm"),
    ).withColumn("lat", F.col("__latm") - 60.0)
    g = st_point(e, "lon", "lat")
    hits = st_within_bbox(
        g, "geom", 170.0, -50.0, -160.0, 50.0, lon_wrap=True
    ).where("in_bbox")
    return hits.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_in_box"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )


@register(
    "variant_shredded_nested",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(user_id % 23) AS BIGINT) AS sum_k,
           CAST(SUM(user_id % 23 + 1) AS BIGINT) AS sum_x1
    FROM events WHERE event_id % 5 = 0 GROUP BY event_type
    """,
)
def q_variant_shredded_nested(spark, sf_dir):
    """Nested-object + array spec shredding (round 15 — VERDICT r14
    #4; operators/variant_ops.py): each event's payload encodes as a
    variant ``{"o": {"k": user_id % 23}, "xs": [event_id % 7, k + 1]}``,
    shreds into the v3 spec's RECURSIVE footer groups (``$.o.k`` as a
    nested object field, ``$.xs`` as the repeated element-group array
    shape), and reads back through the typed fast paths — ``$.o.k`` a
    plain nested reference through two group levels, ``$.xs[1]`` a
    try_element_at over the element groups.  The oracle computes the
    same values from the raw columns, so the hash pins the whole
    encode -> nested shred -> typed read chain; reads use the DEFAULT
    spec-reader semantics (typed dispatch + NULL-masked residual
    fallback, near-free here since every row conforms).

    Scale shape: decode cost sits entirely at write time (one
    Arrow-batched pass); both reads are JVM nested-column references
    plus one masked fallback eval whose input is NULL for every row."""
    from iceberg_compaction_spark.operators.variant_ops import (
        json_to_variant,
        shred_variant_spec,
        variant_get_path,
    )

    # bounded-enum payload (k in [0, 23), xs elements derived from it):
    # ~160 distinct JSON values, the realistic templated-payload shape
    # the codec's per-distinct memo is built for — a unique-per-row
    # payload would instead time the raw python codec (that cost story
    # is variant_extract's documented cold path, not this entry's)
    # 1-in-5 sample: this entry pins the nested/array SHRED SHAPES
    # (the throughput story is variant_shredded_read's); the sample
    # keeps the four Arrow boundary crossings off the bench's critical
    # path while the 10x scale gate still tracks its linearity
    e = (
        ev.read_events(spark, sf_dir)
        .where(F.col("event_id") % 5 == 0)
        .select(
            "event_type",
            F.to_json(
                F.struct(
                    F.struct((F.col("user_id") % 23).alias("k")).alias("o"),
                    F.array(
                        F.col("event_id") % 7, F.col("user_id") % 23 + 1
                    ).alias("xs"),
                )
            ).alias("j"),
        )
    )
    v = json_to_variant(e, "j", "pv").select("event_type", "pv")
    s = shred_variant_spec(
        v, "pv", {"$.o.k": "long", "$.xs": "array<long>"}
    )
    k = variant_get_path(s, "pv", "$.o.k", "long", "k")
    x = variant_get_path(k, "pv", "$.xs[1]", "long", "x1")
    return x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.sum("x1").cast("long").alias("sum_x1"),
    )


@register(
    "geo_multipolygon_stats",
    """
    WITH g AS (
      SELECT event_type,
             1 + (event_id % 3) AS w1,
             1 + (event_id % 2) AS h1
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(4 * w1 * h1 + 4) AS BIGINT) AS sum_area,
           CAST(SUM(4 * (w1 + h1) + 8) AS BIGINT) AS sum_perim,
           CAST(SUM(10) AS BIGINT) AS sum_pts
    FROM g GROUP BY event_type
    """,
)
def q_geo_multipolygon_stats(spark, sf_dir):
    """Area / perimeter / vertex-count accessors over MULTIPOLYGON WKB
    with a value-hash oracle (round 15): each event encodes a 2-part
    multipolygon with INTEGER vertices (half-extents 1-3 from
    event_id, a fixed 2x2 satellite), so the shoelace area and the
    perimeter are exact integers — FP association order cannot perturb
    the hash — and the oracle computes the same figures by pure
    rectangle arithmetic.  Pins the batch parser's area (per-part
    shoelace with hole clamping), length, and vertex-count paths
    end-to-end, beyond the pytest-only unit checks.

    Scale shape: vectorized encode + ONE batch parse TOTAL
    (st_geom_stats computes area, perimeter, and vertex count from a
    single structural walk + vertex pack — round 15; three separate
    accessors would parse the same bytes three times); one rollup
    exchange."""
    from iceberg_compaction_spark.operators.geo import (
        st_geom_stats,
        st_multipolygon_boxes,
    )

    e = ev.read_events(spark, sf_dir).select(
        "event_type",
        F.floor("value").cast("double").alias("__cx"),
        (F.col("user_id") % 50).cast("double").alias("__cy"),
        (1 + F.col("event_id") % 3).cast("double").alias("__w"),
        (1 + F.col("event_id") % 2).cast("double").alias("__h"),
    )
    b = e.select(
        "event_type",
        (F.col("__cx") - F.col("__w")).alias("ax0"),
        (F.col("__cy") - F.col("__h")).alias("ay0"),
        (F.col("__cx") + F.col("__w")).alias("ax1"),
        (F.col("__cy") + F.col("__h")).alias("ay1"),
        (F.col("__cx") + 5.0).alias("bx0"),
        (F.col("__cy") + 5.0).alias("by0"),
        (F.col("__cx") + 7.0).alias("bx1"),
        (F.col("__cy") + 7.0).alias("by1"),
    )
    g = st_multipolygon_boxes(
        b, [("ax0", "ay0", "ax1", "ay1"), ("bx0", "by0", "bx1", "by1")]
    )
    s = st_geom_stats(g, "geom", "__st")
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__st.area").cast("long")).cast("long").alias("sum_area"),
        F.sum(F.col("__st.length").cast("long")).cast("long")
        .alias("sum_perim"),
        F.sum("__st.num_points").cast("long").alias("sum_pts"),
    )


@register(
    "geo_knn_wrap",
    """
    WITH e AS (
      SELECT user_id, event_id,
             (value * 2.0) % 360.0 - 180.0 AS lon,
             CAST(user_id % 120 AS DOUBLE) - 60.0 AS lat
      FROM events
    ),
    q(qid, qx, qy) AS (
      VALUES (1, 178.0, 0.0), (2, -176.0, 20.0), (3, 0.0, -30.0)
    ),
    cand AS (
      SELECT qid, user_id, event_id,
             LEAST(ABS(lon - qx), 360.0 - ABS(lon - qx)) AS dx,
             lat - qy AS dy
      FROM e, q
    ),
    ranked AS (
      SELECT qid, user_id, event_id, dx * dx + dy * dy AS d2,
             ROW_NUMBER() OVER (
               PARTITION BY qid
               ORDER BY dx * dx + dy * dy, user_id, event_id
             ) AS rn
      FROM cand WHERE dx * dx + dy * dy <= 16.0
    )
    SELECT CAST(qid AS BIGINT) AS qid,
           CAST(rn AS BIGINT) AS knn_rank,
           user_id, event_id,
           CAST(FLOOR(d2 * 1000000) AS BIGINT) AS d2_micro
    FROM ranked WHERE rn <= 5
    """,
)
def q_geo_knn_wrap(spark, sf_dir):
    """Seam-aware k-nearest-neighbor JOIN (round 15 — the lon_wrap
    geography tier applied to kNN; operators/geo.py st_tile_knn_join):
    queries at +178° and −176° find their nearest events ACROSS the
    antimeridian — the wrapped distance ``dx = min(|Δ|, 360 − |Δ|)``
    and a disk overhanging the seam wrapping into the split-box form.
    The oracle is the naive cross join with the same wrapped planar
    arithmetic (identical IEEE expressions), so the hash pins both the
    wrap semantics and the exactly-once tile coverage.

    Scale shape: same as geo_knn_join — tile equi-join over the disk's
    (possibly two-part) bbox, residual circle filter, per-query top-k
    window over radius-bounded candidates."""
    from iceberg_compaction_spark.operators.geo import st_tile_knn_join

    e = ev.read_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        ((F.col("value") * 2.0) % 360.0 - 180.0).alias("lon"),
        ((F.col("user_id") % 120).cast("double") - 60.0).alias("lat"),
    )
    queries = driver_frame(
        spark,
        [(1, 178.0, 0.0), (2, -176.0, 20.0), (3, 0.0, -30.0)],
        "qid long, qx double, qy double",
    )
    j = st_tile_knn_join(
        e,
        "lon",
        "lat",
        queries,
        "qid",
        "qx",
        "qy",
        k=5,
        radius=4.0,
        x_range=(-180.0, 180.0),
        y_range=(-90.0, 90.0),
        bits=6,
        tiebreak_cols=("user_id", "event_id"),
        lon_wrap=True,
    )
    return j.select(
        "qid",
        F.col("knn_rank").cast("long").alias("knn_rank"),
        "user_id",
        "event_id",
        F.floor(F.col("dist2") * 1_000_000).cast("long").alias("d2_micro"),
    )


@register("stream_ohlc", ORACLES["events_ohlc"])
def q_stream_ohlc(spark, sf_dir):
    """Streaming OHLC candles (round 15; streaming/pipeline.py
    streaming_ohlc_rollup): readStream -> watermark -> tumbling 1h
    window with the SAME struct-argmin/argmax aggregate as the batch
    ohlc_rollup, run to completion with availableNow.  Shares
    events_ohlc's oracle, so the hash pins that the incremental
    windowed aggregation (state = one candle buffer per open window)
    is byte-identical to the batch rollup — including ns-precision tie
    ordering, which uses the raw int64 ts inside the struct, not the
    micro-truncated event time.

    Scale shape: per-trigger partial aggregation into bounded window
    state; no rank window, no second shuffle, watermark bounds state."""
    from iceberg_compaction_spark.streaming import pipeline as sp

    stream = sp.read_events_stream(spark, sf_dir)
    return sp.run_available_now(sp.streaming_ohlc_rollup(stream), spark)


@register(
    "geo_haversine_join",
    """
    WITH e AS (
      SELECT user_id, event_id,
             (value * 2.0) % 360.0 - 180.0 AS lon,
             CAST(event_id % 178 AS DOUBLE) - 89.0 AS lat
      FROM events
    ),
    q(qid, qlon, qlat) AS (
      VALUES (1, 179.5, 10.0), (2, -170.0, 85.0), (3, 20.0, -45.0)
    ),
    d AS (
      SELECT qid, user_id, event_id,
             2 * 6371008.8 * ASIN(SQRT(
               POWER(SIN(RADIANS(lat - qlat) / 2), 2)
               + COS(RADIANS(qlat)) * COS(RADIANS(lat))
                 * POWER(SIN(RADIANS(lon - qlon) / 2), 2)
             )) AS dist_m
      FROM e, q
    )
    SELECT CAST(qid AS BIGINT) AS qid, user_id, event_id,
           CAST(FLOOR(dist_m / 10.0) AS BIGINT) AS dist_decam
    FROM d WHERE dist_m <= 800000.0
    """,
)
def q_geo_haversine_join(spark, sf_dir):
    """Spherical (haversine) radius JOIN (round 15 — the geography
    tier's spherical join; operators/geo.py st_haversine_radius_join):
    every event within 800 km great-circle distance of each query,
    including a query at +179.5° whose spherical cap crosses the
    antimeridian and one at 85°N whose cap-cover box widens toward the
    pole.  The oracle is the naive cross join with the identical
    haversine expression; distances land as decametre buckets so the
    hash is robust to last-ulp libm differences between engines while
    still pinning every membership decision and the distance itself to
    10 m.

    Scale shape: Morton-tile equi-join over each cap's (possibly
    seam-split) cover box, JVM-side trig residual — work is
    candidates-per-cap, never |events| x |queries|; no UDF, no
    cartesian."""
    from iceberg_compaction_spark.operators.geo import (
        st_haversine_radius_join,
    )

    e = ev.read_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        ((F.col("value") * 2.0) % 360.0 - 180.0).alias("lon"),
        ((F.col("event_id") % 178).cast("double") - 89.0).alias("lat"),
    )
    queries = driver_frame(
        spark,
        [(1, 179.5, 10.0), (2, -170.0, 85.0), (3, 20.0, -45.0)],
        "qid long, qlon double, qlat double",
    )
    j = st_haversine_radius_join(
        e, "lon", "lat", queries, "qid", "qlon", "qlat",
        radius_m=800_000.0, bits=6,
    )
    return j.select(
        "qid",
        "user_id",
        "event_id",
        F.floor(F.col("dist_m") / 10.0).cast("long").alias("dist_decam"),
    )


@register(
    "geo_haversine_knn",
    """
    WITH e AS (
      SELECT user_id, event_id,
             (value * 2.0) % 360.0 - 180.0 AS lon,
             CAST(event_id % 178 AS DOUBLE) - 89.0 AS lat
      FROM events
    ),
    q(qid, qlon, qlat) AS (
      VALUES (1, 179.5, 10.0), (2, -170.0, 85.0), (3, 20.0, -45.0)
    ),
    d AS (
      SELECT qid, user_id, event_id,
             2 * 6371008.8 * ASIN(SQRT(
               POWER(SIN(RADIANS(lat - qlat) / 2), 2)
               + COS(RADIANS(qlat)) * COS(RADIANS(lat))
                 * POWER(SIN(RADIANS(lon - qlon) / 2), 2)
             )) AS dist_m
      FROM e, q
    ),
    ranked AS (
      SELECT qid, user_id, event_id, dist_m,
             ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY dist_m, user_id, event_id
             ) AS rn
      FROM d WHERE dist_m <= 800000.0
    )
    SELECT CAST(qid AS BIGINT) AS qid, CAST(rn AS BIGINT) AS knn_rank,
           user_id, event_id,
           CAST(FLOOR(dist_m / 10.0) AS BIGINT) AS dist_decam
    FROM ranked WHERE rn <= 5
    """,
)
def q_geo_haversine_knn(spark, sf_dir):
    """Spherical k-nearest-neighbor JOIN (round 15;
    operators/geo.py st_haversine_knn_join): the 5 great-circle
    nearest events per query within 800 km — the cap-cover tile
    equi-join of geo_haversine_join plus a per-query rank window over
    the radius-bounded candidates.  Same query set (seam + polar +
    mid-latitude); the oracle ranks the naive cross join with the
    identical haversine expression and tiebreaks, pinning both
    membership and ORDER.

    Scale shape: candidates-per-cap then a window partitioned by
    query id — the rank never sees more than one cap's rows."""
    from iceberg_compaction_spark.operators.geo import (
        st_haversine_knn_join,
    )

    e = ev.read_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        ((F.col("value") * 2.0) % 360.0 - 180.0).alias("lon"),
        ((F.col("event_id") % 178).cast("double") - 89.0).alias("lat"),
    )
    queries = driver_frame(
        spark,
        [(1, 179.5, 10.0), (2, -170.0, 85.0), (3, 20.0, -45.0)],
        "qid long, qlon double, qlat double",
    )
    j = st_haversine_knn_join(
        e, "lon", "lat", queries, "qid", "qlon", "qlat",
        k=5, radius_m=800_000.0, bits=6,
        tiebreak_cols=("user_id", "event_id"),
    )
    return j.select(
        "qid",
        F.col("knn_rank").cast("long").alias("knn_rank"),
        "user_id",
        "event_id",
        F.floor(F.col("dist_m") / 10.0).cast("long").alias("dist_decam"),
    )


@register(
    "text_winnow",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS toks
      FROM documents WHERE doc_id % 20 = 0
    ),
    th AS (
      SELECT doc_id,
             list_transform(toks,
               x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hts
      FROM t WHERE len(toks) >= 5
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(1, len(hts) - 5 + 2),
               i -> list_reduce(
                      list_prepend(0::BIGINT, list_slice(hts, i, i + 4)),
                      (a, b) -> (a * 1000003 + b) % 2147483647)
             ) AS hs
      FROM th
    ),
    w AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hs) - 4 + 2),
               j -> list_min(list_slice(hs, j, j + 3)))) AS fps
      FROM g WHERE len(hs) >= 4
    )
    SELECT doc_id, unnest(fps) AS fp FROM w
    """,
)
def q_text_winnow(spark, sf_dir):
    """Winnowing document fingerprints (round 15;
    operators/text.py winnow_fingerprints — Schleimer-Wilkerson-Aiken
    / MOSS): k=5-token shingle hashes, window w=4 minima, distinct
    selected values per document, over a 1-in-20 deterministic doc
    subset (full value-hash pin at bounded output size).  The oracle
    rebuilds the identical selection with DuckDB list lambdas over the
    same md5-derived hashes — window minima are bit-exact across
    engines, so the hash pins tokenization, shingle hashing, AND the
    winnowing selection rule (per-token md5 hashes folded with the
    exact-integer polynomial both engines compute digit-identically).

    Scale shape: one exchange + one sort under two chained window
    frames over the posexploded token-hash stream (the k-1 leads and
    the w-wide min share the same partition/order), then a
    map-side-combinable distinct; fingerprint density ~2/(w+1) of the
    shingle stream."""
    from iceberg_compaction_spark.operators.text import (
        winnow_fingerprints,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 20 == 0)
        .select("doc_id", "text")
    )
    return winnow_fingerprints(docs, k=5, w=4)


@register(
    "dedup_winnow_pairs",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS toks
      FROM documents
    ),
    th AS (
      SELECT doc_id,
             list_transform(toks,
               x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hts
      FROM t WHERE len(toks) >= 5
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(1, len(hts) - 5 + 2),
               i -> list_reduce(
                      list_prepend(0::BIGINT, list_slice(hts, i, i + 4)),
                      (a, b) -> (a * 1000003 + b) % 2147483647)
             ) AS hs
      FROM th
    ),
    w AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hs) - 4 + 2),
               j -> list_min(list_slice(hs, j, j + 3)))) AS fps
      FROM g WHERE len(hs) >= 4
    ),
    e AS (SELECT doc_id, unnest(fps) AS fp FROM w)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def q_dedup_winnow_pairs(spark, sf_dir):
    """Winnowing overlap pairs (round 15 — the MOSS use-case over
    winnow_fingerprints): documents sharing >= 2 selected fingerprints,
    with the shared count.  Because winnowing guarantees a common
    fingerprint for any shared run of w+k-1 tokens, this finds
    copied-passage pairs with a FINGERPRINT equi-join — the corpus is
    never compared pairwise; quadratic work exists only inside a
    shared-fingerprint bucket, the same banded-bucket shape as every
    LSH tier here.

    Scale shape (r16 restructure, guide §2.4): the fingerprint stream
    is computed ONCE — the previous self-join's two aliases each
    embedded the whole winnow pipeline (posexplode + two window sorts
    + per-token md5 over the corpus, evaluated twice) and shuffled two
    copies of the stream by fp.  Now one groupBy(fp) buckets the
    stream (map-side-combinable collect_list), and each >=2-doc bucket
    expands to its ordered pairs with two chained codegen Generates
    (explode the bucket, explode it again, keep doc_a < doc_b) —
    exactly the rows the join produced, with the corpus-sized map work
    run once and one exchange in place of the join's two.  (A first
    attempt expanded pairs with nested transform+slice HOFs: measured
    6.6x WORSE than the join — interpreted lambdas copy the array tail
    per element, O(n²) copies per bucket.  Generates are the codegen
    path.)"""
    from iceberg_compaction_spark.operators.text import (
        winnow_fingerprints,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    e = winnow_fingerprints(docs, k=5, w=4)
    buckets = (
        e.groupBy("fp")
        .agg(F.collect_list("doc_id").alias("__ids"))
        .where(F.size("__ids") >= 2)
    )
    pairs = buckets.select(
        F.explode("__ids").alias("doc_a"), F.col("__ids").alias("__rest")
    ).select(
        "doc_a", F.explode("__rest").alias("doc_b")
    ).where(F.col("doc_a") < F.col("doc_b"))
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


@register(
    "variant_shredded_array_obj",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(user_id % 13) AS BIGINT) AS sum_a0,
           CAST(SUM(CASE WHEN event_id % 3 = 0
                         THEN user_id % 13 + 7 END) AS BIGINT) AS sum_a1
    FROM events WHERE event_id % 7 = 0 GROUP BY event_type
    """,
)
def q_variant_shredded_array_obj(spark, sf_dir):
    """Array-of-OBJECT spec shredding (round 15 — closing the v3
    spec's recursion; operators/variant_ops.py): each event's payload
    encodes ``{"items": [{"a": u13, "b": "p"}, ...], "tag": ...}``
    with one or two elements, shreds ``$.items[].a`` into element
    groups whose typed_value is itself a field-group struct, and reads
    ``$.items[0].a`` / ``$.items[1].a`` through try_element_at + plain
    nested references.  The second element exists only when
    ``event_id % 3 = 0``, so the [1] read pins both the in-range
    element descent and the out-of-range NULL contract; ``b`` and
    ``tag`` stay unshredded (per-element positional residual + row
    residual both exercised on the write path).  The oracle computes
    the same sums from the raw columns.

    Scale shape: decode cost sits at write time (one Arrow-batched
    pass); both reads are JVM element+nested references plus the
    NULL-masked residual fallback eval."""
    from iceberg_compaction_spark.operators.variant_ops import (
        json_to_variant,
        shred_variant_spec,
        variant_get_path,
    )

    # bounded-enum payload (a in [0,13), 1-2 elements) — the memo's
    # templated-payload shape; 1-in-7 sample keeps the Arrow passes
    # off the bench critical path
    e = (
        ev.read_events(spark, sf_dir)
        .where(F.col("event_id") % 7 == 0)
        .select(
            "event_type",
            F.to_json(
                F.struct(
                    F.when(
                        F.col("event_id") % 3 == 0,
                        F.array(
                            F.struct(
                                (F.col("user_id") % 13).alias("a"),
                                F.lit("p").alias("b"),
                            ),
                            F.struct(
                                (F.col("user_id") % 13 + 7).alias("a"),
                                F.lit("q").alias("b"),
                            ),
                        ),
                    )
                    .otherwise(
                        F.array(
                            F.struct(
                                (F.col("user_id") % 13).alias("a"),
                                F.lit("p").alias("b"),
                            )
                        )
                    )
                    .alias("items"),
                    (F.col("event_id") % 2).alias("tag"),
                )
            ).alias("j"),
        )
    )
    v = json_to_variant(e, "j", "pv").select("event_type", "pv")
    s = shred_variant_spec(v, "pv", {"$.items[].a": "long"})
    a0 = variant_get_path(s, "pv", "$.items[0].a", "long", "a0")
    a1 = variant_get_path(a0, "pv", "$.items[1].a", "long", "a1")
    return a1.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a0").cast("long").alias("sum_a0"),
        F.sum("a1").cast("long").alias("sum_a1"),
    )


@register(
    "multimodal_pixel_stats",
    """
    WITH d AS (
      SELECT doc_id,
             8 + doc_id % 9 AS w,
             8 + doc_id % 7 AS h
      FROM documents WHERE doc_id % 20 = 0
    ),
    px AS (
      SELECT doc_id, i, j, c,
             (doc_id + 3 * ((i * h // 4) * w + (j * w // 4)) + c) % 256
               AS v
      FROM d,
           generate_series(0, 3) AS gi(i),
           generate_series(0, 3) AS gj(j),
           generate_series(0, 2) AS gc(c)
    )
    SELECT doc_id,
           CAST(16 AS BIGINT) AS n_px,
           CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
           CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b,
           CAST(SUM(CASE WHEN c = 0 AND i < 2 AND j < 2 THEN v END)
                // 4 AS BIGINT) AS b00,
           CAST(SUM(CASE WHEN c = 0 AND i < 2 AND j >= 2 THEN v END)
                // 4 AS BIGINT) AS b01,
           CAST(SUM(CASE WHEN c = 0 AND i >= 2 AND j < 2 THEN v END)
                // 4 AS BIGINT) AS b10,
           CAST(SUM(CASE WHEN c = 0 AND i >= 2 AND j >= 2 THEN v END)
                // 4 AS BIGINT) AS b11
    FROM px GROUP BY doc_id
    """,
)
def q_multimodal_pixel_stats(spark, sf_dir):
    """Pixel pipeline end-to-end (round 15 — the brief's resize +
    feature-extract stages, REAL: operators/multimodal.py
    resize_nearest / pixel_features): each doc synthesizes a
    deterministic P6 image (WxH from doc_id, body byte i =
    (doc_id + i) % 256), the REAL netpbm decoder parses it, nearest
    resize maps to 4x4 with the integer floor rule, and the feature
    stage emits exact per-channel sums + 2x2 block means.  The oracle
    computes the identical figures by pure arithmetic — no bytes —
    so the hash pins header parsing, buffer layout, the resize
    sampling geometry, and the integer feature math in one chain.

    Scale shape: three Arrow-batched passes (encode fixture, decode,
    resize+features); payloads never leave executors; output is one
    row per doc."""
    from pyspark.sql.functions import pandas_udf

    from iceberg_compaction_spark.operators import multimodal as mm

    @pandas_udf("binary")
    def _mk_ppm(ids):
        import numpy as np
        import pandas as pd

        out = []
        for doc_id in ids:
            doc_id = int(doc_id)
            w, h = 8 + doc_id % 9, 8 + doc_id % 7
            body = (
                (doc_id + np.arange(3 * w * h, dtype=np.int64)) % 256
            ).astype(np.uint8)
            out.append(
                b"P6\n%d %d\n255\n" % (w, h) + body.tobytes()
            )
        return pd.Series(out)

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 20 == 0)
        .select("doc_id", _mk_ppm(F.col("doc_id")).alias("payload"))
    )
    feats = mm.pixel_features(
        mm.resize_nearest(mm.decode_pixels(docs), 4, 4), grid=2
    )
    return feats.select(
        "doc_id",
        F.col("n_px").cast("long").alias("n_px"),
        F.col("ch_sums")[0].alias("sum_r"),
        F.col("ch_sums")[1].alias("sum_g"),
        F.col("ch_sums")[2].alias("sum_b"),
        F.col("embedding")[0].alias("b00"),
        F.col("embedding")[3].alias("b01"),
        F.col("embedding")[6].alias("b10"),
        F.col("embedding")[9].alias("b11"),
    )


@register(
    "multimodal_audio_stats",
    """
    WITH d AS (
      SELECT doc_id, 256 + doc_id % 128 AS n
      FROM documents WHERE doc_id % 20 = 0
    ),
    w AS (
      SELECT doc_id, wi FROM d, generate_series(0, 10) AS g(wi)
      WHERE wi < n // 64
    ),
    s AS (
      SELECT doc_id, wi, off,
             ((doc_id * 31 + (wi * 64 + off) * 7) % 4096) - 2048 AS v,
             CASE WHEN off > 0 THEN
               ((doc_id * 31 + (wi * 64 + off - 1) * 7) % 4096) - 2048
             END AS prev
      FROM w, generate_series(0, 63) AS o(off)
    )
    SELECT doc_id, CAST(wi AS BIGINT) AS window_idx,
           CAST(SUM(v * v) AS BIGINT) AS energy,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND v * prev < 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS zc
    FROM s GROUP BY doc_id, wi
    """,
)
def q_multimodal_audio_stats(spark, sf_dir):
    """Audio pipeline end-to-end (round 15 — the brief's audio
    modality, REAL: operators/multimodal.py decode_audio /
    audio_features): each doc synthesizes a deterministic mono
    PCM16 WAV (n = 256 + doc_id%128 samples, sample i =
    ((doc_id*31 + i*7) % 4096) - 2048), the REAL RIFF chunk-walk
    parser decodes it, and the feature stage emits integer-exact
    windowed energy (sum of squares) and zero-crossing counts over
    64-sample windows (trailing partials dropped by contract).  The
    oracle computes identical figures by pure arithmetic, pinning the
    RIFF parse, the int16 little-endian buffer layout, the window
    slicing, and the sign-product crossing rule in one chain.

    Scale shape: two Arrow-batched passes (encode fixture,
    decode+features); the per-(doc, window) explode is the VAD/
    segmentation fan-out shape."""
    import struct as _struct

    from pyspark.sql.functions import pandas_udf

    from iceberg_compaction_spark.operators import multimodal as mm

    @pandas_udf("binary")
    def _mk_wav(ids):
        import numpy as np
        import pandas as pd

        out = []
        for doc_id in ids:
            doc_id = int(doc_id)
            n = 256 + doc_id % 128
            i = np.arange(n, dtype=np.int64)
            v = ((doc_id * 31 + i * 7) % 4096) - 2048
            body = v.astype("<i2").tobytes()
            fmt = _struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
            chunks = (
                b"fmt " + _struct.pack("<I", len(fmt)) + fmt
                + b"data" + _struct.pack("<I", len(body)) + body
            )
            out.append(
                b"RIFF" + _struct.pack("<I", 4 + len(chunks))
                + b"WAVE" + chunks
            )
        return pd.Series(out)

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 20 == 0)
        .select("doc_id", _mk_wav(F.col("doc_id")).alias("payload"))
    )
    feats = mm.audio_features(mm.decode_audio(docs), window=64)
    return feats.select(
        "doc_id",
        F.col("window_idx").cast("long").alias("window_idx"),
        F.col("energy")[0].alias("energy"),
        F.col("zero_crossings")[0].alias("zc"),
    )


# ===========================================================================
# Driver order.  The driver contract's correctness gate oracle-checks the
# FIRST 50 queries() entries, so DRIVER_WINDOW keeps one representative
# per operator family; near-duplicate twins and Catalyst-native variants
# of a window member sit in TAIL.  Every entry, wherever it sits, is
# oracle-checked by tests/test_oracle_tail.py and tools/oracle_check.py;
# tests/test_registry_order.py pins the order.
# ===========================================================================
DRIVER_WINDOW = [
    "mor_no_deletes",
    "mor_pos_delete",
    "mor_eq_delete",
    "mor_full",
    "validate_counts",
    "mor_nested_rename",
    "text_token_count",
    "text_quality",
    "text_langid",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "pipeline_corpus_filter",
    "ann_topk",
    "ann_kmeans_iteration",
    "dedup_embedding_lsh",
    "zorder_lineitem",
    "emb_quantize",
    "events_hourly",
    "events_sessionize",
    "events_asof_join",
    "events_median_value",
    "events_funnel",
    "stream_hourly_rollup",
    "stream_stateful_sessions",
    "stream_dedup",
    "stream_interval_join",
    "multimodal_frames",
    "supplier_part_region",
    "agg_pricing_summary",
    "dml_update_where",
    "dml_merge_into",
    "streaming_upsert_sink",
    "dml_branch_wap",
    "cdc_changelog_branch",
    "dml_overwrite_partitions",
    "meta_metadata_log",
    "stats_theta_ndv",
    "dml_snapshot_fork",
    "v3_row_lineage",
    "pipeline_mixture_temperature",
    "variant_extract",
    "stream_update_images",
    "geo_tile_rollup",
    "dml_add_files",
    "text_bpe_pairs",
    "geo_spatial_join",
    "geo_envelope_join",
    "variant_shredded_read",
    "events_ohlc",
]
TAIL = [
    "window_running_revenue",
    "subquery_above_brand_avg",
    "ann_ivf_multiprobe",
    "dedup_simhash_pairs",
    "events_cube",
    "stream_funnel",
    "dedup_embedding",
    "dedup_cc_groups",
    "text_tfidf_top_terms",
    "text_zipf_histogram",
    "sample_stratified",
    "events_hourly_users",
    "events_hourly_users_approx",
    "events_interarrival",
    "pipeline_curation_full",
    "dedup_prefix_groups",
    "events_sessionize_salted",
    "text_repetition",
    "dedup_contamination",
    "dedup_ngram_jaccard_prefix",
    "ann_recall_eval",
    "events_anomaly",
    "events_scd2",
    "argmin_cheapest_supplier",
    "dedup_containment",
    "events_pivot",
    "text_chunking",
    "ann_pq",
    "ann_ivfpq",
    "pipeline_split",
    "pipeline_mixture",
    "pipeline_source_filter",
    "pipeline_pack_sequences",
    "pipeline_scrub_pii",
    "dedup_span_coverage",
    "cdc_changelog",
    "datasource_mor_read",
    "dedup_incremental",
    "pipeline_shuffle_order",
    "dedup_canonical",
    "meta_files",
    "meta_partitions",
    "meta_snapshots",
    "meta_manifests",
    "meta_entries",
    "text_unigram_logprob",
    "meta_position_deletes",
    "dedup_corpus_lines",
    "stats_column_profile",
    "dml_delete_where",
    "dml_partitioned_write",
    "dedup_semantic",
    "dml_rollback",
    "sample_exact_k",
    "emb_matryoshka",
    "meta_refs",
    "geo_bbox_filter",
    "pipeline_dsir_weights",
    "text_classifier_score",
    "geo_tile_pyramid",
    "geo_knn_join",
    "setop_part_overlap",
    "anti_customers_no_orders",
    "text_langid_confusion",
    "events_sliding",
    "ann_lsh",
    "events_range_join",
    "agg_price_quantiles",
    "events_top_users",
    "emb_normalize",
    "events_json_extract",
    "sample_docs_hash",
    "text_fingerprint",
    "text_top_ngrams",
    "events_retention",
    "join_order_revenue",
    "mor_after_rename",
    "dml_merge_conditional",
    "cdc_update_images",
    "geo_multipolygon_join",
    "geo_antimeridian_filter",
    "variant_shredded_nested",
    "geo_multipolygon_stats",
    "geo_knn_wrap",
    "stream_ohlc",
    "geo_haversine_join",
    "geo_haversine_knn",
    "text_winnow",
    "dedup_winnow_pairs",
    "variant_shredded_array_obj",
    "multimodal_pixel_stats",
    "multimodal_audio_stats",
    "dedup_simhash",
    "ann_ivf",
    "events_rollup",
    "multimodal_meta",
]
_ORDER = DRIVER_WINDOW + TAIL
assert (
    len(DRIVER_WINDOW) == 50
    and len(_ORDER) == len(set(_ORDER))
    and set(_ORDER) == set(QUERIES)
), (
    "driver order drift: unlisted "
    f"{sorted(set(QUERIES) - set(_ORDER))}, unregistered "
    f"{sorted(set(_ORDER) - set(QUERIES))}, window {len(DRIVER_WINDOW)}"
)
QUERIES = {n: QUERIES[n] for n in _ORDER}
ORACLES = {n: ORACLES[n] for n in _ORDER if n in ORACLES}
del _ORDER

# Every entry has an oracle except the approximate-sketch entries, which
# the driver checks by rows only.
_ROWS_ONLY = {"events_hourly_users_approx"}
assert set(QUERIES) - set(ORACLES) == _ROWS_ONLY, (
    "registry/oracle drift: entries without oracles = "
    f"{sorted(set(QUERIES) - set(ORACLES))}, expected {sorted(_ROWS_ONLY)}"
)
