"""Text-analysis operators for LLM data pipelines (north-star extensions).

All hot-path computation uses built-in ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen'd, zero Python cost per row — so these run unchanged over
100 TB of documents.  Every operator is a narrow map (no shuffle): at scale
the plan is scan -> project, fully pipelined with whatever sits downstream.

Operators
---------
- ``token_count``: whitespace tokens + a BPE-ish regex token count
  (letters / digits / punctuation pieces).
- ``text_quality``: length, alpha/digit/space/punct ratios, average token
  length, stopword ratio, and a composite quality score.
- ``language_id``: stopword-profile scoring — counts per-language marker
  words and picks the argmax (deterministic tie-break by profile order).
- ``fingerprint``: md5 of whitespace-normalized text (exact-dup key) and
  a k-token prefix fingerprint (cheap near-dup bucket key).

The rules are pure arithmetic/regex so the DuckDB oracle can run the
identical computation (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish tokenizer: runs of letters, runs of digits, or single
# non-alphanumeric-non-space characters. Identical RE2-compatible pattern
# works in Spark (Java regex) and DuckDB.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

ENGLISH_STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "for", "on"]

# Marker-word profiles for language-ID scoring. Real deployments would use
# character n-gram profiles per language; the scoring machinery (count
# marker hits -> argmax) is identical.
LANG_PROFILES: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "is", "of"]),
    ("db", ["table", "row", "column", "key"]),
    ("ops", ["scan", "merge", "join", "sort"]),
    ("perf", ["fast", "slow", "big", "small"]),
]


def _tokens(col: Column) -> Column:
    """Whitespace tokenization of lowercased, trimmed text."""
    return F.split(F.trim(F.lower(col)), "\\s+")


def _tokens_sql(expr: str) -> str:
    """:func:`_tokens` as SQL text over the expression ``expr``."""
    return f"split(trim(lower({expr})), '\\\\s+')"


def _refuse_stage_collision(df: DataFrame, name: str) -> None:
    """The caller stages a token column ``name`` and drops it again — so
    an input column of that name (Spark matches names
    case-insensitively) would be overwritten and lost: refuse it."""
    if any(c.lower() == name.lower() for c in df.columns):
        raise ValueError(
            f"input column {name!r} collides with the token column this "
            "operator stages; rename it first"
        )


def _stage_tokens(df: DataFrame, name: str, text_col: str) -> DataFrame:
    """``df`` plus the token array of ``text_col`` as column ``name``
    (see :func:`_refuse_stage_collision`)."""
    _refuse_stage_collision(df, name)
    return df.withColumn(name, _tokens(F.col(text_col)))


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    ws = F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(_tokens(c)))
    # NB: regexp_count would read nicer but is RuntimeReplaceable —
    # Catalyst expands it to this exact size(regexp_extract_all) plan
    return df.withColumn("ws_tokens", ws.cast("int")).withColumn(
        "bpe_tokens", F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), 0)).cast("int")
    )


def _ppm(x: Column) -> Column:
    # Ratios are emitted as integer parts-per-million (floor(x*1e6)).
    # The operands are identical integers in every engine, so the double
    # division and floor are bit-identical — unlike round(), which renders
    # differently (double vs decimal) across engines.
    return F.floor(x * 1000000).cast("long")


def _quality_sql(text_col: str, toks: str) -> dict[str, str]:
    """The eight :func:`with_quality` columns as SQL text over the text
    column and its staged token array ``toks``.  Fractional literals
    carry the ``D`` suffix: a bare ``0.2`` is a DECIMAL literal in Spark
    SQL, and the arithmetic is double, as in the oracle."""
    c = sql_ident(text_col)
    n = f"length({c})"
    n_safe = f"greatest({n}, 1)"
    # char-class counts via translate (char-map lookup, ~3x faster than a
    # regex pass, measured at sf0.1): count = len - len(chars removed)
    alpha_chars = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    alpha = f"({n} - length(translate({c}, '{alpha_chars}', '')))"
    digit = f"({n} - length(translate({c}, '0123456789', '')))"
    space = f"({n} - length(translate({c}, ' ', '')))"
    n_toks = f"CASE WHEN trim({c}) = '' THEN 0 ELSE size({toks}) END"
    n_toks_safe = f"greatest({n_toks}, 1)"
    stops = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)
    stop_hits = f"size(filter({toks}, t -> t IN ({stops})))"
    # composite: favor alphabetic text with spaces and some stopwords,
    # penalize digit-heavy; clamp to [0,1]
    score = (
        f"least(greatest({alpha} / {n_safe}"
        f" + least({stop_hits} / {n_toks_safe}, 0.2D)"
        f" + least({space} / {n_safe}, 0.25D)"
        f" - {digit} / {n_safe}, 0.0D), 1.0D)"
    )

    def ppm(x: str) -> str:  # _ppm as SQL text
        return f"CAST(FLOOR(({x}) * 1000000) AS BIGINT)"

    return {
        "n_chars_c": f"CAST({n} AS INT)",
        "n_tokens": f"CAST({n_toks} AS INT)",
        "alpha_ppm": ppm(f"{alpha} / {n_safe}"),
        "digit_ppm": ppm(f"{digit} / {n_safe}"),
        "space_ppm": ppm(f"{space} / {n_safe}"),
        "stopword_ppm": ppm(f"{stop_hits} / {n_toks_safe}"),
        "avg_token_len_ppm": ppm(f"({alpha} + {digit}) / {n_toks_safe}"),
        "quality_ppm": ppm(score),
    }


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring columns; ratios as integer ppm (see _ppm).

    All eight columns are one projection of SQL expressions
    (:func:`_quality_sql`), added by one ``withColumns`` call and one
    ``drop``; the stopword count is one ``filter(toks, t -> t IN (...))``
    expression.

    The token array is STAGED as a real column before the scoring
    projection (the HOF-closure staging class, guide §4.2): the tokens
    appear both under ``size`` (codegen) and inside the stopword
    ``filter`` HOF (interpreted CodegenFallback), and codegen
    subexpression elimination does not reach into fallback expressions,
    so unstaged every row tokenized twice.  Staged, it tokenizes once;
    CollapseProject keeps the staging projection separate because the
    alias is referenced more than once.
    """
    _refuse_stage_collision(df, "__toks_q")
    cols = {
        "__toks_q": _tokens_sql(sql_ident(text_col)),
        **_quality_sql(text_col, "__toks_q"),
    }
    # the quality columns read ``__toks_q`` as a lateral column alias,
    # which the analyzer stages in a projection of its own
    return df.withColumns(
        {name: F.expr(sql) for name, sql in cols.items()}
    ).drop("__toks_q")


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Argmax over per-profile marker-word hit counts.

    Ties break toward the earlier profile in LANG_PROFILES — implemented
    as strict-greater comparison walking the list in order, which the SQL
    oracle reproduces with a CASE chain.

    The token array is STAGED once (r16 s3, guide §4.2): each profile's
    ``filter`` HOF embedded its own ``_tokens`` expression, so every row
    tokenized len(LANG_PROFILES) times — interpreted HOFs get no
    cross-expression CSE.  Staged, it tokenizes once and the four profile
    filters read the column.  Values unchanged.
    """
    def _hits(words: list[str]) -> Column:
        return F.size(
            F.filter(F.col("__toks_l"), lambda t: t.isin(*words))
        )

    scores = [_hits(words) for _, words in LANG_PROFILES]
    out = _stage_tokens(df, "__toks_l", text_col)
    for (name, _), s in zip(LANG_PROFILES, scores):
        out = out.withColumn(f"score_{name}", s.cast("int"))
    # argmax with first-wins tie-break
    best_name = F.lit(LANG_PROFILES[0][0])
    best_score = F.col(f"score_{LANG_PROFILES[0][0]}")
    for name, _ in LANG_PROFILES[1:]:
        s = F.col(f"score_{name}")
        best_name = F.when(s > best_score, F.lit(name)).otherwise(best_name)
        best_score = F.when(s > best_score, s).otherwise(best_score)
    return (
        out.withColumn("pred_lang", best_name)
        .withColumn("pred_score", best_score.cast("int"))
        .drop("__toks_l")
    )


def normalize_text(col: Column) -> Column:
    """Lowercase, trim, collapse internal whitespace — the exact-dup key."""
    return F.regexp_replace(F.trim(F.lower(col)), "\\s+", " ")


def sql_ident(name: str) -> str:
    """``name`` quoted as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def normalize_text_sql(expr: str) -> str:
    """:func:`normalize_text` as SQL text over the expression ``expr``
    (the doubled backslash is the SQL string escape of ``\\s+``)."""
    return f"regexp_replace(trim(lower({expr})), '\\\\s+', ' ')"


def with_fingerprints(
    df: DataFrame, text_col: str = "text", prefix_tokens: int = 2
) -> DataFrame:
    c = F.col(text_col)
    norm = normalize_text(c)
    prefix = F.array_join(F.slice(F.split(norm, " "), 1, prefix_tokens), " ")
    return df.withColumn("content_fp", F.md5(norm)).withColumn(
        "prefix_fp", F.md5(prefix)
    )


# winnowing k-gram fold constants: a prime modulus keeping every
# intermediate < 2^51 (safe integer territory in Spark AND DuckDB) and
# a multiplier coprime to it — shared verbatim with the DuckDB oracles
WINNOW_B = 1000003
WINNOW_M = 2147483647


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    out_col: str = "fp",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer-Wilkerson-Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-token shingle, slide
    a window of ``w`` consecutive hashes, keep each window's MINIMUM;
    the distinct selected values are the document's fingerprint set.
    Returns the ``(id_col, out_col)`` fingerprint stream — the shape
    every consumer (overlap join, per-doc collect) wants first.  The
    guarantee: any token run shared between two documents spanning at
    least ``w + k - 1`` tokens contributes at least one COMMON
    fingerprint — so overlap detection joins fingerprint sets instead
    of comparing documents pairwise, while storing ~2/(w+1) of the
    shingle hashes.

    Documents with fewer than ``k + w - 1`` tokens (no full window)
    contribute nothing — below the guarantee threshold the sample says
    nothing, and emitting partial minima would make a doc's
    fingerprints depend on padding decisions engines disagree on.

    Hashing (cross-engine AND cheap): each TOKEN hashes once via
    :func:`~iceberg_compaction_spark.operators.dedup.md5_hash64` (n
    md5s per doc, one flat JVM transform), and a k-gram's key is the
    exact-integer polynomial fold of its k token hashes —
    ``acc = (acc * WINNOW_B + t) mod WINNOW_M`` from 0 — expressed as
    ``k`` chained ``lead()`` references over the posexploded
    token-hash stream, NOT as nested array higher-order functions
    (a ``transform``-of-``aggregate``-over-``slice`` formulation
    measured ~1000x slower: interpreted nested-lambda evaluation, no
    codegen).  DuckDB reproduces the fold digit-exactly with list
    lambdas (where it IS fast), so the oracle pins the SELECTED set
    bit-for-bit; intermediates stay < 2^51, far from either engine's
    overflow edge.

    Scale shape: ONE exchange (hash by ``id_col``) and ONE sort under
    two chained window frames — the k-1 ``lead``s and the w-wide
    ``min`` share the same (partition, order), so the second Window
    reuses the first's sort; the closing distinct is a
    map-side-combinable aggregate over the winnowed stream (density
    ~2/(w+1) of the shingle stream).  The posexplode fan-out of token
    hashes is the honest cost — the same stance as the span-coverage
    operator."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1 (got k={k}, w={w})")
    from pyspark.sql import Window

    from iceberg_compaction_spark.operators.dedup import md5_hash64

    base = (
        df.select(
            F.col(id_col),
            F.transform(
                F.split(normalize_text(F.col(text_col)), " "), md5_hash64
            ).alias("__th"),
        )
        .withColumn("__n", F.size("__th"))
        .where(F.col("__n") >= k + w - 1)
    )
    stream = base.select(
        id_col, "__n", F.posexplode("__th").alias("__pos", "__t")
    )
    wl = Window.partitionBy(id_col).orderBy("__pos")
    acc = F.lit(0).cast("long")
    for j in range(k):
        c = F.col("__t") if j == 0 else F.lead("__t", j).over(wl)
        acc = (acc * WINNOW_B + c) % WINNOW_M
    grams = stream.withColumn("__gram", acc).where(
        F.col("__pos") <= F.col("__n") - k
    )
    wm = Window.partitionBy(id_col).orderBy("__pos").rowsBetween(0, w - 1)
    return (
        grams.withColumn(out_col, F.min("__gram").over(wm))
        .where(F.col("__pos") <= F.col("__n") - (k + w - 1))
        .select(id_col, out_col)
        .distinct()
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    freqs: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style unigram language-model quality score: per document,
    the mean negative log2 probability of its word tokens under a
    unigram LM — low values read like the reference corpus, high values
    flag gibberish/boilerplate (the classic Wikipedia-LM perplexity
    filter, here with a unigram model so the whole computation stays
    JVM-side and oracle-reproducible).

    ``freqs`` is the reference model: a ``(token, p)`` DataFrame.  When
    omitted, the model is fit on the INPUT corpus itself (token
    relative frequencies) — self-scoring, which ranks documents by how
    typical their vocabulary is for this corpus.

    Tokenization is deterministic and engine-portable: lowercase,
    split on non-letters, drop empties — the same rule the DuckDB
    oracle applies.

    Scale shape (self-fit): the token stream is computed twice — once
    to FIT the model (map-side-combinable token counts) and once as
    the probe side of the token->p join (the model is
    vocabulary-sized; Spark picks broadcast when it fits) — then one
    groupBy(doc).  No Python in the row path, no ``.count()`` job.
    The corpus total rides a global window over the VOCABULARY-sized
    count table (r16, guide §7.2): the previous
    ``crossJoin(broadcast(counts.agg(sum)))`` duplicated the whole
    counts subtree in the physical plan — the corpus was tokenized a
    THIRD time and token-shuffled a second time just to produce one
    scalar.  Same division, same bigint total, hash-identical output;
    the single-partition window exchange carries only distinct tokens.
    With an external ``freqs`` model the corpus is scanned once.
    Returns ``id_cols + [n_tokens, logprob]`` (documents with zero
    tokens are dropped — they have no LM score).
    """
    if id_cols is None:
        id_cols = ["doc_id"]
    toks = df.select(
        *id_cols,
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    if freqs is None:
        from pyspark.sql.window import Window

        counts = toks.groupBy("token").agg(
            F.count(F.lit(1)).alias("__n")
        )
        freqs = counts.select(
            "token",
            (
                F.col("__n") / F.sum("__n").over(Window.partitionBy())
            ).alias("p"),
        )
    scored = toks.join(freqs, "token", "left").withColumn(
        # OOV under an external model: floor probability so one unseen
        # token cannot produce an infinite score (CCNet clamps too)
        "p", F.coalesce(F.col("p"), F.lit(1e-9))
    )
    return (
        scored.groupBy(*id_cols)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (-F.avg(F.log2("p"))).alias("logprob"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF with a
    LINEAR idf: ``score_ppm = (1e6 * tf * n_docs) div df(term)`` in
    exact bigint arithmetic.  The classic ``log`` idf ranks via float
    transcendentals whose last-ulp behavior differs across engines;
    linear idf preserves the "rare terms score high" ordering principle
    and makes the result bit-reproducible anywhere (same trick as the
    engine's ppm-integer cosine and value sums).

    Output: (doc_id, term, score_ppm, rank), rank 1..k, ties broken by
    term ascending.

    Scale shape: tokenize narrow -> one shuffle on (doc, term) for tf
    -> one shuffle on term for document frequency -> score join keyed
    on term.  The per-doc top-k window partitions by doc_id over that
    doc's DISTINCT terms only — bounded by document length, never
    corpus-scale.  n_docs is a driver scalar (metadata-class count).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfr"))
    n_docs = df.count()
    scored = tf.join(dfreq, "term").select(
        F.col(id_col),
        "term",
        F.expr(f"(1000000 * tf * {n_docs}) div dfr").alias("score_ppm"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("score_ppm").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            id_col, "term", "score_ppm", F.col("rank").cast("int").alias("rank")
        )
    )


def _max_sorted_run(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a SORTED array — i.e. the
    max element frequency — via one JVM-side fold (O(n), zero shuffle).
    The explode+groupBy formulation shuffles every token; the quadratic
    transform/filter HOF is O(n*d) — both lose at long documents."""
    step_run = lambda acc, x: F.when(  # noqa: E731
        x.eqNullSafe(acc["prev"]), acc["run"] + 1
    ).otherwise(F.lit(1))
    return F.aggregate(
        sorted_arr,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            step_run(acc, x).alias("run"),
            F.greatest(acc["best"], step_run(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, §A1.3): documents
    dominated by repeated fragments are low-quality training data.

    Adds:
      n_bigrams        — word-bigram count (n_tokens - 1, floor 0)
      dup_bigram_ppm   — floor(1e6 * duplicated-bigram fraction): 1 minus
                         distinct/total bigrams, the "repeated 2-gram"
                         signal
      top_token_ppm    — floor(1e6 * most-frequent-token share of all
                         tokens), the "most common word" signal

    Everything is a narrow per-row HOF chain over the token array — no
    shuffle, no UDF; at 100 TB this runs at scan speed.  Empty/blank
    documents emit zeros (matching with_token_counts' ws_tokens edge).
    """
    c = F.col(text_col)
    # MATERIALIZE the token array before the per-index bigram lambda:
    # a HOF lambda closing over the tokenization EXPRESSION re-runs
    # the whole split per element (interpreted eval, no cross-element
    # CSE) — O(n_tokens) re-tokenizations per row (round 15, same plan
    # bug as span_dup_coverage's window hash)
    staged = df.withColumn("__rep_tk", _tokens(c))
    tk = F.col("__rep_tk")
    n_toks = F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(tk))
    bi = F.when(
        n_toks >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.concat_ws(" ", F.element_at(tk, i), F.element_at(tk, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_bi = F.size(bi)
    dup = F.when(
        n_bi > 0, _ppm((n_bi - F.size(F.array_distinct(bi))) * 1.0 / n_bi)
    ).otherwise(F.lit(0).cast("long"))
    top = F.when(
        n_toks > 0, _ppm(_max_sorted_run(F.array_sort(tk)) * 1.0 / n_toks)
    ).otherwise(F.lit(0).cast("long"))
    return (
        staged.withColumn("n_bigrams", n_bi.cast("int"))
        .withColumn("dup_bigram_ppm", dup)
        .withColumn("top_token_ppm", top)
        .drop("__rep_tk")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token windows — the unit every
    embedding / retrieval pipeline feeds to the encoder.

    Output: (id, chunk_id, chunk_text, n_tokens) with
    ``chunk_id = start_token / stride``.  Windows start every ``stride``
    tokens while a full-or-partial window remains: starts at
    0, stride, 2*stride, ..., the last window may be short, and a doc
    shorter than one window yields exactly one chunk.  Empty docs yield
    none.

    Plan shape: the token array MATERIALIZES in a staging projection
    (a HOF lambda closing over the tokenization expression would
    re-run the split per WINDOW — round-15 plan-bug class, see
    span_dup_coverage); the window index sequence and slicing are then
    array HOFs over the bound column feeding a posexplode — narrow
    until the explode, no shuffle at all, and the explode's fan-out
    (~n_tokens/stride per doc) is the output itself.  Chunking a
    100 TB corpus is scan-bound, which is the correct cost.
    """
    staged = df.select(
        F.col(id_col),
        F.trim(F.col(text_col)).alias("__trim"),
        _tokens(F.col(text_col)).alias("__toks"),
    )
    toks = F.col("__toks")
    n = F.size(toks)
    # number of windows: 1 + ceil(max(0, n - chunk) / stride), 0 if empty
    n_win = F.when(F.col("__trim") == "", F.lit(0)).otherwise(
        F.lit(1)
        + F.floor(
            (
                F.greatest(n - chunk_tokens, F.lit(0))
                + F.lit(stride - 1)
            )
            / stride
        ).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda w: F.slice(toks, w * stride + 1, chunk_tokens),
    )
    out = staged.select(
        F.col(id_col),
        F.posexplode(
            F.when(n_win > 0, chunks).otherwise(F.array())
        ).alias("chunk_id", "chunk_toks"),
    )
    return out.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join("chunk_toks", " ").alias("chunk_text"),
        F.size("chunk_toks").cast("int").alias("n_tokens"),
    )


def bpe_pair_stats(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
    min_word_chars: int = 2,
) -> DataFrame:
    """The distributed counting step of BPE training (round 12): global
    frequencies of ADJACENT CHARACTER PAIRS inside words — exactly the
    statistic the first BPE merge iteration maximizes (Sennrich et al.,
    arXiv:1508.07909).  Returns the ``top_k`` pairs as
    ``(pair, n_pairs)``, deterministically ordered and row_number-cut
    on (count desc, pair asc) so boundary ties can't flap between
    engines.

    Tokenization matches :func:`unigram_logprob`'s engine-portable
    rule (lowercase, split on non-letters); words shorter than
    ``min_word_chars`` have no interior pair and drop out naturally.

    Scale shape: two explodes (corpus -> words -> positions) feeding
    ONE map-side-combinable groupBy; the result is vocabulary-sized
    (<= alphabet^2 for char pairs), so the final top-k cut is a
    TakeOrderedAndProject over a tiny frame.  No Python in the row
    path.  A full BPE trainer loops this stage with a driver-side
    merge-table update — the heavy lifting is this count, which is why
    it's the operator."""
    words = (
        df.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), "[^a-z]+")
            ).alias("w")
        )
        .where(F.length("w") >= max(2, int(min_word_chars)))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), "
                   "i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    # total order (count desc, pair asc) makes the limit deterministic;
    # orderBy+limit compiles to TakeOrderedAndProject — a per-partition
    # top-k merged on the driver, never a global single-partition window
    return counts.orderBy(F.desc("n_pairs"), F.asc("pair")).limit(
        int(top_k)
    )


def classifier_vocabulary(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 256,
) -> DataFrame:
    """The self-fit half of the fastText-style scorer: the corpus's
    ``vocab_size`` most frequent whitespace tokens with an integer
    milli-weight derived from frequency rank (``1000 - 3*rank``).
    Stands in for a TRAINED model's weight table — load real weights
    as any ``(tok, w_milli)`` DataFrame and skip this builder; the
    scoring plan is identical.

    Scale shape: one token-count aggregation (map-side combined) then
    ``orderBy(count desc, tok).limit(V)`` — TakeOrdered, a distributed
    per-partition top-k, never a single-partition global window.  The
    rank is assigned over the V survivors only (metadata-sized)."""
    from pyspark.sql import Window

    toks = docs.where(F.trim(F.col(text_col)) != "").select(
        F.explode(_tokens(F.col(text_col))).alias("tok")
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(int(vocab_size))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "tok", (F.lit(1000) - F.lit(3) * F.col("rank")).alias("w_milli")
    )


def with_classifier_score(
    docs: DataFrame,
    weights: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 256,
    oov_milli: int = -100,
) -> DataFrame:
    """fastText-style linear text classifier over a hashed/looked-up
    bag of words (Joulin et al. 2016, "Bag of Tricks for Efficient
    Text Classification"): each document's logit is the mean token
    weight, ``floor(sum(w_milli) / n_tokens)`` in integer milli-units
    (the engine-portable fixed-point convention the other text ops
    use; apply a sigmoid downstream for a probability).  Out-of-
    vocabulary tokens score ``oov_milli``.

    ``weights``: any ``(tok, w_milli)`` table — a real trained model's
    weights, or the self-fit :func:`classifier_vocabulary` default.

    Scale shape: explode -> BROADCAST weight join (the vocabulary is
    bounded) -> one groupBy(doc) sum — one shuffle on the doc key, all
    JVM-side expressions, no Python in the row path.  This is the same
    plan shape the unigram-LM scorer uses; the two differ only in the
    weight semantics (log-probabilities vs linear weights)."""
    if weights is None:
        weights = classifier_vocabulary(docs, text_col, vocab_size)
    toks = docs.where(F.trim(F.col(text_col)) != "").select(
        id_col, F.explode(_tokens(F.col(text_col))).alias("tok")
    )
    scored = toks.join(F.broadcast(weights), "tok", "left").groupBy(
        id_col
    ).agg(
        F.floor(
            F.sum(F.coalesce(F.col("w_milli"), F.lit(int(oov_milli))))
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("logit_milli")
    )
    return scored
