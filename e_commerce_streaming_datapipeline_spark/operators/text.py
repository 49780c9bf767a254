"""Text analysis operators (BASELINE.json scale-up mandate): token counting,
quality scoring, language-ID heuristics, document fingerprinting.

All of it is built-in Catalyst expressions (split/regexp/md5/length) — no
Python in the hot path, so a 100 TB documents table processes at parquet-scan
speed with the projection pushed down to (doc_id, text, lang).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from e_commerce_streaming_datapipeline_spark.functions.ranks import register_cache
from e_commerce_streaming_datapipeline_spark.functions.checkpoints import round_checkpoint
from e_commerce_streaming_datapipeline_spark.functions.rounding import fround

from e_commerce_streaming_datapipeline_spark.functions.scalars import bounded_cross_join, scalar_join
from e_commerce_streaming_datapipeline_spark.operators.dedup import (
    MIN_SHINGLE_FP_SQL,
    SHINGLE_K,
    min_shingle_fp,
)
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table


def text_stats(docs: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    n_chars = F.length(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_unique.alias("n_unique_tokens"),
        n_chars.alias("n_chars_measured"),
        # mean token length: chars excluding the single separators
        fround((n_chars - (n_tokens - 1)) / n_tokens, 4).alias("avg_token_len"),
        # type-token ratio — the lexical-diversity quality signal
        fround(n_unique / n_tokens, 4).alias("ttr"),
        # composite quality score: diversity + length saturation, both [0,50]
        fround(n_unique / n_tokens * 50 + F.least(n_tokens, F.lit(100)) / 100 * 50, 2)
        .alias("quality_score"),
    )


_TEXT_STATS_ORACLE = """
SELECT
    doc_id,
    lang,
    CAST(len(string_split(text, ' ')) AS INT)                 AS n_tokens,
    CAST(len(list_distinct(string_split(text, ' '))) AS INT)  AS n_unique_tokens,
    CAST(length(text) AS INT)                                 AS n_chars_measured,
    round((length(text) - (len(string_split(text, ' ')) - 1))
          / len(string_split(text, ' ')), 4)                  AS avg_token_len,
    round(len(list_distinct(string_split(text, ' ')))
          / len(string_split(text, ' ')), 4)                  AS ttr,
    round(len(list_distinct(string_split(text, ' ')))
          / len(string_split(text, ' ')) * 50
          + least(len(string_split(text, ' ')), 100) / 100 * 50, 2) AS quality_score
FROM documents
"""


@query("text_stats", oracle=_TEXT_STATS_ORACLE)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts, type-token ratio and a composite quality
    score — single codegen stage over the scan."""
    return text_stats(load_table(spark, "documents", sf_dir))


@query(
    "lang_quality_stats",
    oracle="""
SELECT
    lang,
    count(*)                                       AS docs,
    round(avg(CAST(len(string_split(text, ' ')) AS BIGINT)), 2) AS avg_tokens,
    round(avg(n_chars), 2)                         AS avg_chars,
    CAST(sum(n_chars) AS BIGINT)                   AS total_chars,
    round(avg(len(list_distinct(string_split(text, ' ')))
              / len(string_split(text, ' '))), 4)  AS avg_ttr
FROM documents
GROUP BY 1
""",
)
def q_lang_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality per language: doc counts, length and diversity means —
    the per-shard quality dashboard of a data pipeline."""
    docs = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    return docs.groupBy("lang").agg(
        F.count("*").alias("docs"),
        fround(F.avg(F.size(toks).cast("long")), 2).alias("avg_tokens"),
        fround(F.avg("n_chars"), 2).alias("avg_chars"),
        F.sum("n_chars").alias("total_chars"),
        fround(F.avg(F.size(F.array_distinct(toks)) / F.size(toks)), 4).alias("avg_ttr"),
    )


@query(
    "lang_id",
    oracle="""
SELECT
    doc_id,
    lang AS labeled_lang,
    CAST(len(regexp_extract_all(text, '\\bthe\\b')) AS INT)  AS en_markers,
    CAST(len(regexp_extract_all(text, '\\b(a|of|and)\\b')) AS INT) AS en_function_words,
    CASE
        WHEN len(regexp_extract_all(text, '\\bthe\\b')) >= 2 THEN 'en'
        WHEN len(regexp_extract_all(text, '\\b(a|of|and)\\b')) >= 1 THEN 'en-like'
        ELSE 'und'
    END AS predicted_lang
FROM documents
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID heuristic (the degenerate-but-real n-gram
    approach: score function-word hits, argmax).  Deterministic, regex stays
    JVM-side."""
    docs = load_table(spark, "documents", sf_dir)
    en_markers = F.regexp_count(F.col("text"), F.lit(r"\bthe\b"))
    en_function = F.regexp_count(F.col("text"), F.lit(r"\b(a|of|and)\b"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        en_markers.alias("en_markers"),
        en_function.alias("en_function_words"),
        F.when(en_markers >= 2, "en")
        .when(en_function >= 1, "en-like")
        .otherwise("und")
        .alias("predicted_lang"),
    )


@query(
    "token_count_estimates",
    oracle="""
SELECT
    doc_id,
    CAST(len(string_split(text, ' ')) AS INT)              AS ws_tokens,
    CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]')) AS INT) AS bpe_ish_tokens,
    CAST(ceil(length(text) / 4.0) AS BIGINT)               AS char_est_tokens
FROM documents
""",
)
def q_token_count_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex segmentation, and
    the chars/4 heuristic — the budget accounting of an LLM data pipeline."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[a-z0-9]+|[^a-z0-9\s]")).alias("bpe_ish_tokens"),
        F.ceil(F.length(F.col("text")) / 4.0).alias("char_est_tokens"),
    )


@query(
    "doc_fingerprints",
    oracle=f"""
SELECT
    doc_id,
    substr(md5(text), 1, 16) AS content_fp,
    {MIN_SHINGLE_FP_SQL} AS min_shingle_fp
FROM documents
WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
""",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: exact content fingerprint plus a
    winnowing-style min-shingle-hash fingerprint (stable under suffix/prefix
    edits away from the minimizing shingle)."""
    docs = load_table(spark, "documents", sf_dir).withColumn(
        "toks", F.split(F.col("text"), " ")
    )
    min_shingle = min_shingle_fp()
    return (
        docs.where(F.size(F.col("toks")) >= 3)
        .select(
            "doc_id",
            F.substring(F.md5(F.col("text")), 1, 16).alias("content_fp"),
            min_shingle.alias("min_shingle_fp"),
        )
    )


@query(
    "tfidf_top_terms",
    oracle="""
WITH tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
    GROUP BY 1, 2
), df AS (
    SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (
    SELECT count(*) AS n_docs FROM documents
), scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
    FROM scored
)
WHERE rn <= 3
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf — the keyword-extraction stage of a
    corpus pipeline.

    Scale shape: one explode -> groupBy(doc_id, term) with map-side partial
    combine; df is a re-aggregation of that same relation (exchange reuse on
    term); the corpus size joins in as a broadcast single-row aggregate.  The
    rank ordering uses the ROUNDED score so cross-engine float ULPs cannot
    flip the top-3 (SURVEY §7 hard-part 2)."""
    docs = load_table(spark, "documents", sf_dir)
    total = docs.agg(F.count("*").alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        scalar_join(tf.join(df, "term"), total)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            fround(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


@query(
    "corpus_quality_filter",
    oracle=f"""
WITH stats AS (
    SELECT
        doc_id, lang,
        CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        len(list_distinct(string_split(text, ' ')))
            / len(string_split(text, ' ')) AS ttr,
        {MIN_SHINGLE_FP_SQL} AS fp
    FROM documents
    WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
), filtered AS (
    SELECT * FROM stats WHERE n_tokens BETWEEN 30 AND 90 AND ttr >= 0.35
)
SELECT doc_id, lang, n_tokens, round(ttr, 4) AS ttr
FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM filtered
)
WHERE rn = 1
""",
)
def q_corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed clean-corpus pipeline: length gate + lexical-diversity
    gate + near-dup removal (winnowing min-shingle fingerprint, keep lowest
    doc_id) — the filter chain every LLM training-data build runs.

    Scale shape: the quality gates are codegen'd predicates applied during the
    scan (nothing survives to the shuffle that the gates kill); the only
    shuffle is the fingerprint-keyed dedup, whose key space is |corpus|
    hashes.  At 100 TB the dedup winner is a groupBy(fp).min(doc_id) +
    semi-join if fingerprint groups get hot."""
    docs = load_table(spark, "documents", sf_dir).withColumn(
        "toks", F.split(F.col("text"), " ")
    )
    toks = F.col("toks")
    min_shingle = min_shingle_fp()
    stats = (
        docs.where(F.size(toks) >= 3)
        .select(
            "doc_id",
            "lang",
            F.size(toks).alias("n_tokens"),
            (F.size(F.array_distinct(toks)) / F.size(toks)).alias("ttr"),
            min_shingle.alias("fp"),
        )
    )
    filtered = stats.where(F.col("n_tokens").between(30, 90) & (F.col("ttr") >= 0.35))
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        filtered.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "n_tokens", fround(F.col("ttr"), 4).alias("ttr"))
    )


@query(
    "train_test_split",
    oracle="""
SELECT
    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c'
         THEN 'train' ELSE 'test' END AS split,
    lang,
    count(*) AS docs,
    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens
FROM documents
GROUP BY 1, 2
""",
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/test split (~81/19: md5 first hex digit
    <= 'c') with per-language stratification accounting.  Content-hash
    splits are reproducible across engines, runs, and cluster sizes — unlike
    ``rand()``-seeded sampling, which is partition-layout-dependent; the
    assignment is a codegen'd expression, so splitting 100 TB is a scan."""
    docs = load_table(spark, "documents", sf_dir)
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) <= "c", "train"
    ).otherwise("test")
    return (
        docs.groupBy(split.alias("split"), F.col("lang"))
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).alias("total_ws_tokens"),
        )
    )


@query(
    "top_terms",
    oracle="""
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS term FROM documents
), counted AS (
    SELECT term, count(*) AS n_occurrences FROM toks GROUP BY 1
)
SELECT term, n_occurrences, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (ORDER BY n_occurrences DESC, term) AS rn
    FROM counted
)
WHERE rn <= 20
""",
)
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies via explode (the UDTF/generator surface) with
    a deterministic top-20 — vocabulary accounting for tokenizer training.

    Scale shape: explode -> partial map-side count -> one shuffle on term;
    then ``orderBy().limit(k)`` plans as TakeOrdered — each partition keeps
    only its local top-20 and the driver merges |partitions| x 20 rows.  A
    100-TB vocabulary never funnels through a single-partition window sort
    (the earlier row_number-then-filter shape did exactly that); ranks are
    assigned AFTER the top-k, over 20 rows."""
    docs = load_table(spark, "documents", sf_dir)
    counted = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n_occurrences"))
    )
    top = counted.orderBy(F.col("n_occurrences").desc(), F.col("term")).limit(20)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("term"))  # 20 rows
    return top.withColumn("rank", F.row_number().over(w)).select(
        "term", "n_occurrences", "rank"
    )


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       count({c})                        AS non_null,
       count(DISTINCT {c})               AS distinct_cnt,
       CAST(min({c}) AS VARCHAR)         AS min_value,
       CAST(max({c}) AS VARCHAR)         AS max_value
FROM documents"""
    for c in _PROFILE_COLS
)


@query("dataset_profile", oracle=_PROFILE_ORACLE)
def q_dataset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column dataset profiling (null/distinct/min/max), long format —
    the pre-training data-audit pass every corpus pipeline runs before
    touching a tokenizer.  Not in the reference (its only data validation is
    required-field presence, src/schemas/avro_schemas.py:69-74).

    ONE pass over the table: all per-column aggregates compute in a single
    wide aggregation (multi-distinct plans via Expand — 5x row expansion,
    still one scan), then `stack()` unpivots the 1-row wide result into
    (column, stats) rows driver-side-free.  The naive per-column loop would
    scan the table N times; at 100 TB that's the difference between one job
    and five."""
    docs = load_table(spark, "documents", sf_dir)
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).alias(f"{c}__dist"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = docs.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nn, {c}__dist, {c}__min, {c}__max" for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "AS (column_name, non_null, distinct_cnt, min_value, max_value)"
        )
    )


@query(
    "source_id_stats",
    oracle="""
SELECT
    CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS source_id,
    count(*)                                           AS docs,
    CAST(sum(n_chars) AS BIGINT)                       AS total_chars,
    round(CAST(sum(n_chars) AS DOUBLE) / count(*) * 100) / 100 AS avg_chars
FROM documents
GROUP BY 1
""",
)
def q_source_id_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex field extraction (§2.2 notes the reference has NO regex/substr
    surface — added here as first-class): parse the numeric id out of the
    source tag and aggregate per id.  `regexp_extract` runs JVM-side inside
    codegen — no UDF; the avg divides an exact integer sum so both engines
    agree bit-for-bit."""
    docs = load_table(spark, "documents", sf_dir)
    sid = F.regexp_extract(F.col("source"), r"([0-9]+)", 1).cast("int")
    return (
        docs.groupBy(sid.alias("source_id"))
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_chars").alias("total_chars"),
            fround(F.sum("n_chars").cast("double") / F.count("*"), 2).alias("avg_chars"),
        )
    )


CHUNK_CHARS = 200
CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks


@query(
    "doc_chunks",
    oracle=f"""
SELECT
    doc_id,
    CAST((start - 1) / {CHUNK_STRIDE} AS INT)  AS chunk_id,
    length(substr(text, start, {CHUNK_CHARS})) AS chunk_chars,
    md5(substr(text, start, {CHUNK_CHARS}))    AS chunk_hash
FROM (
    SELECT doc_id, text, unnest(generate_series(1, greatest(n_chars, 1), {CHUNK_STRIDE})) AS start
    FROM documents
)
""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking ({CHUNK_CHARS}-char windows, stride
    {CHUNK_STRIDE}) — the context-window splitting step every training-data
    pipeline runs between cleaning and tokenization.

    Pure generated-explode: `sequence(1, n_chars, stride)` produces each
    document's chunk starts row-locally (no join, no shuffle, no UDF), and
    `substring` slices stay inside codegen.  Chunks are emitted as
    (len, md5) instead of raw text so the relation stays narrow; a real
    pipeline would carry the chunk text — same plan, wider rows.  Chunk
    count scales with corpus size only (row-local), so this is
    embarrassingly parallel at any scale."""
    docs = load_table(spark, "documents", sf_dir)
    chunk = F.expr(f"substring(text, start, {CHUNK_CHARS})")
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.greatest("n_chars", F.lit(1).cast("long")),
                           F.lit(CHUNK_STRIDE).cast("long"))
            ).alias("start"),
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_id"),
            F.length(chunk).alias("chunk_chars"),
            F.md5(chunk).alias("chunk_hash"),
        )
    )


_STOPWORDS = ("the", "a")


@query(
    "text_normalize",
    oracle=f"""
-- edge discipline: DuckDB's array_to_string(empty_list) is NULL while
-- Spark's array_join(empty) is '' — an all-stopword document must emit
-- ('', 0, n_tokens, md5('')) on both engines, so the empty join is
-- coalesced (NULL text stays NULL end to end); and the dropped count uses
-- len(kept) directly rather than re-splitting norm_text, whose
-- string_split('') -> [''] would be off by one on the empty string
WITH norm AS (
    SELECT doc_id,
        CASE WHEN text IS NULL THEN NULL
             ELSE coalesce(array_to_string(
                list_filter(
                    string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '),
                    t -> t NOT IN {_STOPWORDS!r}
                ), ' '), '') END AS norm_text,
        CASE WHEN text IS NULL THEN NULL
             ELSE len(list_filter(
                string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '),
                t -> t NOT IN {_STOPWORDS!r}
             )) END AS n_kept,
        len(string_split(text, ' ')) AS n_tokens
    FROM documents
)
SELECT doc_id,
    CAST(length(norm_text) AS INT)    AS norm_chars,
    CAST(n_tokens - n_kept AS INT)    AS n_stopwords_dropped,
    md5(norm_text)                    AS norm_hash
FROM norm
""",
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization — the canonical-form step ahead of exact dedup
    and tokenization: lowercase, trim, collapse whitespace runs, drop
    stopword tokens; emit the normalized hash the dedup stage keys on.

    One row-local codegen'd projection (regexp_replace + higher-order
    ``filter`` over the token array — no explode, no shuffle, no UDF).
    The stopword list is a literal here; a real pipeline broadcasts a
    lexicon and the filter becomes `NOT array_contains(lex, t)` — same
    row-local shape.  Cited parity: the reference has no string pipeline
    at all (SURVEY §2.2); this is the scale-up surface that feeds
    dedup_docs_exact's normalized-content hashing."""
    docs = load_table(spark, "documents", sf_dir)
    collapsed = F.regexp_replace(F.trim(F.lower(F.col("text"))), "\\s+", " ")
    toks = F.split(collapsed, " ")
    kept = F.filter(toks, lambda t: ~t.isin(*_STOPWORDS))
    norm = F.array_join(kept, " ")
    return docs.select(
        "doc_id",
        F.length(norm).cast("int").alias("norm_chars"),
        (F.size(F.split(F.col("text"), " ")) - F.size(kept)).cast("int").alias(
            "n_stopwords_dropped"
        ),
        F.md5(norm).alias("norm_hash"),
    )


@query(
    "doc_chunks_udtf",
    oracle=f"""
SELECT
    doc_id,
    CAST((start - 1) / {CHUNK_STRIDE} AS INT)  AS chunk_id,
    length(substr(text, start, {CHUNK_CHARS})) AS chunk_chars,
    md5(substr(text, start, {CHUNK_CHARS}))    AS chunk_hash
FROM (
    SELECT doc_id, text, unnest(generate_series(1, greatest(n_chars, 1), {CHUNK_STRIDE})) AS start
    FROM documents
)
""",
)
def q_doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same overlapping chunker as ``doc_chunks``, expressed as a Python
    UDTF in a LATERAL join — the user-defined TABLE function extension point
    (Spark 4) for one-row-to-many logic that outgrows generator expressions
    (stateful tokenizers, format-aware splitters).  Same oracle as
    ``doc_chunks``: the two implementations are mutually checking.

    Scale note: a UDTF is row-at-a-time Python — fine as an extension seam,
    but the generated-explode twin stays the hot path (codegen, no Python
    workers); this pairing documents exactly that trade."""
    import hashlib

    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_id int, chunk_chars int, chunk_hash string")
    class Chunker:
        def eval(self, doc_id, text, n_chars):
            # n_chars is nullable: int(None) would kill the executor, while
            # the codegen twin's greatest(n_chars, 1) treats NULL as 1
            for chunk_id, start in enumerate(range(1, max(int(n_chars or 0), 1) + 1, CHUNK_STRIDE)):
                if text is None:
                    # propagate NULL exactly like the codegen twin's
                    # substring(NULL, ...) -> NULL chunk fields, so both
                    # implementations and the shared oracle agree on
                    # NULL-text documents
                    yield (doc_id, chunk_id, None, None)
                    continue
                piece = text[start - 1 : start - 1 + CHUNK_CHARS]
                yield (
                    doc_id,
                    chunk_id,
                    len(piece),
                    hashlib.md5(piece.encode("utf-8")).hexdigest(),
                )

    spark.udtf.register("doc_chunker", Chunker)
    docs = load_table(spark, "documents", sf_dir)
    view = "documents_for_udtf"
    docs.select("doc_id", "text", "n_chars").createOrReplaceTempView(view)
    return spark.sql(
        f"SELECT c.* FROM {view} t, LATERAL doc_chunker(t.doc_id, t.text, t.n_chars) c"
    )


_BPE_TOP_K = 20

_BPE_ORACLE = f"""
WITH words AS (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
), wc AS (
    SELECT w, count(*) AS f FROM words WHERE length(w) >= 2 GROUP BY 1
), pairs AS (
    SELECT substr(w, CAST(i AS INT), 2) AS pair, f
    FROM (SELECT w, f, unnest(generate_series(1, length(w) - 1)) AS i FROM wc)
)
SELECT pair, CAST(sum(f) AS BIGINT) AS n
FROM pairs
GROUP BY 1
ORDER BY n DESC, pair
LIMIT {_BPE_TOP_K}
"""


@query("bpe_pair_counts", oracle=_BPE_ORACLE)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One byte-pair-encoding merge-learning iteration over the corpus: the
    most frequent adjacent symbol pairs, weighted by word frequency — the
    inner loop of tokenizer training (BPE/WordPiece vocab building), which at
    100 TB is a corpus-scale aggregation job, not a single-machine script.

    Plan shape: words explode row-locally, collapse to (word, freq) with
    map-side partial counts BEFORE pair expansion — pairs are then generated
    from the DISTINCT word list (|vocab| rows, orders of magnitude smaller
    than the corpus token stream), so the second explode+aggregate runs on
    vocabulary scale.  That two-stage shape (corpus → word counts → pair
    counts) is exactly how production BPE trainers distribute; a naive
    per-token pair explode would shuffle |tokens| x avg_word_len rows.
    Top-k is a global TakeOrdered (no window), ties broken on the pair text
    so the cut is deterministic cross-engine."""
    docs = load_table(spark, "documents", sf_dir)
    wc = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    pairs = wc.select(
        "f",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(_BPE_TOP_K)
    )


# --------------------------------------------------------------------------
# Unigram language-model quality scoring
# --------------------------------------------------------------------------

@query(
    "unigram_logprob_scores",
    oracle="""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w
    FROM documents WHERE text IS NOT NULL
), vocab AS (
    SELECT w, count(*) AS c FROM toks GROUP BY w
), total AS (
    SELECT sum(c) AS n FROM vocab
)
SELECT
    t.doc_id,
    count(*)                                              AS n_tokens,
    round(-avg(ln(v.c / total.n)) * 10000) / 10000        AS avg_neg_logprob,
    round(-min(ln(v.c / total.n)) * 10000) / 10000        AS max_surprisal
FROM toks t
JOIN vocab v ON t.w = v.w, total
GROUP BY t.doc_id
""",
)
def q_unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: each document's mean negative log
    probability under the corpus's own unigram LM (plus the rarest-token
    surprisal) — the cheap LM-score filter used to rank documents before
    expensive model-based scoring.

    Two passes over the token relation, both scalable: vocabulary counts
    are a hash agg (shuffle = distinct vocabulary); the score join is an
    equi-join on the token — popular tokens are heavy but AQE splits skewed
    partitions, and for web corpora the vocab head (say top 100k terms)
    broadcasts while only the tail shuffles.  The corpus-total token count
    joins in as a broadcast scalar, not a driver collect."""
    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = toks.groupBy("w").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    logp = F.log(F.col("c") / F.col("n"))
    return (
        scalar_join(toks.join(vocab, "w"), total)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            fround(-F.avg(logp), 4).alias("avg_neg_logprob"),
            fround(-F.min(logp), 4).alias("max_surprisal"),
        )
    )


# Content-defined chunking: boundary when the 2-token rolling hash lands in
# a 1/16 residue class — avg chunk ~16 tokens, and (unlike fixed-size
# chunks) boundaries re-synchronize after an insertion/deletion, so edited
# documents still share most chunk hashes with their originals.
_CDC_MOD = 16

# cross-engine token hash: first/last char codes + length, plain integer
# arithmetic both engines evaluate bit-identically (ascii/length/substr)
_CDC_TOKEN_HASH_SQL = (
    "(ascii(substr({t}, 1, 1)) * 131"
    " + ascii(substr({t}, length({t}), 1)) * 31"
    " + length({t}) * 7)"
)


@query(
    "cdc_chunks",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, u.pos, u.token FROM (
        SELECT doc_id,
               unnest(list_transform(string_split(text, ' '),
                      (t, i) -> {{'pos': i - 1, 'token': t}})) AS u
        FROM documents WHERE text IS NOT NULL
    )
), hashed AS (
    SELECT doc_id, pos, token,
        {_CDC_TOKEN_HASH_SQL.format(t="token")} AS h,
        lag({_CDC_TOKEN_HASH_SQL.format(t="token")})
            OVER (PARTITION BY doc_id ORDER BY pos) AS ph
    FROM toks
), flagged AS (
    SELECT doc_id, pos, token,
        CASE WHEN ph IS NOT NULL AND (ph * 97 + h) % {_CDC_MOD} = 0
             THEN 1 ELSE 0 END AS boundary
    FROM hashed
), assigned AS (
    SELECT doc_id, pos, token,
        sum(boundary) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS UNBOUNDED PRECEDING
        ) AS chunk_idx
    FROM flagged
), chunks AS (
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        CAST(count(*) AS BIGINT) AS n_tokens,
        md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash
    FROM assigned GROUP BY 1, 2
)
SELECT doc_id, chunk_idx, n_tokens, chunk_hash,
    CAST(count(*) OVER (PARTITION BY chunk_hash) AS BIGINT) AS dup_count
FROM chunks
""",
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (rolling-hash boundaries) + cross-corpus
    chunk dedup counts — the chunk-granularity dedup primitive (FastCDC /
    rsync lineage) at token level.

    A boundary opens where the 2-token rolling hash ≡ 0 (mod 16), so chunk
    edges depend only on LOCAL content: inserting a sentence into a 100 TB
    corpus re-chunks one neighborhood instead of shifting every downstream
    fixed-size chunk, which is what makes chunk-hash dedup survive edits
    (`chunk_dedup_retention` is the fixed-boundary sibling).  The token
    hash is first/last-char + length integer arithmetic so the DuckDB
    oracle reproduces boundaries bit-identically.

    Scale shape: posexplode → two window functions over (doc_id, pos) — one
    shuffle by doc_id, partition-local sort, no driver state — then a hash
    agg per (doc, chunk) and a window count by chunk_hash (the dedup join).
    All codegen; no Python."""
    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token")
    )
    h = (
        F.ascii(F.substring(F.col("token"), 1, 1)) * 131
        + F.ascii(F.expr("substring(token, length(token), 1)")) * 31
        + F.length(F.col("token")) * 7
    )
    by_pos = Window.partitionBy("doc_id").orderBy("pos")
    hashed = toks.withColumn("h", h).withColumn("ph", F.lag("h").over(by_pos))
    flagged = hashed.withColumn(
        "boundary",
        F.when(
            F.col("ph").isNotNull()
            & (F.pmod(F.col("ph") * 97 + F.col("h"), F.lit(_CDC_MOD)) == 0),
            1,
        ).otherwise(0),
    )
    assigned = flagged.withColumn(
        "chunk_idx",
        F.sum("boundary").over(by_pos.rowsBetween(Window.unboundedPreceding, 0)),
    )
    chunks = (
        assigned.groupBy("doc_id", F.col("chunk_idx").cast("int").alias("chunk_idx"))
        .agg(
            F.count("*").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "token"))
                        ),
                        lambda s: s.token,
                    ),
                    " ",
                )
            ).alias("chunk_hash"),
        )
    )
    return chunks.withColumn(
        "dup_count", F.count("*").over(Window.partitionBy("chunk_hash"))
    )


_BIGRAM_K = 0.5  # add-k smoothing


@query(
    "bigram_perplexity",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, u.pos, u.w FROM (
        SELECT doc_id,
               unnest(list_transform(string_split(text, ' '),
                      (t, i) -> {{'pos': i - 1, 'w': t}})) AS u
        FROM documents WHERE text IS NOT NULL
    )
), bi AS (
    SELECT doc_id, pos, w AS w1,
           lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM toks
), bigrams AS (
    SELECT * FROM bi WHERE w2 IS NOT NULL
), c2 AS (
    SELECT w1, w2, count(*) AS n2 FROM bigrams GROUP BY 1, 2
), c1 AS (
    SELECT w1, count(*) AS n1 FROM bigrams GROUP BY 1
), vocab AS (
    SELECT count(*) AS v FROM (SELECT DISTINCT w FROM toks)
), scored AS (
    SELECT b.doc_id,
           ln((c2.n2 + {_BIGRAM_K}) / (c1.n1 + {_BIGRAM_K} * vocab.v)) AS lp
    FROM bigrams b
    JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
    JOIN c1 ON c1.w1 = b.w1
    CROSS JOIN vocab
)
SELECT doc_id,
       CAST(count(*) AS BIGINT)      AS n_bigrams,
       round(-avg(lp), 4)            AS avg_neg_logprob,
       round(exp(-avg(lp)), 2)       AS perplexity
FROM scored GROUP BY 1
""",
)
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-k smoothing: per-document
    average negative log-probability and perplexity under the corpus's own
    bigram statistics — the classic KenLM-style quality/outlier filter one
    level above `unigram_logprob_scores` (which can't see word order).

    Scale shape: one shuffle by doc_id for the lead() window (same
    partitioning the chunkers use), then hash aggs whose cardinality is the
    bigram vocabulary — for web corpora the conditional-count relation
    c(w1) is vocab-sized and broadcast-able, while c(w1,w2) joins on the
    bigram key with AQE handling the Zipf head's skew.  The vocab size
    rides along as a 1-row hash-joined scalar.  Everything codegen."""
    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    by_pos = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.withColumn("w2", F.lead("w").over(by_pos))
        .where(F.col("w2").isNotNull())
        .select("doc_id", F.col("w").alias("w1"), "w2")
    )
    c2 = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = bigrams.groupBy("w1").agg(F.count("*").alias("n1"))
    vocab = toks.select("w").distinct().agg(F.count("*").alias("v"))
    lp = F.log(
        (F.col("n2") + F.lit(_BIGRAM_K)) / (F.col("n1") + F.lit(_BIGRAM_K) * F.col("v"))
    )
    scored = scalar_join(
        bigrams.join(c2, ["w1", "w2"]).join(c1, "w1"), vocab
    ).select("doc_id", lp.alias("lp"))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        fround(-F.avg("lp"), 4).alias("avg_neg_logprob"),
        fround(F.exp(-F.avg("lp")), 2).alias("perplexity"),
    )


_DUP_NGRAM_N = 8


@query(
    "dup_ngram_coverage",
    oracle=f"""
WITH grams AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - {_DUP_NGRAM_N - 1}),
               i -> md5(array_to_string(
                        list_slice(string_split(text, ' '), i, i + {_DUP_NGRAM_N - 1}),
                        ' '))
           )) AS g
    FROM documents
    WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= {_DUP_NGRAM_N}
), gram_docs AS (
    SELECT g, count(*) AS n_docs FROM (SELECT DISTINCT g, doc_id FROM grams) GROUP BY 1
)
SELECT
    grams.doc_id,
    CAST(count(*) AS BIGINT)                               AS n_grams,
    CAST(count(*) FILTER (gd.n_docs >= 2) AS BIGINT)       AS n_dup_grams,
    round(count(*) FILTER (gd.n_docs >= 2) * 1.0 / count(*), 4) AS dup_fraction
FROM grams JOIN gram_docs gd ON gd.g = grams.g
GROUP BY 1
""",
)
def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — public): per document,
    the fraction of its 8-gram windows that also occur in ANOTHER document.
    High-coverage docs are boilerplate/mirrors; the per-doc fraction is the
    ranking signal an exact-substring dedup pass cuts on (the suffix-array
    approach's distributable approximation — n-gram windows instead of
    maximal repeated substrings, expressible as joins).

    Scale shape: gram expansion is a map-side HOF (slice+md5, no Python);
    the distinct (gram, doc) projection then a gram-keyed count is the
    dedup-then-count discipline (no Expand); the gram-keyed equi-join back
    is skew-safe under AQE since md5 keys are uniform.  ~n_tokens rows per
    doc — same order as the shingle relations MinHash already builds."""
    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    # project the token array ONCE per row before the HOF: split(text)
    # written inline inside the lambda is re-evaluated per gram position,
    # turning the expansion O(n_tokens^2) per document
    toked = docs.withColumn("toks", F.split(F.col("text"), " "))
    grams = (
        toked.where(F.size(F.col("toks")) >= _DUP_NGRAM_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(toks) - {_DUP_NGRAM_N}), "
                    f"i -> md5(concat_ws(' ', slice(toks, i + 1, {_DUP_NGRAM_N}))))"
                )
            ).alias("g"),
        )
    )
    # aggregate to the (gram, doc) grain FIRST so the doc-keyed exchange
    # carries distinct (gram, doc) rows, not every occurrence (guide §2.3,
    # the r9 win) — then MATERIALIZE that grain: its two consumers below
    # (the per-gram doc count and the join probe side) produce DIFFERENT
    # partial aggregates over it, so ReusedExchange never fires and the
    # corpus-sized explode+md5 Generate executed twice (verified in the r9
    # executed plan; r9 VERDICT task #7).  One round_checkpoint runs the
    # expansion once and both consumers replay the materialized grain.
    gd = grams.groupBy("g", "doc_id").agg(F.count("*").alias("k")).transform(
        round_checkpoint
    )
    gram_docs = gd.groupBy("g").agg(F.count("*").alias("n_docs"))
    dup_k = F.sum(F.when(F.col("n_docs") >= 2, F.col("k")).otherwise(F.lit(0)))
    return (
        gd.join(gram_docs, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_grams"),
            dup_k.alias("n_dup_grams"),
            fround(dup_k * 1.0 / F.sum("k"), 4).alias("dup_fraction"),
        )
    )


_VOCAB_K = 64


@query(
    "vocab_oov_rates",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w
    FROM documents WHERE text IS NOT NULL
), vocab AS (
    SELECT w FROM (
        SELECT w, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, w) AS rn
        FROM toks GROUP BY w
    ) WHERE rn <= {_VOCAB_K}
)
SELECT
    t.doc_id,
    CAST(count(*) AS BIGINT)                       AS n_tokens,
    CAST(count(*) FILTER (v.w IS NULL) AS BIGINT)  AS n_oov,
    round(count(*) FILTER (v.w IS NULL) * 1.0 / count(*), 4) AS oov_rate
FROM toks t LEFT JOIN vocab v ON v.w = t.w
GROUP BY 1
""",
)
def q_vocab_oov_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per-document out-of-vocabulary rate
    against the corpus's own top-64 token vocabulary — the coverage check
    run before committing to a tokenizer (high-OOV docs are either noise
    or a domain the vocab under-serves; both are routing signals).

    Scale shape: the vocabulary is top-k of a vocab-sized aggregate
    (TakeOrdered — never a full sort) and BROADCASTS into the token
    stream's left join, so the corpus-sized relation never shuffles for
    membership; per-doc rates are one doc-keyed hash agg.  With a real
    32k+ vocab the broadcast is still single-digit MB."""
    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    toks = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    # top-k via orderBy+limit = TakeOrdered (per-partition heaps, no global
    # sort) — an unpartitioned row_number window here would funnel the whole
    # vocabulary through one task, the exact anti-pattern q_top_terms pins
    vocab = (
        toks.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(_VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "w", "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        fround(
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)) * 1.0
            / F.count("*"),
            4,
        ).alias("oov_rate"),
    )


_PMI_MIN_SUPPORT = 5
_PMI_TOPK = 40


@query(
    "bigram_pmi_topk",
    oracle=f"""
WITH toks AS (
    SELECT string_split(text, ' ') AS t
    FROM documents
    WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2
), uni AS (
    SELECT u.w AS w, count(*) AS c
    FROM toks, unnest(t) AS u(w)
    GROUP BY 1
), n1 AS (
    SELECT sum(c) AS n_tokens FROM uni
), bi AS (
    SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS c12
    FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
    GROUP BY 1, 2
    HAVING count(*) >= {_PMI_MIN_SUPPORT}
), n2 AS (
    SELECT sum(c12) AS n_bigrams
    FROM (
        SELECT count(*) AS c12
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
        GROUP BY t[i], t[i + 1]
    )
)
SELECT w1, w2, c12, ca.c AS c1, cb.c AS c2,
       round(CAST(c12 AS DOUBLE) * n_tokens * n_tokens / n_bigrams / ca.c / cb.c
             * 10000) / 10000 AS pmi_lift
FROM bi, n1, n2
JOIN uni ca ON ca.w = w1
JOIN uni cb ON cb.w = w2
ORDER BY pmi_lift DESC, w1, w2
LIMIT {_PMI_TOPK}
""",
)
def q_bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-40 adjacent-bigram PMI lift over the corpus
    — P(w1,w2) / (P(w1)·P(w2)), the association measure behind phrase
    vocabularies and tokenizer merge candidates.  Reported as the raw lift
    ratio rather than its log: log() is not IEEE-correctly-rounded and its
    last bits differ across engines, while this expression is only exact
    integer counts fed through an identical multiply/divide chain — bit-equal
    cross-engine, then fround'd.

    Scale shape: bigram expansion is a narrow flatMap (no shuffle); both
    count tables are token/vocab-keyed hash aggregates; the min-support
    HAVING prunes the bigram relation BEFORE the unigram joins; unigram
    counts broadcast (vocab-sized ≪ corpus-sized); the final top-k is
    TakeOrdered.  The corpus-sized relation is scanned twice (bigram counts
    and the n_bigrams total share the first aggregate in Spark via self-ref)
    but never shuffled whole."""
    docs = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("text").isNotNull())
        .select(F.split(F.col("text"), " ").alias("t"))
        .where(F.size("t") >= 2)
    )
    uni = (
        docs.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    n1 = uni.agg(F.sum("c").alias("n_tokens"))
    pairs = docs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi_all = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    n2 = bi_all.agg(F.sum("c12").alias("n_bigrams"))
    bi = bi_all.where(F.col("c12") >= _PMI_MIN_SUPPORT)
    ca = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    cb = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    joined = scalar_join(scalar_join(bi, n1), n2).join(
        F.broadcast(ca), "w1"
    ).join(F.broadcast(cb), "w2")
    lift = (
        F.col("c12").cast("double")
        * F.col("n_tokens")
        * F.col("n_tokens")
        / F.col("n_bigrams")
        / F.col("c1")
        / F.col("c2")
    )
    return (
        joined.select(
            "w1", "w2", "c12", "c1", "c2", fround(lift, 4).alias("pmi_lift")
        )
        .orderBy(F.col("pmi_lift").desc(), "w1", "w2")
        .limit(_PMI_TOPK)
    )


@query(
    "lang_confusion_matrix",
    oracle="""
WITH pred AS (
    SELECT lang AS labeled_lang,
           CASE
               WHEN len(regexp_extract_all(text, '\\bthe\\b')) >= 2 THEN 'en'
               WHEN len(regexp_extract_all(text, '\\b(a|of|and)\\b')) >= 1 THEN 'en-like'
               ELSE 'und'
           END AS predicted_lang
    FROM documents
), tot AS (
    SELECT labeled_lang, count(*) AS label_total FROM pred GROUP BY 1
)
SELECT p.labeled_lang, p.predicted_lang, count(*) AS docs, t.label_total,
       round(CAST(count(*) AS DOUBLE) / t.label_total * 10000) / 10000 AS rate
FROM pred p JOIN tot t ON t.labeled_lang = p.labeled_lang
GROUP BY 1, 2, 4
ORDER BY 1, 2
""",
)
def q_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-vs-prediction confusion matrix for the stopword lang-ID
    heuristic (`lang_id`): per (labeled, predicted) cell, doc count and the
    per-label rate — the audit that decides whether a cheap classifier is
    good enough to route documents at corpus scale.  Two hash aggregates +
    one broadcast join on the label key (|labels| is tiny); rates divide
    exact counts, identical cross-engine."""
    docs = load_table(spark, "documents", sf_dir)
    en_markers = F.regexp_count(F.col("text"), F.lit(r"\bthe\b"))
    en_function = F.regexp_count(F.col("text"), F.lit(r"\b(a|of|and)\b"))
    pred = docs.select(
        F.col("lang").alias("labeled_lang"),
        F.when(en_markers >= 2, "en")
        .when(en_function >= 1, "en-like")
        .otherwise("und")
        .alias("predicted_lang"),
    )
    tot = pred.groupBy("labeled_lang").agg(F.count("*").alias("label_total"))
    return (
        pred.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").alias("docs"))
        .join(F.broadcast(tot), "labeled_lang")
        .select(
            "labeled_lang",
            "predicted_lang",
            "docs",
            "label_total",
            fround(F.col("docs").cast("double") / F.col("label_total"), 4).alias(
                "rate"
            ),
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


@query(
    "source_unigram_divergence",
    oracle="""
WITH toks AS (
    SELECT source, u.w AS w
    FROM (SELECT source, string_split(text, ' ') AS t
          FROM documents WHERE text IS NOT NULL), unnest(t) AS u(w)
), uni AS (
    SELECT source, w, CAST(count(*) AS BIGINT) AS c
    FROM toks GROUP BY 1, 2
), tot AS (
    SELECT source, CAST(sum(c) AS BIGINT) AS n FROM uni GROUP BY 1
), uni2 AS (
    SELECT u.source, u.w, u.c, t.n FROM uni u JOIN tot t ON t.source = u.source
), scaffold AS (
    SELECT a.source AS source_a, b.source AS source_b,
           a.n AS n_tokens_a, b.n AS n_tokens_b
    FROM tot a JOIN tot b ON a.source < b.source
), stats AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT)                    AS shared_tokens,
           CAST(sum(abs(a.c * b.n - b.c * a.n)) AS BIGINT) AS d_abs,
           CAST(sum(a.c * b.n) AS BIGINT)              AS s_a,
           CAST(sum(b.c * a.n) AS BIGINT)              AS s_b
    FROM uni2 a JOIN uni2 b ON a.w = b.w AND a.source < b.source
    GROUP BY 1, 2
)
SELECT sc.source_a, sc.source_b, sc.n_tokens_a, sc.n_tokens_b,
       coalesce(st.shared_tokens, 0) AS shared_tokens,
       round(CAST(coalesce(st.d_abs, 0) + 2 * sc.n_tokens_a * sc.n_tokens_b
                  - coalesce(st.s_a, 0) - coalesce(st.s_b, 0) AS DOUBLE)
             / CAST(2 * sc.n_tokens_a * sc.n_tokens_b AS DOUBLE)
             * 1000000) / 1000000 AS tv_distance
FROM scaffold sc
LEFT JOIN stats st
  ON st.source_a = sc.source_a AND st.source_b = sc.source_b
ORDER BY 1, 2
""",
)
def q_source_unigram_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift audit: pairwise TOTAL-VARIATION distance between every
    two sources' unigram distributions — the mixture-design signal that says
    which sources are near-duplicates of each other distribution-wise and
    which contribute genuinely different text (feeds `source_mixture_sample`
    weights).

    Exactness: TV = ½·Σ|p_a − p_b| is folded so only the SHARED-token inner
    join is ever materialized — tokens unique to one side contribute
    1 − Σ_shared p, so tv = (Σ|c_a·N_b − c_b·N_a| + 2·N_a·N_b − Σc_a·N_b −
    Σc_b·N_a) / (2·N_a·N_b).  Every sum is an exact BIGINT (order-
    independent, engine-stable — a float Σ|p_a−p_b| would hash-drift on
    summation order); ONE final division produces the double.  Headroom:
    c·N ≤ N², so BIGINT holds to ~3e9 tokens/source; beyond that switch the
    three sums to DECIMAL(38,0).

    Scale shape: per-source counts are one token-keyed hash agg; the pair
    expansion is an equi-join ON TOKEN (shuffle keyed by token, never a
    corpus cross join) whose output scales with shared-vocab x S², S =
    #sources (tens, not millions); totals broadcast; the scaffold keeps
    zero-overlap pairs (tv = 1) in the output."""
    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    toks = docs.select("source", F.explode(F.split(F.col("text"), " ")).alias("w"))
    uni = toks.groupBy("source", "w").agg(F.count("*").alias("c"))
    tot = uni.groupBy("source").agg(F.sum("c").alias("n"))
    uni2 = uni.join(F.broadcast(tot), "source")
    a = uni2.select(
        F.col("source").alias("source_a"), "w",
        F.col("c").alias("ca"), F.col("n").alias("na"),
    )
    b = uni2.select(
        F.col("source").alias("source_b"), "w",
        F.col("c").alias("cb"), F.col("n").alias("nb"),
    )
    stats = (
        a.join(b, ["w"])
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("shared_tokens"),
            F.sum(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))).alias("d_abs"),
            F.sum(F.col("ca") * F.col("nb")).alias("s_a"),
            F.sum(F.col("cb") * F.col("na")).alias("s_b"),
        )
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("n").alias("n_tokens_a"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("n").alias("n_tokens_b"))
    # S x S pair scaffold as a constant-key BROADCAST HASH join + filter
    # (a raw `<` join would demote to a nested loop; |tot| = #sources is
    # tiny, but the plan lint rightly forbids the shape)
    scaffold = bounded_cross_join(ta, tb).where(
        F.col("source_a") < F.col("source_b")
    )
    denom = (F.lit(2) * F.col("n_tokens_a") * F.col("n_tokens_b")).cast("double")
    numer = (
        F.coalesce(F.col("d_abs"), F.lit(0))
        + F.lit(2) * F.col("n_tokens_a") * F.col("n_tokens_b")
        - F.coalesce(F.col("s_a"), F.lit(0))
        - F.coalesce(F.col("s_b"), F.lit(0))
    ).cast("double")
    return (
        scaffold.join(F.broadcast(stats), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "n_tokens_a",
            "n_tokens_b",
            F.coalesce(F.col("shared_tokens"), F.lit(0)).alias("shared_tokens"),
            fround(numer / denom, 6).alias("tv_distance"),
        )
    )


_POLY_NGRAM_N = 3
_POLY_NGRAM_TOP_K = 20


@query(
    "ngram_udtf_topk",
    oracle=f"""
WITH toks AS (
    SELECT string_split(text, ' ') AS a FROM documents WHERE text IS NOT NULL
), grams AS (
    SELECT a[CAST(i AS INT)]     AS t0,
           a[CAST(i AS INT) + 1] AS t1,
           a[CAST(i AS INT) + 2] AS t2
    FROM (
        SELECT a, unnest(generate_series(1, len(a) - {_POLY_NGRAM_N - 1})) AS i
        FROM toks WHERE len(a) >= {_POLY_NGRAM_N}
    )
)
SELECT t0, t1, t2, n, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (ORDER BY n DESC, t0, t1, t2) AS rn
    FROM (SELECT t0, t1, t2, count(*) AS n FROM grams GROUP BY 1, 2, 3)
)
WHERE rn <= {_POLY_NGRAM_TOP_K}
""",
)
def q_ngram_udtf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF — the ``analyze()`` extension seam (Spark 4):
    the n-gram splitter's OUTPUT SCHEMA is computed at plan time from the
    constant ``n`` argument (``t0..t{{n-1}}`` columns), so one registration
    serves every gram width; here it runs at n=3 and the corpus top-20
    trigrams are ranked on the exploded output.

    This completes the §2.8 UDTF surface beyond the fixed-schema chunker
    (`doc_chunks_udtf`): fixed-schema UDTF, lateral join, and now plan-time
    schema synthesis.  Same scale trade as the chunker — row-at-a-time
    Python is the extension seam, not the hot path; the equivalent
    generator-expression pipeline (`bigram_pmi_topk`, `event_path_ngrams`)
    stays codegen-side.  Ranking orders by the exact count with full
    lexicographic tie-break, so the top-20 is engine-stable."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class NGrams:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for i in range(n.value):
                schema = schema.add(f"t{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text, n):
            if text is None:
                return
            toks = text.split(" ")
            for i in range(len(toks) - n + 1):
                yield tuple(toks[i : i + n])

    spark.udtf.register("ngrams_poly", udtf(NGrams))
    docs = load_table(spark, "documents", sf_dir)
    docs.select("text").createOrReplaceTempView("documents_for_poly_udtf")
    grams = spark.sql(
        "SELECT g.* FROM documents_for_poly_udtf t, "
        f"LATERAL ngrams_poly(t.text, {_POLY_NGRAM_N}) g"
    )
    gram_cols = [f"t{i}" for i in range(_POLY_NGRAM_N)]
    counts = grams.groupBy(*gram_cols).agg(F.count("*").alias("n"))
    top = counts.orderBy(
        F.col("n").desc(), *[F.col(c) for c in gram_cols]
    ).limit(_POLY_NGRAM_TOP_K)
    w = Window.orderBy(F.col("n").desc(), *[F.col(c) for c in gram_cols])
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# --------------------------------------------------------------------------
# Inverted-index construction: posting lists per term
# --------------------------------------------------------------------------

_POSTING_HEAD = 8


@query(
    "term_postings",
    oracle=f"""
WITH tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents WHERE doc_id IS NOT NULL)
    GROUP BY 1, 2
), stats AS (
    SELECT term, count(*) AS df, sum(tf) AS total_tf FROM tf GROUP BY 1
), head AS (
    -- stringified, not array-typed: the external driver's pandas
    -- canonicalizer factorizes columns and dies on ndarray cells (the
    -- round-1 dropoff_hourly failure class)
    SELECT term,
           array_to_string(list(doc_id ORDER BY doc_id)[1:{_POSTING_HEAD}], ',')
               AS posting_head
    FROM (
        SELECT term, doc_id,
               row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        FROM tf
    ) WHERE rn <= {_POSTING_HEAD}
    GROUP BY 1
)
SELECT s.term, s.df, CAST(s.total_tf AS BIGINT) AS total_tf, h.posting_head
FROM stats s JOIN head h USING (term)
""",
)
def q_term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per vocabulary term, its document frequency,
    total term frequency, and the posting list's sorted head (first
    {head} doc_ids) — the physical structure `bm25_topk`'s
    filter-then-aggregate access path emulates relationally, materialized
    here as the index a dedicated search tier would serve.

    Scale shape: one token explode into a (doc, term) hash aggregation;
    stats are a second aggregation of that relation (exchange reuse on
    term); the posting HEAD is a rank-filtered partitioned window
    (WindowGroupLimit — per-partition heaps), so the collected array is
    bounded at 8 entries per term no matter the corpus size.  Full
    posting lists at 100 TB stay relational (term-bucketed files, never a
    driver-side array); collecting a bounded head per key is the pattern
    for index MANIFESTS, not the lists themselves.

    NULL ``doc_id`` docs are out of the index on BOTH engines: a posting
    cannot reference a keyless document, and the NULL would order
    differently per engine inside the posting head (r8 edge pin)."""
    docs = load_table(spark, "documents", sf_dir).where(
        F.col("doc_id").isNotNull()
    )
    tf = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("total_tf")
    )
    w = Window.partitionBy("term").orderBy(F.col("doc_id").asc())
    head = (
        tf.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _POSTING_HEAD)
        .groupBy("term")
        .agg(
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "posting_head"
            )
        )
    )
    return stats.join(head, "term").select(
        "term", "df", F.col("total_tf").cast("long").alias("total_tf"), "posting_head"
    )


# --------------------------------------------------------------------------
# BPE merge LEARNING: the full iterative trainer (N merge rounds)
# --------------------------------------------------------------------------

_BPE_MERGES = 5
_BPE_MIN_WORD_LEN = 2  # interpolated into BOTH engines (single source of truth)

# one BPE merge round in DuckDB: count adjacent symbol pairs over the
# double-space-joined symbol strings, take the (count DESC, lhs, rhs) argmax,
# apply it with one greedy left-to-right replace()
_BPE_STAGE_SQL = """
, pairs{i} AS (
    SELECT syms[j] AS lhs, syms[j + 1] AS rhs, CAST(sum(f) AS BIGINT) AS n
    FROM (SELECT string_split(trim(s), '  ') AS syms, f FROM w{prev}),
         LATERAL unnest(generate_series(1, len(syms) - 1)) u(j)
    GROUP BY 1, 2
), best{i} AS (
    SELECT CAST({i} AS INTEGER) AS step, lhs, rhs, lhs || rhs AS merged, n AS pair_count
    FROM pairs{i} ORDER BY n DESC, lhs, rhs LIMIT 1
), w{i} AS (
    SELECT replace(s, ' ' || b.lhs || '  ' || b.rhs || ' ',
                   ' ' || b.merged || ' ') AS s, f
    FROM w{prev}, best{i} b
)
"""


@query(
    "bpe_learn_merges",
    oracle=f"""
WITH wc AS (
    SELECT w, count(*) AS f
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE length(w) >= {_BPE_MIN_WORD_LEN}
    GROUP BY 1
), w0 AS (
    SELECT '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s, f
    FROM wc
)
"""
    + "".join(
        _BPE_STAGE_SQL.format(i=i, prev=i - 1) for i in range(1, _BPE_MERGES + 1)
    )
    + "SELECT * FROM ("
    + " UNION ALL ".join(f"SELECT * FROM best{i}" for i in range(1, _BPE_MERGES + 1))
    + ")",
)
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL byte-pair-encoding trainer loop — ``bpe_pair_counts`` is one
    census pass; this learns an actual merge table: 5 rounds of
    (count adjacent symbol pairs over the weighted vocabulary) → (argmax
    with lexicographic tie-break) → (apply the merge greedily left-to-right
    to every word), returning the learned merges with their counts — the
    algorithm of Sennrich et al. (ACL'16), the core of GPT-2/Llama-style
    tokenizer construction, distributed.

    Symbol sequences are DOUBLE-SPACE-joined strings, so applying a merge
    is ONE builtin ``replace(' lhs  rhs ', ' lhsrhs ')`` — each occurrence
    consumes one space from each adjacent two-space gap, so adjacent
    occurrences never share a character and a single greedy
    left-to-right pass implements exactly the non-overlapping BPE merge
    ("a a a" merges to ["aa","a"], never "aaa"); Spark's `replace` and
    DuckDB's `replace` share these semantics, which is what the hash check
    proves.  Zero Python in the loop — pair census and merge application
    are codegen'd string/array builtins.

    Scale shape: rounds run over the (word, freq) VOCABULARY relation —
    corpus-frequency weights are folded in ONCE by the word-count
    aggregation, exactly how production BPE trainers distribute.  Each
    round = one explode+hash-agg (pair census), one TakeOrdered(1) (the
    argmax — no global sort), one broadcast-scalar map (the replace).  The
    1-row argmax is ``localCheckpoint``ed per round: it pins the chosen
    merge so later rounds' lineage references a materialized 1-row
    relation instead of re-deriving every earlier census (without it the
    plan tree doubles per round — the same exponential-lineage pitfall
    ``star_component_labels`` documents)."""
    merges, _ = _bpe_train(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def _bpe_train(spark: SparkSession, sf_dir: str) -> tuple[list[DataFrame], DataFrame]:
    """The shared BPE trainer loop: returns (one 1-row merge relation per
    round, the final merged vocabulary as (s: double-space symbol string,
    f: corpus frequency)).  ``bpe_learn_merges`` unions the merge table;
    ``bpe_encode_tokens`` censuses the final vocabulary — both reuse this
    one loop so the learned tokenizer and its application can't diverge."""
    from e_commerce_streaming_datapipeline_spark.functions.scalars import (
        scalar_join,
    )

    docs = load_table(spark, "documents", sf_dir)
    # ONE corpus pass: every trainer round ends in an eager 1-row argmax
    # (the localCheckpoint below), and each of those actions — plus the
    # caller's final action — replays the full lineage, so without this
    # persist the corpus-sized explode + word-count aggregation re-runs
    # once per merge round (6x per query at _BPE_MERGES=5; at 100 TB that
    # is 6 corpus scans for 1 scan of real work).  The rounds themselves
    # only touch the vocabulary-sized (word, freq) relation, which is the
    # published way BPE trainers distribute.  Registered for the harness
    # release discipline (rank-cache lifecycle).
    wc = register_cache(
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") >= _BPE_MIN_WORD_LEN)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    words = wc.select(
        F.concat(
            F.lit("  "),
            F.array_join(
                F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
                "  ",
            ),
            F.lit("  "),
        ).alias("s"),
        "f",
    )
    merges: list[DataFrame] = []
    for i in range(1, _BPE_MERGES + 1):
        # words already collapsed to ONE symbol contribute no pairs and must
        # not reach the transform: Spark's sequence(1, 0) is the DESCENDING
        # [1, 0] (not empty like DuckDB's generate_series), so a 1-symbol
        # word would index syms[1]/syms[-1] — INVALID_ARRAY_INDEX under the
        # session's ANSI mode, silent (NULL, sym) pairs without it
        toks = words.select(F.split(F.trim("s"), "  ").alias("syms"), "f").where(
            F.size("syms") >= 2
        )
        pairs = (
            toks.select(
                "f",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "j -> struct(syms[j - 1] AS lhs, syms[j] AS rhs))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("f").alias("n"))
        )
        best = (
            pairs.orderBy(F.col("n").desc(), "lhs", "rhs")
            .limit(1)
            .select(
                F.lit(i).cast("int").alias("step"),
                "lhs",
                "rhs",
                F.concat("lhs", "rhs").alias("merged"),
                F.col("n").cast("long").alias("pair_count"),
            )
            .transform(round_checkpoint)
        )
        merges.append(best)
        words = scalar_join(words, best).select(
            F.expr(
                "replace(s, concat(' ', lhs, '  ', rhs, ' '), "
                "concat(' ', merged, ' '))"
            ).alias("s"),
            "f",
        )
    return merges, words


_BPE_ENCODE_TOPK = 20


@query(
    "bpe_encode_tokens",
    oracle=f"""
WITH wc AS (
    SELECT w, count(*) AS f
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE length(w) >= {_BPE_MIN_WORD_LEN}
    GROUP BY 1
), w0 AS (
    SELECT '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s, f
    FROM wc
)
"""
    + "".join(
        _BPE_STAGE_SQL.format(i=i, prev=i - 1) for i in range(1, _BPE_MERGES + 1)
    )
    + f""", census AS (
    SELECT u.t AS token,
           CAST(sum(f) AS BIGINT)   AS n_occurrences,
           CAST(count(*) AS BIGINT) AS n_vocab_slots
    FROM (SELECT string_split(trim(s), '  ') AS syms, f FROM w{_BPE_MERGES}),
         LATERAL unnest(syms) u(t)
    GROUP BY 1
)
SELECT token, n_occurrences, n_vocab_slots
FROM (
    SELECT *, row_number() OVER (
        ORDER BY n_occurrences DESC, token
    ) AS rn FROM census
)
WHERE rn <= {_BPE_ENCODE_TOPK}
ORDER BY n_occurrences DESC, token
""",
)
def q_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — the learned tokenizer APPLIED: run the same 5-round
    trainer as `bpe_learn_merges`, then census the resulting token stream
    (each vocabulary word re-segmented under the learned merges, weighted
    by corpus frequency) and report the top-20 tokens by corpus occurrence
    count — the post-merge vocabulary head a tokenizer ships.  Pairs with
    the trainer the way sentencepiece's encode pairs with train: same merge
    table by construction (one shared loop, `_bpe_train`).

    Scale shape: everything up to the final vocabulary is the trainer's
    audited loop (vocabulary-relation rounds, zero Python); the census is
    one explode + hash-agg over the merged vocabulary (shuffle = distinct
    post-merge tokens) and the top-20 is TakeOrdered, not a global window
    sort."""
    _, words = _bpe_train(spark, sf_dir)
    census = (
        words.select(F.explode(F.split(F.trim("s"), "  ")).alias("token"), "f")
        .groupBy("token")
        .agg(
            F.sum("f").cast("long").alias("n_occurrences"),
            F.count("*").cast("long").alias("n_vocab_slots"),
        )
    )
    return census.orderBy(
        F.col("n_occurrences").desc(), "token"
    ).limit(_BPE_ENCODE_TOPK)


# --------------------------------------------------------------------------
# Incremental index maintenance: base + delta postings merged, not rebuilt
# --------------------------------------------------------------------------


@query(
    "index_delta_merge",
    oracle=f"""
WITH tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents WHERE doc_id IS NOT NULL)
    GROUP BY 1, 2
), stats AS (
    SELECT term, count(*) AS df, sum(tf) AS total_tf FROM tf GROUP BY 1
)
SELECT term, CAST(df AS BIGINT) AS df, CAST(total_tf AS BIGINT) AS total_tf
FROM stats
ORDER BY df DESC, term
LIMIT 25
""",
)
def q_index_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental INDEX maintenance — `ivm_delta_merge`'s retrieval
    sibling: the inverted-index statistics (per-term df and total tf, the
    inputs BM25 scoring needs) are NOT rebuilt when new documents land.
    The already-materialized base index (docs with ``doc_id % 10 != 0``)
    merges group-wise with the index of the DELTA alone — df and tf are
    insert-self-maintainable counts, so merge = per-term + — and the top
    terms of the merged index are hash-checked against the full-rebuild
    oracle: maintenance and rebuild must be indistinguishable.

    Why it matters: a production search tier refreshes its index every
    few minutes; rebuilding term stats over the whole corpus per refresh
    is O(corpus), merging the delta is O(delta + touched terms).  Same
    self-maintainability caveat as the view case: deletes need tombstone
    subtraction or segment-level rebuild (how Lucene actually handles it —
    per-segment stats merged at read).

    Scale: each side is one explode + two hash aggregations over ITS OWN
    rows; the merge shuffles the vocabulary-sized stat relations, never
    (doc, term) pairs across sides."""
    # NULL doc_id pinned out on BOTH engines: the % 10 split predicates are
    # NULL for a NULL doc_id (silently dropping such docs from both sides)
    # while a filterless oracle would keep them — the policy must be
    # explicit and identical (r6 ADVICE finding #5)
    docs = load_table(spark, "documents", sf_dir).where(
        F.col("doc_id").isNotNull()
    )

    def index_stats(df: DataFrame) -> DataFrame:
        tf = (
            df.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
        )
        return tf.groupBy("term").agg(
            F.count("*").alias("df"), F.sum("tf").alias("total_tf")
        )

    base_idx = index_stats(docs.where(F.col("doc_id") % 10 != 0))
    delta_idx = index_stats(docs.where(F.col("doc_id") % 10 == 0))
    merged = (
        base_idx.unionByName(delta_idx)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("total_tf").alias("total_tf"))
    )
    return (
        merged.select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("total_tf").cast("long").alias("total_tf"),
        )
        .orderBy(F.col("df").desc(), "term")
        .limit(25)
    )


@query(
    "index_tombstone_merge",
    oracle=f"""
WITH tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents
          WHERE doc_id IS NOT NULL AND doc_id % 10 <> 0)
    GROUP BY 1, 2
), stats AS (
    SELECT term, count(*) AS df, sum(tf) AS total_tf FROM tf GROUP BY 1
)
SELECT term, CAST(df AS BIGINT) AS df, CAST(total_tf AS BIGINT) AS total_tf
FROM stats
ORDER BY df DESC, term
LIMIT 25
""",
)
def q_index_tombstone_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance under DELETES — the caveat `index_delta_merge`
    documents, implemented: when documents are erased (``doc_id % 10 = 0``
    plays the GDPR batch), the materialized index is NOT rebuilt; the
    TOMBSTONED documents' own term statistics are indexed (delta-sized
    work) and SUBTRACTED per term — df/tf are counts, so deletion is
    group-wise minus, with terms whose df reaches 0 dropped from the
    vocabulary.  The maintained index's top terms hash-match the
    rebuild-on-survivors oracle: subtraction and rebuild must be
    indistinguishable.

    Together with `index_delta_merge` (inserts) this is the full Lucene
    segment lifecycle relationally: add segments merge by +, deletes
    apply by tombstone, and physical purge happens at the next merge —
    the same logical/physical split as `user_erasure` +
    `deletion_vector_scan` on the data side.

    Scale: tombstone-side work is O(deleted docs); the subtraction
    shuffles two vocabulary-sized stat relations."""
    # NULL doc_id pinned out on BOTH engines: Spark's maintained index would
    # keep NULL-doc terms (the % 10 tombstone predicate is NULL) while the
    # survivors-only oracle drops them (r6 ADVICE finding #5)
    docs = load_table(spark, "documents", sf_dir).where(
        F.col("doc_id").isNotNull()
    )

    def index_stats(df: DataFrame, sign: int) -> DataFrame:
        tf = (
            df.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
        )
        return tf.groupBy("term").agg(
            (F.lit(sign) * F.count("*")).alias("df"),
            (F.lit(sign) * F.sum("tf")).alias("total_tf"),
        )

    base_idx = index_stats(docs, 1)  # the already-materialized full index
    tombstone_idx = index_stats(docs.where(F.col("doc_id") % 10 == 0), -1)
    maintained = (
        base_idx.unionByName(tombstone_idx)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("total_tf").alias("total_tf"))
        .where(F.col("df") > 0)  # fully-erased terms leave the vocabulary
    )
    return (
        maintained.select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("total_tf").cast("long").alias("total_tf"),
        )
        .orderBy(F.col("df").desc(), "term")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Intra-document repetition audit (degenerate / looping text detector)
# --------------------------------------------------------------------------

_REP_N = 3  # trigrams: the shortest n-gram that distinguishes loops from
            # ordinary word reuse
_REP_TOPK = 20


@query(
    "intra_doc_repetition_audit",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= {_REP_N}
), grams AS (
    SELECT doc_id, array_to_string(t[i:i+{_REP_N - 1}], ' ') AS g
    FROM toks, LATERAL unnest(generate_series(1, len(t) - {_REP_N - 1})) AS u(i)
), counts AS (
    SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
), per_doc AS (
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)      AS n_grams,
           CAST(count(*) AS BIGINT)    AS n_distinct,
           CAST(max(c) AS BIGINT)      AS max_gram_count
    FROM counts GROUP BY 1
)
SELECT doc_id, n_grams, n_distinct, max_gram_count,
       CAST((n_grams - n_distinct) * 1000000 // n_grams AS BIGINT)
           AS dup_share_x1e6,
       CAST(max_gram_count * 1000000 // n_grams AS BIGINT)
           AS top_gram_share_x1e6
FROM per_doc
ORDER BY dup_share_x1e6 DESC, doc_id
LIMIT {_REP_TOPK}
""",
)
def q_intra_doc_repetition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition audit — the degenerate-text detector a
    synthetic-data pipeline needs that cross-document dedup cannot provide:
    model-generated text that falls into a loop repeats the SAME few
    {_REP_N}-grams inside one document, so per doc we report total vs
    distinct {_REP_N}-gram occurrences (``dup_share``) and the single most
    repeated gram's share (``top_gram_share``), top-{_REP_TOPK} worst
    offenders.  `dup_ngram_coverage` measures copying BETWEEN documents;
    this measures looping WITHIN one — the two signals gate different
    failure modes (plagiarized corpus vs collapsed generator).

    Exactness: occurrence counts and exact scaled-integer shares; ORDER/
    LIMIT ties break on doc_id.  Docs shorter than {_REP_N} tokens emit no
    grams on either engine (the `shingled_docs` guard class).

    Scale: gram expansion is row-local (sequence + transform + explode, no
    joins), the (doc, gram) count is one hash aggregate with map-side
    combine, the per-doc rollup a second — both partition on doc-grain
    keys; top-k is a TakeOrdered.  The gram space is corpus-token-sized,
    never pairwise."""
    toks = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", F.split(F.col("text"), " ").alias("t"))
        .where(F.size("t") >= _REP_N)
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (_REP_N - 1)),
                lambda i: F.array_join(F.slice(F.col("t"), i, _REP_N), " "),
            )
        ).alias("g"),
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("max_gram_count"),
    )
    return (
        per_doc.select(
            "doc_id",
            "n_grams",
            "n_distinct",
            "max_gram_count",
            F.expr("((n_grams - n_distinct) * 1000000) div n_grams").alias(
                "dup_share_x1e6"
            ),
            F.expr("(max_gram_count * 1000000) div n_grams").alias(
                "top_gram_share_x1e6"
            ),
        )
        .orderBy(F.col("dup_share_x1e6").desc(), "doc_id")
        .limit(_REP_TOPK)
    )


# --------------------------------------------------------------------------
# Vocabulary growth curve (Heaps'-law diagnostic)
# --------------------------------------------------------------------------

_HEAPS_SHARES_X100 = (10, 25, 50, 75, 100)


@query(
    "vocabulary_growth_curve",
    oracle=f"""
WITH bounds AS (
    SELECT max(doc_id) AS max_id FROM documents
    WHERE text IS NOT NULL AND doc_id IS NOT NULL
), firsts AS (
    SELECT token, min(doc_id) AS first_doc
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents
          WHERE text IS NOT NULL AND doc_id IS NOT NULL)
    GROUP BY 1
), toks AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n
    FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
), th(share) AS (
    VALUES {", ".join(f"({s})" for s in _HEAPS_SHARES_X100)}
), dstats AS (
    SELECT th.share,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t.n) AS BIGINT) AS n_tokens
    FROM th, toks t, bounds b
    WHERE t.doc_id * 100 <= b.max_id * th.share
    GROUP BY 1
), vstats AS (
    SELECT th.share, CAST(count(*) AS BIGINT) AS vocab_size
    FROM th, firsts f, bounds b
    WHERE f.first_doc * 100 <= b.max_id * th.share
    GROUP BY 1
)
SELECT
    CAST(d.share AS INT) AS corpus_share_x100,
    d.n_docs, d.n_tokens, v.vocab_size
FROM dstats d JOIN vstats v ON v.share = d.share
ORDER BY 1
""",
)
def q_vocabulary_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY GROWTH curve (Heaps' law) — `ngram_zipf_slope`'s
    companion diagnostic: distinct-token count as the corpus grows through
    doc_id-ordered prefixes (the ``_HEAPS_SHARES_X100`` grid: 10/25/50/75/
    100% of the id range).  A natural corpus grows vocabulary ~ tokens^beta (beta≈0.5);
    a vocabulary that PLATEAUS flags template/synthetic text, one that
    grows LINEARLY flags id-like garbage tokens — both are corpus-health
    signals a tokenizer-training pipeline checks before spending a BPE
    run.

    Exactness: the whole curve derives from one integer fact per token —
    its FIRST document (min doc_id) — so prefix membership is the exact
    integer comparison ``first_doc*100 <= max_id*share``; counts only, no
    floats.

    Scale: ONE tokenize+aggregate pass builds the (token, first_doc)
    relation (vocabulary-sized, map-side combine), one pass sizes the doc
    prefixes, and the 5-point grid aggregates those two small relations —
    the curve costs one corpus scan regardless of how many prefix points
    are requested (vs the naive per-prefix re-scan, 5x the work)."""
    from e_commerce_streaming_datapipeline_spark.functions.scalars import bounded_cross_join, scalar_join

    docs = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .select("doc_id", F.split(F.col("text"), " ").alias("t"))
    )
    bounds = docs.groupBy().agg(F.max("doc_id").alias("max_id"))
    firsts = (
        docs.select("doc_id", F.explode("t").alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    toks = docs.select("doc_id", F.size("t").alias("n"))
    th = spark.range(1).select(
        F.explode(F.array(*[F.lit(s) for s in _HEAPS_SHARES_X100])).alias(
            "corpus_share_x100"
        )
    )
    doc_cells = (
        bounded_cross_join(scalar_join(toks, bounds), th)
        .where(F.col("doc_id") * 100 <= F.col("max_id") * F.col("corpus_share_x100"))
        .groupBy("corpus_share_x100")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
        )
    )
    vocab_cells = (
        bounded_cross_join(scalar_join(firsts, bounds), th)
        .where(
            F.col("first_doc") * 100 <= F.col("max_id") * F.col("corpus_share_x100")
        )
        .groupBy("corpus_share_x100")
        .agg(F.count("*").cast("long").alias("vocab_size"))
    )
    return (
        doc_cells.join(vocab_cells, "corpus_share_x100")
        .select(
            F.col("corpus_share_x100").cast("int").alias("corpus_share_x100"),
            "n_docs",
            "n_tokens",
            "vocab_size",
        )
        .orderBy("corpus_share_x100")
    )


# --------------------------------------------------------------------------
# RAKE keyphrase extraction (degree/frequency co-occurrence scoring)
# --------------------------------------------------------------------------

_RAKE_TOPK = 20
_RAKE_MAX_WORDS = 4  # the standard RAKE candidate cap (Rose et al. use 3-5)
# stopword delimiters — matches the corpus stopword list (_STOPWORDS); a
# real deployment broadcasts a full list, the mechanics are identical
_RAKE_SPLIT_RE = r"\b(the|a)\b"


@query(
    "rake_keyphrases",
    oracle=f"""
WITH inst AS (
    SELECT trim(regexp_replace(p, ' +', ' ', 'g')) AS phrase
    FROM documents,
         unnest(string_split(
             regexp_replace(lower(text), '{_RAKE_SPLIT_RE}', '|', 'g'),
             '|')) AS t(p)
    WHERE text IS NOT NULL
      AND trim(regexp_replace(p, ' +', ' ', 'g')) <> ''
      AND len(string_split(trim(regexp_replace(p, ' +', ' ', 'g')), ' '))
          <= {_RAKE_MAX_WORDS}
), phrase_freq AS (
    SELECT phrase, count(*) AS n_occurrences,
           len(string_split(phrase, ' ')) AS n_words
    FROM inst GROUP BY 1
), words AS (
    SELECT w, count(*) AS freq,
           CAST(sum(len(string_split(i.phrase, ' '))) AS BIGINT) AS degree
    FROM inst i, unnest(string_split(i.phrase, ' ')) AS t(w)
    GROUP BY 1
), scored AS (
    SELECT p.phrase,
           CAST(sum((w.degree * 1000000) // w.freq) AS BIGINT) AS score_x1e6
    FROM (SELECT DISTINCT phrase FROM phrase_freq) p,
         unnest(string_split(p.phrase, ' ')) AS t(pw)
    JOIN words w ON w.w = pw
    GROUP BY 1
)
SELECT
    f.phrase,
    CAST(f.n_words AS INT)        AS n_words,
    CAST(f.n_occurrences AS BIGINT) AS n_occurrences,
    s.score_x1e6
FROM phrase_freq f JOIN scored s USING (phrase)
ORDER BY s.score_x1e6 DESC, f.phrase
LIMIT {_RAKE_TOPK}
""",
)
def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents", public): candidate phrases are
    the maximal stopword-free token runs; each word scores degree/freq
    (degree = total length of phrases it appears in — co-occurrence
    weight; freq = raw count), and a phrase scores the sum of its words'
    ratios, so multi-word phrases built from well-connected words outrank
    bare frequent unigrams.  Candidates longer than {_RAKE_MAX_WORDS} words
    are discarded (the published cap — without it a stopword-sparse corpus
    like this fixture degenerates into document-length "phrases" that
    trivially top the degree sum).  Top-{_RAKE_TOPK} corpus keyphrases — the
    cheap, training-free keyword extractor for corpus exploration and
    topic labeling ahead of `tfidf_top_terms` (which needs a document
    grain) and `bigram_pmi_topk` (which only sees pairs).

    Plan shape: one documents scan → stopword-delimited phrase explode
    (regexp_replace + split — codegen'd, no UDF); word statistics are ONE
    hash aggregate over the exploded instance-words; phrase scores join
    the DISTINCT-phrase word list against the vocabulary-sized word
    relation (shuffle on word, both sides token-sized, never the corpus
    squared); top-k is TakeOrdered, never a global sort.  The score is
    exact integer micro-units — `degree * 1e6 div freq` summed — so the
    ranking is bit-deterministic cross-engine (ties broken on phrase
    text)."""
    docs = load_table(spark, "documents", sf_dir).where(
        F.col("text").isNotNull()
    )
    inst = (
        docs.select(
            F.explode(
                F.split(
                    F.regexp_replace(F.lower("text"), _RAKE_SPLIT_RE, "|"),
                    r"\|",
                )
            ).alias("p")
        )
        .select(
            F.trim(F.regexp_replace(F.col("p"), " +", " ")).alias("phrase")
        )
        .where(
            (F.col("phrase") != "")
            & (F.size(F.split("phrase", " ")) <= _RAKE_MAX_WORDS)
        )
    )
    phrase_freq = (
        inst.groupBy("phrase")
        .agg(F.count("*").alias("n_occurrences"))
        .withColumn("n_words", F.size(F.split("phrase", " ")))
    )
    words = (
        inst.select(
            F.size(F.split("phrase", " ")).alias("k"),
            F.explode(F.split("phrase", " ")).alias("w"),
        )
        .groupBy("w")
        .agg(
            F.count("*").alias("freq"),
            F.sum("k").cast("long").alias("degree"),
        )
    )
    scored = (
        phrase_freq.select("phrase")
        .select("phrase", F.explode(F.split("phrase", " ")).alias("pw"))
        .join(words, F.col("pw") == F.col("w"))
        .groupBy("phrase")
        .agg(
            F.sum(F.expr("(degree * 1000000) div freq"))
            .cast("long")
            .alias("score_x1e6")
        )
    )
    return (
        phrase_freq.join(scored, "phrase")
        .select(
            "phrase",
            F.col("n_words").cast("int").alias("n_words"),
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            "score_x1e6",
        )
        .orderBy(F.col("score_x1e6").desc(), "phrase")
        .limit(_RAKE_TOPK)
    )
