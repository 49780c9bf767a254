"""Corpus-curation operators for LLM training-data pipelines (BASELINE.json
scale-up mandate, beyond the reference surface): pattern redaction,
benchmark decontamination, sequence packing, source-mixture resampling, and
repetition (boilerplate) quality signals.

All hot paths are built-in Catalyst expressions — regexp/split/explode/
window — so they run JVM-side at parquet-scan speed.  Cross-engine rules:
regex patterns restricted to the Java-regex ∩ RE2 common dialect, sampling
"randomness" from the shared multiplicative hash (`sampling.hash_bucket`),
and every computed column aliased identically in Spark and oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.rounding import cents, cents_sum, fround
from e_commerce_streaming_datapipeline_spark.functions.hashing import (
    MOD,
    hash32,
    hash32_sql,
    hash_bucket,
    hash_bucket_sql,
)
from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

# --------------------------------------------------------------------------
# Pattern redaction (PII-scrub shape)
# --------------------------------------------------------------------------

# Java-regex ∩ RE2 safe: no backrefs, no lookaround.  The email/phone
# patterns are the real-world PII shapes (zero hits on the synthetic
# fixture — they prove plumbing); the term pattern targets fixture
# vocabulary so the redaction path is value-checked with real hits.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+?[0-9][0-9 -]{7,}[0-9]"
_TERM_RE = "\\b(key|hash|customer)\\b"
_MASK = "[MASKED]"


@query(
    "pii_redaction",
    oracle=f"""
SELECT
    doc_id,
    CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
    CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
    CAST(len(regexp_extract_all(text, '{_TERM_RE}')) AS INT)  AS n_terms,
    length(regexp_replace(regexp_replace(regexp_replace(text,
        '{_EMAIL_RE}', '{_MASK}', 'g'),
        '{_PHONE_RE}', '{_MASK}', 'g'),
        '{_TERM_RE}', '{_MASK}', 'g'))                        AS clean_chars,
    md5(regexp_replace(regexp_replace(regexp_replace(text,
        '{_EMAIL_RE}', '{_MASK}', 'g'),
        '{_PHONE_RE}', '{_MASK}', 'g'),
        '{_TERM_RE}', '{_MASK}', 'g'))                        AS clean_hash
FROM documents
""",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern redaction — the PII-scrub step of a corpus pipeline: mask
    email / phone / term-list patterns, count what was masked, and emit the
    cleaned text's hash (the pipeline would carry the cleaned text itself;
    hashing keeps the checked relation narrow).

    Purely row-local `regexp_replace`/`regexp_extract_all` inside one
    codegen'd projection: no shuffle, no UDF, embarrassingly parallel at
    100 TB.  Patterns stay in the Java-regex ∩ RE2 dialect so the DuckDB
    oracle masks bit-identically.  Reference parity: the reference has no
    string functions at all (SURVEY §2.2 "not present"); this is the
    scale-up surface built on the same projection machinery as its P1-P12
    row ops."""
    docs = load_table(spark, "documents", sf_dir)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, _MASK),
            _PHONE_RE,
            _MASK,
        ),
        _TERM_RE,
        _MASK,
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all("text", F.lit(_TERM_RE), F.lit(0))).alias("n_terms"),
        F.length(clean).alias("clean_chars"),
        F.md5(clean).alias("clean_hash"),
    )


# --------------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------------

# Word n-gram length.  8 is the common eval-overlap setting for web-scale
# corpora; 5 keeps hits non-trivial on the short synthetic fixture docs so
# the oracle check exercises the join path, not an empty result.
_NGRAM = 5
_BENCH_MOD = 97     # doc_id % 97 == 0 plays the held-out benchmark set


def _ngram_hash_explode(toks, *extra_cols):
    """Row-local word n-gram hash generation (sequence + transform + explode
    over the pre-split token array ``t`` — no self-join; docs shorter than
    the n filtered first, since Spark's ``sequence`` flips to a descending
    range on negative spans).  Shared by ``benchmark_decontam`` and the
    five-stage curation pipeline so the n-gram scheme cannot drift between
    the standalone query and the pipeline's decontam stage."""
    return (
        toks.where(F.size("t") >= _NGRAM)
        .select(
            "doc_id",
            *extra_cols,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (_NGRAM - 1)),
                    lambda i: F.md5(F.array_join(F.slice(F.col("t"), i, _NGRAM), " ")),
                )
            ).alias("g"),
        )
    )


@query(
    "benchmark_decontam",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
), grams AS (
    SELECT doc_id, lang, md5(array_to_string(t[i:i+{_NGRAM - 1}], ' ')) AS g
    FROM toks, LATERAL unnest(generate_series(1, len(t) - {_NGRAM - 1})) AS u(i)
    WHERE len(t) >= {_NGRAM}
), bench AS (
    SELECT DISTINCT g FROM grams WHERE doc_id % {_BENCH_MOD} = 0
)
SELECT
    grams.doc_id,
    any_value(grams.lang)         AS lang,
    CAST(count(DISTINCT grams.g) AS INT) AS n_shared_ngrams
FROM grams JOIN bench USING (g)
WHERE grams.doc_id % {_BENCH_MOD} <> 0
GROUP BY grams.doc_id
""",
)
def q_benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training documents sharing any word
    {_NGRAM}-gram with the held-out eval set (docs with
    ``doc_id % {_BENCH_MOD} == 0`` play the benchmark), reporting how many
    distinct n-grams leaked.  The consuming pipeline anti-joins the flagged
    ids out of the corpus.

    Plan shape: n-gram hashes are generated row-locally (sequence +
    transform + explode — no self-join), the benchmark n-gram set is tiny
    relative to the corpus (eval sets are fixed-size) so it **broadcasts**,
    and the contamination check is a map-side hash join on the training
    side — the corpus never shuffles.  At 100 TB the benchmark set is still
    a few million hashes; this stays a broadcast join by construction.
    Docs shorter than {_NGRAM} tokens are filtered on BOTH sides (Spark's
    `sequence` would flip to a descending range on negative spans)."""
    toks = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", F.split(F.col("text"), " ").alias("t")
    )
    grams = _ngram_hash_explode(toks, "lang")
    bench = (
        grams.where(F.col("doc_id") % _BENCH_MOD == 0).select("g").distinct()
    )
    return (
        grams.where(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count_distinct("g").cast("int").alias("n_shared_ngrams"),
        )
    )


# --------------------------------------------------------------------------
# Sequence packing
# --------------------------------------------------------------------------

_PACK_BUDGET = 256  # tokens per packed context window


@query(
    "sequence_packing",
    oracle=f"""
WITH sized AS (
    SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
    FROM documents
), binned AS (
    SELECT lang, n_tokens,
        CAST(floor((sum(n_tokens) OVER (
            PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) - n_tokens) / {_PACK_BUDGET}) AS INT) AS bin_id
    FROM sized
)
SELECT
    lang,
    bin_id,
    CAST(count(*) AS INT)       AS n_docs,
    CAST(sum(n_tokens) AS INT)  AS total_tokens,
    round(sum(n_tokens) / {_PACK_BUDGET}.0, 4) AS fill_ratio
FROM binned
GROUP BY lang, bin_id
""",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — assign documents to fixed token-budget context
    windows ({_PACK_BUDGET} tokens) by contiguous cumulative-sum binning,
    the step between curation and tokenized-shard writing in a training
    pipeline.  ``bin = floor(exclusive_prefix_tokens / budget)`` packs each
    language's docs in deterministic doc_id order; a doc that straddles a
    boundary opens the next bin (overflow policy, matching the truncate-or
    -carry behavior of streaming packers).

    One window shuffle partitioned by ``lang``, then a hash agg over bin
    grain.  At 100 TB a single ORDER BY per partition key would bottleneck
    on the hottest language — the scale move is sharding the partition key
    (lang, hash_bucket(doc_id, K)) so K independent packers run per
    language, which only renumbers bins; plan shape is unchanged."""
    sized = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    binned = sized.select(
        "lang",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_BUDGET)
        .cast("int")
        .alias("bin_id"),
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum("n_tokens").cast("int").alias("total_tokens"),
        fround(F.sum("n_tokens") / float(_PACK_BUDGET), 4).alias("fill_ratio"),
    )


# --------------------------------------------------------------------------
# Source-mixture resampling
# --------------------------------------------------------------------------


@query(
    "source_mixture_sample",
    oracle=f"""
WITH rated AS (
    SELECT doc_id, source,
        (CAST(substr(source, 4) AS INT) * 37) % 101 AS target_pct,
        {hash_bucket_sql("doc_id", 100)} AS bucket
    FROM documents
)
SELECT
    source,
    any_value(target_pct)                                   AS target_pct,
    CAST(count(*) AS INT)                                   AS n_total,
    CAST(sum(CASE WHEN bucket < target_pct THEN 1 ELSE 0 END) AS INT) AS n_kept,
    round(sum(CASE WHEN bucket < target_pct THEN 1 ELSE 0 END)
          * 100.0 / count(*), 4)                            AS achieved_pct
FROM rated
GROUP BY source
""",
)
def q_source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture resampling — down-sample each source to a per-source
    target rate (domain re-weighting: the "20% web, 5% forums, 100% books"
    dial of a training-data mixture).  Target rates here derive
    arithmetically from the source id ((idx*37)%101) so both engines agree
    without a side table; a real pipeline would broadcast-join a tiny
    rates dimension — identical plan, the rate column just arrives by join.

    Keep/drop is the shared multiplicative-hash bucket on ``doc_id`` —
    row-local, reproducible across engines and runs, stable under corpus
    append (a doc's fate never depends on other rows).  The only shuffle
    is the per-source audit aggregation; the sampling itself is a
    map-side predicate that composes with parquet filter pushdown."""
    docs = load_table(spark, "documents", sf_dir)
    rated = docs.select(
        "doc_id",
        "source",
        ((F.substring("source", 4, 10).cast("int") * 37) % 101).alias("target_pct"),
        hash_bucket(F.col("doc_id"), 100).alias("bucket"),
    )
    kept = F.when(F.col("bucket") < F.col("target_pct"), 1).otherwise(0)
    return rated.groupBy("source").agg(
        F.any_value("target_pct").alias("target_pct"),
        F.count("*").cast("int").alias("n_total"),
        F.sum(kept).cast("int").alias("n_kept"),
        fround(F.sum(kept) * 100.0 / F.count("*"), 4).alias("achieved_pct"),
    )


# --------------------------------------------------------------------------
# Repetition / boilerplate quality signals
# --------------------------------------------------------------------------


@query(
    "repetition_signals",
    oracle="""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), bigrams AS (
    SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bg
    FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
    WHERE len(t) >= 2
), counts AS (
    SELECT doc_id, bg, count(*) AS c FROM bigrams GROUP BY doc_id, bg
)
SELECT
    doc_id,
    CAST(sum(c) AS INT)                          AS n_bigrams,
    CAST(max(c) AS INT)                          AS top_bigram_count,
    round(max(c) * 1.0 / sum(c), 4)              AS top_bigram_frac,
    round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 4)
                                                 AS dup_bigram_frac
FROM counts
GROUP BY doc_id
""",
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (Gopher-style): per document, the share
    of text occupied by its most frequent word bigram and the share made of
    bigrams that repeat at all — the standard boilerplate / spam detectors
    a quality-filter chain thresholds on.

    Bigrams explode row-locally; both aggregations are hash aggs keyed by
    (doc_id[, bigram]) so map-side partial combine collapses each
    document's duplicates before the shuffle — bytes shuffled scale with
    per-doc *distinct* bigrams, not text length.  The groupBy key includes
    doc_id, so data skew equals document-length skew (bounded by the
    pipeline's upstream length cap), never corpus-popularity skew."""
    toks = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    bigrams = toks.where(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.array_join(F.slice(F.col("t"), i, 2), " "),
            )
        ).alias("bg"),
    )
    counts = bigrams.groupBy("doc_id", "bg").agg(F.count("*").alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("int").alias("n_bigrams"),
        F.max("c").cast("int").alias("top_bigram_count"),
        fround(F.max("c") / F.sum("c"), 4).alias("top_bigram_frac"),
        fround(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)) / F.sum("c"), 4
        ).alias("dup_bigram_frac"),
    )


# --------------------------------------------------------------------------
# Right-to-be-forgotten erasure
# --------------------------------------------------------------------------


@query(
    "user_erasure",
    oracle="""
WITH erasure AS (
    SELECT DISTINCT user_id FROM events WHERE user_id % 53 = 0
)
SELECT
    ev.event_type,
    CAST(count(CASE WHEN er.user_id IS NULL THEN 1 END) AS INT)     AS n_retained,
    CAST(count(CASE WHEN er.user_id IS NOT NULL THEN 1 END) AS INT) AS n_erased,
    CAST(count(DISTINCT CASE WHEN er.user_id IS NOT NULL
                             THEN ev.user_id END) AS INT)           AS users_erased
FROM events ev LEFT JOIN erasure er ON ev.user_id = er.user_id
GROUP BY ev.event_type
""",
)
def q_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure (GDPR delete): mark every event
    belonging to a user on the erasure-request list, and emit the per-type
    retained/erased audit a compliance pipeline must produce alongside the
    delete itself.  The request list here derives from the fixture
    (``user_id % 53 = 0`` plays the request table).

    This is the mark-then-act half of a Delta/Iceberg ``MERGE ... DELETE``:
    the erasure list is always tiny relative to the corpus, so the mark is
    a **broadcast** left join — the 100 TB fact never shuffles — and the
    actual delete is the same join as a left-anti filter feeding a
    partition rewrite.  One fact scan produces both the filtered data and
    the audit counts."""
    events = load_table(spark, "events", sf_dir)
    erasure = (
        events.where(F.col("user_id") % 53 == 0)
        .select("user_id")
        .distinct()
        .withColumn("erase", F.lit(True))
    )
    marked = events.join(F.broadcast(erasure), "user_id", "left")
    return marked.groupBy("event_type").agg(
        F.count(F.when(F.col("erase").isNull(), 1)).cast("int").alias("n_retained"),
        F.count(F.when(F.col("erase").isNotNull(), 1)).cast("int").alias("n_erased"),
        F.count_distinct(
            F.when(F.col("erase").isNotNull(), F.col("user_id"))
        ).cast("int").alias("users_erased"),
    )


# --------------------------------------------------------------------------
# Corpus snapshot reconciliation
# --------------------------------------------------------------------------


@query(
    "snapshot_diff",
    oracle="""
WITH statuses AS (
    SELECT
        CASE
            WHEN doc_id % 13 = 5 THEN 'added'
            WHEN doc_id % 11 = 3 THEN 'removed'
            WHEN doc_id % 7 = 2 THEN 'changed'
            ELSE 'unchanged'
        END AS status,
        n_chars
    FROM documents
    -- in NEITHER snapshot (added-after-v1 ∧ deleted-in-v2): no row to diff
    WHERE NOT (doc_id % 13 = 5 AND doc_id % 11 = 3)
)
SELECT status,
    CAST(count(*) AS INT)      AS n_docs,
    CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM statuses
GROUP BY status
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot reconciliation — diff two dataset versions by
    content hash and classify every document as added / removed / changed /
    unchanged, the audit step between two releases of a training corpus
    (and the engine-level equivalent of a Delta CDF read).  Versions are
    carved deterministically from the fixture: v1 lacks the %13=5 docs
    (later additions), v2 lacks the %11=3 docs (deletions) and rewrites
    the %7=2 docs (content drift).

    The diff is a **full outer join on doc_id comparing md5(text)** —
    classification falls out of null-ness and hash inequality.  Both sides
    shuffle once on the join key; at 100 TB the join is naturally
    bucket-able (both snapshots written bucketed by doc_id ⇒ zero-exchange
    diff, the bucketed_order_join layout), and the output audit is
    #statuses rows.  The oracle derives the same classification from the
    carving predicates directly — the join must reproduce it exactly."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text", "n_chars")
    # hash NULL-coalesced content: a NULL-text document is still a PRESENT
    # document, and md5(NULL) = NULL would make the null-ness test below
    # misread it as added/removed (and make the v2 rewrite's concat collapse
    # to NULL, hiding a 'changed' doc).  After coalescing, hash null-ness
    # means exactly "no row on that side".
    content = F.coalesce(F.col("text"), F.lit(""))
    v1 = docs.where(F.col("doc_id") % 13 != 5).select(
        "doc_id", F.md5(content).alias("h1"), F.col("n_chars").alias("c1")
    )
    v2 = docs.where(F.col("doc_id") % 11 != 3).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 2, F.concat(content, F.lit(" [v2]"))
            ).otherwise(content)
        ).alias("h2"),
        F.col("n_chars").alias("c2"),
    )
    diff = v1.join(v2, "doc_id", "full_outer").select(
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce(F.col("c2"), F.col("c1")).alias("n_chars"),
    )
    return diff.groupBy("status").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# End-to-end curation pipeline
# --------------------------------------------------------------------------

_Q_MIN_TOK, _Q_MAX_TOK, _Q_MIN_TTR = 20, 90, 0.35
_SAMPLE_PCT = 80


@query(
    "curation_pipeline",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
    SELECT doc_id, md5(array_to_string(t[i:i+{_NGRAM - 1}], ' ')) AS g
    FROM toks, LATERAL unnest(generate_series(1, len(t) - {_NGRAM - 1})) AS u(i)
    WHERE len(t) >= {_NGRAM}
), bench AS (
    SELECT DISTINCT g FROM grams WHERE doc_id % {_BENCH_MOD} = 0
), contam AS (
    SELECT DISTINCT grams.doc_id FROM grams JOIN bench USING (g)
    WHERE grams.doc_id % {_BENCH_MOD} <> 0
), s AS (
    SELECT doc_id,
        doc_id % {_BENCH_MOD} <> 0                                    AS in_corpus,
        len(t)                                                        AS nt,
        len(list_distinct(t)) * 1.0 / len(t)                          AS ttr,
        md5(array_to_string(list_sort(list_distinct(t)), ' '))        AS bag,
        {hash_bucket_sql("doc_id", 100)} AS bucket
    FROM toks
), q AS (
    SELECT *,
        in_corpus AND nt BETWEEN {_Q_MIN_TOK} AND {_Q_MAX_TOK}
                  AND ttr >= {_Q_MIN_TTR}                             AS ok_q
    FROM s
), w AS (
    SELECT *,
        doc_id = min(CASE WHEN ok_q THEN doc_id END)
                 OVER (PARTITION BY bag)                              AS is_winner,
        doc_id IN (SELECT doc_id FROM contam)                         AS bad
    FROM q
), c AS (
    SELECT
        count(CASE WHEN in_corpus THEN 1 END)                                 AS n0,
        count(CASE WHEN ok_q THEN 1 END)                                      AS n1,
        count(CASE WHEN ok_q AND is_winner THEN 1 END)                        AS n2,
        count(CASE WHEN ok_q AND is_winner AND NOT bad THEN 1 END)            AS n3,
        count(CASE WHEN ok_q AND is_winner AND NOT bad
                    AND bucket < {_SAMPLE_PCT} THEN 1 END)                    AS n4
    FROM w
)
SELECT 0 AS stage_idx, 'ingest' AS stage, CAST(n0 AS INT) AS n_surviving,
       0 AS n_dropped FROM c
UNION ALL SELECT 1, 'quality', CAST(n1 AS INT), CAST(n0 - n1 AS INT) FROM c
UNION ALL SELECT 2, 'dedup', CAST(n2 AS INT), CAST(n1 - n2 AS INT) FROM c
UNION ALL SELECT 3, 'decontam', CAST(n3 AS INT), CAST(n2 - n3 AS INT) FROM c
UNION ALL SELECT 4, 'sample', CAST(n4 AS INT), CAST(n3 - n4 AS INT) FROM c
""",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel as ONE composed query — ingest → quality
    filter → token-bag dedup → benchmark decontamination → mixture sample —
    reporting survivors and drops per stage, the acceptance report every
    corpus release ships with.

    Composition shape: every stage is a boolean column over the SAME doc
    relation (quality: row-local stats; dedup: conditional-min window over
    the bag fingerprint; decontam: broadcast membership of the contaminated
    id set; sample: row-local hash) and the report is one conditional
    aggregation — so the whole five-stage funnel costs one n-gram
    generation, one bag-partition shuffle, one broadcast join, and one
    final 1-row reduce.  No stage materializes an intermediate corpus; at
    100 TB this is the difference between one pass and five.

    Stage predicates nest cumulatively (a doc "survives dedup" only if it
    also passed quality — the winner min is conditional on ok_q), matching
    how a staged pipeline actually composes."""
    toks = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    grams = _ngram_hash_explode(toks)
    bench = grams.where(F.col("doc_id") % _BENCH_MOD == 0).select("g").distinct()
    contam = (
        grams.where(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
        .withColumn("bad", F.lit(True))
    )
    s = toks.select(
        "doc_id",
        (F.col("doc_id") % _BENCH_MOD != 0).alias("in_corpus"),
        F.size("t").alias("nt"),
        (F.size(F.array_distinct("t")) * 1.0 / F.size("t")).alias("ttr"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct("t")))).alias("bag"),
        hash_bucket(F.col("doc_id"), 100).alias("bucket"),
    ).withColumn(
        "ok_q",
        F.col("in_corpus")
        & F.col("nt").between(_Q_MIN_TOK, _Q_MAX_TOK)
        & (F.col("ttr") >= _Q_MIN_TTR),
    )
    w = s.withColumn(
        "is_winner",
        F.col("doc_id")
        == F.min(F.when(F.col("ok_q"), F.col("doc_id"))).over(
            Window.partitionBy("bag")
        ),
    ).join(F.broadcast(contam), "doc_id", "left").withColumn(
        "bad", F.coalesce(F.col("bad"), F.lit(False))
    )
    surv = [
        F.col("in_corpus"),
        F.col("ok_q"),
        F.col("ok_q") & F.col("is_winner"),
        F.col("ok_q") & F.col("is_winner") & ~F.col("bad"),
        F.col("ok_q") & F.col("is_winner") & ~F.col("bad") & (F.col("bucket") < _SAMPLE_PCT),
    ]
    counts = w.agg(
        *[F.count(F.when(p, 1)).cast("int").alias(f"n{i}") for i, p in enumerate(surv)]
    )
    stages = ["ingest", "quality", "dedup", "decontam", "sample"]
    rows = [
        f"{i}, '{st}', n{i}, {'0' if i == 0 else f'n{i-1} - n{i}'}"
        for i, st in enumerate(stages)
    ]
    return counts.selectExpr(
        f"stack({len(stages)}, {', '.join(rows)}) AS (stage_idx, stage, n_surviving, n_dropped)"
    )


# --------------------------------------------------------------------------
# k-anonymity audit (privacy gate before a training-data release)
# --------------------------------------------------------------------------

_KANON_K = 5


@query(
    "k_anonymity_audit",
    oracle=f"""
WITH groups AS (
    SELECT
        event_type AS qi_event_type,
        CAST(extract(hour FROM ts) AS INTEGER) AS qi_hour,
        CAST(floor(coalesce(value, 0) / 100) AS BIGINT) AS qi_value_bucket,
        count(DISTINCT user_id) AS n_users,
        count(*) AS n_rows
    FROM events
    GROUP BY 1, 2, 3
)
SELECT qi_event_type, qi_hour, qi_value_bucket, n_users, n_rows
FROM groups
WHERE n_users < {_KANON_K}
ORDER BY qi_event_type, qi_hour, qi_value_bucket
""",
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy gate for a data release: k-anonymity audit over the
    quasi-identifier tuple (event_type, hour-of-day, value bucket).  A
    release is k-anonymous iff every QI combination covers at least k
    distinct individuals; this lists every violating group (its user and
    row counts) so the release pipeline can suppress or generalize exactly
    those cells — the standard pre-release check next to `pii_redaction`
    and `user_erasure` in a training-data curation flow.

    Scale: one hash aggregation over the QI key (count + count_distinct
    partial-aggregate map-side); the violation filter runs on the GROUP
    relation (#QI cells, bounded by the generalization grid — here
    |types|x24x|buckets|), never on raw rows.  Output size is capped by the
    grid, so no top-k guard is needed."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy(
            F.col("event_type").alias("qi_event_type"),
            F.hour("ts").alias("qi_hour"),
            F.floor(F.coalesce(F.col("value"), F.lit(0.0)) / 100).alias(
                "qi_value_bucket"
            ),
        )
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_rows"),
        )
        .where(F.col("n_users") < _KANON_K)
        .orderBy("qi_event_type", "qi_hour", "qi_value_bucket")
    )


_LDIV_L = 3


@query(
    "l_diversity_audit",
    oracle=f"""
WITH cells AS (
    SELECT
        CAST(extract(hour FROM ts) AS INTEGER) AS qi_hour,
        CAST(floor(coalesce(value, 0) / 100) AS BIGINT) AS qi_value_bucket,
        event_type,
        count(*) AS c
    FROM events
    GROUP BY 1, 2, 3
), per_group AS (
    SELECT qi_hour, qi_value_bucket,
           count(*)  AS n_sensitive_values,
           sum(c)    AS n_rows,
           max(c)    AS dominant_rows
    FROM cells
    GROUP BY 1, 2
)
SELECT qi_hour, qi_value_bucket, n_sensitive_values,
       CAST(n_rows AS BIGINT) AS n_rows,
       round(CAST(dominant_rows AS DOUBLE) / n_rows * 10000) / 10000
           AS dominant_share
FROM per_group
WHERE n_sensitive_values < {{_LDIV_L}}
ORDER BY qi_hour, qi_value_bucket
""".format(_LDIV_L=_LDIV_L),
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's stronger sibling: a QI group can
    cover many individuals yet still leak if they all share one SENSITIVE
    value (homogeneity attack).  QI = (hour-of-day, value bucket),
    sensitive attribute = event_type; every group with fewer than l=3
    distinct sensitive values is listed with its dominant-value share (the
    input to recursive (c,l)-diversity).  Together with `k_anonymity_audit`
    this is the pre-release pair a privacy review actually runs.

    Scale: two chained hash aggregations — (QI, sensitive) counts, then the
    QI-grain distinct/sum/max — both over the cell grid, never raw rows
    after the first pass; exact integers until the one displayed division.
    """
    events = load_table(spark, "events", sf_dir)
    cells = events.groupBy(
        F.hour("ts").alias("qi_hour"),
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)) / 100).alias("qi_value_bucket"),
        "event_type",
    ).agg(F.count("*").alias("c"))
    per_group = cells.groupBy("qi_hour", "qi_value_bucket").agg(
        F.count("*").alias("n_sensitive_values"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("dominant_rows"),
    )
    return (
        per_group.where(F.col("n_sensitive_values") < _LDIV_L)
        .select(
            "qi_hour",
            "qi_value_bucket",
            "n_sensitive_values",
            F.col("n_rows").cast("long").alias("n_rows"),
            fround(F.col("dominant_rows").cast("double") / F.col("n_rows"), 4).alias(
                "dominant_share"
            ),
        )
        .orderBy("qi_hour", "qi_value_bucket")
    )


# --------------------------------------------------------------------------
# Training shard assignment (the "global shuffle" a trainer consumes)
# --------------------------------------------------------------------------

_N_SHARDS = 64


@query(
    "training_shard_assignment",
    oracle=f"""
WITH assigned AS (
    SELECT
        {hash_bucket_sql("doc_id", _N_SHARDS)} AS shard,
        n_chars,
        length(text) - length(replace(text, ' ', '')) + 1 AS tokens
    FROM documents
), per_shard AS (
    SELECT shard, count(*) AS n_docs,
           CAST(sum(tokens) AS BIGINT) AS n_tokens
    FROM assigned GROUP BY shard
)
SELECT
    count(*) AS n_shards,
    CAST(sum(n_docs) AS BIGINT) AS total_docs,
    min(n_docs) AS min_docs,
    max(n_docs) AS max_docs,
    round(CAST(max(n_docs) AS DOUBLE) * count(*) / sum(n_docs) * 10000)
        / 10000 AS doc_skew,
    min(n_tokens) AS min_tokens,
    max(n_tokens) AS max_tokens,
    round(CAST(max(n_tokens) AS DOUBLE) * count(*) / sum(n_tokens) * 10000)
        / 10000 AS token_skew
FROM per_shard
""",
)
def q_training_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training: every document lands in one
    of 64 shards by multiplicative hash (reproducible on any engine, stable
    under corpus append — the property a resumable training run needs from
    its data order), with the balance audit a trainer cares about: per-shard
    doc and token spread, and skew = max/mean (1.0 = perfectly balanced;
    stragglers in a training epoch are exactly the shards with skew >> 1).

    Scale: assignment is a row-local expression (no shuffle at all to
    COMPUTE shards — the physical re-layout is `repartition(64, shard)` at
    write time); the audit is one hash-agg on shard then a single-row
    summary.  Token counts reuse the whitespace estimator from
    `token_count_estimates`."""
    docs = load_table(spark, "documents", sf_dir)
    assigned = docs.select(
        hash_bucket(F.col("doc_id"), _N_SHARDS).alias("shard"),
        (
            F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
        ).alias("tokens"),
    )
    per_shard = assigned.groupBy("shard").agg(
        F.count("*").alias("n_docs"), F.sum("tokens").alias("n_tokens")
    )
    return per_shard.agg(
        F.count("*").alias("n_shards"),
        F.sum("n_docs").alias("total_docs"),
        F.min("n_docs").alias("min_docs"),
        F.max("n_docs").alias("max_docs"),
        fround(
            F.max("n_docs").cast("double") * F.count("*") / F.sum("n_docs"), 4
        ).alias("doc_skew"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        fround(
            F.max("n_tokens").cast("double") * F.count("*") / F.sum("n_tokens"), 4
        ).alias("token_skew"),
    )


# --------------------------------------------------------------------------
# Sequence-model training exports
# --------------------------------------------------------------------------

_SEQ_CAP = 50


@query(
    "user_sequence_export",
    oracle=f"""
WITH ranked AS (
    SELECT user_id, ts, event_id,
           substr(event_type, 1, 1) AS letter,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS rn,
           count(*) OVER (PARTITION BY user_id) AS n_total
    FROM events
)
SELECT
    user_id,
    string_agg(letter, '' ORDER BY ts, event_id) AS sequence,
    CAST(count(*) AS INT)                        AS seq_len,
    max(n_total) > {_SEQ_CAP}                    AS truncated
FROM ranked
WHERE rn <= {_SEQ_CAP}
GROUP BY user_id
ORDER BY user_id
""",
)
def q_user_sequence_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior-sequence construction for sequence-model training: each
    user's first 50 events as an ordered event-type-initial string (the
    `journey_shape_pairs` alphabet), with a truncation flag — the bounded
    per-entity sequence assembly every recommender/behavior-LM pipeline
    runs, where the cap is what keeps a power-law user from emitting an
    unbounded training row.

    Scale: the rn <= cap filter plans as WindowGroupLimit (map tasks
    forward at most cap rows per user into the shuffle — the
    `cdc_apply_latest` discipline), so assembly cost is O(users x cap),
    not O(events); the string is built from a sorted bounded array, no
    per-row UDF."""
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # the total is a SEPARATE partial-aggregated count joined back on
    # user_id, not a count(*) window alongside row_number: an unbounded
    # count window would need every event row at the reducer and thus
    # disable the WindowGroupLimit map-side cap this query's cost model
    # rests on, while the groupBy count shuffles one partial row per
    # (mapper, user)
    total = events.groupBy("user_id").agg(F.count("*").alias("n_total"))
    capped = (
        events.select(
            "user_id", "ts", "event_id",
            F.substring("event_type", 1, 1).alias("letter"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _SEQ_CAP)
    )
    return (
        capped.groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "letter"))
                    ),
                    lambda s: s["letter"],
                ),
            ).alias("sequence"),
            F.count("*").cast("int").alias("seq_len"),
        )
        .join(total, "user_id")
        .select(
            "user_id",
            "sequence",
            "seq_len",
            (F.col("n_total") > _SEQ_CAP).alias("truncated"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Deterministic negative sampling (recommendation training pairs)
# --------------------------------------------------------------------------

_NEG_PER_POS = 3


def neg_candidate_hash(custkey: Column, partkey: Column, i: Column) -> Column:
    """Pseudo-random candidate hash in [0, 2^32) for draw ``i`` of one
    (customer, part) positive: ``hash32`` of the customer plus small
    multiples of the part and the draw.  Both keys are reduced mod 2^31
    before their multiplies, so the largest intermediate is ~8.7e13 and
    Spark never wraps int64 where DuckDB promotes.  SQL twin:
    ``neg_candidate_hash_sql``."""
    return (
        hash32(custkey) + (partkey % F.lit(2**31)) * 40503 + i * 104729
    ) % F.lit(MOD)


def neg_candidate_hash_sql(custkey: str, partkey: str, i: str) -> str:
    """``neg_candidate_hash`` as DuckDB SQL text, for oracles."""
    return (
        f"(({hash32_sql(custkey)} + ({partkey} % 2147483648) * 40503"
        f" + {i} * 104729) % 4294967296)"
    )


@query(
    "negative_samples",
    oracle=f"""
WITH pos AS (
    SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), n_parts AS (
    SELECT count(*) AS np FROM part
), cand AS (
    SELECT p.custkey,
           {neg_candidate_hash_sql("p.custkey", "p.partkey", "i")}
            % (SELECT np FROM n_parts) AS cand_part
    FROM pos p, (SELECT unnest(generate_series(0, {_NEG_PER_POS - 1})) AS i)
), valid AS (
    SELECT c.custkey, c.cand_part
    FROM cand c JOIN part pt ON pt.p_partkey = c.cand_part
), neg AS (
    SELECT v.custkey, v.cand_part
    FROM valid v
    WHERE NOT EXISTS (
        SELECT 1 FROM pos p
        WHERE p.custkey = v.custkey AND p.partkey = v.cand_part)
)
SELECT
    (SELECT count(*) FROM pos)  AS n_positives,
    (SELECT count(*) FROM cand) AS n_candidates,
    (SELECT count(*) FROM neg)  AS n_negatives,
    round((SELECT count(*) FROM neg) * 10000.0
          / (SELECT count(*) FROM pos)) / 10000 AS neg_per_pos
""",
)
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommendation training: for each
    observed (customer, part) positive, 3 pseudo-random candidate parts from
    a multiplicative hash of (customer, part, i) — reproducible on any
    engine and stable across runs, unlike rand() — validated against the
    part dimension and anti-joined against the user's ACTUAL positives so
    no negative is secretly a positive (the correctness bug naive samplers
    ship with).  Output: one audit row with positive/candidate/negative
    counts and the effective negatives-per-positive rate after collisions.

    Scale: candidate generation is a row-local explode (x3); the positive
    anti-join shuffles on (custkey, part) exactly once; the part-existence
    check broadcasts the dimension.  No RNG state, no driver loop."""
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    pos = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("partkey")
        )
        .distinct()
    )
    np_ = part.agg(F.count("*").alias("np"))
    cand = (
        scalar_join(pos, np_)
        .select(
            "custkey",
            F.explode(
                F.array(*[F.lit(i) for i in range(_NEG_PER_POS)])
            ).alias("i"),
            "partkey",
            "np",
        )
        .select(
            "custkey",
            (
                neg_candidate_hash(F.col("custkey"), F.col("partkey"), F.col("i"))
                % F.col("np")
            ).alias("cand_part"),
        )
    )
    valid = cand.join(
        F.broadcast(part.select(F.col("p_partkey").alias("cand_part"))), "cand_part"
    )
    neg = valid.join(
        pos.select("custkey", F.col("partkey").alias("cand_part")),
        ["custkey", "cand_part"],
        "left_anti",
    )
    return (
        scalar_join(
            scalar_join(
                pos.agg(F.count("*").alias("n_positives")),
                cand.agg(F.count("*").alias("n_candidates")),
            ),
            neg.agg(F.count("*").alias("n_negatives")),
        )
        .select(
            "n_positives",
            "n_candidates",
            "n_negatives",
            fround(F.col("n_negatives") * 1.0 / F.col("n_positives"), 4).alias(
                "neg_per_pos"
            ),
        )
    )


# --------------------------------------------------------------------------
# Leakage-safe label construction (feature/label time split)
# --------------------------------------------------------------------------


@query(
    "leakage_safe_labels",
    oracle="""
WITH cutoff AS (
    SELECT max(ts) - INTERVAL 7 DAY AS t FROM events
), feat AS (
    SELECT user_id,
           count(*) AS n_events_before,
           CAST(count_if(event_type = 'click') AS BIGINT) AS n_clicks_before,
           CAST(count_if(event_type = 'purchase') AS BIGINT)
               AS n_purchases_before
    FROM events, cutoff
    WHERE ts < cutoff.t
    GROUP BY user_id
), labels AS (
    SELECT DISTINCT user_id, TRUE AS label
    FROM events, cutoff
    WHERE event_type = 'purchase' AND ts >= cutoff.t
)
SELECT f.user_id, f.n_events_before, f.n_clicks_before, f.n_purchases_before,
       coalesce(l.label, FALSE) AS label
FROM feat f LEFT JOIN labels l USING (user_id)
ORDER BY f.user_id
""",
)
def q_leakage_safe_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature/label time split for supervised training: features are
    aggregated STRICTLY BEFORE the cutoff (last 7 days held out) and the
    label is "purchased in the held-out window" — the temporal-correctness
    discipline (`scd2_pit_lookup`'s sibling) whose violation (features
    touching post-cutoff events) is the classic leakage bug that makes
    offline metrics lie.  Users with no pre-cutoff activity are excluded
    (no feature row to train on).

    Scale: cutoff is a 1-row broadcast; features and labels are independent
    aggregations of disjoint scan ranges sharing the user_id shuffle key;
    at 100 TB the two scans prune to disjoint date partitions."""
    events = load_table(spark, "events", sf_dir)
    cutoff = events.agg((F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("t"))
    with_cut = scalar_join(events, cutoff)
    feat = (
        with_cut.where(F.col("ts") < F.col("t"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events_before"),
            F.sum((F.col("event_type") == "click").cast("long")).alias(
                "n_clicks_before"
            ),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias(
                "n_purchases_before"
            ),
        )
    )
    labels = (
        with_cut.where(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t"))
        )
        .select("user_id")
        .distinct()
        .withColumn("label", F.lit(True))
    )
    return (
        feat.join(labels, "user_id", "left")
        .select(
            "user_id",
            "n_events_before",
            "n_clicks_before",
            "n_purchases_before",
            F.coalesce(F.col("label"), F.lit(False)).alias("label"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# ML-prep: leave-one-out target encoding + k-fold assignment
# --------------------------------------------------------------------------

_KFOLDS = 5


@query(
    "target_encoding_loo",
    oracle="""
WITH per AS (
    SELECT lang, sum(n_chars) AS s, count(n_chars) AS c
    FROM documents GROUP BY 1
)
SELECT
    doc_id,
    d.lang,
    CASE WHEN c > 1 AND n_chars IS NOT NULL
         THEN round(CAST(s - n_chars AS DOUBLE) / (c - 1) * 10000) / 10000
         END AS lang_loo_mean_chars
FROM documents d JOIN per USING (lang)
""",
)
def q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the category-to-number feature
    transform that replaces each row's category with the mean target of its
    OTHER members: (group_sum - own) / (group_count - 1).  Subtracting the
    row's own contribution is what prevents the target leakage a naive
    group-mean join ships into training.

    Exactness: sums and counts are integers, so the single double division
    is bit-identical cross-engine; singleton groups (and NULL targets)
    encode as NULL rather than a divide-by-zero or a leaked self-mean.

    Scale: one partial-aggregated groupBy over the category (|categories|
    rows) broadcast back onto the corpus — the fact never shuffles; the
    same shape holds for any (categorical, numeric target) pair at 100 TB."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "n_chars")
    per = docs.groupBy("lang").agg(
        F.sum("n_chars").alias("s"), F.count("n_chars").alias("c")
    )
    return docs.join(F.broadcast(per), "lang").select(
        "doc_id",
        "lang",
        F.when(
            (F.col("c") > 1) & F.col("n_chars").isNotNull(),
            fround(
                (F.col("s") - F.col("n_chars")).cast("double") / (F.col("c") - 1), 4
            ),
        ).alias("lang_loo_mean_chars"),
    )


@query(
    "kfold_assignment",
    oracle=f"""
WITH folded AS (
    SELECT {hash_bucket_sql("doc_id", _KFOLDS)} AS fold, lang, n_chars
    FROM documents
)
SELECT
    fold,
    count(*)                         AS n_docs,
    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
    round(CAST(sum(n_chars) AS DOUBLE) / count(n_chars) * 100) / 100 AS mean_chars
FROM folded
GROUP BY 1
""",
)
def q_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: the multiplicative
    hash buckets every document into one of {_KFOLDS} folds — reproducible
    on any engine and STABLE UNDER APPEND (a grown corpus keeps every
    existing row's fold, unlike randomSplit whose assignment depends on
    partition layout), with per-fold balance stats as the audit output.

    Row-local fold math, one small groupBy — the fold column itself is the
    export; the stats relation is k rows at any corpus size."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(
            hash_bucket(F.col("doc_id"), _KFOLDS).alias("fold"), "lang", "n_chars"
        )
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            fround(F.sum("n_chars").cast("double") / F.count("n_chars"), 2).alias(
                "mean_chars"
            ),
        )
    )


@query(
    "source_quantile_normalize",
    oracle="""
WITH scored AS (
    SELECT doc_id, source,
           round((len(list_distinct(string_split(text, ' ')))
                  / len(string_split(text, ' ')) * 50
                  + least(len(string_split(text, ' ')), 100) / 100 * 50)
                 * 100) / 100 AS quality_score
    FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
), ranked AS (
    SELECT *,
           CAST(row_number() OVER (
               PARTITION BY source ORDER BY quality_score, doc_id
           ) AS BIGINT) AS src_rank,
           CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
    FROM scored
), globally AS (
    SELECT quality_score AS g_score,
           CAST(row_number() OVER (ORDER BY quality_score, doc_id) AS BIGINT) AS g_idx,
           CAST(count(*) OVER () AS BIGINT) AS n_all
    FROM scored
), mapped AS (
    SELECT r.doc_id, r.source, r.quality_score, r.src_rank,
           CASE WHEN r.n_src = 1 THEN 0.0
                ELSE CAST(r.src_rank - 1 AS DOUBLE) / (r.n_src - 1) END AS pr,
           CAST(CASE WHEN r.n_src = 1 THEN 0
                ELSE floor(CAST(r.src_rank - 1 AS DOUBLE) / (r.n_src - 1)
                           * ((SELECT any_value(n_all) FROM globally) - 1))
                END AS BIGINT) + 1 AS target_idx
    FROM ranked r
)
SELECT m.doc_id, m.source, m.quality_score,
       m.src_rank, round(m.pr * 10000) / 10000 AS pr,
       g.g_score AS normalized_score
FROM mapped m JOIN globally g ON g.g_idx = m.target_idx
""",
)
def q_source_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of quality scores ACROSS sources — the
    curation fix for incomparable per-source score scales (web text scores
    cluster high, code scores low; a single global threshold then
    over-prunes one source): each document's within-source percent-rank is
    mapped to the score at that same rank in the GLOBAL distribution, so a
    "top-10%-of-its-source" document gets the global top-10% score
    regardless of its source's raw scale.

    Determinism: ranks tie-break on doc_id, the percent-rank and the
    target-index arithmetic are identical IEEE expressions on both engines,
    and the normalized value is a LOOKUP (equi-join on the global rank
    index), never interpolation — nothing to drift.

    Scale note: the global rank is the two-phase distributed rank
    (`functions/ranks.py` — range-repartition + per-partition row_number +
    broadcast offsets), so the doc-proportional relation is never sorted on
    one task; at 100 TB the global distribution can further be summarized
    by the mergeable histogram (`histogram_quantile_rollup`) and the lookup
    joins the ~1000-point grid instead — same plan shape, bounded grid."""
    from e_commerce_streaming_datapipeline_spark.functions.ranks import global_row_number
    from e_commerce_streaming_datapipeline_spark.operators.text import text_stats

    # NULL doc_id rows are out of the normalization on BOTH engines: the
    # rank tie-break keys on doc_id and the Spark self-join back to source
    # drops NULL keys anyway (r8 edge pin)
    docs = load_table(spark, "documents", sf_dir).where(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    scored = text_stats(docs).select("doc_id", "quality_score").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    by_src = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    ranked = scored.select(
        "doc_id",
        "source",
        "quality_score",
        F.row_number().over(by_src).cast("long").alias("src_rank"),
        F.count("*").over(Window.partitionBy("source")).cast("long").alias("n_src"),
    )
    globally = global_row_number(
        scored.select(F.col("quality_score").alias("g_score"), "doc_id"),
        [F.col("g_score"), F.col("doc_id")],
        rank_col="__g_rn",
        total_col="__n_all",
    ).select(
        "g_score", F.col("__g_rn").cast("long").alias("g_idx"), "__n_all"
    )
    # the total rides out of the rank's bounded offsets relation (total_col)
    # — no second corpus-sized count aggregate
    n_all = globally.select(
        F.col("__n_all").cast("long").alias("n_all")
    ).limit(1)
    globally = globally.drop("__n_all")
    pr = F.when(F.col("n_src") == 1, F.lit(0.0)).otherwise(
        (F.col("src_rank") - 1).cast("double") / (F.col("n_src") - 1)
    )
    mapped = scalar_join(ranked, n_all).select(
        "doc_id",
        "source",
        "quality_score",
        "src_rank",
        pr.alias("pr_raw"),
        (
            F.when(F.col("n_src") == 1, F.lit(0).cast("long")).otherwise(
                F.floor(pr * (F.col("n_all") - 1)).cast("long")
            )
            + 1
        ).alias("target_idx"),
    )
    return mapped.join(globally, F.col("g_idx") == F.col("target_idx")).select(
        "doc_id",
        "source",
        "quality_score",
        "src_rank",
        fround(F.col("pr_raw"), 4).alias("pr"),
        F.col("g_score").alias("normalized_score"),
    )


# --------------------------------------------------------------------------
# t-closeness audit (the third of the privacy trio)
# --------------------------------------------------------------------------

_TCLOSE_T = 0.2


@query(
    "t_closeness_audit",
    oracle=f"""
WITH cells AS (
    SELECT
        CAST(extract(hour FROM ts) AS INTEGER) AS qi_hour,
        CAST(floor(coalesce(value, 0) / 100) AS BIGINT) AS qi_value_bucket,
        event_type,
        count(*) AS c
    FROM events
    GROUP BY 1, 2, 3
), per_group AS (
    SELECT qi_hour, qi_value_bucket, sum(c) AS n_rows FROM cells GROUP BY 1, 2
), types AS (
    SELECT event_type,
           CAST(round(1000000.0 * count(*)
                      / (SELECT count(*) FROM events)) AS BIGINT) AS q_micros
    FROM events GROUP BY 1
), qall AS (
    SELECT sum(q_micros) AS q_all FROM types
), present AS (
    SELECT
        cells.qi_hour, cells.qi_value_bucket,
        sum(CAST(round(abs(1000000.0 * cells.c / pg.n_rows - t.q_micros))
                 AS BIGINT))  AS present_diff,
        sum(t.q_micros)       AS q_present
    FROM cells
    JOIN types t ON cells.event_type IS NOT DISTINCT FROM t.event_type
    JOIN per_group pg ON pg.qi_hour IS NOT DISTINCT FROM cells.qi_hour
       AND pg.qi_value_bucket IS NOT DISTINCT FROM cells.qi_value_bucket
    GROUP BY 1, 2
)
SELECT
    p.qi_hour, p.qi_value_bucket,
    CAST(pg.n_rows AS BIGINT) AS n_rows,
    round((p.present_diff + (q.q_all - p.q_present)) / 2000000.0, 6)
        AS t_distance,
    (p.present_diff + (q.q_all - p.q_present)) / 2000000.0 > {_TCLOSE_T}
        AS violates_t
FROM present p
JOIN per_group pg ON pg.qi_hour IS NOT DISTINCT FROM p.qi_hour
   AND pg.qi_value_bucket IS NOT DISTINCT FROM p.qi_value_bucket
CROSS JOIN qall q
ORDER BY p.qi_hour, p.qi_value_bucket
""",
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third of the privacy trio with
    `k_anonymity_audit` and `l_diversity_audit`: a QI group can be large
    (k-safe) and diverse (l-safe) yet still leak if its SENSITIVE-value
    distribution differs sharply from the table's (skewness attack).  Per
    QI group (hour-of-day, value bucket — the trio's shared QI), the total
    variation distance ½·Σ|p_t − q_t| between the group's event_type
    distribution and the global one (TVD is the t-closeness paper's EMD
    instance for nominal attributes), with the t=0.2 violation flag.

    Determinism: global type mass is fixed-pointed to micros ONCE (an
    integer per type), each present-type |p−q| term is micros-rounded
    before the per-group integer sum, and absent types contribute their
    exact global micros mass via (q_all − q_present) — no cross join
    against the type dimension and no float summation order anywhere.

    Scale: two hash aggregations over the (QI, type) cell grid (bounded:
    24 hours × value buckets × 5 types regardless of corpus size), a
    broadcast type-mass join, and a 1-row scalar attach."""
    events = load_table(spark, "events", sf_dir)
    cells = events.groupBy(
        F.hour("ts").alias("qi_hour"),
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)) / 100).alias("qi_value_bucket"),
        "event_type",
    ).agg(F.count("*").alias("c"))
    per_group = cells.groupBy("qi_hour", "qi_value_bucket").agg(
        F.sum("c").alias("n_rows")
    )
    n_total = events.agg(F.count("*").alias("n_total"))
    types = scalar_join(
        events.groupBy("event_type").agg(F.count("*").alias("ct")), n_total
    ).select(
        "event_type",
        F.round(F.lit(1000000.0) * F.col("ct") / F.col("n_total"), 0)
        .cast("long")
        .alias("q_micros"),
    )
    qall = types.agg(F.sum("q_micros").alias("q_all"))
    pg = per_group.select(
        F.col("qi_hour").alias("pg_hour"),
        F.col("qi_value_bucket").alias("pg_bucket"),
        "n_rows",
    )
    # QI keys can be NULL (NULL-ts events form their own cell) — the group
    # joins must be null-safe or the NULL cell silently drops on this side
    present = (
        cells.join(F.broadcast(types), cells["event_type"].eqNullSafe(types["event_type"]))
        .join(
            pg,
            F.col("qi_hour").eqNullSafe(F.col("pg_hour"))
            & F.col("qi_value_bucket").eqNullSafe(F.col("pg_bucket")),
        )
        .groupBy("qi_hour", "qi_value_bucket")
        .agg(
            F.sum(
                F.round(
                    F.abs(
                        F.lit(1000000.0) * F.col("c") / F.col("n_rows")
                        - F.col("q_micros")
                    ),
                    0,
                ).cast("long")
            ).alias("present_diff"),
            F.sum("q_micros").alias("q_present"),
        )
    )
    tvd = (F.col("present_diff") + (F.col("q_all") - F.col("q_present"))) / 2000000.0
    return (
        scalar_join(
            present.join(
                pg,
                F.col("qi_hour").eqNullSafe(F.col("pg_hour"))
                & F.col("qi_value_bucket").eqNullSafe(F.col("pg_bucket")),
            ),
            qall,
        )
        .select(
            "qi_hour",
            "qi_value_bucket",
            F.col("n_rows").cast("long").alias("n_rows"),
            fround(tvd, 6).alias("t_distance"),
            (tvd > _TCLOSE_T).alias("violates_t"),
        )
        .orderBy("qi_hour", "qi_value_bucket")
    )


# --------------------------------------------------------------------------
# Differentially-private release: the geometric mechanism, integer-exact
# --------------------------------------------------------------------------


@query(
    "dp_noisy_lang_counts",
    oracle="""
SELECT lang,
       greatest(
           cnt + (52 - length(format('{:b}', u1)))
               - (52 - length(format('{:b}', u2))),
           0
       ) AS noisy_count,
       CAST(0.693147 AS DOUBLE) AS epsilon_nominal,
       TRUE AS seeded
FROM (
    SELECT lang, count(*) AS cnt,
           CAST(('0x' || substr(md5('dp-seed:' || lang), 1, 13)) AS BIGINT)  AS u1,
           CAST(('0x' || substr(md5('dp-seed:' || lang), 14, 13)) AS BIGINT) AS u2
    FROM documents
    WHERE lang IS NOT NULL
    GROUP BY lang
)
""",
)
def q_dp_noisy_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release — the GEOMETRIC mechanism
    (Ghosh–Roughgarden–Sundararajan: the universally-optimal discrete
    analogue of Laplace noise for sensitivity-1 counts): per-language
    document counts plus two-sided-geometric noise Z = G₁ − G₂ with
    Gᵢ ~ Geometric(1/2), giving ε = ln 2 ≈ 0.693.  Completes the privacy
    tier's release stage — `k_anonymity_audit`/`l_diversity_audit`/
    `t_closeness_audit` measure re-identification risk of row-level
    releases; this is the aggregate-release alternative that needs no
    row suppression at all.

    Everything is INTEGER-exact, which is what makes a noise mechanism
    hash-checkable cross-engine: Geometric(1/2) is the count of leading
    zero bits of a uniform bitstring, so Gᵢ = 52 − bitlength(Uᵢ) where Uᵢ
    is a 52-bit integer cut from md5 — no ln(), no float inverse-CDF, no
    libm last-ulp divergence between engines.  The md5 seed makes this
    run REPLAYABLE (the form used for pipeline tests and audit reruns) —
    and therefore NOT actually private: the noise is a deterministic
    function of the public group key, so exact counts are recoverable.
    The output says so explicitly (`seeded = true`, and the ε column is
    `epsilon_nominal` — the guarantee the MECHANISM would provide with
    real randomness, not one this replayable run provides).  A production
    release swaps the seed column for true randomness drawn once per
    release, leaving the plan unchanged, and may then read the column as
    the realized ε.  Post-processing clamp to ≥ 0 preserves DP.

    Scale shape: one hash-aggregate over the corpus (map-side partial
    counts), then noise is a row-local expression on the GROUP-sized
    relation — the privacy layer costs nothing at 100 TB beyond the count
    itself."""
    docs = load_table(spark, "documents", sf_dir).where(F.col("lang").isNotNull())
    counts = docs.groupBy("lang").agg(F.count("*").alias("cnt"))
    h = F.md5(F.concat(F.lit("dp-seed:"), F.col("lang")))
    u1 = F.conv(F.substring(h, 1, 13), 16, 10).cast("long")
    u2 = F.conv(F.substring(h, 14, 13), 16, 10).cast("long")
    g1 = F.lit(52) - F.length(F.bin(u1))
    g2 = F.lit(52) - F.length(F.bin(u2))
    return counts.select(
        "lang",
        F.greatest(
            (F.col("cnt") + g1 - g2).cast("long"), F.lit(0).cast("long")
        ).alias("noisy_count"),
        F.lit(0.693147).alias("epsilon_nominal"),
        F.lit(True).alias("seeded"),
    )


# --------------------------------------------------------------------------
# DSIR: data selection with importance resampling (hashed-feature LM ratio)
# --------------------------------------------------------------------------

_DSIR_TARGET_SOURCE = "src1"  # the in-distribution exemplar corpus
_DSIR_TOPK = 25


@query(
    "dsir_importance_sample",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           source IS NOT DISTINCT FROM '{_DSIR_TARGET_SOURCE}' AS is_tgt,
           unnest(string_split(text, ' ')) AS w
    FROM documents WHERE text IS NOT NULL
), vocab AS (
    SELECT w,
           CAST(count_if(is_tgt) AS BIGINT)     AS t_c,
           CAST(count_if(NOT is_tgt) AS BIGINT) AS r_c
    FROM toks WHERE w <> '' GROUP BY w
), totals AS (
    SELECT sum(t_c) AS t_n, sum(r_c) AS r_n, count(*) AS v FROM vocab
), scored AS (
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(avg(
               ln((vo.t_c + 1) / CAST(totals.t_n + totals.v AS DOUBLE))
             - ln((vo.r_c + 1) / CAST(totals.r_n + totals.v AS DOUBLE))
           ) * 10000) / 10000 AS importance_weight
    FROM toks t JOIN vocab vo ON t.w = vo.w, totals
    WHERE NOT t.is_tgt AND t.w <> ''
    GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, importance_weight
FROM (
    SELECT *, row_number() OVER (
        ORDER BY importance_weight DESC, doc_id
    ) AS rn FROM scored
)
WHERE rn <= {_DSIR_TOPK}
ORDER BY importance_weight DESC, doc_id
""",
)
def q_dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al., NeurIPS'23 "Data Selection
    for Language Models via Importance Resampling"): score every RAW-pool
    document by the mean unigram log-likelihood ratio between a TARGET
    corpus LM (here the 'src1' source, standing in for the
    in-distribution exemplar set) and the raw-pool LM — both add-one
    smoothed — and keep the top-25 most target-like documents.  This is
    the composed selection tier over the primitives the registry proves
    separately (`unigram_logprob_scores` the LM scoring,
    `source_unigram_divergence` the distribution distance,
    `weighted_doc_sample` the weighted draw).

    Target membership is NULL-safe (`IS NOT DISTINCT FROM` /
    ``eqNullSafe``) so NULL-source docs land in the raw pool on both
    engines, and only raw-pool docs are scored (the target's own docs are
    already in-distribution).

    Scale shape: one tokenize pass feeds a vocabulary-sized hash aggregate
    (per-word target/raw counts via conditional sums — one shuffle keyed
    on the word); totals join back as a broadcast scalar; scoring is the
    token->vocab equi-join `unigram_logprob_scores` already audits (AQE
    splits the head-word skew); per-doc reduce + TakeOrdered top-k — no
    global window touches a corpus-proportional relation."""
    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    vocab, totals = dsir_ratio_model(docs)
    raw_toks = _dsir_tokens(docs).where(~F.col("is_tgt"))
    scored = dsir_score(raw_toks, vocab, totals)
    return scored.orderBy(
        F.col("importance_weight").desc(), "doc_id"
    ).limit(_DSIR_TOPK)


def _dsir_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, is_tgt, w): one token row per word with NULL-safe target
    membership — the shared tokenize/flag step of model fit and scoring."""
    return docs.select(
        "doc_id",
        F.col("source").eqNullSafe(F.lit(_DSIR_TARGET_SOURCE)).alias("is_tgt"),
        F.explode(F.split("text", " ")).alias("w"),
    ).where(F.col("w") != "")


def dsir_ratio_model(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fit the DSIR unigram ratio model on ``docs``: returns the
    vocabulary relation (w, t_c, r_c) and the 1-row totals (t_n, r_n, v).
    Shared by the batch selection and the streaming admission gate so the
    model both paths score against is one definition."""
    toks = _dsir_tokens(docs)
    vocab = toks.groupBy("w").agg(
        F.sum(F.col("is_tgt").cast("long")).cast("long").alias("t_c"),
        F.sum((~F.col("is_tgt")).cast("long")).cast("long").alias("r_c"),
    )
    totals = vocab.agg(
        F.sum("t_c").alias("t_n"), F.sum("r_c").alias("r_n"), F.count("*").alias("v")
    )
    return vocab, totals


def dsir_score(
    toks: DataFrame, vocab: DataFrame, totals: DataFrame
) -> DataFrame:
    """Score token rows against a fitted ratio model: per-doc mean add-one-
    smoothed log-likelihood ratio — (doc_id, n_tokens, importance_weight).
    Tokens absent from the model vocabulary drop (inner join), matching
    the SQL oracle's join semantics."""
    lr = F.log((F.col("t_c") + 1) / (F.col("t_n") + F.col("v")).cast("double")) - F.log(
        (F.col("r_c") + 1) / (F.col("r_n") + F.col("v")).cast("double")
    )
    return (
        scalar_join(toks.join(vocab, "w"), totals)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            fround(F.avg(lr), 4).alias("importance_weight"),
        )
    )


# --------------------------------------------------------------------------
# User-level DP sum release: contribution clipping + scaled geometric noise
# --------------------------------------------------------------------------

_DP_CLIP_CENTS = 100_000  # per-user-day contribution cap: $1000


@query(
    "dp_user_day_revenue",
    oracle=f"""
WITH per_user_day AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           user_id,
           least(sum(CAST(round(coalesce(value, 0.0) * 100) AS BIGINT)),
                 {_DP_CLIP_CENTS}) AS clipped_cents
    FROM events
    WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL
    GROUP BY 1, 2
), per_day AS (
    SELECT day, sum(clipped_cents) AS clipped_sum,
           CAST(('0x' || substr(md5('dp-rev-seed:' || day), 1, 13)) AS BIGINT)
               AS u1,
           CAST(('0x' || substr(md5('dp-rev-seed:' || day), 14, 13)) AS BIGINT)
               AS u2
    FROM per_user_day GROUP BY day
)
SELECT day,
       CAST(clipped_sum AS BIGINT) AS clipped_sum_cents,
       CAST(clipped_sum
            + {_DP_CLIP_CENTS} * ((52 - length(format('{{:b}}', u1)))
                                  - (52 - length(format('{{:b}}', u2))))
            AS BIGINT)             AS noisy_sum_cents,
       CAST(0.693147 AS DOUBLE) AS epsilon_nominal,
       TRUE AS seeded
FROM per_day
ORDER BY day
""",
)
def q_dp_user_day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER-LEVEL differentially-private SUM release (the BigQuery-DP /
    PipelineDP shape, completing `dp_noisy_lang_counts`' sensitivity-1
    count mechanism): daily revenue where (1) each user's per-day
    contribution is CLIPPED to a cap C before aggregation — contribution
    bounding is what turns row-level into user-day-level adjacency, the
    step ad-hoc "just add noise" releases always miss — and (2) the
    clipped sum gets two-sided geometric noise SCALED BY C (sensitivity
    of the clipped sum is exactly C, so Z = C*(G1 - G2) preserves the
    count mechanism's epsilon = ln 2 at user-day granularity).

    Same integer-exact replayable-noise construction as the count release
    (bit-length geometric from md5 bits; `seeded = true` says the run is
    an audit replay, not a private release — swap the seed for one draw
    of true randomness to make the epsilon real).  Full-timeline user
    adjacency composes over the k days a user appears in (epsilon scales
    with k); production either bounds days-per-user too or accounts the
    composition — docstring contract, as in the DP literature.

    Scale: the clip is a per-(user, day) hash aggregate (map-side
    combinable), the release is day-grain — noise costs one expression on
    a spine-sized relation."""
    events = load_table(spark, "events", sf_dir).where(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    )
    per_user_day = events.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "user_id",
    ).agg(
        F.least(
            cents_sum(F.coalesce(F.col("value"), F.lit(0.0))),
            F.lit(_DP_CLIP_CENTS).cast("long"),
        ).alias("clipped_cents")
    )
    per_day = per_user_day.groupBy("day").agg(
        F.sum("clipped_cents").alias("clipped_sum")
    )
    h = F.md5(F.concat(F.lit("dp-rev-seed:"), F.col("day").cast("string")))
    u1 = F.conv(F.substring(h, 1, 13), 16, 10).cast("long")
    u2 = F.conv(F.substring(h, 14, 13), 16, 10).cast("long")
    g1 = F.lit(52) - F.length(F.bin(u1))
    g2 = F.lit(52) - F.length(F.bin(u2))
    return per_day.select(
        "day",
        F.col("clipped_sum").cast("long").alias("clipped_sum_cents"),
        (F.col("clipped_sum") + F.lit(_DP_CLIP_CENTS) * (g1 - g2))
        .cast("long")
        .alias("noisy_sum_cents"),
        F.lit(0.693147).alias("epsilon_nominal"),
        F.lit(True).alias("seeded"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# Point-in-time feature assembly (the feature-store training-set export)
# --------------------------------------------------------------------------


@query(
    "pit_feature_assembly",
    oracle="""
WITH ordered AS (
    SELECT user_id, event_id, event_type, ts,
           CAST(floor(epoch(ts)) AS BIGINT) AS es,
           CAST(round(coalesce(value, 0.0) * 100) AS BIGINT) AS cents
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
), feat AS (
    SELECT *,
        CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            OVER w, 0) AS BIGINT)                             AS clicks_so_far,
        CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            OVER w, 0) AS BIGINT)                             AS views_so_far,
        CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN cents
                               ELSE 0 END) OVER w, 0) AS BIGINT)
                                                              AS revenue_so_far_cents,
        CAST(es - lag(es) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id NULLS LAST)
             AS DOUBLE)                                       AS secs_since_prev
    FROM ordered
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id NULLS LAST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id,
       clicks_so_far, views_so_far, revenue_so_far_cents,
       secs_since_prev,
       cents AS label_value_cents
FROM feat
WHERE event_type = 'purchase'
ORDER BY user_id, event_id
""",
)
def q_pit_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature assembly — the feature-store training-set
    export (Feast/Tecton shape, generalizing `leakage_safe_labels`' single
    global cutoff): every purchase becomes a training example whose
    features are computed as-of STRICTLY BEFORE its own event time for
    the same user — prior click/view counts, prior purchase revenue, and
    recency — so no example can see its own label or its future.  The
    per-example cutoff is what a global-split builder cannot express and
    what makes backfills leak when done naively.

    Exactness: the 1-PRECEDING frame boundary IS the leakage guard (the
    current row never feeds its own features); order is the total
    (ts, event_id); all features are exact integers (cents, counts,
    whole-second recency — per-row floored epochs, the
    `lateness_watermark_profile` discipline).

    Scale: ONE shuffle on user_id serves all four windows (same partition
    + order), each a streaming frame — no self-joins, no per-example scan.
    At 100 TB this is the canonical "assemble features along the entity
    timeline in one pass" plan, and adding features = adding aggregates to
    the same window."""
    events = load_table(spark, "events", sf_dir).where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    ordered = events.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.unix_timestamp("ts").alias("es"),
        cents(F.coalesce(F.col("value"), F.lit(0.0))).alias("cents"),
    )
    # NULLS LAST on the event_id tiebreak in BOTH engines: Spark's default
    # ASC is NULLS FIRST, DuckDB's is NULLS LAST, and a NULL-event_id row
    # tied on ts flips cumulative features between engines otherwise (same
    # cross-engine trap deletion_vector_scan pins explicitly)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lag_w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    feat = ordered.select(
        "user_id",
        "event_id",
        "event_type",
        F.coalesce(
            F.sum((F.col("event_type") == "click").cast("long")).over(w), F.lit(0)
        ).alias("clicks_so_far"),
        F.coalesce(
            F.sum((F.col("event_type") == "view").cast("long")).over(w), F.lit(0)
        ).alias("views_so_far"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(
                    0
                )
            ).over(w),
            F.lit(0),
        ).alias("revenue_so_far_cents"),
        # double: NULL on each user's first event — nullable-integral
        # outputs are representation-unstable through pandas (see oracle)
        (F.col("es") - F.lag("es").over(lag_w))
        .cast("double")
        .alias("secs_since_prev"),
        F.col("cents").alias("label_value_cents"),
    )
    return (
        feat.where(F.col("event_type") == "purchase")
        .drop("event_type")
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# Decontamination threshold sweep: the policy tuning curve
# --------------------------------------------------------------------------

_DECON_SWEEP_MAX = 4


@query(
    "decontam_threshold_sweep",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
    SELECT doc_id, md5(array_to_string(t[i:i+{_NGRAM - 1}], ' ')) AS g
    FROM toks, LATERAL unnest(generate_series(1, len(t) - {_NGRAM - 1})) AS u(i)
    WHERE len(t) >= {_NGRAM}
), bench AS (
    SELECT DISTINCT g FROM grams WHERE doc_id % {_BENCH_MOD} = 0
), hits AS (
    SELECT grams.doc_id, count(DISTINCT grams.g) AS n_shared
    FROM grams JOIN bench USING (g)
    WHERE grams.doc_id % {_BENCH_MOD} <> 0
    GROUP BY grams.doc_id
), pool AS (
    SELECT count(DISTINCT doc_id) AS n_train
    FROM grams WHERE doc_id % {_BENCH_MOD} <> 0
)
SELECT
    t.k                                                  AS min_shared_ngrams,
    CAST(count(h.doc_id) AS BIGINT)                      AS n_flagged,
    CAST(p.n_train AS BIGINT)                            AS n_train_docs,
    CAST(count(h.doc_id) * 1000000 // p.n_train AS BIGINT)
                                                         AS flagged_share_x1e6
FROM (SELECT unnest(generate_series(1, {_DECON_SWEEP_MAX})) AS k) t
CROSS JOIN pool p
LEFT JOIN hits h ON h.n_shared >= t.k
GROUP BY t.k, p.n_train
ORDER BY t.k
""",
)
def q_decontam_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination POLICY tuning curve — `benchmark_decontam` flags at
    "any shared {_NGRAM}-gram"; this sweep reports how many training
    documents each stricter threshold (>= k distinct leaked n-grams,
    k = 1..{_DECON_SWEEP_MAX}) would remove, and the corpus share lost —
    the precision/recall style curve (`lsh_recall_audit` genre) a data
    lead reads before choosing the cutoff, because over-aggressive
    decontamination silently deletes legitimately-common phrases along
    with true leaks.

    Exact integers end to end (counts and a x1e6 fixed-point share).
    Scale: the contamination hit relation is computed ONCE (the broadcast
    n-gram join `benchmark_decontam` uses); the sweep is a
    {_DECON_SWEEP_MAX}-row threshold grid joined against the per-doc hit
    counts — adding thresholds costs nothing corpus-sized."""
    toks = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    grams = _ngram_hash_explode(toks)
    bench = grams.where(F.col("doc_id") % _BENCH_MOD == 0).select("g").distinct()
    train_grams = grams.where(F.col("doc_id") % _BENCH_MOD != 0)
    hits = (
        train_grams.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_shared"))
    )
    pool = train_grams.agg(
        F.count_distinct("doc_id").alias("n_train")
    )
    thresholds = spark.range(1, _DECON_SWEEP_MAX + 1).select(
        F.col("id").cast("long").alias("min_shared_ngrams")
    )
    swept = (
        scalar_join(thresholds, pool)
        .join(
            hits,
            hits.n_shared >= F.col("min_shared_ngrams"),
            "left",
        )
        .groupBy("min_shared_ngrams", "n_train")
        .agg(F.count("doc_id").alias("n_flagged"))
    )
    return swept.select(
        "min_shared_ngrams",
        F.col("n_flagged").cast("long").alias("n_flagged"),
        F.col("n_train").cast("long").alias("n_train_docs"),
        F.expr("(n_flagged * 1000000) div n_train").alias("flagged_share_x1e6"),
    ).orderBy("min_shared_ngrams")


# --------------------------------------------------------------------------
# Packing-budget sweep: the context-length policy tuning curve
# --------------------------------------------------------------------------

_PACK_SWEEP_BUDGETS = (128, 256, 512, 1024)


@query(
    "packing_efficiency_sweep",
    oracle=f"""
WITH sized AS (
    SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
    FROM documents WHERE doc_id IS NOT NULL
), th AS (
    SELECT unnest([{", ".join(str(b) for b in _PACK_SWEEP_BUDGETS)}]) AS budget
), binned AS (
    SELECT th.budget, s.lang, s.n_tokens,
        (sum(s.n_tokens) OVER (
            PARTITION BY th.budget, s.lang ORDER BY s.doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) - s.n_tokens) // th.budget AS bin_id
    FROM sized s CROSS JOIN th
), bins AS (
    SELECT budget, lang, bin_id,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM binned GROUP BY 1, 2, 3
)
SELECT
    CAST(budget AS INT)                        AS budget,
    CAST(count(*) AS BIGINT)                   AS n_bins,
    CAST(sum(bin_tokens) AS BIGINT)            AS total_tokens,
    CAST(sum(CASE WHEN bin_tokens > budget THEN 1 ELSE 0 END) AS BIGINT)
                                               AS n_overfull_bins,
    CAST(sum(bin_tokens) * 1000000 // (count(*) * budget) AS BIGINT)
                                               AS fill_x1e6
FROM bins
GROUP BY budget
ORDER BY budget
""",
)
def q_packing_efficiency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length POLICY tuning curve — `sequence_packing`'s sweep
    sibling: the same deterministic cumulative-sum packer is priced at four
    token budgets ({", ".join(str(b) for b in _PACK_SWEEP_BUDGETS)}), reporting bins
    produced, aggregate fill, and how many bins a boundary-straddling doc
    overflows — the table that decides a training run's sequence length
    (small budgets waste capacity on fragmentation, large budgets waste it
    on the final partial bin per stream and inflate attention cost).

    Exactness: all-integer outputs — ``fill_x1e6`` is an exact scaled
    integer division and the overfull test compares exact token sums, so no
    float appears in the hashed relation.  NULL ``doc_id`` rows are excluded
    on BOTH engines before the cumulative window: the packer orders by
    ``doc_id`` and Spark's ASC default is NULLS FIRST while DuckDB's is
    NULLS LAST, so an unfiltered NULL-id doc would shift every later row's
    running sum and change bin assignment between engines (r7 ADVICE #1).

    Scale: the budget grid is a 4-row broadcast (`bounded_cross_join` — a
    constant-key broadcast hash join, not a CartesianProduct), so the doc
    relation is scanned once and expanded 4x into ONE window shuffle
    partitioned by (budget, lang) — same single-shuffle shape as
    `sequence_packing`, with the same shard-the-partition-key move at
    100 TB.  The per-bin and per-budget rollups are hash aggregates over
    bin grain (corpus_tokens/budget rows) and 4 rows respectively."""
    from e_commerce_streaming_datapipeline_spark.functions.scalars import bounded_cross_join

    sized = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id").isNotNull())
        .select(
            "doc_id", "lang", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
        )
    )
    th = spark.range(1).select(
        F.explode(F.array(*[F.lit(b) for b in _PACK_SWEEP_BUDGETS])).alias("budget")
    )
    w = Window.partitionBy("budget", "lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    binned = bounded_cross_join(sized, th).select(
        "budget",
        "lang",
        "n_tokens",
        ((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.col("budget"))
        .cast("long")
        .alias("bin_id"),
    )
    bins = binned.groupBy("budget", "lang", "bin_id").agg(
        F.sum("n_tokens").cast("long").alias("bin_tokens")
    )
    return (
        bins.groupBy("budget")
        .agg(
            F.count("*").cast("long").alias("n_bins"),
            F.sum("bin_tokens").cast("long").alias("total_tokens"),
            F.sum(
                F.when(F.col("bin_tokens") > F.col("budget"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_overfull_bins"),
            F.expr(
                "(sum(bin_tokens) * 1000000) div (count(*) * any_value(budget))"
            ).alias("fill_x1e6"),
        )
        .select(
            F.col("budget").cast("int").alias("budget"),
            "n_bins",
            "total_tokens",
            "n_overfull_bins",
            "fill_x1e6",
        )
        .orderBy("budget")
    )


# --------------------------------------------------------------------------
# Cross-source leakage matrix: which sources share content with which
# --------------------------------------------------------------------------


@query(
    "cross_source_leakage_matrix",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    WHERE source IS NOT NULL
), grams AS (
    SELECT DISTINCT source,
           md5(array_to_string(t[i:i+{_NGRAM - 1}], ' ')) AS g
    FROM toks, LATERAL unnest(generate_series(1, len(t) - {_NGRAM - 1})) AS u(i)
    WHERE len(t) >= {_NGRAM}
), sizes AS (
    SELECT source, count(*) AS n_grams FROM grams GROUP BY 1
), shared AS (
    SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
    FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
    GROUP BY 1, 2
)
SELECT
    s.src_a, s.src_b,
    CAST(s.n_shared AS BIGINT) AS n_shared_grams,
    CAST(sa.n_grams AS BIGINT) AS n_grams_a,
    CAST(sb.n_grams AS BIGINT) AS n_grams_b,
    CAST(s.n_shared * 1000000
         // (sa.n_grams + sb.n_grams - s.n_shared) AS BIGINT)
        AS jaccard_x1e6
FROM shared s
JOIN sizes sa ON sa.source = s.src_a
JOIN sizes sb ON sb.source = s.src_b
ORDER BY s.src_a, s.src_b
""",
)
def q_cross_source_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-to-source contamination MATRIX — `benchmark_decontam`
    generalized from "corpus vs one benchmark" to every pair of sources:
    distinct {_NGRAM}-gram sets per source, pairwise overlap counts and
    exact scaled Jaccard.  This is the governance table a training-data
    owner reads to find mirror sites, syndicated feeds, and scraped
    re-posts BETWEEN ingest sources before they inflate dedup pressure
    downstream — per-pair numbers name which source pair to investigate.

    Exactness: counts and an exact integer-scaled Jaccard
    (``shared*1e6 div union``) — no floats in the hashed relation.  NULL
    source is excluded explicitly on both engines (a NULL source cannot be
    investigated).

    Scale: the gram relation is reduced to DISTINCT (source, gram) first —
    one hash aggregate — so the self-join on gram expands each gram by at
    most (#sources per gram choose 2) <= (20 choose 2), never by document
    frequency; the output is bounded by the source-pair grid.  At 100 TB
    add a gram-df cap (drop grams present in ALL sources — they carry no
    pair signal) to bound the hot-gram expansion; at fixture source
    cardinality the expansion is already grid-bounded."""
    toks = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("source").isNotNull())
        .select("doc_id", "source", F.split(F.col("text"), " ").alias("t"))
    )
    grams = (
        _ngram_hash_explode(toks, "source")
        .select("source", "g")
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count("*").alias("n_grams"))
    a = grams.select(F.col("source").alias("src_a"), "g")
    b = grams.select(F.col("source").alias("src_b"), "g")
    shared = (
        a.join(b, "g")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                     F.col("n_grams").alias("n_grams_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"),
                                     F.col("n_grams").alias("n_grams_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.col("n_shared").cast("long").alias("n_shared_grams"),
            F.col("n_grams_a").cast("long").alias("n_grams_a"),
            F.col("n_grams_b").cast("long").alias("n_grams_b"),
            F.expr(
                "(n_shared * 1000000) div (n_grams_a + n_grams_b - n_shared)"
            ).alias("jaccard_x1e6"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# k-anonymity generalization ladder: coarsen QIs until the release passes
# --------------------------------------------------------------------------

# (level, hour divisor, value-bucket width); level 3 drops the hour QI
_KANON_LADDER = ((0, 1, 100), (1, 4, 100), (2, 4, 500), (3, 24, 500))


def _kanon_ladder_oracle() -> str:
    levels = " UNION ALL ".join(
        f"""SELECT {lvl} AS level, {hd} AS hour_div, {vw} AS value_width,
        event_type AS qi_event_type,
        CAST(extract(hour FROM ts) AS INTEGER) // {hd} AS qi_hour_bucket,
        CAST(floor(coalesce(value, 0) / {vw}) AS BIGINT) AS qi_value_bucket,
        user_id
    FROM events"""
        for lvl, hd, vw in _KANON_LADDER
    )
    return f"""
WITH leveled AS ({levels}),
cells AS (
    SELECT level, any_value(hour_div) AS hour_div,
           any_value(value_width) AS value_width,
           qi_event_type, qi_hour_bucket, qi_value_bucket,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_rows
    FROM leveled
    GROUP BY level, qi_event_type, qi_hour_bucket, qi_value_bucket
)
SELECT
    CAST(level AS INT)                       AS level,
    CAST(any_value(hour_div) AS INT)         AS hour_div,
    CAST(any_value(value_width) AS INT)      AS value_width,
    CAST(count(*) AS BIGINT)                 AS n_cells,
    CAST(sum(CASE WHEN n_users < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
                                             AS n_violating_cells,
    CAST(sum(CASE WHEN n_users < {_KANON_K} THEN n_rows ELSE 0 END) AS BIGINT)
                                             AS n_rows_at_risk,
    CAST(min(n_users) AS BIGINT)             AS k_achieved
FROM cells
GROUP BY level
ORDER BY level
"""


@query("kanon_generalization_ladder", oracle=_kanon_ladder_oracle())
def q_kanon_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity GENERALIZATION ladder — `k_anonymity_audit` lists the
    violating cells at one QI resolution; this ladder prices the standard
    remediation (coarsen the quasi-identifiers) level by level: hour →
    4-hour block → wider value buckets → drop the hour QI entirely.  Per
    level: cell count, violating cells, rows sitting in violating cells,
    and the k actually achieved (min distinct users per cell) — the first
    level with ``k_achieved >= {_KANON_K}`` is the cheapest release that
    passes, and ``n_cells`` quantifies the utility lost to get there.

    Scale: each level is one hash aggregation over its QI grid; the four
    levels share one scan via the unioned level expansion (4x map-side
    expansion, no joins), and every per-level rollup runs on cell grain —
    grid-bounded, never row-bounded.  count(DISTINCT user_id) per cell is
    the one per-cell distinct; at 100 TB swap it for a per-cell HLL sketch
    when the audit can tolerate approximation (`approx_unique_users_hourly`
    shows the bracket-test pattern)."""
    events = load_table(spark, "events", sf_dir)
    leveled = None
    for lvl, hd, vw in _KANON_LADDER:
        part = events.select(
            F.lit(lvl).alias("level"),
            F.lit(hd).alias("hour_div"),
            F.lit(vw).alias("value_width"),
            F.col("event_type").alias("qi_event_type"),
            (F.hour("ts") / hd).cast("int").alias("qi_hour_bucket"),
            F.floor(F.coalesce(F.col("value"), F.lit(0.0)) / vw).alias(
                "qi_value_bucket"
            ),
            "user_id",
        )
        leveled = part if leveled is None else leveled.unionByName(part)
    cells = leveled.groupBy(
        "level", "qi_event_type", "qi_hour_bucket", "qi_value_bucket"
    ).agg(
        F.any_value("hour_div").alias("hour_div"),
        F.any_value("value_width").alias("value_width"),
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_rows"),
    )
    return (
        cells.groupBy("level")
        .agg(
            F.any_value("hour_div").cast("int").alias("hour_div"),
            F.any_value("value_width").cast("int").alias("value_width"),
            F.count("*").cast("long").alias("n_cells"),
            F.sum(F.when(F.col("n_users") < _KANON_K, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_cells"),
            F.sum(F.when(F.col("n_users") < _KANON_K, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("n_rows_at_risk"),
            F.min("n_users").cast("long").alias("k_achieved"),
        )
        .select(
            F.col("level").cast("int").alias("level"),
            "hour_div", "value_width", "n_cells",
            "n_violating_cells", "n_rows_at_risk", "k_achieved",
        )
        .orderBy("level")
    )


# --------------------------------------------------------------------------
# Group-aware k-fold: leakage-safe folds keyed on the ENTITY, not the row
# --------------------------------------------------------------------------


@query(
    "group_kfold_assignment",
    oracle=f"""
WITH folded AS (
    SELECT {hash_bucket_sql("user_id", _KFOLDS)} AS fold,
           user_id, event_type, coalesce(value, 0.0) AS value
    FROM events WHERE user_id IS NOT NULL
), per_user AS (
    SELECT user_id, count(DISTINCT fold) AS n_folds FROM folded GROUP BY 1
), audit AS (
    SELECT max(n_folds) AS max_folds_per_user FROM per_user
)
SELECT
    f.fold,
    CAST(count(DISTINCT f.user_id) AS BIGINT)  AS n_users,
    CAST(count(*) AS BIGINT)                   AS n_events,
    CAST(count_if(f.event_type = 'purchase') AS BIGINT) AS n_purchases,
    CAST(sum(CAST(round(f.value * 100) AS BIGINT)) AS DOUBLE) / 100
                                               AS fold_value,
    CAST(any_value(a.max_folds_per_user) AS BIGINT) AS max_folds_per_user
FROM folded f, audit a
GROUP BY 1
ORDER BY 1
""",
)
def q_group_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware k-fold assignment — the leakage-safe sibling of
    `kfold_assignment`: folds are keyed on the USER (the entity whose
    behavior the model must generalize to), so every row of a user lands
    in the same fold and no user's history straddles train and eval — the
    cross-validation hygiene row-level folds silently violate whenever an
    entity has multiple rows (its eval rows leak through its train rows).
    Output: per-fold user/event/purchase balance plus the leakage audit
    itself (``max_folds_per_user`` — 1 by construction, and PROVEN in the
    hashed result rather than assumed).

    Same determinism contract as the row-level sibling: the multiplicative
    hash is stable under append and engine-independent.  Scale shape: one
    fact scan into a fold-grain hash aggregate (the exact-distinct user
    count is per-fold, never global), plus a user-grain aggregate for the
    audit — both map-side-combinable; the audit scalar joins back as a
    broadcast.  NULL users belong to no entity and are excluded on both
    engines."""
    folded = (
        load_table(spark, "events", sf_dir)
        .where(F.col("user_id").isNotNull())
        .select(
            hash_bucket(F.col("user_id"), _KFOLDS).alias("fold"),
            "user_id",
            "event_type",
            F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
        )
    )
    audit = (
        folded.groupBy("user_id")
        .agg(F.count_distinct("fold").alias("n_folds"))
        .agg(F.max("n_folds").alias("max_folds_per_user"))
    )
    per_fold = folded.groupBy("fold").agg(
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
        (cents_sum(F.col("value")).cast("double") / 100).alias("fold_value"),
    )
    return (
        scalar_join(per_fold, audit)
        .select(
            "fold",
            "n_users",
            "n_events",
            "n_purchases",
            "fold_value",
            F.col("max_folds_per_user").cast("long").alias("max_folds_per_user"),
        )
        .orderBy("fold")
    )


# --------------------------------------------------------------------------
# DSAR access export: the GDPR right-of-access bundle per requesting user
# --------------------------------------------------------------------------

_DSAR_REQUESTS = 10


@query(
    "dsar_access_export",
    oracle=f"""
WITH requests AS (
    SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
    ORDER BY user_id LIMIT {_DSAR_REQUESTS}
)
SELECT
    e.user_id,
    CAST(count(*) AS BIGINT)                          AS n_events,
    min(e.ts)                                         AS first_ts,
    max(e.ts)                                         AS last_ts,
    CAST(count_if(e.event_type = 'view') AS BIGINT)     AS n_views,
    CAST(count_if(e.event_type = 'click') AS BIGINT)    AS n_clicks,
    CAST(count_if(e.event_type = 'purchase') AS BIGINT) AS n_purchases,
    CAST(sum(CASE WHEN e.event_type = 'purchase'
             THEN CAST(round(coalesce(e.value, 0.0) * 100) AS BIGINT)
             ELSE 0 END) AS DOUBLE) / 100             AS total_purchase_value,
    CAST(count_if(e.props IS NOT NULL) AS BIGINT)       AS n_with_payload
FROM events e JOIN requests r USING (user_id)
GROUP BY 1
ORDER BY 1
""",
)
def q_dsar_access_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSAR ACCESS export — `user_erasure`'s read-side sibling completing
    the GDPR pair: for each requesting data subject (a deterministic
    {_DSAR_REQUESTS}-user request set — in production the requests table),
    ONE summary row of everything the platform holds: event volume,
    first/last activity, the per-category breakdown, exact purchase
    totals, and how many records carry a payload.  This is the bundle a
    privacy officer ships for an Article-15 request, derived with one
    pass rather than ad-hoc per-user queries.

    Plan shape: the request set is tiny and BROADCAST into a semi-style
    inner join, so the fact scan prunes to requested users map-side
    (at 100 TB with a user-bucketed layout this is a metadata-pruned
    read, not a scan); one hash aggregate at user grain produces the
    bundles.  Cents discipline on the money column; NULL-user rows
    belong to no data subject and are excluded on both engines."""
    events = load_table(spark, "events", sf_dir).where(
        F.col("user_id").isNotNull()
    )
    requests = (
        events.select("user_id")
        .distinct()
        .orderBy("user_id")
        .limit(_DSAR_REQUESTS)
    )
    return (
        events.join(F.broadcast(requests), "user_id")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("n_views"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("n_clicks"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases"),
            (
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        cents(F.coalesce(F.col("value"), F.lit(0.0))),
                    ).otherwise(0)
                ).cast("double")
                / 100
            ).alias("total_purchase_value"),
            F.sum(F.when(F.col("props").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_with_payload"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Purged time-series cross-validation folds (embargoed walk-forward splits)
# --------------------------------------------------------------------------

_PURGE_K = 5       # contiguous time folds
_PURGE_EMBARGO = 3  # days removed from training on EACH side of a test span


@query(
    "purged_timeseries_folds",
    oracle=f"""
WITH days AS (
    SELECT
        datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE))
            AS day_num,
        CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(coalesce(value, 0.0) * 100) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS rev_cents
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1
),
bounds AS (
    SELECT min(day_num) AS lo, max(day_num) - min(day_num) + 1 AS span
    FROM days
),
tagged AS (
    SELECT d.*, CAST(((d.day_num - b.lo) * {_PURGE_K}) // b.span AS BIGINT)
        AS fold
    FROM days d, bounds b
),
spans AS (
    SELECT fold, min(day_num) AS test_lo, max(day_num) AS test_hi
    FROM tagged GROUP BY fold
),
classified AS (
    SELECT
        s.fold,
        s.test_lo,
        s.test_hi,
        d.day_num,
        d.n_events,
        d.rev_cents,
        CASE
            WHEN d.day_num BETWEEN s.test_lo AND s.test_hi THEN 'test'
            WHEN d.day_num BETWEEN s.test_lo - {_PURGE_EMBARGO}
                               AND s.test_hi + {_PURGE_EMBARGO} THEN 'embargo'
            ELSE 'train'
        END AS role,
        CASE WHEN d.day_num < s.test_lo THEN s.test_lo - d.day_num
             ELSE d.day_num - s.test_hi END AS gap
    FROM spans s JOIN days d ON TRUE
)
SELECT
    CAST(fold AS BIGINT)                                  AS fold,
    CAST(min(test_lo) AS BIGINT)                          AS test_lo_day,
    CAST(min(test_hi) AS BIGINT)                          AS test_hi_day,
    CAST(count_if(role = 'test') AS BIGINT)               AS n_test_days,
    CAST(count_if(role = 'embargo') AS BIGINT)            AS n_embargo_days,
    CAST(count_if(role = 'train') AS BIGINT)              AS n_train_days,
    CAST(sum(CASE WHEN role = 'test' THEN n_events ELSE 0 END)
         AS BIGINT)                                       AS n_test_events,
    CAST(sum(CASE WHEN role = 'train' THEN n_events ELSE 0 END)
         AS BIGINT)                                       AS n_train_events,
    CAST(sum(CASE WHEN role = 'test' THEN rev_cents ELSE 0 END)
         AS DOUBLE) / 100                                 AS test_revenue,
    CAST(sum(CASE WHEN role = 'train' THEN rev_cents ELSE 0 END)
         AS DOUBLE) / 100                                 AS train_revenue,
    CAST(min(CASE WHEN role = 'train' THEN gap END) AS BIGINT)
                                                          AS min_train_gap_days
FROM classified
GROUP BY fold
ORDER BY fold
""",
)
def q_purged_timeseries_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged K-fold time-series cross-validation with an embargo (the
    financial-ML walk-forward discipline, e.g. Lopez de Prado's purged
    k-fold, public): the event history is cut into {_PURGE_K} contiguous
    test spans by day; for each fold, training days within
    {_PURGE_EMBARGO} days of the test span on EITHER side are embargoed so
    serially-correlated labels (multi-day conversion windows, rolling
    features) cannot leak across the cut.  Completes the leakage-safety
    family: `leakage_safe_labels` is one temporal cut, `group_kfold_assignment`
    keys folds by entity — this one makes REPEATED temporal evaluation safe.
    The audit is in the result: `min_train_gap_days` is the smallest
    distance from any train day to the fold's test span and must exceed
    the embargo (pinned in tests; > {_PURGE_EMBARGO} by construction).

    Plan shape: ONE fact scan → day-grain hash aggregate (the only
    data-proportional shuffle; day relation is calendar-bounded, ~3.7k rows
    per decade regardless of data size); fold bounds attach via
    `scalar_join` (broadcast 1-row min/span); the day×fold classification
    is a bounded ×{_PURGE_K} explode of the calendar-bounded day relation
    followed by a broadcast HASH equi-join on fold (never a nested loop,
    never a blow-up of the fact table).  All arithmetic is exact integer
    day/cent math; fold assignment `(day - lo) * K div span` uses integer
    division on both engines (Spark `div` ≡ DuckDB `//` — a double
    division + CAST would round on DuckDB but truncate on Spark)."""
    days = (
        load_table(spark, "events", sf_dir)
        .where(F.col("ts").isNotNull())
        .groupBy(
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("day_num")
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    cents(F.coalesce(F.col("value"), F.lit(0.0))),
                ).otherwise(0)
            )
            .cast("long")
            .alias("rev_cents"),
        )
    )
    bounds = days.agg(
        F.min("day_num").alias("lo"),
        (F.max("day_num") - F.min("day_num") + 1).alias("span"),
    )
    tagged = scalar_join(days, bounds).withColumn(
        "fold",
        F.expr(f"(day_num - lo) * {_PURGE_K} div span").cast("long"),
    )
    spans = tagged.groupBy("fold").agg(
        F.min("day_num").alias("test_lo"), F.max("day_num").alias("test_hi")
    )
    fold_grid = days.withColumn(
        "fold",
        F.explode(F.array(*[F.lit(i).cast("long") for i in range(_PURGE_K)])),
    )
    classified = fold_grid.join(F.broadcast(spans), "fold").select(
        "fold",
        "test_lo",
        "test_hi",
        "day_num",
        "n_events",
        "rev_cents",
        F.when(
            F.col("day_num").between(F.col("test_lo"), F.col("test_hi")),
            "test",
        )
        .when(
            F.col("day_num").between(
                F.col("test_lo") - _PURGE_EMBARGO,
                F.col("test_hi") + _PURGE_EMBARGO,
            ),
            "embargo",
        )
        .otherwise("train")
        .alias("role"),
        F.when(
            F.col("day_num") < F.col("test_lo"),
            F.col("test_lo") - F.col("day_num"),
        )
        .otherwise(F.col("day_num") - F.col("test_hi"))
        .alias("gap"),
    )
    return (
        classified.groupBy("fold")
        .agg(
            F.min("test_lo").cast("long").alias("test_lo_day"),
            F.min("test_hi").cast("long").alias("test_hi_day"),
            F.sum(F.when(F.col("role") == "test", 1).otherwise(0))
            .cast("long")
            .alias("n_test_days"),
            F.sum(F.when(F.col("role") == "embargo", 1).otherwise(0))
            .cast("long")
            .alias("n_embargo_days"),
            F.sum(F.when(F.col("role") == "train", 1).otherwise(0))
            .cast("long")
            .alias("n_train_days"),
            F.sum(F.when(F.col("role") == "test", F.col("n_events")).otherwise(0))
            .cast("long")
            .alias("n_test_events"),
            F.sum(
                F.when(F.col("role") == "train", F.col("n_events")).otherwise(0)
            )
            .cast("long")
            .alias("n_train_events"),
            (
                F.sum(
                    F.when(F.col("role") == "test", F.col("rev_cents")).otherwise(
                        0
                    )
                ).cast("double")
                / 100
            ).alias("test_revenue"),
            (
                F.sum(
                    F.when(
                        F.col("role") == "train", F.col("rev_cents")
                    ).otherwise(0)
                ).cast("double")
                / 100
            ).alias("train_revenue"),
            F.min(F.when(F.col("role") == "train", F.col("gap")))
            .cast("long")
            .alias("min_train_gap_days"),
        )
        .withColumn("fold", F.col("fold").cast("long"))
        .select(
            "fold", "test_lo_day", "test_hi_day", "n_test_days",
            "n_embargo_days", "n_train_days", "n_test_events",
            "n_train_events", "test_revenue", "train_revenue",
            "min_train_gap_days",
        )
        .orderBy("fold")
    )
