"""Deterministic sampling and compression operators for training-data
pipelines.

A 100-TB corpus is rarely consumed whole: pipelines carve stratified samples
(per-language quotas), per-group exemplars, and quantized embedding columns.
None of this exists in the reference (its only sampling is `show(5)` in the
console sink, ``src/sinks/metrics_sink.py:24-26``); these are the BASELINE
scale-up operators.

Determinism discipline: Spark's ``sample``/``sampleBy`` are seeded RNGs whose
draws can't be reproduced by another engine, so every sampler here derives its
"randomness" from a multiplicative integer hash of the row key (Knuth's
2654435761 mod 2^32) — plain 64-bit arithmetic that DuckDB evaluates
bit-identically, keeping every query hash-checkable.  Statistically this is a
fixed permutation of keys: uniform for synthetic sequential ids and
well-mixed for anything without adversarial structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.hashing import (
    MOD as _MOD,
    hash32,
    hash32_sql,
    hash_bucket,
    hash_bucket_sql,
)
from e_commerce_streaming_datapipeline_spark.functions.rounding import cents, fround
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import (
    VALID_EMBEDDINGS_SQL,
    load_table,
    load_valid_embeddings,
)

@query(
    "stratified_doc_sample",
    oracle=f"""
WITH sampled AS (
    SELECT *,
        {hash_bucket_sql("doc_id", 100)} AS bucket,
        CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30 ELSE 20 END AS pct
    FROM documents
)
SELECT
    lang,
    count(*)                            AS sampled_docs,
    round(avg(n_chars) * 100) / 100     AS avg_chars
FROM sampled WHERE bucket < pct
GROUP BY 1
""",
)
def q_stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-language quotas (50% en / 30% de /
    20% rest) via the deterministic hash bucket — the reproducible
    train-set carve-out.

    The filter is a pure row-local predicate: no shuffle, no RNG state,
    full predicate pushdown past it for any conjunct, and re-running on a
    re-partitioned or incrementally-grown corpus keeps previously-selected
    rows selected (stable under append — the property seeded ``sampleBy``
    lacks across partition layouts)."""
    docs = load_table(spark, "documents", sf_dir)
    pct = (
        F.when(F.col("lang") == "en", 50).when(F.col("lang") == "de", 30).otherwise(20)
    )
    sampled = docs.where(hash_bucket(F.col("doc_id"), 100) < pct)
    return sampled.groupBy("lang").agg(
        F.count("*").alias("sampled_docs"),
        fround(F.avg("n_chars"), 2).alias("avg_chars"),
    )


@query(
    "group_sample_topk",
    oracle=f"""
SELECT lang, doc_id, n_chars, rn
FROM (
    SELECT lang, doc_id, n_chars,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY {hash32_sql("doc_id")}, doc_id
           ) AS rn
    FROM documents WHERE doc_id IS NOT NULL
)
WHERE rn <= 5
""",
)
def q_group_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exemplar sample: 5 pseudo-random docs per language, chosen
    by hash order — the bounded substitute for per-group reservoir sampling.

    ``row_number() <= k`` plans as a partial WindowGroupLimit: each map task
    forwards at most k rows per group into the shuffle, so cost is bounded by
    k × #tasks × #groups however large the corpus — the same plan shape the
    dropoff sample uses (operators/dropoff.py).

    NULL ``doc_id`` rows are excluded on BOTH engines: the hash order is
    keyed on doc_id, and a NULL key would sort NULLS FIRST in Spark but
    NULLS LAST in DuckDB, displacing a real exemplar (r8 edge pin)."""
    docs = load_table(spark, "documents", sf_dir).where(
        F.col("doc_id").isNotNull()
    )
    w = Window.partitionBy("lang").orderBy(
        hash32(F.col("doc_id")), F.col("doc_id")
    )
    return (
        docs.select("lang", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
    )


@query(
    "embedding_quantize",
    oracle=f"""
WITH scaled AS (
    SELECT vec_id,
           127.0 / greatest(list_max(list_transform(embedding, x -> abs(x))), 1e-12)
               AS scale
    FROM {VALID_EMBEDDINGS_SQL} embeddings
)
SELECT
    e.vec_id,
    round(s.scale * 10000) / 10000 AS scale_4dp,
    array_to_string(
        list_transform(e.embedding, x -> CAST(round(x * s.scale) AS INTEGER)), ','
    ) AS qvec
FROM {VALID_EMBEDDINGS_SQL} e JOIN scaled s ON e.vec_id = s.vec_id
""",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    absmax scale, elements mapped to round(x·127/absmax) — 4× smaller at
    rest, and the form ANN kernels consume.

    All higher-order array functions (``transform``/``array_max``) — stays
    inside whole-stage codegen, no UDF, no shuffle; each row is independent
    so the operator scales embarrassingly.  The scale is reported at 4dp
    (display only); quantized values use the full-precision scale on both
    engines with identical double arithmetic.  The int8 vector is emitted as
    a comma-joined string (exact integer text, bit-identical cross-engine):
    ArrayType output columns are unhashable by pandas-based result
    canonicalizers, so every registered query keeps scalar output columns."""
    emb = load_valid_embeddings(spark, sf_dir)
    absmax = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x)))
    scale = 127.0 / F.greatest(absmax.cast("double"), F.lit(1e-12))
    return emb.select(
        "vec_id",
        fround(scale, 4).alias("scale_4dp"),
        F.concat_ws(
            ",",
            F.transform(
                F.col("embedding"), lambda x: F.round(x * scale).cast("int").cast("string")
            ),
        ).alias("qvec"),
    )


_WEIGHTED_K = 50


@query(
    "weighted_doc_sample",
    oracle=f"""
WITH keyed AS (
    SELECT doc_id, lang, n_chars,
        round(
            ln(({hash32_sql("doc_id")} + 0.5) / 4294967296.0)
            / n_chars, 9
        ) AS wkey
    FROM documents
)
SELECT doc_id, lang, n_chars, wkey, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (ORDER BY wkey DESC, doc_id) AS rn FROM keyed
)
WHERE rn <= {_WEIGHTED_K}
""",
)
def q_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    exponential-key trick (one pass, top-k): each doc draws a deterministic
    uniform u from the Knuth hash of its id and ranks by ln(u)/weight —
    equivalent to ranking by u^(1/w), so inclusion probability is
    proportional to weight (here n_chars: longer docs sampled more, the
    length-weighted corpus carve-out).

    Why this shape at 100 TB: weighted reservoir sampling is sequential
    driver state, but the ES key decomposes it into a pure row-local
    projection + a global top-k, which Spark plans as per-partition
    TakeOrdered + a k-row merge — no shuffle of the corpus, no RNG state,
    reproducible across engines (the uniform is integer hashing, not an
    engine RNG).  ln(u)/w is the log-domain form of u^(1/w): same order,
    no pow() underflow for huge weights."""
    docs = load_table(spark, "documents", sf_dir)
    u = (hash32(F.col("doc_id")) + F.lit(0.5)) / F.lit(float(_MOD))
    keyed = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        # fround, not F.round: oracle-checked rounded column (cross-engine
        # HALF_UP vs std::round divergence — functions/rounding.py contract)
        fround(F.log(u) / F.col("n_chars"), 9).alias("wkey"),
    )
    w = Window.orderBy(F.col("wkey").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _WEIGHTED_K)
    )


# --------------------------------------------------------------------------
# Neyman (optimal) allocation: variance-proportional stratified sampling
# --------------------------------------------------------------------------

_NEYMAN_BUDGET = 60


@query(
    "neyman_allocation_sample",
    oracle=f"""
WITH strata AS (
    SELECT lang,
           count(*)        AS cnt,
           sum(n_chars)    AS s1,
           sum(n_chars * n_chars) AS s2
    FROM documents
    WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND doc_id IS NOT NULL
    GROUP BY lang
), weighted AS (
    SELECT lang, cnt,
           greatest(CAST(round(
               cnt * sqrt(CAST(cnt * s2 - s1 * s1 AS DOUBLE) / (CAST(cnt AS DOUBLE) * cnt))
               * 100) AS BIGINT), 1) AS w_q
    FROM strata
), alloc0 AS (
    SELECT w.lang, w.cnt, w.w_q,
           ({_NEYMAN_BUDGET} * w.w_q) // t.w_tot AS base,
           ({_NEYMAN_BUDGET} * w.w_q) %  t.w_tot AS rem
    FROM weighted w, (SELECT CAST(sum(w_q) AS BIGINT) AS w_tot FROM weighted) t
), alloc AS (
    SELECT lang, cnt,
           CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS n_h
    FROM (
        SELECT *,
               row_number() OVER (ORDER BY rem DESC, lang) AS rr,
               {_NEYMAN_BUDGET} - sum(base) OVER () AS leftover
        FROM alloc0
    )
)
SELECT d.lang, CAST(a.n_h AS BIGINT) AS stratum_alloc, d.doc_id
FROM (
    SELECT lang, doc_id,
           row_number() OVER (
               PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS rn
    FROM documents
    WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND doc_id IS NOT NULL
) d JOIN alloc a ON a.lang = d.lang
WHERE d.rn <= a.n_h
""",
)
def q_neyman_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN (optimal) allocation stratified sampling: the fixed budget of
    60 docs is split across language strata proportionally to
    N_h·σ_h — strata with more internal variance (here: of doc length) get
    more of the budget, the allocation that minimizes the variance of the
    stratified estimator for a fixed sample size (Neyman 1934).
    `stratified_doc_sample` is the proportional-allocation baseline; this
    is the design a measurement pipeline upgrades to once per-stratum
    variances are known.

    Exactness discipline: stratum variance comes from the integer moments
    (cnt·Σx² − (Σx)²) — exact int64 on this fixture, DECIMAL(38,0) at
    corpus scale per the cents-sum rule — and the only float steps are one
    IEEE-correctly-rounded sqrt and one round-to-int quantization
    (weights → integer centi-units), after which the LARGEST-REMAINDER
    apportionment runs in pure integer arithmetic (base = ⌊B·w/W⌋,
    leftovers to the biggest remainders, ties on lang) — so the ALLOCATION
    sums to exactly the budget and is hash-identical cross-engine with no
    float-summation-order risk.  The REALIZED sample is min(n_h, cnt) per
    stratum: a high-variance tiny stratum can be allocated more docs than
    it has (Neyman's n_h > N_h case), in which case the rn <= n_h filter
    exhausts the stratum and the realized total falls short of the budget
    — visible to consumers because every output row carries
    `stratum_alloc`, so `count(*) < sum-of-allocs` flags exactly the
    exhausted strata.  (Survey practice calls this a "certainty stratum":
    take all N_h and re-allocate the surplus; that re-allocation cascades,
    so it is left to the caller rather than hidden in the query.)  Within
    strata, membership is the md5-ordered deterministic draw shared with
    the sampling family.

    Scale shape: one corpus aggregate (map-side partial moments), all
    allocation logic on the STRATA-sized relation (bounded by #languages —
    the one global window here is over ≤ |langs| rows), then one
    per-stratum top-n_h window (WindowGroupLimit-bounded)."""
    docs = load_table(spark, "documents", sf_dir).where(
        F.col("lang").isNotNull()
        & F.col("n_chars").isNotNull()
        # the population is the SAMPLEABLE docs: a NULL-id doc cannot be
        # drawn (the md5 draw keys on doc_id, and NULL orders differently
        # per engine), so it is out of both the moments and the membership
        & F.col("doc_id").isNotNull()
    )
    strata = docs.groupBy("lang").agg(
        F.count("*").alias("cnt"),
        F.sum("n_chars").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
    )
    var = (F.col("cnt") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "double"
    ) / (F.col("cnt").cast("double") * F.col("cnt"))
    # floor every weight at 1 centi-unit: a zero-variance stratum (all docs
    # the same length — plausible on tiny/synthetic corpora) must degrade
    # toward a uniform share, not divide the apportionment by w_tot = 0
    weighted = strata.select(
        "lang",
        "cnt",
        F.greatest(
            cents(F.col("cnt") * F.sqrt(var)),
            F.lit(1).cast("long"),
        ).alias("w_q"),
    )
    from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join

    tot = weighted.agg(F.sum("w_q").cast("long").alias("w_tot"))
    alloc0 = scalar_join(weighted, tot).select(
        "lang",
        F.expr(f"({_NEYMAN_BUDGET} * w_q) div w_tot").alias("base"),
        F.expr(f"({_NEYMAN_BUDGET} * w_q) % w_tot").alias("rem"),
    )
    w_rank = Window.orderBy(F.col("rem").desc(), "lang")
    leftover = scalar_join(
        alloc0, alloc0.agg((F.lit(_NEYMAN_BUDGET) - F.sum("base")).alias("leftover"))
    )
    alloc = leftover.select(
        "lang",
        (
            F.col("base")
            + F.when(F.row_number().over(w_rank) <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_h"),
    )
    sw = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "lang", "doc_id", F.row_number().over(sw).alias("rn")
    )
    return (
        ranked.join(F.broadcast(alloc), "lang")
        .where(F.col("rn") <= F.col("n_h"))
        .select("lang", F.col("n_h").alias("stratum_alloc"), "doc_id")
    )


# --------------------------------------------------------------------------
# Temperature-scaled source mixture weights (the mT5/XLM-R sampling formula)
# --------------------------------------------------------------------------


@query(
    "temperature_mixture_weights",
    oracle="""
WITH per_source AS (
    SELECT source,
           CAST(count(*) AS BIGINT)                       AS n_docs,
           CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
                AS BIGINT)                                AS n_tokens
    FROM documents
    WHERE text IS NOT NULL AND source IS NOT NULL
    GROUP BY source
), scaled AS (
    SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
                  AS s_x1e6
    FROM per_source
), totals AS (
    SELECT sum(n_tokens) AS tot_tokens, sum(s_x1e6) AS tot_s FROM scaled
)
SELECT
    source, n_docs, n_tokens,
    CAST(n_tokens * 1000000 // totals.tot_tokens AS BIGINT) AS raw_share_x1e6,
    CAST(s_x1e6 * 1000000 // totals.tot_s AS BIGINT)        AS temp_share_x1e6
FROM scaled, totals
ORDER BY source
""",
)
def q_temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights — the multilingual /
    multi-source mixing formula (mT5, XLM-R: p_i ∝ n_i^alpha) at
    alpha = 1/2: upsample small sources, damp head sources, the knob every
    LLM data mixture tunes.  Output per source: raw token share vs the
    temperature share actually sampled at (both in exact 1e-6 fixed
    point) — `source_mixture_sample` is the applied sibling that DRAWS at
    given weights; this query derives the weights.

    alpha = 1/2 is chosen deliberately for cross-engine exactness: n^0.5
    is `sqrt`, the one power IEEE 754 requires CORRECTLY ROUNDED (unlike
    `pow(x, 0.7)`, whose last ulp is libm-private).  The rounded sqrt is
    then fixed to a scaled long BEFORE summing, so the normalizing total
    is an exact integer — no float accumulation order anywhere.

    Scale: one hash-aggregate over the corpus to source grain (map-side
    combinable token counts), then pure arithmetic on the |sources|-row
    relation.  At 100 TB this is the same single pass the dataset profile
    already makes."""
    docs = load_table(spark, "documents", sf_dir).where(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.size(F.filter(F.split("text", " "), lambda w: w != ""))
        ).cast("long").alias("n_tokens"),
    )
    scaled = per_source.withColumn(
        "s_x1e6",
        cents(F.sqrt(F.col("n_tokens").cast("double")), 1_000_000),
    )
    from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join

    totals = scaled.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("s_x1e6").alias("tot_s")
    )
    return (
        scalar_join(scaled, totals)
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("(n_tokens * 1000000) div tot_tokens").alias("raw_share_x1e6"),
            F.expr("(s_x1e6 * 1000000) div tot_s").alias("temp_share_x1e6"),
        )
        .orderBy("source")
    )
