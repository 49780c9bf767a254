"""Lexical + hybrid retrieval over the documents/embeddings tables
(BASELINE.json scale-up mandate, similarity-search family): BM25 scoring —
the lexical ranking a training-data search/curation stack runs next to its
vector index — and reciprocal-rank fusion of the lexical and vector rankers,
the standard hybrid-retrieval combiner.

Scale shape: BM25 is one explode -> filter(term IN query) pushed BELOW the
groupBy (only query-term postings ever shuffle — the inverted-index access
path expressed relationally), document length and corpus totals attach as a
broadcast scalar, and the final top-k is TakeOrdered (orderBy+limit), never
a global single-partition window.  RRF is a full-outer equi-join of two
bounded (top-50) rank lists — driver-sized, broadcast both ways.

Determinism contract (module convention, SURVEY §7 hard-part 2): per-term
BM25 contributions are identical single-expression double math on both
engines, fixed-pointed to micros (scaled long) BEFORE the per-document sum,
so summation order cannot move the 4dp rounding; ranks order by the rounded
score with id tie-breaks.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.rounding import cents, fround
from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join
from e_commerce_streaming_datapipeline_spark.functions.vector import (
    cosine6_sql,
    cosine_similarity_expr,
    to_double_array,
)
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import (
    VALID_EMBEDDING_PRED,
    load_table,
    load_valid_embeddings,
)

# the fixed "search request" of the fixture: three vocabulary terms for the
# lexical leg, embedding vec_id 0 for the vector leg (doc_id == vec_id by
# fixture construction; the query document itself is excluded from results)
QUERY_TERMS = ("join", "stream", "window")
QUERY_VEC_ID = 0
K1 = 1.2
B = 0.75
FUSE_DEPTH = 50  # per-ranker candidate depth entering the fusion
RRF_K = 60


def _bm25_contribs(spark: SparkSession, sf_dir: str, terms: tuple[str, ...]) -> DataFrame:
    """Each of ``terms``' BM25 contribution to each document that holds it,
    in micros, as ``(term, doc_id, c)``.  SQL twin: ``_bm25_contribs_sql``.

    The term filter sits directly on the exploded postings — only rows for
    the query terms survive into the (doc_id, term) aggregation, so the
    shuffled volume is the query's posting lists, not the corpus (at 100 TB:
    the same access pattern an inverted index serves, expressed as
    filter-then-aggregate so Catalyst pushes the IN down to the scan side).
    Document frequency re-aggregates the tf relation (exchange reuse on
    term); corpus totals (N, avgdl) attach via a 1-row broadcast hash join.
    """
    docs = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    dl = docs.select("doc_id", F.size(toks).alias("dl"))
    totals = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .where(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    joined = scalar_join(
        tf.join(F.broadcast(df), "term").join(dl, "doc_id"), totals
    )
    idf = F.log(
        F.lit(1) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("tf") * F.lit(K1 + 1)) / (
        F.col("tf") + F.lit(K1) * (F.lit(1 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
    )
    # fixed-point micros BEFORE any sum: per-term math is one identical IEEE
    # expression on both engines; the integer sum is order-independent
    return joined.select("term", "doc_id", cents(idf * tfn, 1000000).alias("c"))


def _bm25_contribs_sql(terms: tuple[str, ...]) -> str:
    """``_bm25_contribs`` as a DuckDB CTE chain ending in ``contrib``."""
    return f"""dl AS (
    SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
), totals AS (
    SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
    WHERE term IN ({", ".join(f"'{t}'" for t in terms)})
    GROUP BY 1, 2
), df AS (
    SELECT term, count(*) AS df FROM tf GROUP BY 1
), contrib AS (
    SELECT
        tf.term, tf.doc_id,
        CAST(round(
            ln(1 + (totals.n_docs - df.df + 0.5) / (df.df + 0.5))
            * ((tf.tf * {K1 + 1})
               / (tf.tf + {K1} * ({1 - B} + {B} * dl.dl / totals.avgdl)))
            * 1000000
        ) AS BIGINT) AS c
    FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN totals
)"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 score for ``QUERY_TERMS`` as ``(doc_id, bm25)``:
    the micros contributions summed per document."""
    return (
        _bm25_contribs(spark, sf_dir, QUERY_TERMS)
        .groupBy("doc_id")
        .agg(fround(F.sum("c").cast("double") / 1000000, 4).alias("bm25"))
    )


_BM25_SCORED_SQL = f"""
WITH {_bm25_contribs_sql(QUERY_TERMS)}
SELECT doc_id, round(CAST(sum(c) AS DOUBLE) / 1000000, 4) AS bm25
FROM contrib GROUP BY 1
"""


@query(
    "bm25_topk",
    oracle=f"""
WITH scored AS ({_BM25_SCORED_SQL})
SELECT doc_id, bm25, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn
    FROM scored
)
WHERE rn <= 10
""",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed 3-term query (k1=1.2, b=0.75) — the
    lexical ranker of a retrieval/curation stack.

    Plan: the global top-10 is orderBy+limit (TakeOrderedAndProject — per-
    partition heaps, no single-partition window over the scored relation);
    the display rank is a window over the already-limited 10 rows only.
    """
    top = _bm25_scored(spark, sf_dir).orderBy(F.col("bm25").desc(), "doc_id").limit(10)
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# the vector leg shares load_valid_embeddings' contract (non-null, len 64)
_VEC_RANKED_SQL = f"""
    SELECT neighbor_id, CAST(row_number() OVER (
        ORDER BY cos_sim DESC, neighbor_id
    ) AS INT) AS rank_vec
    FROM (
        SELECT
            c.vec_id AS neighbor_id,
            {cosine6_sql("q.e", "c.e")} AS cos_sim
        FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
              WHERE {VALID_EMBEDDING_PRED}) c
        CROSS JOIN (SELECT embedding::DOUBLE[] AS e FROM embeddings
                    WHERE vec_id = {QUERY_VEC_ID}) q
        WHERE c.vec_id <> {QUERY_VEC_ID}
    )
    QUALIFY rank_vec <= {FUSE_DEPTH}
"""


@query(
    "hybrid_rrf_fusion",
    oracle=f"""
WITH lex AS (
    SELECT doc_id, bm25, CAST(row_number() OVER (
        ORDER BY bm25 DESC, doc_id
    ) AS INT) AS rank_lex
    FROM ({_BM25_SCORED_SQL})
    WHERE doc_id <> {QUERY_VEC_ID}
    QUALIFY rank_lex <= {FUSE_DEPTH}
), vec AS (
{_VEC_RANKED_SQL}
), fused AS (
    SELECT
        coalesce(lex.doc_id, vec.neighbor_id) AS doc_id,
        lex.rank_lex,
        vec.rank_vec,
        round(
            coalesce(1.0 / ({RRF_K} + lex.rank_lex), 0)
            + coalesce(1.0 / ({RRF_K} + vec.rank_vec), 0),
            6
        ) AS rrf
    FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.neighbor_id
)
SELECT doc_id,
       -- DOUBLE at the output: each rank is NULL for docs found by only one
       -- ranker, and nullable-integral columns are representation-unstable
       -- through the driver's pandas canonicalizer (r7 dtype-kind gate)
       CAST(rank_lex AS DOUBLE) AS rank_lex,
       CAST(rank_vec AS DOUBLE) AS rank_vec,
       rrf, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn FROM fused
)
WHERE rn <= 10
""",
)
def q_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25 lexical
    top-50 and the cosine vector top-50 for the SAME query (terms + the
    query document's embedding), top-10 fused results.

    Scale shape: each ranker's candidate list is depth-bounded (50 rows)
    BEFORE fusion, so the full-outer fusion join is over two driver-sized
    relations regardless of corpus size; the per-ranker top-50s are
    TakeOrdered.  RRF itself is rank-only arithmetic — exact small rationals,
    no score-scale calibration between rankers, which is why production
    hybrid search defaults to it.
    """
    lex_top = (
        _bm25_scored(spark, sf_dir)
        .where(F.col("doc_id") != QUERY_VEC_ID)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(FUSE_DEPTH)
    )
    lex = lex_top.withColumn(
        "rank_lex",
        F.row_number().over(Window.orderBy(F.col("bm25").desc(), "doc_id")).cast("int"),
    ).select("doc_id", "rank_lex")

    emb = load_valid_embeddings(spark, sf_dir).select(
        "vec_id", to_double_array("embedding").alias("e")
    )
    qvec = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("e").alias("qe"))
    vec_top = (
        scalar_join(emb.where(F.col("vec_id") != QUERY_VEC_ID), qvec)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            fround(cosine_similarity_expr(F.col("qe"), F.col("e")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "neighbor_id")
        .limit(FUSE_DEPTH)
    )
    vec = vec_top.withColumn(
        "rank_vec",
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim").desc(), "neighbor_id"))
        .cast("int"),
    ).select("neighbor_id", "rank_vec")

    fused = (
        lex.join(vec, lex["doc_id"] == vec["neighbor_id"], "full_outer")
        .select(
            F.coalesce(lex["doc_id"], vec["neighbor_id"]).alias("doc_id"),
            # double at the output (NULL when only one ranker found the
            # doc); see the oracle comment
            F.col("rank_lex").cast("double").alias("rank_lex"),
            F.col("rank_vec").cast("double").alias("rank_vec"),
            fround(
                F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_vec")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    top = fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("rrf").desc(), "doc_id")).cast("int")
    )


# --------------------------------------------------------------------------
# Retrieval evaluation: MRR / precision@k / recall@k and NDCG@k
# --------------------------------------------------------------------------

# the evaluation workload: five single-term queries; ground truth is
# INDEPENDENT of the ranker's signal — a document is relevant to a term iff
# the term appears in its first 10 tokens (a "title match"), and NDCG grades
# it by occurrences in the first 20 tokens capped at 3 (0..3 graded scale).
EVAL_TERMS = ("join", "stream", "window", "hash", "sort")
EVAL_K = 10
# DCG position weights 1/log2(r+1) in micros, computed ONCE here and embedded
# as the same literal table in the Spark plan and the oracle SQL — so neither
# engine ever evaluates log2 and the DCG sums are pure integer arithmetic
_NDCG_W_MICROS = [round(1_000_000 / math.log2(r + 1)) for r in range(1, EVAL_K + 1)]

_TERM_LIST_SQL = ", ".join(f"'{t}'" for t in EVAL_TERMS)
_TERMS_VALUES_SQL = ", ".join(f"('{t}')" for t in EVAL_TERMS)

# per-term top-k of the single-term BM25 scores: the shared CTE prefix of
# both eval oracles (``_term_topk``'s twin)
_TERM_TOPK_SQL = f"""
{_bm25_contribs_sql(EVAL_TERMS)}, topk AS (
    SELECT term, doc_id, rnk FROM (
        SELECT term, doc_id,
               row_number() OVER (PARTITION BY term ORDER BY c DESC, doc_id) AS rnk
        FROM contrib
    ) WHERE rnk <= {EVAL_K}
)
"""


def _term_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term top-``EVAL_K`` ranking ``(term, doc_id, rnk)``: a rank filter
    over a partitioned window, which Spark plans as WindowGroupLimit —
    per-partition top-k heaps, never a global sort of the scored relation."""
    w = Window.partitionBy("term").orderBy(F.col("c").desc(), F.col("doc_id").asc())
    return (
        _bm25_contribs(spark, sf_dir, EVAL_TERMS)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= EVAL_K)
        .select("term", "doc_id", "rnk")
    )


@query(
    "retrieval_eval_mrr",
    oracle=f"""
WITH {_TERM_TOPK_SQL},
terms AS (
    SELECT * FROM (VALUES {_TERMS_VALUES_SQL}) t(term)
), labels AS (
    SELECT DISTINCT doc_id, term
    FROM (SELECT doc_id, unnest(string_split(text, ' ')[1:10]) AS term
          FROM documents)
    WHERE term IN ({_TERM_LIST_SQL})
), rel AS (
    SELECT term, count(*) AS n_relevant FROM labels GROUP BY 1
), hits AS (
    SELECT k.term, k.rnk
    FROM topk k JOIN labels l ON l.term = k.term AND l.doc_id = k.doc_id
), per AS (
    SELECT term, count(*) AS hits_at_10, min(rnk) AS first_rel_rank
    FROM hits GROUP BY 1
), base AS (
    SELECT
        t.term,
        coalesce(r.n_relevant, 0)                 AS n_relevant,
        coalesce(p.hits_at_10, 0)                 AS hits_at_10,
        CAST(p.first_rel_rank AS INT)             AS first_rel_rank,
        coalesce(CAST(round(1000000.0 / p.first_rel_rank) AS BIGINT), 0) AS rr_micros
    FROM terms t LEFT JOIN rel r USING (term) LEFT JOIN per p USING (term)
)
SELECT
    term, n_relevant, hits_at_10, first_rel_rank,
    round(rr_micros / 1000000.0, 6)               AS rr_at_10,
    round(hits_at_10 / 10.0, 6)                   AS precision_at_10,
    CASE WHEN n_relevant > 0
         THEN round(CAST(hits_at_10 AS DOUBLE) / n_relevant, 6)
         ELSE CAST(0 AS DOUBLE) END               AS recall_at_10,
    round(CAST(sum(rr_micros) OVER () AS DOUBLE)
          / (1000000 * count(*) OVER ()), 6)      AS macro_mrr
FROM base
""",
)
def q_retrieval_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the BM25 ranker: per single-term query,
    MRR@10 / precision@10 / recall@10 against ranker-INDEPENDENT ground truth
    (term appears in the document's first 10 tokens — a title match), plus
    the macro-MRR over all five queries.  This is the measurement half every
    retrieval/curation deployment needs next to `bm25_topk` — without it a
    ranker change cannot be accepted or rejected.

    Determinism: reciprocal ranks are micros-rounded integers (1e6/r is the
    same IEEE division on both engines), so the macro average is an integer
    sum divided once at the edge.

    Scale shape: per-term top-k is a rank-filtered partitioned window
    (WindowGroupLimit — per-partition heaps, no global sort); labels come
    from the same token explode as the postings (map-side slice+filter, no
    doc×term cross join); the relevance check is an equi-join on
    (term, doc_id).  Queries are the partition key, so 10⁴ eval queries over
    10¹⁰ documents fan out, not serialize."""
    topk = _term_topk(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    labels = (
        docs.select("doc_id", F.explode(F.slice(toks, 1, 10)).alias("term"))
        .where(F.col("term").isin(*EVAL_TERMS))
        .distinct()
    )
    rel = labels.groupBy("term").agg(F.count("*").alias("n_relevant"))
    # broadcast the k×#queries topk (always tiny) INTO the corpus-sized
    # label relation — never the reverse
    hits = labels.join(F.broadcast(topk), ["term", "doc_id"])
    per = hits.groupBy("term").agg(
        F.count("*").alias("hits_at_10"),
        F.min("rnk").cast("int").alias("first_rel_rank"),
    )
    terms = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in EVAL_TERMS])).alias("term")
    )
    base = (
        terms.join(F.broadcast(rel), "term", "left")
        .join(F.broadcast(per), "term", "left")
        .select(
            "term",
            F.coalesce(F.col("n_relevant"), F.lit(0)).alias("n_relevant"),
            F.coalesce(F.col("hits_at_10"), F.lit(0)).alias("hits_at_10"),
            F.col("first_rel_rank"),
            F.coalesce(
                F.round(F.lit(1000000.0) / F.col("first_rel_rank"), 0).cast("long"),
                F.lit(0),
            ).alias("rr_micros"),
        )
    )
    allw = Window.partitionBy()
    return base.select(
        "term",
        "n_relevant",
        "hits_at_10",
        "first_rel_rank",
        fround(F.col("rr_micros") / 1000000.0, 6).alias("rr_at_10"),
        fround(F.col("hits_at_10") / 10.0, 6).alias("precision_at_10"),
        F.when(
            F.col("n_relevant") > 0,
            fround(F.col("hits_at_10").cast("double") / F.col("n_relevant"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("recall_at_10"),
        fround(
            F.sum("rr_micros").over(allw).cast("double")
            / (1000000 * F.count("*").over(allw)),
            6,
        ).alias("macro_mrr"),
    )


_GAIN_SQL = "CASE grade WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 7 ELSE 0 END"
_W_CASE_SQL = "CASE rnk " + " ".join(
    f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_NDCG_W_MICROS)
) + " ELSE 0 END"


@query(
    "retrieval_eval_ndcg",
    oracle=f"""
WITH {_TERM_TOPK_SQL},
glab AS (
    SELECT doc_id, term, least(count(*), 3) AS grade
    FROM (SELECT doc_id, unnest(string_split(text, ' ')[1:20]) AS term
          FROM documents)
    WHERE term IN ({_TERM_LIST_SQL})
    GROUP BY 1, 2
), dcg AS (
    SELECT k.term,
           sum(coalesce({_GAIN_SQL}, 0) * {_W_CASE_SQL}) AS dcg_micros
    FROM topk k LEFT JOIN glab g ON g.term = k.term AND g.doc_id = k.doc_id
    GROUP BY 1
), ideal AS (
    SELECT term, grade,
           row_number() OVER (PARTITION BY term ORDER BY grade DESC, doc_id) AS rnk
    FROM glab
), idcg AS (
    SELECT term, sum({_GAIN_SQL} * {_W_CASE_SQL}) AS idcg_micros
    FROM ideal WHERE rnk <= {EVAL_K}
    GROUP BY 1
)
SELECT
    d.term,
    round(d.dcg_micros / 1000000.0, 6) AS dcg_at_10,
    round(coalesce(i.idcg_micros, 0) / 1000000.0, 6) AS idcg_at_10,
    CASE WHEN coalesce(i.idcg_micros, 0) > 0
         THEN round(CAST(d.dcg_micros AS DOUBLE) / i.idcg_micros, 6)
         ELSE CAST(0 AS DOUBLE) END AS ndcg_at_10
FROM dcg d LEFT JOIN idcg i USING (term)
""",
)
def q_retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranker per single-term query, on a 0–3 graded
    relevance scale (occurrences of the term in the document's first 20
    tokens, capped): DCG uses gains 2^g−1 and position weights 1/log2(r+1)
    — but the weights are a 10-entry literal micros table computed once in
    Python and embedded in BOTH the Spark plan and the oracle SQL, so
    neither engine evaluates log2 and the whole DCG/IDCG computation is
    exact integer arithmetic until the single final division.

    Scale shape: both the ranked top-k and the ideal top-k are rank-filtered
    partitioned windows (WindowGroupLimit); grades are map-side slice+count
    expressions; the gain×weight lookup is a constant CASE — whole-stage
    codegen end to end, queries fan out on the partition key."""
    topk = _term_topk(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    glab = (
        docs.select("doc_id", F.explode(F.slice(toks, 1, 20)).alias("term"))
        .where(F.col("term").isin(*EVAL_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.least(F.count("*"), F.lit(3)).alias("grade"))
    )

    def gain(col: F.Column) -> F.Column:
        return (
            F.when(col == 1, 1).when(col == 2, 3).when(col == 3, 7).otherwise(0)
        )

    def w_micros(rnk: F.Column) -> F.Column:
        expr = F.lit(0)
        for r, w in enumerate(_NDCG_W_MICROS):
            expr = F.when(rnk == r + 1, F.lit(w)).otherwise(expr)
        return expr

    # gains only matter for ranked docs: shrink the corpus-sized grade
    # relation through a broadcast semi-join on the tiny topk BEFORE the
    # preserving left join, so no outer join ever builds on the big side
    glab_top = glab.join(
        F.broadcast(topk.select("term", "doc_id")), ["term", "doc_id"], "leftsemi"
    )
    dcg = (
        topk.join(F.broadcast(glab_top), ["term", "doc_id"], "left")
        .groupBy("term")
        .agg(
            F.sum(F.coalesce(gain(F.col("grade")), F.lit(0)) * w_micros(F.col("rnk")))
            .alias("dcg_micros")
        )
    )
    iw = Window.partitionBy("term").orderBy(F.col("grade").desc(), F.col("doc_id").asc())
    idcg = (
        glab.withColumn("rnk", F.row_number().over(iw))
        .where(F.col("rnk") <= EVAL_K)
        .groupBy("term")
        .agg(F.sum(gain(F.col("grade")) * w_micros(F.col("rnk"))).alias("idcg_micros"))
    )
    return dcg.join(idcg, "term", "left").select(
        "term",
        fround(F.col("dcg_micros") / 1000000.0, 6).alias("dcg_at_10"),
        fround(F.coalesce(F.col("idcg_micros"), F.lit(0)) / 1000000.0, 6).alias(
            "idcg_at_10"
        ),
        F.when(
            F.coalesce(F.col("idcg_micros"), F.lit(0)) > 0,
            fround(F.col("dcg_micros").cast("double") / F.col("idcg_micros"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("ndcg_at_10"),
    )


# --------------------------------------------------------------------------
# Conjunctive boolean retrieval (AND-of-terms postings intersection)
# --------------------------------------------------------------------------


@query(
    "boolean_and_search",
    oracle="""
WITH tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents WHERE text IS NOT NULL)
    WHERE term IN ('join', 'stream', 'window')
    GROUP BY 1, 2
), hits AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN term = 'join' THEN tf END) AS BIGINT)   AS tf_join,
           CAST(sum(CASE WHEN term = 'stream' THEN tf END) AS BIGINT) AS tf_stream,
           CAST(sum(CASE WHEN term = 'window' THEN tf END) AS BIGINT) AS tf_window
    FROM tf
    GROUP BY doc_id
    HAVING count(*) = 3
)
SELECT h.doc_id, h.tf_join, h.tf_stream, h.tf_window,
       CAST(h.tf_join + h.tf_stream + h.tf_window AS BIGINT) AS tf_total
FROM hits h
ORDER BY tf_total DESC, h.doc_id
""",
)
def q_boolean_and_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive boolean retrieval — the AND-of-terms postings
    intersection that precedes RANKED retrieval in every search stack
    (`bm25_topk` scores any match; this returns only documents containing
    ALL query terms, the candidate-narrowing step a hybrid engine runs
    before scoring).  Same query terms as the BM25 twin so the two
    result sets compose.

    Plan shape: the postings are FILTERED to the query terms at the
    explode (the IN predicate prunes the token stream map-side, so only
    query-term postings ever shuffle — identical discipline to BM25);
    the intersection is one hash aggregate with `HAVING count(*) = k`,
    never a k-way self-join; per-term tfs pivot out of the same
    aggregate.  Ordering is (total tf desc, doc_id) — deterministic."""
    docs = load_table(spark, "documents", sf_dir).where(
        F.col("text").isNotNull()
    )
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .where(F.col("term").isin(*QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    hits = (
        tf.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum(F.when(F.col("term") == "join", F.col("tf")))
            .cast("long")
            .alias("tf_join"),
            F.sum(F.when(F.col("term") == "stream", F.col("tf")))
            .cast("long")
            .alias("tf_stream"),
            F.sum(F.when(F.col("term") == "window", F.col("tf")))
            .cast("long")
            .alias("tf_window"),
        )
        .where(F.col("n_terms") == len(QUERY_TERMS))
    )
    return hits.select(
        "doc_id",
        "tf_join",
        "tf_stream",
        "tf_window",
        (F.col("tf_join") + F.col("tf_stream") + F.col("tf_window"))
        .cast("long")
        .alias("tf_total"),
    ).orderBy(F.col("tf_total").desc(), "doc_id")
