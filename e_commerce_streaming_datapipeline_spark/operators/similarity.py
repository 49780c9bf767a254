"""Similarity search over the embeddings table (BASELINE.json scale-up
mandate): brute-force cosine top-k as the exactness baseline and a family of
approximate (ANN) indexes whose results are all oracle-checked.

Every ANN query is filter-and-refine: a candidate stage proposes
``(query_id, neighbor_id)`` pairs, then one exact-verification stage
re-scores them.  The stages are shared kernels, and each query composes
them instead of re-typing them:

* ``embedding_vectors`` -- the ``(vec_id, [cols], e)`` double-array
  projection of the valid embeddings that every vector kernel reads.
* ``rerank_topk`` -- exact cosine of each candidate pair, then each query's
  top k: ``embedding_topk_lsh``, ``embedding_topk_lsh_multiprobe``,
  ``embedding_topk_sq``, ``trained_ivf_topk``, ``embedding_topk_pq_rerank``
  and ``embedding_topk_ivf_adc``.
* ``ivf_probe_cands`` -- the trained IVF index's candidates: each query's
  ``nprobe`` nearest centroids joined to the corpus assignment, tagged with
  the probe rank: ``trained_ivf_topk``, ``embedding_topk_ivf_adc`` and
  ``ivf_probe_recall_audit``.
* ``_pq_index`` -- the trained PQ codes plus the per-query ADC distance
  table: ``embedding_topk_pq``, ``embedding_topk_pq_rerank`` and
  ``embedding_topk_ivf_adc``.
* ``_recall_by_level`` -- candidate recall against brute-force truth per
  probe level: ``lsh_multiprobe_recall_audit`` and
  ``ivf_probe_recall_audit``.
* ``blocked_cosine_pairs`` -- cosine of every same-block pair with
  precomputed norms: ``embedding_near_dups`` here and ``semantic_dedup`` in
  ``dedup.py``.

The brute-force builders (``embedding_topk``, ``embedding_topk_ivf`` with
the fixture's label column as the cluster, ``hard_negative_mining``,
``knn_label_accuracy``), the Matryoshka audit's truncated pair and MMR's
scaled relevance score their own pairs; ``embedding_topk_pandas`` is the
Arrow/pandas twin of the brute force.

Determinism contract (SURVEY §7 hard-part 4): all similarity math is DOUBLE
with left-to-right summation, similarities are rounded to 6dp *before*
ranking, and ranks tie-break on neighbor id — so Spark, numpy and the DuckDB
oracle produce the identical top-k.  Index training (IVF k-means, PQ
codebooks) is exact integer arithmetic, so both engines learn the same
index.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.checkpoints import round_checkpoint
from e_commerce_streaming_datapipeline_spark.functions.rounding import cents, fround
from e_commerce_streaming_datapipeline_spark.functions.vector import (
    cosine6_sql,
    cosine_similarity_expr,
    dot_expr,
    norm_expr,
    norm_sql,
    to_double_array,
)
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import (
    VALID_EMBEDDING_PRED,
    VALID_EMBEDDINGS_SQL,
    load_table,
    load_valid_embeddings,
)

N_QUERIES = 8  # fixture convention: vec_id < 8 are the query vectors
TOP_K = 5

# The oracles' DuckDB twins of the kernels below: ``_vectors_sql`` is
# ``embedding_vectors``, ``_QUERIES_SQL`` its query rows over a ``v`` CTE,
# ``_query_rank_sql`` the per-query ranking of ``_ranked_topk``, and
# ``_rerank_topk_sql`` is ``rerank_topk``.


def _vectors_sql(*cols: str) -> str:
    return (
        f"SELECT vec_id, {''.join(f'{c}, ' for c in cols)}embedding::DOUBLE[] AS e "
        f"FROM {VALID_EMBEDDINGS_SQL} embeddings"
    )


_QUERIES_SQL = f"SELECT * FROM v WHERE vec_id < {N_QUERIES}"


def _query_rank_sql(order: str = "cos_sim DESC, neighbor_id") -> str:
    return f"row_number() OVER (PARTITION BY query_id ORDER BY {order})"


def _ranked_topk_sql(rel: str, top_k: int = TOP_K) -> str:
    """Each query's ``top_k`` rows of the (query_id, neighbor_id, cos_sim)
    relation ``rel``, ranked in ``rank``."""
    return f"""SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rank
FROM (SELECT *, {_query_rank_sql()} AS rn FROM {rel})
WHERE rn <= {top_k}"""


def _brute_force_topk_sql(join_cond: str, top_k: int = TOP_K) -> str:
    """Exact top-k of every query vector ``q`` over the corpus rows ``c``
    that pass ``join_cond``."""
    return f"""
WITH v AS ({_vectors_sql("label")}), q AS ({_QUERIES_SQL}), pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {cosine6_sql("q.e", "c.e")} AS cos_sim
    FROM q JOIN v c ON {join_cond}
)
{_ranked_topk_sql("pairs", top_k)}
"""


def _rerank_topk_sql(cands: str, top_k: int, vectors: str = "v") -> str:
    """The last CTE and the final SELECT of an ANN oracle: the
    (query_id, neighbor_id) candidates of CTE ``cands`` re-scored against
    the ``vectors`` CTE and ranked."""
    return f"""scored AS (
    SELECT cd.query_id, cd.neighbor_id, {cosine6_sql("q.e", "c.e")} AS cos_sim
    FROM {cands} cd
    JOIN {vectors} q ON q.vec_id = cd.query_id
    JOIN {vectors} c ON c.vec_id = cd.neighbor_id
)
{_ranked_topk_sql("scored", top_k)}"""


def _ranked_topk(pairs: DataFrame, top_k: int = TOP_K) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embedding_vectors(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """(vec_id, *cols, e): every valid embedding as a double array — the
    input of every vector kernel in this module."""
    return load_valid_embeddings(spark, sf_dir).select(
        "vec_id", *cols, to_double_array("embedding").alias("e")
    )


def rerank_topk(cands: DataFrame, vectors: DataFrame, top_k: int) -> DataFrame:
    """The exact-verification stage of every ANN query: each
    ``(query_id, neighbor_id)`` candidate is re-scored with exact cosine
    (6dp) and each query keeps its top ``top_k``.  ``vectors`` is an
    ``embedding_vectors`` relation.

    The query vectors (vec_id < N_QUERIES) are broadcast onto the
    candidates and the neighbor vectors are joined by id, so the only
    broadcast is Q vectors, whatever the size of the candidate set (LSH and
    IVF candidates grow with the corpus).  Broadcasting the candidate set
    instead and joining the corpus twice was no faster at sf0.1 across the
    six callers, and its broadcast is unbounded for LSH/IVF candidates."""
    queries = vectors.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    scored = (
        cands.join(F.broadcast(queries), F.col("query_id") == F.col("q_id"))
        .join(vectors, F.col("neighbor_id") == F.col("vec_id"))
        .select(
            "query_id",
            "neighbor_id",
            fround(cosine_similarity_expr(F.col("qe"), F.col("e")), 6).alias("cos_sim"),
        )
    )
    return _ranked_topk(scored, top_k)


@query(
    "embedding_topk",
    oracle=_brute_force_topk_sql("q.vec_id <> c.vec_id"),
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: query vectors (vec_id < 8) against the full
    table via broadcast nested-loop, dot products as codegen'd higher-order
    functions (zip_with/aggregate) — zero Python in the loop."""
    emb = embedding_vectors(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    pairs = (
        F.broadcast(queries)
        .join(emb, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            fround(cosine_similarity_expr(F.col("qe"), F.col("e")), 6).alias("cos_sim"),
        )
    )
    return _ranked_topk(pairs)


@query(
    "embedding_topk_ivf",
    oracle=_brute_force_topk_sql("q.label = c.label AND q.vec_id <> c.vec_id", 3),
)
def q_embedding_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style pruned ANN: candidates restricted to the query's cluster
    (label = coarse centroid id), turning the scan into an equi-join — the
    plan shape that survives N=10^9 vectors."""
    emb = embedding_vectors(spark, sf_dir, "label")
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("e").alias("qe"),
    )
    pairs = (
        F.broadcast(queries)
        .join(emb, (F.col("qlabel") == F.col("label")) & (F.col("query_id") != F.col("vec_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            fround(cosine_similarity_expr(F.col("qe"), F.col("e")), 6).alias("cos_sim"),
        )
    )
    return _ranked_topk(pairs, top_k=3)


@query(
    "embedding_topk_pandas",
    oracle=_brute_force_topk_sql("q.vec_id <> c.vec_id"),
)
def q_embedding_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same top-k computed through the Arrow/Pandas-UDF path: queries are
    broadcast into a numpy matrix per executor; each ``mapInPandas`` batch
    scores (batch x dim) against all queries vectorized in C.  The shape to
    use when vectors are wide (>1k dims) or when a real model does the
    scoring.

    Determinism (module contract): the sums use ``np.cumsum`` — SEQUENTIAL
    left-to-right IEEE addition, the same association as the oracle's
    ``list_inner_product`` and the HOF twin's ``aggregate`` fold — not BLAS
    GEMM, whose pairwise summation can land a 6dp knife-edge differently;
    and rounding is half-away-from-zero (``floor(|x|+0.5)``) to match
    ``fround``/DuckDB, where ``np.round`` is half-to-even."""
    import numpy as np

    emb = load_valid_embeddings(spark, sf_dir)
    qrows = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()  # N_QUERIES rows only — the candidate side stays distributed
    )
    q_ids = np.array([r["vec_id"] for r in qrows])
    q_mat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    q_norm = np.sqrt(np.cumsum(q_mat * q_mat, axis=1)[:, -1])

    def score(batches):
        for pdf in batches:
            cand = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            norms = np.sqrt(np.cumsum(cand * cand, axis=1)[:, -1])
            dots = np.stack(
                [np.cumsum(cand * q, axis=1)[:, -1] for q in q_mat], axis=1
            )
            sims = dots / np.outer(norms, q_norm)
            scaled = sims.T.reshape(-1) * 1e6
            out = pd.DataFrame({
                "query_id": np.repeat(q_ids, len(ids)),
                "neighbor_id": np.tile(ids, len(q_ids)),
                "cos_sim": np.copysign(np.floor(np.abs(scaled) + 0.5), scaled) / 1e6,
            })
            yield out[out.query_id != out.neighbor_id]

    pairs = emb.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, neighbor_id long, cos_sim double"
    )
    return _ranked_topk(pairs)


LSH_DIM = 64     # fixture embedding dimensionality
LSH_NBITS = 16   # hyperplanes -> 2 bands x 8 bits
LSH_TOP_K = 3


def _lsh_plane(j: int, i: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1].

    Plain integer LCG arithmetic — exactly reproducible in Python, Spark
    expressions, and the DuckDB oracle SQL (no engine-specific hash/rand).
    """
    return (((1103515245 * (j * LSH_DIM + i) + 12345) % 2147483648) % 2001 - 1000) / 1000.0


# Shared CTE chain: LCG hyperplanes -> sign bits -> 2x8-bit band signatures.
# Both the plain-LSH and multi-probe oracles build on this.
_ORACLE_SIG_CTES = f"""planes AS (
    SELECT j, i,
        ((((CAST(1103515245 AS BIGINT) * (j * {LSH_DIM} + i) + 12345)
            % 2147483648) % 2001) - 1000) / 1000.0 AS h
    FROM generate_series(0, {LSH_NBITS - 1}) t1(j),
         generate_series(0, {LSH_DIM - 1}) t2(i)
), v AS (
    {_vectors_sql()}
), bits AS (
    SELECT v.vec_id, p.j, round(sum(v.e[p.i + 1] * p.h), 4) >= 0 AS bit
    FROM v, planes p
    GROUP BY 1, 2
), sigs AS (
    SELECT vec_id,
        CAST(sum(CASE WHEN j < 8 AND bit THEN 1 << j ELSE 0 END) AS BIGINT) AS band0,
        CAST(sum(CASE WHEN j >= 8 AND bit THEN 1 << (j - 8) ELSE 0 END) AS BIGINT) AS band1
    FROM bits GROUP BY 1
)"""

_ORACLE_LSH = f"""
WITH {_ORACLE_SIG_CTES}, cands AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM sigs q JOIN sigs c
      ON (q.band0 = c.band0 OR q.band1 = c.band1) AND q.vec_id <> c.vec_id
    WHERE q.vec_id < {N_QUERIES}
), {_rerank_topk_sql("cands", LSH_TOP_K)}
"""


def _lsh_band_sigs(emb: DataFrame) -> DataFrame:
    """(vec_id, band0, band1) signature relation: 16 hyperplane sign bits
    packed into 2 bands of 8.  Pure map-side expression work (zip_with +
    aggregate over plane literal arrays) — no explode of vectors x planes,
    no Python, stays inside whole-stage codegen."""
    bit_cols = []
    for j in range(LSH_NBITS):
        plane = F.array(*[F.lit(_lsh_plane(j, i)) for i in range(LSH_DIM)])
        dot = F.aggregate(
            F.zip_with(F.col("e"), plane, lambda x, h: x * h),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit_cols.append((fround(dot, 4) >= 0).cast("int").alias(f"bit{j}"))
    return emb.select("vec_id", *bit_cols).select(
        "vec_id",
        sum(F.col(f"bit{j}") * (1 << j) for j in range(8)).cast("long").alias("band0"),
        sum(F.col(f"bit{j}") * (1 << (j - 8)) for j in range(8, 16)).cast("long").alias("band1"),
    )


def _lsh_checkpointed_sigs(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """``_lsh_band_sigs`` of ``emb``, materialized once.

    The input is repartitioned before the 16-dot-product projection so
    single-file inputs parallelize the HOF math (same rationale as
    minhash_near_dups; ~10% local win, a no-op cost at scale where the scan
    is already parallel).  The cut matters because both the query side and
    the corpus side consume the signatures: without it Spark re-evaluates
    the 16-hyperplane HOF subtree on each — at 10^9 vectors that doubles
    the dominant cost (measured ~11% even at fixture scale)."""
    return round_checkpoint(
        _lsh_band_sigs(emb.repartition(spark.sparkContext.defaultParallelism))
    )


@query("embedding_topk_lsh", oracle=_ORACLE_LSH)
def q_embedding_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: 16 random-hyperplane sign bits per vector, split
    into 2 bands of 8; candidates are vectors sharing at least one band
    with the query, reranked by exact cosine to top-3.

    The hyperplanes come from a pure-integer LCG (`_lsh_plane`) so the
    DuckDB oracle regenerates them bit-identically — this is a FULLY
    oracle-checked LSH pipeline, not a rows-only sketch.  Dot products for
    sign bits round to 4dp before the >=0 test so cross-engine summation
    order cannot flip a boundary bit.

    Scale anatomy: signatures are pure map-side expression work (zip_with/
    aggregate over plane literal arrays — no explode of vectors x planes,
    no Python); each band is an equi-join key, so the candidate search is
    B=2 hash joins + distinct instead of a cross join.  At 10^9 vectors the
    per-band bucket sizes (~N/256) bound the pair expansion, and recall
    tunes by adding bands (more joins) or multi-probing neighboring
    signatures — the plan shape stays equi-join."""
    emb = embedding_vectors(spark, sf_dir)
    sigs = _lsh_checkpointed_sigs(spark, emb)
    # Long form: one row per (vec_id, band_idx, band_val).  Candidate search
    # is then ONE equi-join on (band_idx, band_val) instead of one join per
    # band — and the 16-dot-product signature subtree is evaluated twice
    # (query side + corpus side) rather than once per band per side.
    bands_long = sigs.select(
        "vec_id",
        F.posexplode(F.array("band0", "band1")).alias("band_idx", "band_val"),
    )
    qbands = bands_long.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band_idx", "band_val"
    )
    cands = (
        F.broadcast(qbands)
        .join(bands_long, ["band_idx", "band_val"])
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return rerank_topk(cands, emb, LSH_TOP_K)


# Multi-probe masks: (xor mask, probe level).  Level 0 = the exact signature
# (plain LSH); level b probes the b lowest single-bit flips in addition —
# the standard recall knob that avoids adding bands (more state) or bits
# (smaller buckets).
_PROBE_MASKS = [(0, 0)] + [(1 << b, b + 1) for b in range(8)]

_ORACLE_PROBE_CTES = f"""masks AS (
    SELECT * FROM (VALUES {", ".join(f"({m}, {l})" for m, l in _PROBE_MASKS)}) t(mask, lvl)
), qb AS (
    SELECT vec_id AS query_id, 0 AS band_idx, band0 AS band_val
    FROM sigs WHERE vec_id < {N_QUERIES}
    UNION ALL
    SELECT vec_id, 1, band1 FROM sigs WHERE vec_id < {N_QUERIES}
), cb AS (
    SELECT vec_id, 0 AS band_idx, band0 AS band_val FROM sigs
    UNION ALL
    SELECT vec_id, 1, band1 FROM sigs
), pcands AS (
    SELECT q.query_id, c.vec_id AS neighbor_id, min(m.lvl) AS min_lvl
    FROM qb q CROSS JOIN masks m
    JOIN cb c ON c.band_idx = q.band_idx
             AND c.band_val = xor(q.band_val, CAST(m.mask AS BIGINT))
    WHERE q.query_id <> c.vec_id
    GROUP BY 1, 2
)"""

_ORACLE_LSH_MULTIPROBE = f"""
WITH {_ORACLE_SIG_CTES}, {_ORACLE_PROBE_CTES}, {_rerank_topk_sql("pcands", LSH_TOP_K)}
"""


def _lsh_multiprobe_cands(sigs: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, min_lvl): every candidate pair reachable by
    probing the exact band signature plus all 8 single-bit flips, tagged with
    the MINIMUM probe level that surfaces it.  One equi-join on
    (band_idx, band_val) — the probe expansion multiplies only the tiny
    query side (|Q| x 2 bands x 9 masks rows), the corpus side is untouched,
    so the plan shape survives 10^9 vectors exactly like plain LSH."""
    bands_long = sigs.select(
        "vec_id",
        F.posexplode(F.array("band0", "band1")).alias("band_idx", "band_val"),
    )
    probes = F.array(
        *[
            F.struct(F.lit(m).cast("long").alias("mask"), F.lit(l).alias("lvl"))
            for m, l in _PROBE_MASKS
        ]
    )
    qprobe = (
        sigs.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(F.array("band0", "band1")).alias("band_idx", "raw_val"),
        )
        .select("query_id", "band_idx", "raw_val", F.explode(probes).alias("p"))
        .select(
            "query_id",
            "band_idx",
            F.col("raw_val").bitwiseXOR(F.col("p.mask")).alias("band_val"),
            F.col("p.lvl").alias("lvl"),
        )
    )
    return (
        F.broadcast(qprobe)
        .join(bands_long, ["band_idx", "band_val"])
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "lvl")
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("lvl").alias("min_lvl"))
    )


@query("embedding_topk_lsh_multiprobe", oracle=_ORACLE_LSH_MULTIPROBE)
def q_embedding_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: candidates are vectors sharing any band with the
    query's exact signature OR any single-bit flip of it (Hamming-1
    probing), reranked by exact cosine to top-3.

    Multi-probing recovers the recall lost to boundary bit flips without
    adding bands (which multiplies index state) or shrinking buckets: a
    vector whose dot product sits near a hyperplane lands one bit away, and
    probing that neighborhood finds it.  Like the plain variant this is
    FULLY oracle-checked — the LCG hyperplanes regenerate bit-identically in
    DuckDB, and the probe expansion is the same masks table on both engines.

    Scale anatomy unchanged from ``embedding_topk_lsh``: the probe fan-out
    multiplies only the broadcast query side (9 masks x 2 bands per query);
    the corpus signature relation and the equi-join shape are identical."""
    emb = embedding_vectors(spark, sf_dir)
    cands = _lsh_multiprobe_cands(_lsh_checkpointed_sigs(spark, emb))
    return rerank_topk(cands.drop("min_lvl"), emb, LSH_TOP_K)


_AUDIT_LEVELS = [0, 1, 2, 4, 8]


def _recall_by_level(
    spark: SparkSession,
    sf_dir: str,
    tagged: DataFrame,
    top_k: int,
    level_col: str,
    levels: list[int],
) -> DataFrame:
    """Candidate recall per probe level: ``tagged`` is the candidate set as
    (query_id, neighbor_id, min_lvl), each pair tagged with the lowest
    probe level that surfaces it.  For every level in ``levels`` (output
    column ``level_col``), count the brute-force top-``top_k`` pairs and
    those tagged at or below the level — one left join and one broadcast
    cross join with the level table, no per-level re-join."""
    bf = q_embedding_topk(spark, sf_dir).where(F.col("rank") <= top_k).select(
        "query_id", "neighbor_id"
    )
    lv = spark.createDataFrame([(p,) for p in levels], f"{level_col} int")
    hit = F.when(F.col("min_lvl") <= F.col(level_col), 1)
    return (
        bf.join(tagged, ["query_id", "neighbor_id"], "left")
        .crossJoin(F.broadcast(lv))
        .groupBy(level_col)
        .agg(
            F.count("*").cast("int").alias("n_true"),
            F.count(hit).cast("int").alias("n_hit"),
            fround(F.count(hit) / F.count("*"), 4).alias("recall"),
        )
    )

_ORACLE_MULTIPROBE_AUDIT = f"""
WITH {_ORACLE_SIG_CTES}, {_ORACLE_PROBE_CTES}, bf AS (
    {_brute_force_topk_sql("q.vec_id <> c.vec_id", LSH_TOP_K)}
), lv AS (
    SELECT unnest({_AUDIT_LEVELS}) AS probe_bits
)
SELECT
    lv.probe_bits,
    CAST(count(*) AS INT) AS n_true,
    CAST(count(CASE WHEN pc.min_lvl <= lv.probe_bits THEN 1 END) AS INT) AS n_hit,
    round(count(CASE WHEN pc.min_lvl <= lv.probe_bits THEN 1 END) * 1.0
          / count(*), 4) AS recall
FROM bf
CROSS JOIN lv
LEFT JOIN pcands pc
    ON pc.query_id = bf.query_id AND pc.neighbor_id = bf.neighbor_id
GROUP BY 1
"""


@query("lsh_multiprobe_recall_audit", oracle=_ORACLE_MULTIPROBE_AUDIT)
def q_lsh_multiprobe_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall vs probe count — the tuning curve for multi-probe
    LSH: for each probe level p (masks = exact signature + the p lowest
    single-bit flips), what fraction of the TRUE top-3 pairs appears in the
    candidate set?  One row per audited level (0 = plain LSH, 8 = full
    Hamming-1 probing).

    Candidate recall (pre-rerank) is the right metric here: rerank is exact,
    so a true neighbor in the candidate set is found iff it is surfaced —
    the probe knob only moves candidate coverage.  Computed in ONE probed
    equi-join pass: every pair is tagged with the minimum level that
    surfaces it, then each audit level counts pairs at or below it — no
    per-level re-join.  Fully hash-checked against the DuckDB oracle, which
    rebuilds both the exact top-3 and the probed candidate set in SQL.

    Absolute recall on the fixture is low by construction: the embeddings
    are i.i.d. random, so even the true top-3 neighbors sit barely above
    the similarity noise floor and rarely share 8-bit band signatures.  The
    signal is the SHAPE — recall rises monotonically with probe count at
    fixed index size, which is exactly the trade the knob exists to make
    (on clustered real-world embeddings the same curve starts high)."""
    sigs = _lsh_checkpointed_sigs(spark, embedding_vectors(spark, sf_dir))
    return _recall_by_level(
        spark, sf_dir, _lsh_multiprobe_cands(sigs), LSH_TOP_K, "probe_bits", _AUDIT_LEVELS
    )


@query(
    "hard_negative_mining",
    oracle=_brute_force_topk_sql("q.label <> c.label", 3),
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor (query vector), the
    top-3 most-similar vectors with a DIFFERENT label — the pairs that teach
    an embedding model the most (similar representation, different class),
    mined for every contrastive/triplet training run.

    Shape: identical to ``embedding_topk`` but the pair predicate adds the
    label mismatch, so the broadcast of the small anchor sample against the
    distributed corpus is unchanged.  At corpus scale anchors come from the
    ANN index first (IVF/LSH candidates), then the label filter and exact
    rerank run on candidates only — the same escalation path as
    ``embedding_topk`` -> ``embedding_topk_lsh``."""
    emb = embedding_vectors(spark, sf_dir, "label")
    anchors = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("e").alias("qe"),
    )
    pairs = (
        F.broadcast(anchors)
        .join(emb, F.col("q_label") != F.col("label"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            fround(cosine_similarity_expr(F.col("qe"), F.col("e")), 6).alias("cos_sim"),
        )
    )
    return _ranked_topk(pairs, top_k=3)


NEAR_DUP_COSINE = 0.4  # fixture has no planted twins; 0.4 captures the tail


def blocked_cosine_pairs(vectors: DataFrame, block: str) -> DataFrame:
    """(vec_a, vec_b, cos_sim) for every pair of ``vectors`` rows (vec_id,
    ``block``, e) that share a ``block`` value, with vec_a < vec_b: an
    equi-join on the blocking key, never a cross join, so the pair
    expansion is quadratic only in block size.

    Norms are precomputed per vector (map-side), so each candidate pair
    costs one dot-product HOF instead of three (measured 3x on the pair
    stage); dot/(na*nb) is the same float arithmetic as the oracles'
    ip/(sqrt(ipa)*sqrt(ipb)), so the 6dp-rounded cosine matches them."""
    left = vectors.withColumn("nrm", norm_expr(F.col("e")))
    right = left.select(
        F.col("vec_id").alias("vec_b"),
        F.col(block).alias(f"{block}_b"),
        F.col("e").alias("e_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = dot_expr(F.col("e"), F.col("e_b")) / (F.col("nrm") * F.col("nrm_b"))
    return left.join(
        right,
        (F.col(block) == F.col(f"{block}_b")) & (F.col("vec_id") < F.col("vec_b")),
    ).select(
        F.col("vec_id").alias("vec_a"),
        "vec_b",
        fround(cos, 6).alias("cos_sim"),
    )


@query(
    "embedding_near_dups",
    oracle=f"""
WITH v AS (
    {_vectors_sql("label")}
)
SELECT
    a.vec_id AS vec_a,
    b.vec_id AS vec_b,
    {cosine6_sql("a.e", "b.e")} AS cos_sim
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {cosine6_sql("a.e", "b.e")} >= {NEAR_DUP_COSINE}
""",
)
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, cluster-blocked: candidate
    pairs come from an equi-join on the coarse cluster id (label), never a
    full cross join — the same IVF blocking as ``embedding_topk_ivf``, here
    used for corpus-vs-corpus dedup.  At 10^9 vectors the blocking key is a
    k-means centroid (or LSH hyperplane signature) computed upstream; the
    per-block pair expansion is quadratic only in block size
    (``blocked_cosine_pairs``, norms precomputed per vector)."""
    pairs = blocked_cosine_pairs(embedding_vectors(spark, sf_dir, "label"), "label")
    return pairs.where(F.col("cos_sim") >= NEAR_DUP_COSINE)


# per-label mean vector, 4dp components: the oracle of both centroid kernels
_CENTROIDS_ORACLE = f"""
WITH ex AS (
    SELECT label,
           unnest(list_transform(embedding, (x, i) -> {{'pos': i, 'v': CAST(x AS DOUBLE)}})) AS u
    FROM {VALID_EMBEDDINGS_SQL} embeddings
), per_dim AS (
    SELECT label, u.pos AS pos, round(avg(u.v), 4) + 0 AS c, count(*) AS n
    FROM ex GROUP BY 1, 2
)
SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
       array_to_string(
           list(CAST(round(c * 10000) AS BIGINT) ORDER BY pos), ','
       ) AS centroid_q4
FROM per_dim GROUP BY 1
"""


@query("embedding_centroids", oracle=_CENTROIDS_ORACLE)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroid vectors (the offline half of IVF / one k-means
    Lloyd step): mean embedding per label, dimension-wise.

    Scale shape: ``posexplode`` -> groupBy(label, dim) with map-side partial
    sums — 64 float partials per (label, dim) group combine before the single
    shuffle, so 10^9 vectors shuffle |labels| x dims partial aggregates, not
    vectors.  The alternative (collect all vectors per label and average
    driver- or UDF-side) is the non-scalable shape this avoids.  Averages
    are rounded to 4dp before reassembly so cross-engine summation-order
    ULPs cannot leak into the hash (SURVEY §7 hard-part 2).

    The centroid is emitted as a comma-joined fixed-point (x10^4) integer
    string: exact integer text is bit-identical cross-engine, and scalar
    output columns keep the result hashable by pandas-based canonicalizers
    (ArrayType output columns are not)."""
    emb = load_valid_embeddings(spark, sf_dir)
    per_dim = (
        emb.select("label", F.posexplode(to_double_array("embedding")).alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("c"), F.count("*").alias("n"))
    )
    return per_dim.groupBy("label").agg(
        F.max("n").alias("n_vectors"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    # round to 4dp first (cross-engine determinism), then scale
                    # to integers — integer text cannot carry -0.0 or ULP noise
                    F.collect_list(
                        F.struct(
                            F.col("pos"),
                            cents(fround(F.col("c"), 4), 10000).alias("cq"),
                        )
                    )
                ),
                lambda s: s["cq"].cast("string"),
            ),
        ).alias("centroid_q4"),
    )


@query(
    "lsh_recall_audit",
    oracle=f"""
WITH bf AS (
    {_brute_force_topk_sql("q.vec_id <> c.vec_id", LSH_TOP_K)}
), lshr AS (
    {_ORACLE_LSH}
)
SELECT
    bf.query_id,
    CAST(count(*) AS INT)                AS n_true,
    CAST(count(l.neighbor_id) AS INT)    AS n_hit,
    round(count(l.neighbor_id) * 1.0 / count(*), 4) AS recall
FROM bf LEFT JOIN lshr l
    ON bf.query_id = l.query_id AND bf.neighbor_id = l.neighbor_id
GROUP BY bf.query_id
""",
)
def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the LSH index against exact brute force, per query:
    |LSH top-k ∩ true top-k| / k — the measurement loop every ANN
    deployment runs before trusting the index (tune bands/bits until
    recall clears the bar, re-audit on drift).

    Both sides are deterministic pipelines already under oracle check, so
    the audit itself is hash-checked too — the oracle recomputes exact AND
    approximate top-k in SQL and joins them, proving the Spark join
    reproduces the same hit set.  At scale the audit runs on a sampled
    query set (it costs one brute-force pass over the sample); recall on
    the sample bounds recall on the corpus."""
    bf = q_embedding_topk(spark, sf_dir).where(F.col("rank") <= LSH_TOP_K)
    lsh = (
        q_embedding_topk_lsh(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        bf.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("int").alias("n_true"),
            F.count("hit").cast("int").alias("n_hit"),
            fround(F.count("hit") / F.count("*"), 4).alias("recall"),
        )
    )


@query(
    "training_record_export",
    oracle=f"""
WITH v AS (
    SELECT vec_id,
        CAST(round({norm_sql("embedding::DOUBLE[]")}
                   * 10000) AS BIGINT) AS norm_e4
    FROM {VALID_EMBEDDINGS_SQL} embeddings
)
SELECT
    d.doc_id,
    d.lang,
    CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
    v.norm_e4,
    md5(concat_ws('|', d.doc_id, d.lang,
                  len(string_split(d.text, ' ')), v.norm_e4)) AS record_hash
FROM documents d JOIN v ON d.doc_id = v.vec_id
""",
)
def q_training_record_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-record export — the final assembly step of a data pipeline:
    join the curated text table to its embedding table (shared id space)
    and emit one self-describing record per document, fingerprinted so
    shard contents are verifiable after transport.  Floats never enter the
    record hash as strings (engines format doubles differently); the
    vector norm rides as scaled-long e4 — integer text is identical
    everywhere.

    The join is fact-fact on the id: at 100 TB both tables are written
    bucketed by doc_id (the bucketed_order_join layout), making the export
    a zero-exchange zip of co-located buckets; embedding bytes stay
    columnar until the shard writer consumes them."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "text")
    emb = load_valid_embeddings(spark, sf_dir).select(
        "vec_id",
        # norm_expr folds acc + x*x left-to-right — bit-identical to the
        # oracle's list_inner_product(e, e) sequential sum
        cents(norm_expr(to_double_array("embedding")), 10000).alias("norm_e4"),
    )
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("int")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            "doc_id",
            "lang",
            n_tokens.alias("n_tokens"),
            "norm_e4",
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("doc_id"),
                    F.col("lang"),
                    n_tokens,
                    F.col("norm_e4"),
                )
            ).alias("record_hash"),
        )
    )


_COGROUP_BUCKETS = 16


@query(
    "cogrouped_doc_vec_profile",
    oracle=f"""
WITH v AS (
    SELECT vec_id,
        CAST(round({norm_sql("embedding::DOUBLE[]")}
                   * 10000) AS BIGINT) AS norm_e4,
        vec_id % {_COGROUP_BUCKETS} AS bucket
    FROM {VALID_EMBEDDINGS_SQL} embeddings
), d AS (
    SELECT doc_id, n_chars, doc_id % {_COGROUP_BUCKETS} AS bucket FROM documents
), m AS (
    SELECT d.bucket,
        CAST(count(*) AS INT)                    AS n_matched,
        CAST(sum(d.n_chars * v.norm_e4) AS BIGINT) AS cross_sum
    FROM d JOIN v ON d.doc_id = v.vec_id
    GROUP BY d.bucket
)
-- FULL join with coalesced zero counts: Spark's cogroup hands the pandas
-- function every key present in EITHER relation (a bucket with docs but no
-- vectors still emits a row with n_vecs = 0), so an inner dd-vv join would
-- undercount on any fixture where the two id sets don't cover the same
-- residues
SELECT
    bucket,
    CAST(coalesce(dd.n_docs, 0) AS INT) AS n_docs,
    CAST(coalesce(vv.n_vecs, 0) AS INT) AS n_vecs,
    coalesce(m.n_matched, 0)            AS n_matched,
    coalesce(m.cross_sum, 0)            AS cross_sum
FROM (SELECT bucket, count(*) AS n_docs FROM d GROUP BY 1) dd
FULL JOIN (SELECT bucket, count(*) AS n_vecs FROM v GROUP BY 1) vv USING (bucket)
LEFT JOIN m USING (bucket)
""",
)
def q_cogrouped_doc_vec_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped CO-GROUP with arbitrary Python per key:
    ``groupBy(k).cogroup(other.groupBy(k)).applyInPandas`` hands each key's
    slice of BOTH tables to one Arrow-batched pandas function — the API for
    per-key logic that needs two relations at once and can't be expressed
    as a join + aggregate (custom alignment, per-key model scoring,
    imputation against a reference slice).

    The function here merges the bucket's docs and vectors and emits count
    and integer cross-product stats — deliberately simple so the DuckDB
    oracle can state the same result relationally and hash-check the whole
    cogroup path (shuffle on both sides, Arrow transfer, pandas merge,
    schema projection).  All hashed values are integers: nothing about
    pandas float summation order can leak into the check.

    Scale: both sides shuffle once on the key; each task sees one key
    group's pair of Arrow batches, so memory is bounded by the largest
    key group (pick the bucket count to bound it), and Python cost is
    amortized per batch, not per row."""
    import pandas as pd

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "n_chars", (F.col("doc_id") % _COGROUP_BUCKETS).alias("bucket")
    )
    vecs = load_valid_embeddings(spark, sf_dir).select(
        "vec_id",
        # norm_expr folds acc + x*x left-to-right — bit-identical to the
        # oracle's list_inner_product(e, e) sequential sum
        cents(norm_expr(to_double_array("embedding")), 10000).alias("norm_e4"),
        (F.col("vec_id") % _COGROUP_BUCKETS).alias("bucket"),
    )

    def profile(key, dpdf: pd.DataFrame, vpdf: pd.DataFrame) -> pd.DataFrame:
        merged = dpdf.merge(vpdf, left_on="doc_id", right_on="vec_id")
        return pd.DataFrame(
            [
                {
                    "bucket": int(key[0]),
                    "n_docs": len(dpdf),
                    "n_vecs": len(vpdf),
                    "n_matched": len(merged),
                    "cross_sum": int((merged["n_chars"] * merged["norm_e4"]).sum())
                    if len(merged)
                    else 0,
                }
            ]
        )

    return (
        docs.groupBy("bucket")
        .cogroup(vecs.groupBy("bucket"))
        .applyInPandas(
            profile,
            "bucket int, n_docs int, n_vecs int, n_matched int, cross_sum long",
        )
    )


# --------------------------------------------------------------------------
# Scalar-quantized (int8) ANN with exact rerank
# --------------------------------------------------------------------------

_SQ_CANDIDATES = 20  # 4x the final k — the quantized recall budget

_SQ_ORACLE = f"""
WITH v AS (
    {_vectors_sql()}
), sc AS (
    SELECT vec_id, e,
           127.0 / greatest(list_max(list_transform(e, y -> abs(y))), 1e-12) AS s
    FROM v
), q8 AS (
    SELECT vec_id, e,
           list_transform(e, x -> CAST(round(x * s) AS BIGINT)) AS i8
    FROM sc
), qs AS (
    SELECT * FROM q8 WHERE vec_id < {N_QUERIES}
), approx AS (
    SELECT
        q.vec_id AS query_id,
        c.vec_id AS neighbor_id,
        q.e AS qe,
        c.e AS ce,
        round(
            CAST(list_inner_product(q.i8, c.i8) AS DOUBLE)
            / (sqrt(CAST(list_inner_product(q.i8, q.i8) AS DOUBLE))
               * sqrt(CAST(list_inner_product(c.i8, c.i8) AS DOUBLE))),
            6
        ) AS approx_sim
    FROM qs q JOIN q8 c ON q.vec_id <> c.vec_id
), cand AS (
    SELECT * FROM (
        SELECT *, {_query_rank_sql("approx_sim DESC, neighbor_id")} AS arn
        FROM approx
    ) WHERE arn <= {_SQ_CANDIDATES}
), exact AS (
    SELECT query_id, neighbor_id, {cosine6_sql("qe", "ce")} AS cos_sim
    FROM cand
)
{_ranked_topk_sql("exact")}
"""


@query("embedding_topk_sq", oracle=_SQ_ORACLE)
def q_embedding_topk_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN: int8 per-vector absmax quantization (the
    ``embedding_quantize`` codec) drives candidate generation — integer dot
    products, exact cross-engine — then the top 4k candidates are reranked
    with exact double cosine.  The memory-bandwidth scale play: the
    candidate scan touches 1/4 the bytes of the full-precision corpus, and
    the exact math runs only on 4k rows per query.

    Plan: quantization is row-local higher-order-function work (codegen, no
    Python, no shuffle); candidate ranking is a per-query WindowGroupLimit
    (partial top-k before the shuffle); rerank touches ≤ 4k candidate
    rows/query.  Composes with the IVF/LSH pruners — quantize the bucketed
    candidates instead of the corpus."""
    emb = embedding_vectors(spark, sf_dir)
    scale = 127.0 / F.greatest(
        F.array_max(F.transform(F.col("e"), lambda x: F.abs(x))), F.lit(1e-12)
    )
    q8 = emb.select(
        "vec_id",
        F.transform(F.col("e"), lambda x: F.round(x * scale).cast("long")).alias("i8"),
    )
    queries = q8.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("i8").alias("qi8")
    )

    def int_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # the approx relation carries ONLY (query_id, neighbor_id, approx_sim) —
    # the full-precision vectors are re-joined onto the <= 20 survivors per
    # query AFTER candidate selection, so the rank-window shuffle moves
    # narrow rows, not two 64-dim double arrays per candidate (which at the
    # claimed 10^9-vector scale would re-shuffle the full-precision corpus
    # and forfeit the quantized-scan bandwidth win)
    approx = (
        F.broadcast(queries)
        .join(q8, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            fround(
                int_dot(F.col("qi8"), F.col("i8")).cast("double")
                / (
                    F.sqrt(int_dot(F.col("qi8"), F.col("qi8")).cast("double"))
                    * F.sqrt(int_dot(F.col("i8"), F.col("i8")).cast("double"))
                ),
                6,
            ).alias("approx_sim"),
        )
    )
    aw = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    cand = approx.withColumn("arn", F.row_number().over(aw)).where(
        F.col("arn") <= _SQ_CANDIDATES
    )
    return rerank_topk(cand, emb, TOP_K)


# --------------------------------------------------------------------------
# Arrow-native kernel: mapInArrow
# --------------------------------------------------------------------------

@query(
    "embedding_norms_arrow",
    oracle=f"""
SELECT
    vec_id,
    round({norm_sql("embedding::DOUBLE[]")}
          * 10000) / 10000                                   AS l2_norm,
    round(list_aggregate(embedding::DOUBLE[], 'sum') / len(embedding)
          * 10000) / 10000 + 0.0                             AS mean_component,
    CAST(len(list_filter(embedding, x -> x > 0)) AS INT)     AS n_positive
FROM {VALID_EMBEDDINGS_SQL} embeddings
""",
)
def q_embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector norms through ``mapInArrow`` — the zero-copy Arrow batch
    API one tier below pandas UDFs (no pandas conversion at all: the kernel
    reads ``pyarrow.RecordBatch`` columns as numpy views).  The shape for
    wide-embedding feature extraction where even pandas block consolidation
    is measurable overhead.

    Row-local (no shuffle); batch size bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.  Sums are float64 over
    float32 inputs; output rounds at 4dp, far above the summation-order
    noise floor (~1e-13 relative)."""
    import pyarrow as pa

    from e_commerce_streaming_datapipeline_spark.sources.batch import ensure_session_conf

    ensure_session_conf(spark)

    def kernel(batches):
        import numpy as np

        for batch in batches:
            vec_ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            emb = batch.column("embedding")
            # FixedSizeList/List of float32 -> (n, dim) float64 matrix
            flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            mat = flat.reshape(len(vec_ids), -1)
            # cumsum, not sum/einsum: numpy's reductions are pairwise, the
            # DuckDB oracle's list_aggregate is strictly sequential — cumsum's
            # last column IS the left-to-right sum, bit-identical to DuckDB
            seq_sum = np.cumsum(mat, axis=1)[:, -1]
            seq_sq = np.cumsum(mat * mat, axis=1)[:, -1]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vec_ids, type=pa.int64()),
                    pa.array(np.sqrt(seq_sq)),
                    pa.array(seq_sum / mat.shape[1]),
                    pa.array((mat > 0).sum(axis=1).astype(np.int32)),
                ],
                names=["vec_id", "l2_raw", "mean_raw", "n_positive"],
            )

    raw = load_valid_embeddings(spark, sf_dir).select("vec_id", "embedding").mapInArrow(
        kernel, "vec_id long, l2_raw double, mean_raw double, n_positive int"
    )
    return raw.select(
        "vec_id",
        fround(F.col("l2_raw"), 4).alias("l2_norm"),
        fround(F.col("mean_raw"), 4).alias("mean_component"),
        "n_positive",
    )


# --------------------------------------------------------------------------
# K-means Lloyd assignment step (exact integer arithmetic)
# --------------------------------------------------------------------------

# DuckDB twins of the integer k-means kernels: ``_Q4_SQL`` is the q4-scaled
# vector of ``ivf_input``; ``_IVF_DIST_SQL`` is ``_ivf_rational_dist`` from
# ``q4.v`` to the rational centroid ``c`` (n, s_arr)
_Q4_SQL = "list_transform(embedding::DOUBLE[], x -> CAST(round(x * 10000) AS BIGINT))"
_IVF_DIST_SQL = (
    "CAST(list_aggregate(list_transform(list_zip(q4.v, c.s_arr), "
    "p -> (c.n * p[1] - p[2]) * (c.n * p[1] - p[2])), 'sum') AS DOUBLE) / (c.n * c.n)"
)


@query(
    "kmeans_lloyd_step",
    oracle=f"""
WITH q4 AS (
    SELECT vec_id, label, {_Q4_SQL} AS v
    FROM {VALID_EMBEDDINGS_SQL} embeddings
), dims AS (
    SELECT label, u.i AS dim, sum(v[u.i]) AS s, count(*) AS n
    FROM q4, LATERAL unnest(generate_series(1, len(v))) u(i)
    GROUP BY 1, 2
), cents AS (
    SELECT label AS c_label, any_value(n) AS n,
           list(s ORDER BY dim) AS s_arr
    FROM dims GROUP BY label
), dists AS (
    SELECT
        q4.vec_id,
        q4.label AS old_label,
        c.c_label,
        {_IVF_DIST_SQL} AS d
    FROM q4, cents c
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY d, c_label
    ) AS rn
    FROM dists
)
SELECT
    vec_id,
    old_label,
    c_label AS assigned_label,
    old_label <> c_label AS reassigned,
    round(d / 100000000 * 10000) / 10000 AS dist_sq
FROM ranked WHERE rn = 1
""",
)
def q_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means Lloyd ASSIGNMENT step over the embedding corpus, exact
    enough to hash-check: vectors quantize to fixed-point x10^4 integers,
    cluster centroids stay RATIONAL (sum vector S, count n — never a
    rounded mean), and the squared distance to centroid k is computed as
    Σ(n·x − S)²/n² — pure integer math until one final IEEE division, so
    Spark and DuckDB produce bit-identical keys and the argmin is
    deterministic (ties break on label).  `reassigned` marks vectors that
    would migrate — the convergence signal a k-means driver loops on.

    Scale shape: centroid stats are one hash-agg (state = K×D longs);
    assignment is a broadcast of the K-row centroid table into a row-local
    map over the corpus — the canonical O(N·K·D) Lloyd step with no
    shuffle of the vectors themselves.  `dist_sq` is reported in original
    embedding units (÷10^8 for the two q4 scales)."""
    emb = load_valid_embeddings(spark, sf_dir).select(
        "vec_id",
        "label",
        F.transform(to_double_array("embedding"), lambda x: cents(x, 10000)).alias("v"),
    )
    dims = (
        emb.select("label", F.posexplode("v").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
    )
    centroids = dims.groupBy(F.col("label").alias("c_label")).agg(
        F.any_value("n").alias("n"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "s"))), lambda p: p["s"]
        ).alias("s_arr"),
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("s_arr"),
            lambda x, s: (F.col("n") * x - s) * (F.col("n") * x - s),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    ).cast("double") / (F.col("n") * F.col("n"))
    dists = emb.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        F.col("label").alias("old_label"),
        "c_label",
        dist.alias("d"),
    )
    w = Window.partitionBy("vec_id").orderBy("d", "c_label")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "old_label",
            F.col("c_label").alias("assigned_label"),
            (F.col("old_label") != F.col("c_label")).alias("reassigned"),
            fround(F.col("d") / 100000000, 4).alias("dist_sq"),
        )
    )


@query("embedding_centroids_arrow", oracle=_CENTROIDS_ORACLE)
def q_embedding_centroids_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`applyInArrow` twin of `embedding_centroids` — the grouped Arrow
    extension API (Spark 4): each label's vectors arrive as ONE Arrow table
    in the Python worker, the centroid is a float64 numpy mean, and the
    same 4dp-round-then-quantize emission as the built-in twin makes the
    two implementations and the shared DuckDB oracle mutually checking.

    When to use which: the built-in posexplode+avg twin is the 100 TB hot
    path (codegen, map-side partials, shuffles |labels|x|dims| partial
    rows); `applyInArrow` materializes each group in ONE worker — right
    when the per-group computation genuinely needs the whole matrix (SVD,
    whitening, pairwise stats) and |group| fits an executor, which is the
    documented trade, not a limitation."""
    import numpy as np
    import pyarrow as pa

    emb = load_valid_embeddings(spark, sf_dir).select("label", "embedding")

    def centroid(table: pa.Table) -> pa.Table:
        label = table.column("label")[0].as_py()
        # read the list column's flat value buffer directly (no per-element
        # Python boxing — the point of the Arrow path); embeddings are
        # fixed-width, so the flat buffer reshapes to (n, dim).  flatten()
        # rather than .values: ListArray.values ignores a non-zero array
        # offset, so a zero-copy sliced batch would silently read wrong rows
        arr = table.column("embedding").combine_chunks()
        flat = np.asarray(arr.flatten(), dtype=np.float64)
        mat = flat.reshape(len(arr), -1)
        # half-AWAY-from-zero, matching Spark's HALF_UP round and DuckDB's
        # std::round — np.round is half-to-even and would diverge on exact
        # .5 quantization boundaries
        y = mat.mean(axis=0) * 10000
        c = (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)
        return pa.table(
            {
                "label": pa.array([label], pa.int32()),
                "n_vectors": pa.array([mat.shape[0]], pa.int64()),
                "centroid_q4": pa.array([",".join(str(int(x)) for x in c)]),
            }
        )

    return emb.groupBy("label").applyInArrow(
        centroid, schema="label int, n_vectors long, centroid_q4 string"
    )


_PC_Q = 10_000  # fixed-point scale for vectors and iterates
_PC_ITERATIONS = 3


def _pc_half_away(x: float) -> int:
    """Half-away-from-zero rounding (DuckDB/Spark round semantics — Python's
    built-in round is banker's and would diverge on exact .5)."""
    import math

    return int(math.copysign(math.floor(abs(x) + 0.5), x))


@query(
    "embedding_top_pc",
    oracle=f"""
WITH xq AS (
    SELECT vec_id, u.i, u.x FROM (
        SELECT vec_id,
               unnest(list_transform(embedding::DOUBLE[],
                      (e, i) -> {{'i': i - 1, 'x': CAST(round(e * {_PC_Q}) AS BIGINT)}})) AS u
        FROM {VALID_EMBEDDINGS_SQL} embeddings
    )
), mu AS (
    SELECT i, CAST(round(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS m
    FROM xq GROUP BY 1
), xc AS (
    SELECT xq.vec_id, xq.i, xq.x - mu.m AS x
    FROM xq JOIN mu ON mu.i = xq.i
), s AS (
    SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS s
    FROM xc a JOIN xc b ON a.vec_id = b.vec_id
    GROUP BY 1, 2
),
v0 AS (SELECT i, CAST({_PC_Q} AS BIGINT) AS v FROM mu),
y1 AS (SELECT s.i, sum(s.s * v0.v) AS y FROM s JOIN v0 ON v0.i = s.j GROUP BY 1),
n1 AS (SELECT sqrt(CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE)) AS nrm FROM y1),
v1 AS (SELECT y1.i, CAST(round(CAST(y1.y AS DOUBLE) / n1.nrm * {_PC_Q}) AS BIGINT) AS v
       FROM y1, n1),
y2 AS (SELECT s.i, sum(s.s * v1.v) AS y FROM s JOIN v1 ON v1.i = s.j GROUP BY 1),
n2 AS (SELECT sqrt(CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE)) AS nrm FROM y2),
v2 AS (SELECT y2.i, CAST(round(CAST(y2.y AS DOUBLE) / n2.nrm * {_PC_Q}) AS BIGINT) AS v
       FROM y2, n2),
y3 AS (SELECT s.i, sum(s.s * v2.v) AS y FROM s JOIN v2 ON v2.i = s.j GROUP BY 1),
n3 AS (SELECT sqrt(CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE)) AS nrm FROM y3),
v3 AS (SELECT y3.i, CAST(round(CAST(y3.y AS DOUBLE) / n3.nrm * {_PC_Q}) AS BIGINT) AS v
       FROM y3, n3),
ray AS (
    SELECT
        CAST(sum(CAST(v3.v AS HUGEINT) * y3.y) AS DOUBLE)
        / CAST((SELECT sum(v * v) FROM v3) AS DOUBLE) AS lam_scaled
    FROM v3 JOIN y3 ON y3.i = v3.i
)
SELECT
    CAST(v3.i AS INT)                           AS dim,
    v3.v                                        AS loading_q4,
    round(ray.lam_scaled / {_PC_Q * _PC_Q} * 100) / 100 AS eigenvalue
FROM v3, ray
""",
)
def q_embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by POWER ITERATION
    over the centered second-moment matrix — dimensionality
    reduction/whitening's first step, expressed the way it scales: the
    corpus-sized work is ONE aggregation building the dims x dims moment
    relation (4,096 keys — map-side partial outer products, tiny shuffle),
    and the eigensolve runs on that sketch-sized relation, never on rows.

    Exactness discipline (same as kmeans_lloyd_step): vectors quantize to
    x10^4 integers, centering subtracts the QUANTIZED mean, the moment
    matrix and every matrix-vector product are exact integer arithmetic
    (|y| <= 6.4e16 fits int64; norms accumulate in int128/HUGEINT), and
    each iterate renormalizes through one deterministic double sqrt/divide
    — so Spark, Python driver math, and the DuckDB oracle agree bitwise.
    Sign/rotation ambiguity is fixed by the deterministic all-ones start.

    The 4,096-row moment relation is collected to the driver for the
    64-dim eigensolve (bounded by dims^2, independent of corpus size —
    exactly how production PCA hands the Gram matrix to LAPACK)."""
    import math

    emb = load_valid_embeddings(spark, sf_dir)
    xq = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(to_double_array("embedding"), lambda e: cents(e, _PC_Q))
        ).alias("i", "x"),
    )
    mu = xq.groupBy("i").agg(
        F.round(F.sum("x").cast("double") / F.count("*"), 0).cast("long").alias("m")
    )
    xc = xq.join(mu, "i").select("vec_id", "i", (F.col("x") - F.col("m")).alias("x"))
    right = xc.select("vec_id", F.col("i").alias("j"), F.col("x").alias("xj"))
    s_rel = (
        xc.join(right, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("x") * F.col("xj")).alias("s"))
    )
    # dims^2-bounded collect (4,096 rows regardless of corpus size)
    s_map: dict[tuple[int, int], int] = {
        (r["i"], r["j"]): r["s"] for r in s_rel.collect()
    }
    if not s_map:
        # degenerate corpus (no valid embeddings): zero rows, same schema —
        # matching the oracle's empty result instead of crashing on max()
        return spark.createDataFrame(
            [], "dim int, loading_q4 long, eigenvalue double"
        )
    dims = max(i for i, _ in s_map) + 1
    v = [_PC_Q] * dims
    y = v
    for _ in range(_PC_ITERATIONS):
        y = [
            sum(s_map.get((i, j), 0) * v[j] for j in range(dims))
            for i in range(dims)
        ]
        nrm = math.sqrt(float(sum(yi * yi for yi in y)))  # exact int -> double
        v = [_pc_half_away(float(yi) / nrm * _PC_Q) for yi in y]
    lam_scaled = float(sum(vi * yi for vi, yi in zip(v, y))) / float(
        sum(vi * vi for vi in v)
    )
    eigenvalue = _pc_half_away(lam_scaled / (_PC_Q * _PC_Q) * 100) / 100
    return spark.createDataFrame(
        [(i, v[i], float(eigenvalue)) for i in range(dims)],
        "dim int, loading_q4 long, eigenvalue double",
    )


# --------------------------------------------------------------------------
# Trained IVF: k-means from scratch (2 Lloyd iterations) + nprobe search
# --------------------------------------------------------------------------

_IVF_K = 8
_IVF_NPROBE = 2
_IVF_TOPK = 3


def ivf_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, lab, v, e): q4-scaled integer vectors + exact doubles +
    the deterministic ``vec_id % K`` seed labels — the row shape every IVF
    training/search stage consumes.  Row-local projection, no shuffle."""
    return load_valid_embeddings(spark, sf_dir).select(
        "vec_id",
        (F.col("vec_id") % _IVF_K).alias("lab"),
        F.transform(to_double_array("embedding"), lambda x: cents(x, 10000)).alias("v"),
        to_double_array("embedding").alias("e"),
    )


def ivf_centroids(assigned: DataFrame) -> DataFrame:
    """Rational centroids per cluster: (c_label, n, s_arr) where the
    centroid is s_arr/n kept as exact integers — one posexplode + two
    hash-aggregates, K rows out regardless of corpus size."""
    dims = (
        assigned.select("lab", F.posexplode("v").alias("dim", "x"))
        .groupBy("lab", "dim")
        .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
    )
    return dims.groupBy(F.col("lab").alias("c_label")).agg(
        F.any_value("n").alias("n"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "s"))), lambda p: p["s"]
        ).alias("s_arr"),
    )


def _ivf_rational_dist():
    """Exact-integer rational distance Σ(n·x − S)² / n² between the row's
    scaled vector and a rational centroid — built lazily (Column
    construction needs an active session)."""
    return F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("s_arr"),
            lambda x, s: (F.col("n") * x - s) * (F.col("n") * x - s),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    ).cast("double") / (F.col("n") * F.col("n"))


def ivf_assign(vectors: DataFrame, cents: DataFrame, top: int = 1) -> DataFrame:
    """Broadcast-codebook argmin assignment (ties on c_label); ``top`` > 1
    yields the nprobe-nearest centroids per vector (with probe rank ``rn``)
    for query probing.

    Shape (r9 VERDICT task #3): the codebook stays a broadcast RELATION
    (literal/collected codebooks measured catastrophically slower — r9
    rejected #3) and the per-vector argmin is a single AGGREGATE, not a
    ``row_number`` window: the former window exchanged all N×K scored rows
    and sorted them per vector — at 10⁹ vectors an N×K shuffle — while the
    aggregate partially reduces map-side to one row per vector, so the
    exchange carries N rows whatever K is."""
    scored = vectors.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "v",
        "e",
        F.struct(_ivf_rational_dist().alias("d"), F.col("c_label")).alias("sc"),
    )
    if top == 1:
        return scored.groupBy("vec_id").agg(
            F.any_value("v").alias("v"),
            F.any_value("e").alias("e"),
            F.min("sc").alias("sc"),
        ).select(
            "vec_id",
            "v",
            "e",
            F.col("sc.c_label").alias("c_label"),
            F.col("sc.d").alias("d"),
            F.lit(1).alias("rn"),
        )
    tops = scored.groupBy("vec_id").agg(
        F.any_value("v").alias("v"),
        F.any_value("e").alias("e"),
        F.slice(F.array_sort(F.collect_list("sc")), 1, top).alias("tops"),
    )
    return tops.select(
        "vec_id", "v", "e", F.posexplode("tops").alias("pos", "sc")
    ).select(
        "vec_id",
        "v",
        "e",
        F.col("sc.c_label").alias("c_label"),
        F.col("sc.d").alias("d"),
        (F.col("pos") + 1).alias("rn"),
    )


def ivf_train(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Two deterministic Lloyd rounds from the ``vec_id % K`` seeding:
    returns (assignments as (vec_id, e, cluster), trained centroids) —
    the shared index both `trained_ivf_topk` and the composed
    `embedding_topk_ivf_adc` search against."""
    a1 = ivf_assign(emb, ivf_centroids(emb)).select(
        "vec_id", "v", "e", F.col("c_label").alias("lab")
    )
    cents2 = ivf_centroids(a1)
    a2 = ivf_assign(a1, cents2).select(
        "vec_id", "e", F.col("c_label").alias("cluster")
    )
    return a2, cents2


def ivf_probe_cands(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """(query_id, neighbor_id, rn): the trained IVF index's candidates —
    every corpus vector assigned to one of each query's ``nprobe`` nearest
    trained centroids, tagged with that centroid's probe rank ``rn``.  A
    vector has one cluster and a query's probes are distinct clusters, so
    each pair appears once.  The search is an equi-join on cluster id
    (candidate fraction ≈ nprobe/K)."""
    emb = ivf_input(spark, sf_dir)
    assigned, cents = ivf_train(emb)
    probes = ivf_assign(
        emb.where(F.col("vec_id") < N_QUERIES), cents, top=nprobe
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("c_label").alias("probe_label"),
        "rn",
    )
    return probes.join(
        assigned,
        (F.col("probe_label") == F.col("cluster"))
        & (F.col("query_id") != F.col("vec_id")),
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), "rn")

def _ivf_stage_sql(i: int | str, src: str) -> str:
    """One Lloyd stage in DuckDB: centroids ``cents{i}`` from ``src``'s
    ``lab`` column, then the integer-rational argmin assignment
    ``assign{i}`` of every vector."""
    return f"""
, cents{i} AS (
    SELECT lab AS c_label, any_value(n) AS n, list(s ORDER BY dim) AS s_arr
    FROM (
        SELECT lab, u.i AS dim, sum(v[u.i]) AS s, count(*) AS n
        FROM {src}, LATERAL unnest(generate_series(1, len(v))) u(i)
        GROUP BY 1, 2
    ) GROUP BY 1
), assign{i} AS (
    SELECT vec_id, v, e, c_label AS label{i}
    FROM (
        SELECT q4.vec_id, q4.v, q4.e, c.c_label,
               row_number() OVER (PARTITION BY q4.vec_id ORDER BY {_IVF_DIST_SQL}, c.c_label) AS rn
        FROM q4 JOIN {src} USING (vec_id), cents{i} c
    ) WHERE rn = 1
)
"""


def _ivf_probes_sql(cents: str, nprobe: int) -> str:
    """``ivf_assign(..., top=nprobe)`` of the query vectors: each one's
    ``nprobe`` nearest centroids of CTE ``cents``, as (query_id,
    probe_label, rn)."""
    return f"""SELECT vec_id AS query_id, c_label AS probe_label, rn
    FROM (
        SELECT q4.vec_id, c.c_label,
               row_number() OVER (PARTITION BY q4.vec_id ORDER BY {_IVF_DIST_SQL}, c.c_label) AS rn
        FROM q4, {cents} c
        WHERE q4.vec_id < {N_QUERIES}
    ) WHERE rn <= {nprobe}"""


# the shared IVF training prefix (q4 scaling -> seeding -> two Lloyd
# stages): reused by the trained search and the nprobe recall audit so both
# provably index against the same learned clusters
_IVF_TRAIN_SQL = f"""q4 AS (
    SELECT vec_id, vec_id % {_IVF_K} AS seed, {_Q4_SQL} AS v, embedding::DOUBLE[] AS e
    FROM {VALID_EMBEDDINGS_SQL} embeddings
), seeded AS (SELECT vec_id, seed AS lab, v FROM q4)
{_ivf_stage_sql(1, "(SELECT vec_id, lab, v FROM seeded)")}
{_ivf_stage_sql(2, "(SELECT vec_id, label1 AS lab, v FROM assign1)")}"""


@query(
    "trained_ivf_topk",
    oracle=f"""
WITH {_IVF_TRAIN_SQL}
, probes AS (
    {_ivf_probes_sql("cents2", _IVF_NPROBE)}
), cands AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p
    JOIN assign2 a ON a.label2 = p.probe_label AND a.vec_id <> p.query_id
), {_rerank_topk_sql("cands", _IVF_TOPK, "q4")}
""",
)
def q_trained_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF trained END TO END in the engine: k-means centroids learned from
    scratch (deterministic ``vec_id % K`` seeding, two full Lloyd
    iterations with the module's exact-integer rational-centroid metric),
    every vector assigned to its learned cluster, and queries probing their
    ``nprobe=2`` nearest centroids with exact cosine rerank of the probed
    candidates — the complete production ANN lifecycle (train → index →
    search) where `embedding_topk_ivf` used the fixture's label column as
    a stand-in for offline clustering.

    Everything is hash-checked: Lloyd assignment keys are pure integer math
    (Σ(n·x − S)², one final division), so both engines learn IDENTICAL
    clusters, and the search result is deterministic given the clusters.

    Scale shape: each Lloyd iteration is one O(N·K·D) broadcast-centroid
    map + one K×D hash-agg — vectors never shuffle; the search is an
    equi-join on cluster id (candidate fraction ≈ nprobe/K).  Integer
    headroom: |n·x − S| ≤ 2·n·10⁴ ⇒ the 64-dim sum fits int64 to n ≈ 10⁸
    per cluster; beyond that the accumulator becomes DECIMAL(38,0) with
    the same plan."""
    cands = ivf_probe_cands(spark, sf_dir, _IVF_NPROBE).drop("rn")
    return rerank_topk(cands, embedding_vectors(spark, sf_dir), _IVF_TOPK)


# --------------------------------------------------------------------------
# Matryoshka (truncated-dimension) retrieval audit
# --------------------------------------------------------------------------

MRL_DIM = 16  # prefix dimensions of the 64-dim embedding used for search
MRL_TOP_K = 10


@query(
    "matryoshka_recall_audit",
    oracle=f"""
WITH v AS ({_vectors_sql()}), q AS ({_QUERIES_SQL}), pairs AS (
    SELECT
        q.vec_id AS query_id,
        c.vec_id AS neighbor_id,
        {cosine6_sql("q.e", "c.e")} AS cos_full,
        {cosine6_sql(f"q.e[1:{MRL_DIM}]", f"c.e[1:{MRL_DIM}]")} AS cos_trunc
    FROM q JOIN v c ON q.vec_id <> c.vec_id
), truth AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, {_query_rank_sql("cos_full DESC, neighbor_id")} AS rn
        FROM pairs
    ) WHERE rn <= {MRL_TOP_K}
), trunc AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, {_query_rank_sql("cos_trunc DESC, neighbor_id")} AS rn
        FROM pairs
    ) WHERE rn <= {MRL_TOP_K}
)
SELECT
    t.query_id,
    CAST(count(*) AS INT)              AS n_true,
    CAST(count(x.neighbor_id) AS INT)  AS n_hit,
    round(count(x.neighbor_id) * 1.0 / count(*), 4) AS recall,
    round(CAST(sum(count(x.neighbor_id)) OVER () AS DOUBLE)
          / sum(count(*)) OVER (), 4)  AS mean_recall
FROM truth t LEFT JOIN trunc x
    ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id
GROUP BY t.query_id
""",
)
def q_matryoshka_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: retrieval by the embedding's
    FIRST 16 dimensions vs ground truth from the full 64 — per query,
    |trunc top-10 ∩ full top-10| / 10, plus the macro recall.  This is
    the measurement behind dimension-truncated ANN deployments (store/scan
    16/64 of the bytes, rerank survivors at full precision): the audit
    says what that 4× scan saving costs in recall BEFORE you ship it.

    One pass computes BOTH similarities per pair (the truncated dot product
    is a prefix slice of the same codegen'd zip_with — no second scan);
    both rankings are rank-filtered partitioned windows and the hit check
    is an equi-join on (query, neighbor).  At scale the audit runs on a
    sampled query set exactly like `lsh_recall_audit`."""
    emb = embedding_vectors(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    qt = F.slice(F.col("qe"), 1, MRL_DIM)
    ct = F.slice(F.col("e"), 1, MRL_DIM)
    pairs = (
        F.broadcast(queries)
        .join(emb, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            fround(cosine_similarity_expr(F.col("qe"), F.col("e")), 6).alias(
                "cos_full"
            ),
            fround(cosine_similarity_expr(qt, ct), 6).alias("cos_trunc"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), F.col("neighbor_id")
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("cos_trunc").desc(), F.col("neighbor_id")
    )
    truth = (
        pairs.withColumn("rn", F.row_number().over(wf))
        .where(F.col("rn") <= MRL_TOP_K)
        .select("query_id", "neighbor_id")
    )
    trunc = (
        pairs.withColumn("rn", F.row_number().over(wt))
        .where(F.col("rn") <= MRL_TOP_K)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    allw = Window.partitionBy()
    return (
        truth.join(F.broadcast(trunc), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("int").alias("n_true"),
            F.count("hit").cast("int").alias("n_hit"),
            fround(F.count("hit") / F.count("*"), 4).alias("recall"),
        )
        .select(
            "query_id",
            "n_true",
            "n_hit",
            "recall",
            fround(
                F.sum("n_hit").over(allw).cast("double") / F.sum("n_true").over(allw),
                4,
            ).alias("mean_recall"),
        )
    )


# --------------------------------------------------------------------------
# k-NN label prediction accuracy (the classifier eval over the ANN stack)
# --------------------------------------------------------------------------


@query(
    "knn_label_accuracy",
    oracle=f"""
WITH v AS ({_vectors_sql("label")}), q AS ({_QUERIES_SQL}), pairs AS (
    SELECT
        q.vec_id AS query_id,
        c.vec_id AS neighbor_id,
        c.label  AS nbr_label,
        {cosine6_sql("q.e", "c.e")} AS cos_sim
    FROM q JOIN v c ON q.vec_id <> c.vec_id
), top AS (
    SELECT query_id, nbr_label FROM (
        SELECT query_id, nbr_label, {_query_rank_sql()} AS rn FROM pairs
    ) WHERE rn <= {TOP_K}
), votes AS (
    SELECT query_id, nbr_label, count(*) AS n_votes FROM top GROUP BY 1, 2
), predicted AS (
    SELECT query_id, nbr_label AS predicted_label, n_votes FROM (
        SELECT *, {_query_rank_sql("n_votes DESC, nbr_label")} AS rn FROM votes
    ) WHERE rn = 1
)
SELECT
    p.query_id,
    q.label AS true_label,
    p.predicted_label,
    CAST(p.n_votes AS BIGINT) AS n_votes,
    CASE WHEN p.predicted_label = q.label THEN 1 ELSE 0 END AS correct,
    round(CAST(sum(CASE WHEN p.predicted_label = q.label THEN 1 ELSE 0 END)
               OVER () AS DOUBLE) / count(*) OVER (), 4) AS accuracy
FROM predicted p JOIN q ON q.vec_id = p.query_id
""",
)
def q_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification over the ANN stack: each query vector's label is
    predicted by majority vote of its 5 nearest neighbors (cosine; vote
    ties break to the smaller label — a total order, so both engines elect
    the same winner), scored against the vector's true label — the
    standard "are these embeddings any good for my labels" probe, and the
    evaluation loop a kNN-classifier deployment runs on every re-embed.

    Scale shape: the neighbor lists are the same rank-filtered windows the
    rest of the similarity family uses (at scale, swap the brute-force
    pairs for the IVF/LSH candidates — the vote/score tail is unchanged);
    votes and the argmax election are per-query aggregations over k rows.
    """
    emb = embedding_vectors(spark, sf_dir, "label")
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("e").alias("qe"),
    )
    pairs = (
        F.broadcast(queries)
        .join(emb, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "true_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nbr_label"),
            fround(cosine_similarity_expr(F.col("qe"), F.col("e")), 6).alias(
                "cos_sim"
            ),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    top = (
        pairs.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "true_label", "nbr_label")
    )
    votes = top.groupBy("query_id", "true_label", "nbr_label").agg(
        F.count("*").alias("n_votes")
    )
    # NULL-label neighbors lose vote ties on BOTH engines (Spark ASC is
    # NULLS FIRST; DuckDB's is NULLS LAST — pin the DuckDB order)
    we = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("nbr_label").asc_nulls_last()
    )
    predicted = (
        votes.withColumn("rn", F.row_number().over(we))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("nbr_label").alias("predicted_label"),
            "n_votes",
        )
    )
    wa = Window.partitionBy()
    correct = F.when(F.col("predicted_label") == F.col("true_label"), 1).otherwise(0)
    return predicted.select(
        "query_id",
        "true_label",
        "predicted_label",
        F.col("n_votes").cast("long").alias("n_votes"),
        correct.alias("correct"),
        fround(
            F.sum(correct).over(wa).cast("double") / F.count("*").over(wa), 4
        ).alias("accuracy"),
    )


# --------------------------------------------------------------------------
# MMR (maximal marginal relevance) diversified re-ranking
# --------------------------------------------------------------------------

MMR_CAND = 20   # candidate depth entering the re-rank
MMR_K = 10      # diversified picks emitted
# lambda = 0.7 as the integer pair (7, 3): score = 7*rel - 3*max_sim, micros


def _mmr_sel_sql() -> str:
    parts = []
    for k in range(2, MMR_K + 1):
        parts.append(f""", sel{k} AS MATERIALIZED (
    SELECT * FROM sel{k - 1}
    UNION ALL
    SELECT query_id, nid, rel, pen, {k} AS rk FROM (
        SELECT c.query_id, c.nid, c.rel, coalesce(mx.pen, 0) AS pen,
               row_number() OVER (
                   PARTITION BY c.query_id
                   ORDER BY 7 * c.rel - 3 * coalesce(mx.pen, 0) DESC, c.nid
               ) AS rn
        FROM cands c
        LEFT JOIN (
            SELECT s.query_id, s.a AS nid, max(s.s) AS pen
            FROM sims s JOIN sel{k - 1} p
              ON p.query_id = s.query_id AND p.nid = s.b
            GROUP BY 1, 2
        ) mx ON mx.query_id = c.query_id AND mx.nid = c.nid
        WHERE NOT EXISTS (
            SELECT 1 FROM sel{k - 1} p2
            WHERE p2.query_id = c.query_id AND p2.nid = c.nid
        )
    ) WHERE rn = 1
)""")
    return "".join(parts)


@query(
    "mmr_diversified_topk",
    oracle=f"""
WITH v AS ({_vectors_sql()}), q AS ({_QUERIES_SQL}), pairs AS (
    SELECT
        q.vec_id AS query_id,
        c.vec_id AS nid,
        CAST(round({cosine6_sql("q.e", "c.e")} * 1000000) AS BIGINT) AS rel
    FROM q JOIN v c ON q.vec_id <> c.vec_id
), cands AS MATERIALIZED (
    SELECT query_id, nid, rel FROM (
        SELECT *, {_query_rank_sql("rel DESC, nid")} AS rn FROM pairs
    ) WHERE rn <= {MMR_CAND}
), sims AS MATERIALIZED (
    SELECT
        c1.query_id, c1.nid AS a, c2.nid AS b,
        CAST(round({cosine6_sql("va.e", "vb.e")} * 1000000) AS BIGINT) AS s
    FROM cands c1
    JOIN cands c2 ON c2.query_id = c1.query_id AND c2.nid <> c1.nid
    JOIN v va ON va.vec_id = c1.nid
    JOIN v vb ON vb.vec_id = c2.nid
), sel1 AS MATERIALIZED (
    SELECT query_id, nid, rel, CAST(0 AS BIGINT) AS pen, 1 AS rk FROM (
        SELECT *, {_query_rank_sql("rel DESC, nid")} AS rn FROM cands
    ) WHERE rn = 1
){_mmr_sel_sql()}
SELECT
    query_id,
    CAST(rk AS INT) AS mmr_rank,
    nid AS neighbor_id,
    round(rel / 1000000.0, 6) AS cos_sim,
    round(pen / 1000000.0, 6) AS diversity_penalty,
    round((7 * rel - 3 * pen) / 10000000.0, 6) AS mmr_score
FROM sel{MMR_K}
""",
)
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (maximal marginal relevance) re-ranking of the cosine top-20 —
    the diversity pass a retrieval stack runs between ANN and the user:
    picks greedily maximize 7·relevance − 3·(max similarity to anything
    already picked) (λ=0.7 as an integer weight pair), so near-duplicate
    hits stop crowding out distinct ones.

    The greedy loop is inherently sequential per query, so it runs as a
    grouped `applyInPandas` kernel over BOUNDED per-query state (20
    candidates + their 20×19 pairwise sims, all micros integers — pure
    Python int arithmetic inside the kernel, no float accumulation), and
    the oracle unrolls the same 10 picks as chained SQL selections —
    maximally different executions of one greedy recurrence, hash-equal.

    Scale shape: relevance and pairwise-candidate similarities come from
    codegen'd vector expressions BEFORE the kernel (Python sees only
    micros longs); per-query work is O(CAND²) = constant, queries fan out
    across partitions — 10⁶ queries re-rank embarrassingly parallel."""
    import pandas as pd

    emb = embedding_vectors(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    pairs = (
        F.broadcast(queries)
        .join(emb, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("nid"),
            cents(fround(cosine_similarity_expr(F.col("qe"), F.col("e")), 6), 1000000)
            .alias("rel"),
            "e",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("nid"))
    cands = pairs.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= MMR_CAND
    )
    c1 = cands.select("query_id", F.col("nid").alias("a"), F.col("e").alias("ea"))
    c2 = cands.select(
        F.col("query_id").alias("q2"), F.col("nid").alias("b"), F.col("e").alias("eb")
    )
    sims = c1.join(
        c2, (F.col("query_id") == F.col("q2")) & (F.col("a") != F.col("b"))
    ).select(
        "query_id",
        "a",
        "b",
        cents(fround(cosine_similarity_expr(F.col("ea"), F.col("eb")), 6), 1000000)
        .alias("s"),
    )
    rel_rows = cands.select(
        "query_id",
        F.col("nid").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.col("rel").alias("v"),
    )
    sim_rows = sims.select("query_id", "a", "b", F.col("s").alias("v"))
    tagged = rel_rows.unionAll(sim_rows)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        rel = {}
        sim = {}
        for a, b, v in zip(pdf["a"], pdf["b"], pdf["v"]):
            if pd.isna(b):
                rel[int(a)] = int(v)
            else:
                sim[(int(a), int(b))] = int(v)
        remaining = set(rel)
        picked: list[int] = []
        out = []
        for rk in range(1, MMR_K + 1):
            best = None
            for c in remaining:
                pen = max((sim.get((c, p), 0) for p in picked), default=0)
                score = 7 * rel[c] - 3 * pen
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, pen)
            _, c, pen = best
            remaining.discard(c)
            picked.append(c)
            out.append((qid, rk, c, rel[c], pen))
        return pd.DataFrame(
            out, columns=["query_id", "mmr_rank", "neighbor_id", "rel", "pen"]
        )

    picked = tagged.groupBy("query_id").applyInPandas(
        greedy,
        "query_id long, mmr_rank int, neighbor_id long, rel long, pen long",
    )
    return picked.select(
        "query_id",
        "mmr_rank",
        "neighbor_id",
        fround(F.col("rel") / 1000000.0, 6).alias("cos_sim"),
        fround(F.col("pen") / 1000000.0, 6).alias("diversity_penalty"),
        fround((7 * F.col("rel") - 3 * F.col("pen")) / 10000000.0, 6).alias(
            "mmr_score"
        ),
    )


# --------------------------------------------------------------------------
# Product quantization (PQ): per-subspace codebooks + integer ADC search
# --------------------------------------------------------------------------

_PQ_M = 4        # subspaces
_PQ_SUBDIM = 16  # dims per subspace (4 x 16 = the fixture's 64)
_PQ_K = 8        # codewords per subspace codebook
_PQ_TOPK = 5

# ``_pq_int_dist`` in DuckDB, from subvector ``s.sv`` to codeword ``c.c_arr``
_PQ_DIST_SQL = (
    "CAST(list_aggregate(list_transform(list_zip(s.sv, c.c_arr), "
    "p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS BIGINT)"
)


def _pq_stage_sql(i: int, src: str, lab: str) -> str:
    """One per-subspace Lloyd stage in DuckDB: integer (rounded) centroids
    ``cents{i}`` from ``src``'s ``lab`` labels, then the exact-integer
    argmin re-assignment ``assign{i}`` of every subvector."""
    return f"""
, cents{i} AS (
    SELECT sub, lab, list(c ORDER BY dim) AS c_arr
    FROM (
        SELECT sub, {lab} AS lab, u.i AS dim,
               CAST(round(CAST(sum(sv[u.i]) AS DOUBLE) / count(*)) AS BIGINT) AS c
        FROM {src}, LATERAL unnest(generate_series(1, {_PQ_SUBDIM})) u(i)
        GROUP BY 1, 2, 3
    ) GROUP BY 1, 2
), assign{i} AS (
    SELECT vec_id, sub, sv, lab AS lab{i}
    FROM (
        SELECT s.vec_id, s.sub, s.sv, c.lab,
               row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY {_PQ_DIST_SQL}, c.lab) AS rn
        FROM subv s JOIN cents{i} c ON c.sub = s.sub
    ) WHERE rn = 1
)
"""


def pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, sub, sv): the q4-scaled integer subvectors of each valid
    embedding — the PQ representation both the batch search and the
    streaming encoder start from.  Row-local (slice + explode), no
    shuffle."""
    v = F.transform(to_double_array("embedding"), lambda x: cents(x, 10000))
    subs = F.array(
        *[
            F.struct(
                F.lit(s).cast("long").alias("sub"),
                F.slice(v, s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sv"),
            )
            for s in range(_PQ_M)
        ]
    )
    return emb.select("vec_id", F.explode(subs).alias("p")).select(
        "vec_id", F.col("p.sub").alias("sub"), F.col("p.sv").alias("sv")
    )


def _pq_centroids(assigned: DataFrame) -> DataFrame:
    """Integer (rounded-mean) centroids per (sub, lab) — one posexplode +
    two hash-aggregates; K*M*SUBDIM rows out regardless of corpus size."""
    dims = (
        assigned.select("sub", "lab", F.posexplode("sv").alias("dim", "x"))
        .groupBy("sub", "lab", "dim")
        .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
    )
    return (
        dims.select(
            "sub",
            "lab",
            "dim",
            F.round(F.col("s").cast("double") / F.col("n")).cast("long").alias("c"),
        )
        .groupBy("sub", "lab")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda p: p["c"],
            ).alias("c_arr")
        )
    )


def _pq_int_dist():
    """Exact-integer Σ(x−c)² between the row's subvector and a codeword —
    built lazily (Column construction needs an active session)."""
    return F.aggregate(
        F.zip_with(F.col("sv"), F.col("c_arr"), lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def _pq_assign(subv: DataFrame, cents: DataFrame) -> DataFrame:
    """Exact-integer argmin assignment of every subvector to its nearest
    codeword (ties broken on the code id) via broadcast codebook join.

    Same aggregate-argmin shape as ``ivf_assign`` (r9 VERDICT task #3):
    BroadcastHashJoin on ``sub`` then ONE aggregate whose map-side partial
    reduces the N×K scored rows to one per (vec_id, sub) before the
    exchange — the former ``row_number`` window shuffled and sorted all
    N×K rows."""
    scored = subv.join(F.broadcast(cents), "sub").select(
        "vec_id",
        "sub",
        "sv",
        F.struct(_pq_int_dist().alias("d"), F.col("lab")).alias("sc"),
    )
    return (
        scored.groupBy("vec_id", "sub")
        .agg(F.any_value("sv").alias("sv"), F.min("sc").alias("sc"))
        .select("vec_id", "sub", "sv", F.col("sc.lab").alias("lab"))
    )


def pq_train_codebook(subv: DataFrame) -> DataFrame:
    """The deterministic PQ codebook: ``vec_id % K`` seeding, two Lloyd
    rounds of (integer centroids -> exact-integer argmin re-assignment).
    Returns (sub, lab, c_arr) — K*M rows; hash-identical across engines
    because every step is integer except the round-half-away centroid
    mean (Spark/DuckDB parity pinned by fround property tests)."""
    seeded = subv.withColumn("lab", F.col("vec_id") % _PQ_K)
    return _pq_centroids(_pq_assign(subv, _pq_centroids(seeded)))


# the shared training prefix: q4 scaling -> subspace slicing -> seeding ->
# two Lloyd stages.  Reused verbatim by the streaming encoder's oracle so
# batch search and stream encoding provably share one codebook definition.
_PQ_CODEBOOK_CTES = f"""subv AS (
    SELECT vec_id, u.sub,
           list_slice(v, u.sub * {_PQ_SUBDIM} + 1,
                      u.sub * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS sv
    FROM q4, LATERAL unnest(generate_series(0, {_PQ_M - 1})) u(sub)
), seeded AS (
    SELECT vec_id, sub, sv, vec_id % {_PQ_K} AS lab FROM subv
)
{_pq_stage_sql(1, "seeded", "lab")}
{_pq_stage_sql(2, "assign1", "lab1")}"""
_PQ_TRAIN_CTES = f"""q4 AS (
    SELECT vec_id, {_Q4_SQL} AS v
    FROM {VALID_EMBEDDINGS_SQL} embeddings
), {_PQ_CODEBOOK_CTES}"""


def _pq_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The trained PQ index every PQ search reads: train the codebook, then
    return (codes, dtab) — the corpus encoded as (vec_id, sub, code), and
    the per-query distance table (query_id, sub, code, d) to every
    codeword.  The codebook stays a broadcast relation (r9 rejected #3)."""
    subv = pq_subvectors(load_valid_embeddings(spark, sf_dir))
    cents2 = pq_train_codebook(subv)
    codes = _pq_assign(subv, cents2).select(
        "vec_id", "sub", F.col("lab").alias("code")
    )
    dtab = (
        subv.where(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cents2), "sub")
        .select(
            F.col("vec_id").alias("query_id"),
            "sub",
            F.col("lab").alias("code"),
            _pq_int_dist().alias("d"),
        )
    )
    return codes, dtab


def _adc_topk(adc: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` smallest ADC distances (ties on neighbor_id),
    ranked in ``rank``.  SQL twin: ``_adc_topk_sql``."""
    w = Window.partitionBy("query_id").orderBy("adc_dist_q8", "neighbor_id")
    return adc.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _adc_topk_sql(cols: str, k: int) -> str:
    return f"""SELECT {cols} FROM (
    SELECT *, {_query_rank_sql("adc_dist_q8, neighbor_id")} AS rn FROM adc
) WHERE rn <= {k}"""


def _pq_adc_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared ADC aggregation both PQ search tiers rank: the
    per-(query, doc) integer ADC distance over the whole encoded corpus.
    One definition — the Python twin of the SQL side's ``_PQ_SEARCH_CTES``
    — so the pure-ADC ranking and the rerank tier can never diverge on
    what ADC means."""
    codes, dtab = _pq_index(spark, sf_dir)
    return (
        F.broadcast(dtab)
        .join(codes, ["sub", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adc_dist_q8"))
    )


# the shared SEARCH middle: encode all vectors, per-query distance table,
# ADC aggregation — reused by the exact-rerank variant's oracle
_PQ_SEARCH_CTES = f"""codes AS (
    SELECT vec_id, sub, lab2 AS code FROM assign2
), dtab AS (
    SELECT s.vec_id AS query_id, c.sub, c.lab AS code, {_PQ_DIST_SQL} AS d
    FROM subv s JOIN cents2 c ON c.sub = s.sub
    WHERE s.vec_id < {N_QUERIES}
), adc AS (
    SELECT t.query_id, co.vec_id AS neighbor_id,
           CAST(sum(t.d) AS BIGINT) AS adc_dist_q8
    FROM dtab t JOIN codes co ON co.sub = t.sub AND co.code = t.code
    WHERE co.vec_id <> t.query_id
    GROUP BY 1, 2
)"""


@query(
    "embedding_topk_pq",
    oracle=f"""
WITH {_PQ_TRAIN_CTES}
, {_PQ_SEARCH_CTES}
{_adc_topk_sql("query_id, neighbor_id, adc_dist_q8, CAST(rn AS INT) AS rank", _PQ_TOPK)}
""",
)
def q_embedding_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI'11): the 64-dim corpus
    is split into 4 × 16-dim subspaces, a K=8 codebook is k-means-trained
    PER SUBSPACE in the engine (deterministic ``vec_id % K`` seeding, two
    Lloyd rounds), every vector is encoded as 4 small codes, and queries
    rank the corpus by ASYMMETRIC DISTANCE COMPUTATION — a per-query
    distance TABLE to the 32 centroids, then each document's approximate
    distance is 4 table lookups summed.  Completes the ANN family's
    memory-axis story: LSH/IVF prune WHICH vectors are scored;
    int8-SQ/Matryoshka/PQ shrink WHAT is scored (PQ here: 64×4 bytes →
    4 codes, a 64× compression before the rerank tier).

    Everything is integer end-to-end, so the result is hash-exact across
    engines with no float-summation-order risk: subvectors are q4-scaled
    longs, centroids are ROUNDED to integers after each Lloyd average
    (round-half-away parity Spark↔DuckDB), assignment/ADC distances are
    Σ(x−c)² in int64 (≤ 16·(2·10⁴)² · 4 subspaces ≈ 2.6·10¹⁰, far inside
    int64), ties break on (distance, code) / (distance, neighbor_id).

    Scale shape: training is two O(N·K·D) broadcast-codebook maps + K×M×D
    hash-aggregates (raw vectors never shuffle; codebook is 32 rows);
    encoding is the same broadcast map; the ADC distance table is
    queries × 32 rows, BROADCAST to the encoded corpus.  The one shuffle
    is the per-(query, doc) sum — map-side combine collapses the M
    matched rows per pair before the exchange, so Q×N skinny rows move,
    never raw vectors; the kernel variant in scripts/ann_scale_probe.py
    removes even that (dtable gathers + local top-R inside mapInPandas,
    only Q×R shortlist rows leave each partition) and is the shape a
    10⁹-doc deployment runs.  The encoded table is 4 bytes/vector of code
    payload — the reason PQ is the standard billion-scale tier."""
    return _adc_topk(_pq_adc_relation(spark, sf_dir), _PQ_TOPK).select(
        "query_id", "neighbor_id", "adc_dist_q8", "rank"
    )


_PQ_SHORTLIST = 20


@query(
    "embedding_topk_pq_rerank",
    oracle=f"""
WITH {_PQ_TRAIN_CTES}
, {_PQ_SEARCH_CTES}
, vv AS (
    {_vectors_sql()}
), short AS (
    {_adc_topk_sql("query_id, neighbor_id", _PQ_SHORTLIST)}
), {_rerank_topk_sql("short", _PQ_TOPK, "vv")}
""",
)
def q_embedding_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-tier PQ search, oracle-checked end to end: the
    integer ADC scan ranks the WHOLE corpus from 1-byte codes, a top-20
    shortlist per query survives, and only the shortlist is re-scored with
    exact double cosine — the deployment shape the ANN probe measures at
    1M vectors (SCALE.md: ADC alone cannot rank inside a quantization
    cell on a near-dup corpus; the rerank tier restores recall).

    Plan shape: everything up to the shortlist is `embedding_topk_pq`'s
    no-corpus-shuffle pipeline; the shortlist is queries × 20 rows, and
    ``rerank_topk`` re-scores only those pairs — full-precision cosine is
    computed for 20 rows/query no matter the corpus size.  Cross-engine
    determinism: the ADC tier is exact int64 (tie-break neighbor_id), the
    rerank rounds cosine to 6dp with fround parity."""
    short = _adc_topk(_pq_adc_relation(spark, sf_dir), _PQ_SHORTLIST)
    return rerank_topk(
        short.select("query_id", "neighbor_id"), embedding_vectors(spark, sf_dir), _PQ_TOPK
    )


# --------------------------------------------------------------------------
# Composed IVF-ADC: trained-IVF pruning x PQ codes x exact rerank
# --------------------------------------------------------------------------

# the composed oracle re-derives BOTH indexes in one WITH: the PQ stages
# keep their cents1/assign1/cents2/assign2 names, the IVF stages are
# instantiated with i="i1"/"i2" (centsi1/assigni1/...), and one shared q4
# carries (v: q4-scaled longs, e: exact doubles) for both
_IVF_ADC_ORACLE = f"""
WITH q4 AS (
    SELECT vec_id, {_Q4_SQL} AS v, embedding::DOUBLE[] AS e
    FROM {VALID_EMBEDDINGS_SQL} embeddings
), {_PQ_CODEBOOK_CTES}
, iseeded AS (SELECT vec_id, vec_id % {_IVF_K} AS lab, v FROM q4)
{_ivf_stage_sql("i1", "(SELECT vec_id, lab, v FROM iseeded)")}
{_ivf_stage_sql("i2", "(SELECT vec_id, labeli1 AS lab, v FROM assigni1)")}
, probes AS (
    {_ivf_probes_sql("centsi2", _IVF_NPROBE)}
), cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p
    JOIN assigni2 a ON a.labeli2 = p.probe_label AND a.vec_id <> p.query_id
), codes AS (
    SELECT vec_id, sub, lab2 AS code FROM assign2
), dtab AS (
    SELECT s.vec_id AS query_id, c.sub, c.lab AS code, {_PQ_DIST_SQL} AS d
    FROM subv s JOIN cents2 c ON c.sub = s.sub
    WHERE s.vec_id < {N_QUERIES}
), adc AS (
    SELECT ca.query_id, ca.neighbor_id, CAST(sum(t.d) AS BIGINT) AS adc_dist_q8
    FROM cand ca
    JOIN codes co ON co.vec_id = ca.neighbor_id
    JOIN dtab t ON t.query_id = ca.query_id
              AND t.sub = co.sub AND t.code = co.code
    GROUP BY 1, 2
), short AS (
    {_adc_topk_sql("query_id, neighbor_id", _PQ_SHORTLIST)}
), {_rerank_topk_sql("short", _PQ_TOPK, "q4")}
"""


@query("embedding_topk_ivf_adc", oracle=_IVF_ADC_ORACLE)
def q_embedding_topk_ivf_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED production ANN layout — IVF pruning x PQ compression x
    exact rerank, the three tiers the registry proves separately
    (`trained_ivf_topk`, `embedding_topk_pq`, `embedding_topk_pq_rerank`)
    chained into the FAISS-style IVFADC index (Jegou et al., TPAMI'11):

    1. **Prune** — queries probe their nprobe=2 nearest trained
       IVF centroids; only vectors assigned to probed clusters become
       candidates (candidate fraction ~ nprobe/K, measured scale-invariant
       in SCALE.md "ANN at scale").
    2. **Compress** — candidates are ranked by exact-integer ADC over the
       4x16 PQ codes (4 table lookups + sum per candidate, no raw-vector
       reads), shortlisting 20/query.
    3. **Rerank** — only the shortlist touches full-precision vectors for
       exact cosine; top-5 out.

    Both codebooks are trained in-engine with the same deterministic
    seeding/Lloyd helpers as the standalone tiers (`ivf_train`,
    `pq_train_codebook`), so the composed result is hash-checked against
    a DuckDB oracle that re-derives the identical indexes.

    Scale shape: training aggregates are K-bounded; candidate generation is
    an equi-join on cluster id; ADC joins are broadcast (codebook/dtab are
    K*M rows); raw vectors never shuffle through training or ADC, and
    ``rerank_topk`` joins exact vectors to the Q x 20 shortlist only —
    SCALE.md's measured 1M-vector IVF-ADC probe row is this pipeline."""
    cand = ivf_probe_cands(spark, sf_dir, _IVF_NPROBE).drop("rn")
    codes, dtab = _pq_index(spark, sf_dir)
    adc = (
        cand.join(codes, F.col("neighbor_id") == F.col("vec_id"))
        .join(F.broadcast(dtab), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc_dist_q8"))
    )
    short = _adc_topk(adc, _PQ_SHORTLIST).select("query_id", "neighbor_id")
    return rerank_topk(short, embedding_vectors(spark, sf_dir), _PQ_TOPK)


# --------------------------------------------------------------------------
# IVF nprobe recall audit: the production tuning curve, hash-checked
# --------------------------------------------------------------------------

_IVF_AUDIT_LEVELS = [1, 2, 4]


_IVF_PROBE_AUDIT_ORACLE = f"""
WITH {_IVF_TRAIN_SQL}
, probes AS (
    {_ivf_probes_sql("cents2", max(_IVF_AUDIT_LEVELS))}
), pcands AS (
    SELECT p.query_id, a.vec_id AS neighbor_id, CAST(min(p.rn) AS INT) AS min_lvl
    FROM probes p
    JOIN assign2 a ON a.label2 = p.probe_label AND a.vec_id <> p.query_id
    GROUP BY 1, 2
), bf AS (
    {_brute_force_topk_sql("q.vec_id <> c.vec_id", _IVF_TOPK)}
), lv AS (
    SELECT unnest({_IVF_AUDIT_LEVELS}) AS nprobe
)
SELECT
    lv.nprobe,
    CAST(count(*) AS INT) AS n_true,
    CAST(count(CASE WHEN pc.min_lvl <= lv.nprobe THEN 1 END) AS INT) AS n_hit,
    round(count(CASE WHEN pc.min_lvl <= lv.nprobe THEN 1 END) * 1.0
          / count(*), 4) AS recall
FROM bf
CROSS JOIN lv
LEFT JOIN pcands pc
    ON pc.query_id = bf.query_id AND pc.neighbor_id = bf.neighbor_id
GROUP BY 1
"""


@query("ivf_probe_recall_audit", oracle=_IVF_PROBE_AUDIT_ORACLE)
def q_ivf_probe_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall vs nprobe for the TRAINED IVF index — the tuning
    curve a production deployment reads before fixing its probe budget
    (`lsh_multiprobe_recall_audit` is the same audit for the LSH family):
    for each nprobe in {1, 2, 4}, what fraction of the TRUE top-3 cosine
    pairs lies in a probed cluster?  One row per level; recall must be
    monotone in nprobe by construction (pinned in tests).

    Same one-pass trick as the LSH audit: each true pair is tagged with the
    MINIMUM probe rank that surfaces it (= the rank of the neighbor's
    learned cluster in the query's centroid ordering), then every audit
    level counts pairs at or below it — no per-level re-join.  The oracle
    re-trains the identical clusters (shared `_IVF_TRAIN_SQL` with the
    search query) and rebuilds both sides in SQL, so the whole
    train -> index -> probe -> recall pipeline is hash-checked.

    SCALE.md's 200k/1M-vector probe rows measure the same sweep at scale
    (recall 67→88→95% with scale-invariant candidate ratio); this registers
    the fixture-sized, exact-oracle version as a permanent witness."""
    # each pair appears once (ivf_probe_cands), so its probe rank is already
    # the minimum level that surfaces it
    tagged = ivf_probe_cands(spark, sf_dir, max(_IVF_AUDIT_LEVELS)).withColumnRenamed(
        "rn", "min_lvl"
    )
    return _recall_by_level(spark, sf_dir, tagged, _IVF_TOPK, "nprobe", _IVF_AUDIT_LEVELS)


# --------------------------------------------------------------------------
# Embedding drift monitor: centroid shift between reference and current halves
# --------------------------------------------------------------------------

_DRIFT_SCALE = 1000  # per-component fixed point (1e-3): keeps the 64-dim
# dot product of summed vectors inside BIGINT at 10^9 rows (see docstring)


@query(
    "embedding_drift_centroid",
    oracle=f"""
WITH base AS (
    SELECT vec_id, embedding,
           CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS half
    FROM embeddings
    WHERE {VALID_EMBEDDING_PRED}
), dims AS (
    SELECT half, u.pos AS d,
           CAST(sum(CAST(round(u.v * {_DRIFT_SCALE}) AS BIGINT)) AS BIGINT) AS s
    FROM base,
         LATERAL unnest(list_transform(embedding,
             (x, i) -> {{'pos': i, 'v': CAST(x AS DOUBLE)}})) AS t(u)
    GROUP BY 1, 2
), halves AS (
    SELECT
        (SELECT count(*) FROM base WHERE half = 'ref') AS n_ref,
        (SELECT count(*) FROM base WHERE half = 'cur') AS n_cur
), paired AS (
    SELECT r.d, r.s AS sr, c.s AS sc
    FROM (SELECT d, s FROM dims WHERE half = 'ref') r
    JOIN (SELECT d, s FROM dims WHERE half = 'cur') c USING (d)
), sums AS (
    SELECT
        CAST(sum(sr * sc) AS BIGINT)                 AS dot,
        CAST(sum(sr * sr) AS BIGINT)                 AS nr2,
        CAST(sum(sc * sc) AS BIGINT)                 AS nc2,
        CAST(sum(abs(sr * h.n_cur - sc * h.n_ref)) AS BIGINT) AS cross_l1,
        CAST(max(abs(sr * h.n_cur - sc * h.n_ref)) AS BIGINT) AS cross_max
    FROM paired, halves h
)
SELECT
    h.n_ref, h.n_cur,
    round(CAST(s.dot AS DOUBLE) / (sqrt(CAST(s.nr2 AS DOUBLE))
                                   * sqrt(CAST(s.nc2 AS DOUBLE))) * 1000000)
        / 1000000                                   AS centroid_cosine,
    s.cross_l1                                      AS l1_shift_scaled,
    s.cross_max                                     AS max_dim_shift_scaled
FROM sums s, halves h
""",
)
def q_embedding_drift_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING drift monitor — `psi_value_drift`'s vector sibling: split
    the corpus into a reference and a current half (vec_id parity plays
    the time axis), reduce each half to its per-dimension SUM vector, and
    report (1) the cosine between the two centroid directions — the "did
    the embedding distribution rotate?" alarm retraining pipelines key on
    — plus (2) the exact L1 and max per-dimension mean shift
    (cross-multiplied by the opposite half's count so the comparison is
    pure BIGINT arithmetic, no mean division anywhere).

    Exactness: components are fixed to 1e-3 longs at the scan, so each
    half's sum vector is an exact integer vector; dot/norms over 64 dims
    of |v|<=~3 stay under 2^63 past 10^9 rows per half, and the single
    cosine division + the two IEEE sqrts run on identical integers in
    both engines — bit-identical output (the deterministic-parity answer
    to PSI's fixed bins).

    Scale: one explode + 64-group hash aggregate (map-side partial sums
    reduce each partition to 64 rows before the shuffle); everything
    after runs on a 64-row relation.  The same sum-vector relation is the
    building block for per-SOURCE centroids, k-means seeding and
    Matryoshka audits."""
    from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join
    from e_commerce_streaming_datapipeline_spark.functions.rounding import fround
    from e_commerce_streaming_datapipeline_spark.sources.batch import (
        load_valid_embeddings,
    )

    base = load_valid_embeddings(spark, sf_dir).select(
        "vec_id",
        "embedding",
        F.when(F.pmod("vec_id", F.lit(2)) == 0, F.lit("ref"))
        .otherwise(F.lit("cur"))
        .alias("half"),
    )
    dims = (
        base.select("half", F.posexplode("embedding").alias("d", "v"))
        .groupBy("half", "d")
        .agg(
            F.sum(cents(F.col("v").cast("double"), _DRIFT_SCALE)).alias("s")
        )
    )
    halves = base.agg(
        F.sum((F.col("half") == "ref").cast("long")).alias("n_ref"),
        F.sum((F.col("half") == "cur").cast("long")).alias("n_cur"),
    )
    paired = (
        dims.where(F.col("half") == "ref")
        .select("d", F.col("s").alias("sr"))
        .join(
            dims.where(F.col("half") == "cur").select("d", F.col("s").alias("sc")),
            "d",
        )
    )
    shift = F.abs(F.col("sr") * F.col("n_cur") - F.col("sc") * F.col("n_ref"))
    sums = scalar_join(paired, halves).agg(
        F.first("n_ref").alias("n_ref"),
        F.first("n_cur").alias("n_cur"),
        F.sum(F.col("sr") * F.col("sc")).alias("dot"),
        F.sum(F.col("sr") * F.col("sr")).alias("nr2"),
        F.sum(F.col("sc") * F.col("sc")).alias("nc2"),
        F.sum(shift).alias("cross_l1"),
        F.max(shift).alias("cross_max"),
    )
    return sums.select(
        "n_ref",
        "n_cur",
        fround(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("nr2").cast("double")) * F.sqrt(F.col("nc2").cast("double"))),
            6,
        ).alias("centroid_cosine"),
        F.col("cross_l1").cast("long").alias("l1_shift_scaled"),
        F.col("cross_max").cast("long").alias("max_dim_shift_scaled"),
    )


# --------------------------------------------------------------------------
# Fisher discriminability audit: which embedding dimensions separate classes
# --------------------------------------------------------------------------

_FISHER_SCALE = 100  # 1e-2 component fixed point keeps squared sums in BIGINT
_FISHER_TOPK = 5


@query(
    "fisher_discriminative_dims",
    oracle=f"""
WITH base AS (
    SELECT CASE WHEN label < 5 THEN 0 ELSE 1 END AS cls, embedding
    FROM embeddings
    WHERE {VALID_EMBEDDING_PRED} AND label IS NOT NULL
), dims AS (
    -- u.pos is 1-based in DuckDB's list_transform; Spark's posexplode is
    -- 0-based, and d is an OUTPUT column here
    SELECT cls, u.pos - 1 AS d,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(u.v * {_FISHER_SCALE}) AS BIGINT)) AS BIGINT) AS s,
           CAST(sum(CAST(round(u.v * {_FISHER_SCALE}) AS BIGINT)
                    * CAST(round(u.v * {_FISHER_SCALE}) AS BIGINT)) AS BIGINT) AS q
    FROM base,
         LATERAL unnest(list_transform(embedding,
             (x, i) -> {{'pos': i, 'v': CAST(x AS DOUBLE)}})) AS t(u)
    GROUP BY 1, 2
), paired AS (
    SELECT a.d,
           a.n AS n1, a.s AS s1, a.q AS q1,
           b.n AS n2, b.s AS s2, b.q AS q2
    FROM (SELECT * FROM dims WHERE cls = 0) a
    JOIN (SELECT * FROM dims WHERE cls = 1) b USING (d)
), scored AS (
    SELECT d, n1, n2,
           (s1 * n2 - s2 * n1) * (s1 * n2 - s2 * n1)          AS between_num,
           (n1 + n2) * ((n1 * q1 - s1 * s1) * n2
                        + (n2 * q2 - s2 * s2) * n1)            AS within_den
    FROM paired
)
SELECT d, n1, n2,
       CAST(between_num AS BIGINT) AS between_num,
       CAST(within_den AS BIGINT)  AS within_den,
       round(CAST(between_num AS DOUBLE) / within_den * 1000000) / 1000000
           AS fisher_ratio
FROM scored
ORDER BY CAST(between_num AS DOUBLE) / within_den DESC, d
LIMIT {_FISHER_TOPK}
""",
)
def q_fisher_discriminative_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FISHER discriminability audit of the embedding space: for the binary
    split label<5 vs label>=5, score every dimension by the Fisher ratio
    (between-class separation over pooled within-class variance) and
    return the top-{_FISHER_TOPK} most discriminative dimensions — the
    diagnostic behind feature selection, Matryoshka-style dimension
    pruning (`matryoshka_recall_audit` measures recall after truncation;
    this explains WHICH dims carried the signal), and probing whether an
    embedding column encodes a label at all.

    Exactness: components fix to 1e-2 longs at the scan; per (class, dim)
    the count/sum/sum-of-squares are exact BIGINTs, and the Fisher ratio
    reduces to ONE division of two exact integers
    ((s1*n2 - s2*n1)^2 over (n1+n2)*((n1*q1 - s1^2)*n2 + (n2*q2 - s2^2)*n1))
    — cross-multiplied so no mean or variance is ever computed in floats;
    the ranking compares those identical doubles on both engines.

    Scale: one explode + (2 x 64)-group hash aggregate with map-side
    partial sums; everything downstream is a 64-row relation.  BIGINT
    headroom: |s| <= 3e2-scaled * n, so s^2-terms stay under 2^63 up to
    ~1e7 rows per class at this scale; beyond that, raise the aggregate to
    DECIMAL(38,0) (exactness preserved) — docstring contract."""
    from e_commerce_streaming_datapipeline_spark.sources.batch import (
        load_valid_embeddings,
    )

    base = load_valid_embeddings(spark, sf_dir).where(
        F.col("label").isNotNull()
    ).select(
        F.when(F.col("label") < 5, F.lit(0)).otherwise(F.lit(1)).alias("cls"),
        "embedding",
    )
    comp = cents(F.col("v").cast("double"), _FISHER_SCALE)
    dims = (
        base.select("cls", F.posexplode("embedding").alias("d", "v"))
        .groupBy("cls", "d")
        .agg(
            F.count("*").alias("n"),
            F.sum(comp).alias("s"),
            F.sum(comp * comp).alias("q"),
        )
    )
    paired = (
        dims.where(F.col("cls") == 0)
        .select("d", F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("q").alias("q1"))
        .join(
            dims.where(F.col("cls") == 1).select(
                "d", F.col("n").alias("n2"), F.col("s").alias("s2"), F.col("q").alias("q2")
            ),
            "d",
        )
    )
    between = (F.col("s1") * F.col("n2") - F.col("s2") * F.col("n1")) ** 2
    # ** on columns is pow (double); keep it integer: multiply explicitly
    diff = F.col("s1") * F.col("n2") - F.col("s2") * F.col("n1")
    between = diff * diff
    within = (F.col("n1") + F.col("n2")) * (
        (F.col("n1") * F.col("q1") - F.col("s1") * F.col("s1")) * F.col("n2")
        + (F.col("n2") * F.col("q2") - F.col("s2") * F.col("s2")) * F.col("n1")
    )
    scored = paired.select(
        "d",
        "n1",
        "n2",
        between.cast("long").alias("between_num"),
        within.cast("long").alias("within_den"),
    )
    ratio = F.col("between_num").cast("double") / F.col("within_den")
    from e_commerce_streaming_datapipeline_spark.functions.rounding import fround

    return (
        scored.select(
            "d", "n1", "n2", "between_num", "within_den",
            fround(ratio, 6).alias("fisher_ratio"),
        )
        .orderBy(ratio.desc(), "d")
        .limit(_FISHER_TOPK)
    )


# --------------------------------------------------------------------------
# Per-vector outlier audit: diagonal Mahalanobis distance to the corpus
# --------------------------------------------------------------------------

_OUTLIER_TOPK = 12
_OUTLIER_SCALE = 10000  # y = round(x * 1e4): exact integer per-dim sums


@query(
    "embedding_outlier_topk",
    oracle=f"""
WITH v AS (
    SELECT vec_id, label,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(round(x * {_OUTLIER_SCALE}) AS BIGINT)) AS y
    FROM embeddings
    WHERE {VALID_EMBEDDING_PRED}
), dims AS (
    SELECT u.i AS dim,
           CAST(count(*) AS BIGINT)        AS n,
           CAST(sum(u.y) AS BIGINT)        AS s,
           CAST(sum(u.y * u.y) AS BIGINT)  AS q
    FROM v, LATERAL unnest(list_transform(y, (e, i) -> {{'i': i, 'y': e}})) t(u)
    GROUP BY 1
), st AS (
    SELECT list({{'mean': CAST(s AS DOUBLE) / n,
                 'var': CAST(q AS DOUBLE) / n
                        - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)}}
                ORDER BY dim) AS stats
    FROM dims
), scored AS (
    SELECT v.vec_id, v.label,
           round(list_reduce(
               list_transform(v.y, (a, i) ->
                   CASE WHEN st.stats[i].var > 0
                        THEN (a - st.stats[i].mean) * (a - st.stats[i].mean)
                             / st.stats[i].var
                        ELSE 0.0 END),
               (acc, x) -> acc + x), 6) AS maha2
    FROM v CROSS JOIN st
)
SELECT vec_id, label, maha2, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (ORDER BY maha2 DESC, vec_id) AS rn FROM scored
)
WHERE rn <= {_OUTLIER_TOPK}
""",
)
def q_embedding_outlier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-VECTOR outlier audit — squared diagonal-Mahalanobis distance to
    the corpus (per-dimension z-scores, summed): the embedding-quality gate
    that flags corrupt encodes, wrong-model vectors, and genuine semantic
    outliers BEFORE they poison ANN shortlists and centroid training.
    Complements the family's other audits (`embedding_drift_centroid`
    watches the population move; `fisher_discriminative_dims` scores
    dimensions; this scores individual vectors).

    Determinism: per-dim moments come from EXACT integer sums of
    y = round(x·1e4) (order-free), means/variances are derived from those
    integers through identical expression trees on both engines, and the
    64-term score folds LEFT-TO-RIGHT (Spark ``aggregate`` / DuckDB
    ``list_reduce``) so the float chain is bit-identical before the 6dp
    round.  Zero-variance dimensions contribute 0 by the same CASE on both
    engines (no divide-by-zero).

    Scale: one explode pass for the 64-row moment relation (map-side
    partial aggregation collapses it), the stats ride back as a broadcast
    scalar row, and scoring is row-local expression work inside codegen —
    the same O(N·D) map shape as `kmeans_lloyd_step`; top-k is a
    TakeOrdered, never a global sort."""
    from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join

    v = load_valid_embeddings(spark, sf_dir).select(
        "vec_id",
        "label",
        F.transform(
            to_double_array("embedding"), lambda x: cents(x, _OUTLIER_SCALE)
        ).alias("y"),
    )
    dims = (
        v.select(F.posexplode("y").alias("dim", "yv"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.sum("yv").alias("s"),
            F.sum(F.col("yv") * F.col("yv")).alias("q"),
        )
    )
    mean = F.col("s").cast("double") / F.col("n")
    stats = dims.select(
        "dim",
        F.struct(
            mean.alias("mean"),
            (F.col("q").cast("double") / F.col("n") - mean * mean).alias("var"),
        ).alias("st"),
    )
    stats_arr = stats.groupBy().agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, st))), p -> p.st)"
        ).alias("__stats")
    )
    score = F.expr(
        "aggregate(zip_with(y, __stats, (a, s) -> "
        "CASE WHEN s.var > 0D THEN (a - s.mean) * (a - s.mean) / s.var "
        "ELSE 0D END), 0D, (acc, x) -> acc + x)"
    )
    scored = scalar_join(v, stats_arr).select(
        "vec_id", "label", fround(score, 6).alias("maha2")
    )
    w = Window.orderBy(F.col("maha2").desc(), F.col("vec_id"))
    return (
        scored.orderBy(F.col("maha2").desc(), "vec_id")
        .limit(_OUTLIER_TOPK)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )
