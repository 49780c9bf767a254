"""Deduplication family — reference operator D1
(``dropDuplicates(["event_id"])``, stream_processor.py:138-139) generalized
into the dedup toolbox a 100 TB training-data pipeline needs (BASELINE.json
scale-up mandate): exact key dedup, content-hash dedup, token-bag
fingerprints, MinHash+LSH near-dup, and SimHash signatures.

Design rules for 100 TB:
* Everything is hash-groupBy / hash-join — one shuffle per stage, no
  pairwise O(n²) anywhere: LSH banding turns near-dup search into an
  equi-join on band keys.
* All hashing is md5 (JVM-side, codegen) over explicit strings so the DuckDB
  oracle computes bit-identical signatures — no engine-private hash
  functions in oracle-checked paths.
* The streaming twin (``dropDuplicatesWithinWatermark``) lives in
  streaming/processors.py; batch winners here are defined by deterministic
  ``row_number`` tie-breaks, never arrival order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from e_commerce_streaming_datapipeline_spark.functions.ranks import register_cache
from e_commerce_streaming_datapipeline_spark.functions.checkpoints import round_checkpoint
from e_commerce_streaming_datapipeline_spark.functions.rounding import fround
from e_commerce_streaming_datapipeline_spark.functions.vector import cosine6_sql, norm_sql
from e_commerce_streaming_datapipeline_spark.functions.hashing import hash_half, hash_half_sql

from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import VALID_EMBEDDINGS_SQL, load_table

# MinHash/LSH parameters: 16 hashes in 4 bands of 4 — standard S-curve puts
# the candidate threshold near jaccard ≈ (1/4)^(1/4) ≈ 0.71; verification
# keeps pairs ≥ JACCARD_THRESHOLD.
N_HASHES = 16
N_BANDS = 4
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.2


# -- D1: exact key dedup -----------------------------------------------------

@query(
    "dedup_events",
    oracle="""
SELECT event_id, ts, user_id, event_type, value
FROM events
QUALIFY row_number() OVER (
    PARTITION BY event_id ORDER BY ts, user_id, event_type, value
) = 1
""",
)
def q_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 batch twin: keep one row per event_id with a deterministic
    min-(ts, user_id, event_type) winner — unlike the reference's
    arrival-order ``dropDuplicates`` (stream_processor.py:138-139), this is
    stable under any partitioning.  ``value`` completes the sort key: a
    duplicate pair tying on (ts, user_id, event_type) but differing in value
    would otherwise let each engine pick its own winner."""
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_id").orderBy("ts", "user_id", "event_type", "value")
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


# -- exact content dedup -----------------------------------------------------

@query(
    "dedup_docs_exact",
    oracle="""
SELECT
    md5(lower(trim(text)))   AS content_hash,
    CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
    count(*)                 AS n_copies
FROM documents
GROUP BY 1
""",
)
def q_dedup_docs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: md5 of normalized text, keep the min doc_id.
    One shuffle on the 128-bit hash — the canonical 100 TB exact-dedup plan
    (hash is computed map-side; only (hash, id) pairs shuffle)."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


@query(
    "dedup_docs_bag",
    oracle="""
SELECT
    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        AS bag_fingerprint,
    CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
    count(*)                    AS n_docs,
    count(*) > 1                AS is_dup_group
FROM documents
GROUP BY 1
""",
)
def q_dedup_docs_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bag fingerprint dedup: order-insensitive duplicate detection
    (catches shuffled/re-ordered copies that exact hashing misses — the
    fixture contains 21 such groups)."""
    docs = load_table(spark, "documents", sf_dir)
    bag = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.col("text"), " ")))))
    return (
        docs.select(bag.alias("bag_fingerprint"), "doc_id")
        .groupBy("bag_fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_docs"),
            (F.count("*") > 1).alias("is_dup_group"),
        )
    )


# -- MinHash + LSH near-dup --------------------------------------------------

def shingled_docs(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """doc_id + distinct k-token shingles (word k-grams).

    ``split(text)`` is projected ONCE into a ``toks`` column before the
    shingle lambda runs — a lambda body re-evaluates outer expressions per
    array element (no common-subexpression elimination across the HOF
    boundary), which at 100 TB means re-tokenizing every document ~3x per
    shingle."""
    toks_df = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    # the expression must be TOTAL, not merely guarded by the filter below:
    # Catalyst merges/reorders predicates assuming expressions cannot fail,
    # so under some plan shapes the transform runs on size<k docs BEFORE the
    # size filter — where sequence(0, size-k) has stop < start, Spark infers
    # step -1 and DESCENDS into negative i, and toks[i+1] throws under ANSI
    # (caught by the edge-fixture pin on prefix_filter_simjoin).  The CASE
    # makes short docs yield an empty array no matter when it is evaluated.
    shingle_expr = F.expr(
        f"CASE WHEN size(toks) >= {k} THEN "
        f"array_distinct(transform(sequence(0, size(toks) - {k}), "
        "i -> concat_ws(' ', "
        + ", ".join(f"toks[i + {j}]" for j in range(k))
        + "))) ELSE array() END"
    )
    return (
        toks_df.where(F.size("toks") >= k)
        .select("doc_id", shingle_expr.alias("shingles"))
    )


def shingles_sql(fn: str = "") -> str:
    """The ``SHINGLE_K``-token shingles of ``text`` as a DuckDB list, each
    wrapped in the SQL function ``fn`` when one is given (``md5``): the
    oracles' twin of ``shingled_docs`` before its ``list_distinct``.  The
    caller keeps only documents of at least ``SHINGLE_K`` tokens."""
    words = " || ' ' || ".join(
        f"string_split(text, ' ')[i{f' + {j}' if j else ''}]" for j in range(SHINGLE_K)
    )
    return (
        f"list_transform(generate_series(1, len(string_split(text, ' ')) - {SHINGLE_K - 1}), "
        f"i -> {f'{fn}({words})' if fn else words})"
    )


def min_shingle_fp() -> F.Column:
    """Winnowing-style min-shingle fingerprint over the pre-projected token
    array column ``toks``: min of md5 over all word shingles.  The token
    array must be projected ONCE per row — an inline split(text) inside the
    lambda re-evaluates per shingle position (O(n_tokens^2) per doc).  The
    dedup key of ``incremental_dedup``, ``doc_fingerprints`` and
    ``corpus_quality_filter``.  SQL twin: ``MIN_SHINGLE_FP_SQL``."""
    toks = ", ".join(f"toks[i{f'+{j}' if j else ''}]" for j in range(SHINGLE_K))
    return F.array_min(
        F.expr(
            f"transform(sequence(0, size(toks) - {SHINGLE_K}), "
            f"i -> md5(concat_ws(' ', {toks})))"
        )
    )


MIN_SHINGLE_FP_SQL = f"list_aggregate({shingles_sql('md5')}, 'min')"


# The 16 minhashes are carved from TWO md5s per shingle (non-overlapping
# 4-hex-char chunks — md5 diffusion makes the chunks independent), so the
# signature stage computes N_MD5_GROUPS md5s per shingle, not N_HASHES: 8x
# less hashing, the classic split-a-wide-hash minhash construction.  16-bit
# chunks are plenty: a spurious band collision needs all 4 of a band's
# 16-bit minhashes to tie at once (~(#shingles/65536)^4), and exact-Jaccard
# verification filters whatever slips through.
N_MD5_GROUPS = 2
_CHUNKS_PER_MD5 = N_HASHES // N_MD5_GROUPS
_CHUNK_HEX = 32 // _CHUNKS_PER_MD5


def minhash_bands(docs: DataFrame, shingled: DataFrame | None = None) -> DataFrame:
    """(doc_id, band, band_sig): md5-minhash signatures grouped into LSH bands.

    Scale shape: ZERO shuffles.  Minhashing is per-document math, so it runs
    as array expressions (``transform`` + ``array_min``) inside the scan's
    codegen stage — no explode, no groupBy, nothing crosses the wire until
    the band-bucket join downstream.

    Callers that ALSO consume the shingle sets (verification, ground truth)
    should pass a materialized ``shingled`` relation — the tokenize+shingle
    projection is the dominant cost of the whole pipeline and Spark has no
    common-subexpression elimination across separate DataFrame subtrees.
    """
    rows_per_band = N_HASHES // N_BANDS
    if shingled is None:
        shingled = shingled_docs(docs)
    # stage 1: one md5 array per group (computed once each — own projection,
    # so the chunk-min expressions below don't re-hash the shingles)
    with_md5 = shingled.select(
        "doc_id",
        *[
            F.expr(f"transform(shingles, s -> md5(concat('{g}', ':', s)))").alias(f"md5s{g}")
            for g in range(N_MD5_GROUPS)
        ],
    )
    # stage 2: minhash per seed = min over one substring window of its group
    sigs = with_md5.select(
        "doc_id",
        *[
            F.array_min(
                F.expr(f"transform(md5s{seed // _CHUNKS_PER_MD5}, m -> "
                       f"substring(m, {(seed % _CHUNKS_PER_MD5) * _CHUNK_HEX + 1}, {_CHUNK_HEX}))")
            ).alias(f"mh{seed}")
            for seed in range(N_HASHES)
        ],
    )
    band_sig_cols = []
    for band in range(N_BANDS):
        members = F.array(*[
            F.concat_ws(":", F.lit(str(seed)), F.col(f"mh{seed}"))
            for seed in range(band * rows_per_band, (band + 1) * rows_per_band)
        ])
        band_sig_cols.append(
            F.struct(
                F.lit(band).cast("long").alias("band"),
                F.md5(F.concat_ws(",", F.array_sort(members))).alias("band_sig"),
            )
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*band_sig_cols)).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig"))


# Shared CTE chain: shingles -> minhash -> LSH bands -> candidates ->
# exact-Jaccard-verified pairs.  Used by the minhash_near_dups oracle and,
# extended with a recursive reachability CTE, by dup_clusters.
_MINHASH_VERIFIED_CTES = f"""shingled AS (
    SELECT
        doc_id,
        list_distinct({shingles_sql()}) AS shingles
    FROM documents
    WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
), exploded AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), minhashes AS (
    -- 8 minhashes per md5 group from non-overlapping 4-hex chunks
    SELECT
        e.doc_id,
        s.seed,
        min(substr(md5((s.seed // {N_HASHES // N_MD5_GROUPS}) || ':' || e.shingle),
                   (s.seed % {N_HASHES // N_MD5_GROUPS}) * {32 // (N_HASHES // N_MD5_GROUPS)} + 1,
                   {32 // (N_HASHES // N_MD5_GROUPS)})) AS mh
    FROM exploded e, generate_series(0, {N_HASHES - 1}) s(seed)
    GROUP BY 1, 2
), bands AS (
    SELECT
        doc_id,
        seed // {N_HASHES // N_BANDS} AS band,
        md5(string_agg(seed || ':' || mh, ',' ORDER BY seed || ':' || mh)) AS band_sig
    FROM minhashes
    GROUP BY 1, 2
), candidates AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
               AND a.doc_id < b.doc_id
), verified AS (
    SELECT
        c.doc_a,
        c.doc_b,
        len(list_intersect(sa.shingles, sb.shingles))
            / (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
    FROM candidates c
    JOIN shingled sa ON sa.doc_id = c.doc_a
    JOIN shingled sb ON sb.doc_id = c.doc_b
)"""


def _band_candidates(bands: DataFrame) -> DataFrame:
    """Candidate pairs via bucket grouping, not a self-join: one pass over
    the band signatures, pair expansion per bucket (a hot band bucket is a
    local loop, not a shuffled quadratic join; cap the slice here if a
    corpus has degenerate mega-clusters).  Shared by ``minhash_near_dups``
    and ``minhash_audit`` so the audit measures exactly the candidate set
    the pipeline uses."""
    buckets = (
        bands.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


@query(
    "minhash_near_dups",
    oracle=f"""
WITH {_MINHASH_VERIFIED_CTES}
SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
FROM verified
WHERE jaccard >= {JACCARD_THRESHOLD}
""",
)
def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard verification.

    Scale story: candidate generation is an equi-join on (band, band_sig) —
    near-dups collide, everything else doesn't — so the cost is
    O(docs x shingles) for signatures plus a join whose size is the number
    of true-ish candidates, not O(n²).  Verification touches candidates only.

    Physical notes: the raw docs are repartitioned across the cluster BEFORE
    the md5-heavy shingle projection runs (the single-file fixture otherwise
    executes the whole hash pipeline on one task — and at 100 TB a filtered
    input can be just as skewed), and the verification join broadcasts the
    candidate-pair side (bounded by candidate count) while the corpus-sized
    shingle sets are only ever probed in place.
    """
    docs = load_table(spark, "documents", sf_dir)
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    # ONE materialized shingle relation feeds signatures AND verification —
    # without the cut, the md5-heavy tokenize+shingle subtree re-evaluates
    # for bands, sh_a and sh_b (3x the dominant cost; cf. the signature
    # round_checkpoint in similarity.py's LSH path)
    sets = round_checkpoint(shingled_docs(docs))
    bands = minhash_bands(docs, shingled=sets)
    candidates = _band_candidates(bands)
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jaccard = inter / (F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter)
    # Broadcast the CANDIDATES (small by construction), never the corpus-sized
    # shingle sets: each join broadcasts the candidate-bounded side and probes
    # the sharded sets relation in place — no corpus shuffle, no corpus
    # broadcast, verification cost stays O(candidates) at any corpus size.
    with_a = sa.join(F.broadcast(candidates), "doc_a")
    return (
        sb.join(F.broadcast(with_a), "doc_b")
        # threshold on the RAW jaccard (like the oracle), round only for
        # display: filtering on the 4dp-rounded value would admit pairs in
        # [threshold - 5e-5, threshold) that the oracle rejects
        .withColumn("__raw_j", jaccard)
        .where(F.col("__raw_j") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", fround(F.col("__raw_j"), 4).alias("jaccard"))
    )


# -- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 16


@query(
    "simhash_docs",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
    FROM documents
), hashed AS (
    SELECT doc_id, tok,
           ('0x' || substr(md5(tok), 1, 4))::BIGINT AS h
    FROM toks
), bit_votes AS (
    SELECT doc_id, b.b AS bit_pos,
           CAST(sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS vote
    FROM hashed, generate_series(0, {SIMHASH_BITS - 1}) b(b)
    GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN 1 << bit_pos ELSE 0 END) AS BIGINT) AS simhash
FROM bit_votes
GROUP BY 1
""",
)
def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document {SIMHASH_BITS}-bit SimHash over distinct tokens (bit
    votes weighted ±1).  Near-dup blocking then groups equal signatures or
    small-hamming prefixes — both equi-join shaped at scale."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok")
    )
    hashed = toks.withColumn(
        "h", F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("long")
    )
    bits = hashed.select(
        "doc_id", "h", F.explode(F.expr(f"sequence(0, {SIMHASH_BITS - 1})")).alias("bit_pos")
    )
    votes = (
        bits.withColumn(
            "v",
            F.when(F.expr("(shiftright(h, bit_pos) & 1) = 1"), 1).otherwise(-1),
        )
        .groupBy("doc_id", "bit_pos")
        .agg(F.sum("v").alias("vote"))
    )
    return (
        votes.withColumn(
            "contrib",
            F.when(F.col("vote") > 0, F.expr("shiftleft(1L, bit_pos)")).otherwise(F.lit(0)),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("simhash"))
    )


@query(
    "simhash_dup_groups",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
    FROM documents
), hashed AS (
    SELECT doc_id, tok, ('0x' || substr(md5(tok), 1, 4))::BIGINT AS h FROM toks
), bit_votes AS (
    SELECT doc_id, b.b AS bit_pos,
           CAST(sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS vote
    FROM hashed, generate_series(0, {SIMHASH_BITS - 1}) b(b)
    GROUP BY 1, 2
), sigs AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN vote > 0 THEN 1 << bit_pos ELSE 0 END) AS BIGINT) AS simhash
    FROM bit_votes GROUP BY 1
)
SELECT simhash, count(*) AS n_docs, CAST(min(doc_id) AS BIGINT) AS keep_doc_id
FROM sigs
GROUP BY 1
HAVING count(*) > 1
""",
)
def q_simhash_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash collision groups (signature-equal near-dups): the blocking
    stage of simhash dedup, keeping the min doc_id per group."""
    sigs = q_simhash_docs(spark, sf_dir)
    return (
        sigs.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_docs") > 1)
    )


# -- Direct n-gram Jaccard similarity -----------------------------------------

N_PROBES = 8  # fixture convention shared with similarity.py: ids < 8 probe
JACCARD_TOP_K = 5

@query(
    "ngram_jaccard_topk",
    oracle=f"""
WITH shingled AS (
    SELECT
        doc_id,
        list_distinct({shingles_sql()}) AS shingles
    FROM documents
    WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
), probes AS (
    SELECT doc_id AS probe_id, shingles AS sh_p FROM shingled
    WHERE doc_id < {N_PROBES}
), scored AS (
    SELECT
        p.probe_id,
        s.doc_id,
        round(
            len(list_intersect(p.sh_p, s.shingles))
            / (len(p.sh_p) + len(s.shingles)
               - len(list_intersect(p.sh_p, s.shingles))),
            4
        ) AS jaccard
    FROM probes p JOIN shingled s ON p.probe_id <> s.doc_id
)
SELECT probe_id, doc_id, jaccard, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY jaccard DESC, doc_id
    ) AS rn
    FROM scored
)
WHERE rn <= {JACCARD_TOP_K}
""",
)
def q_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct word-3-gram Jaccard similarity: probe docs (doc_id < 8) scored
    against the whole corpus, top-5 most similar per probe.

    This is the exact n-gram Jaccard the MinHash pipeline approximates —
    exposed directly for the probe-vs-corpus shape (near-dup lookup of a
    specific document), where broadcasting the tiny probe side keeps the scan
    embarrassingly parallel with no shuffle until the final |probes|x|k|
    top-k.  Corpus-vs-corpus all-pairs stays the LSH path
    (``minhash_near_dups``): O(n^2) exact Jaccard does not survive 100 TB.
    """
    docs = load_table(spark, "documents", sf_dir)
    sets = shingled_docs(docs)
    probes = sets.where(F.col("doc_id") < N_PROBES).select(
        F.col("doc_id").alias("probe_id"), F.col("shingles").alias("sh_p")
    )
    inter = F.size(F.array_intersect(F.col("sh_p"), F.col("shingles")))
    jaccard = inter / (F.size(F.col("sh_p")) + F.size(F.col("shingles")) - inter)
    scored = (
        sets.join(F.broadcast(probes), F.col("probe_id") != F.col("doc_id"))
        .select("probe_id", "doc_id", fround(jaccard, 4).alias("jaccard"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("jaccard").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= JACCARD_TOP_K)
        .select("probe_id", "doc_id", "jaccard", "rank")
    )


@query(
    "incremental_dedup",
    oracle=f"""
WITH fp AS (
    SELECT doc_id, source,
        {MIN_SHINGLE_FP_SQL} AS min_shingle_fp
    FROM documents
    WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
)
SELECT n.doc_id, n.min_shingle_fp
FROM fp n
WHERE n.source = 'src19'
  AND NOT EXISTS (
      SELECT 1 FROM fp e
      WHERE e.min_shingle_fp = n.min_shingle_fp AND e.source <> 'src19'
  )
""",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a new batch (source='src19') anti-joined on
    winnowing fingerprint against the already-ingested corpus — the
    every-snapshot dedup gate of a continuously crawled training set.

    Scale shape: the existing-corpus side is ONE 16-byte hash per document
    (the dedup index), not the documents themselves — distinct-ed before the
    join so the anti join probes a set.  At 100 TB the index is a bucketed
    table on fp, making each nightly ingest a shuffle-free anti join; here it
    is a plain hash anti join that AQE will broadcast when the index side is
    small."""
    # token array projected once per row (inline split inside the lambda
    # would re-evaluate per shingle position — O(n_tokens^2) per doc);
    # repartition BEFORE the md5-heavy fingerprint projection — the
    # single-file fixture otherwise runs the whole hash pipeline on one
    # scan task (the minhash_near_dups discipline; r10 profile: the
    # md5 stages were the query's floor at 1 task each)
    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).withColumn(
        "toks", F.split(F.col("text"), " ")
    )
    toks = F.col("toks")
    min_shingle = min_shingle_fp()
    # materialize the fingerprint relation ONCE (r10): the anti join infers
    # isnotnull(min_shingle_fp) on both sides, and Catalyst pushes that
    # constraint BELOW the projection as a Filter over the full fingerprint
    # expression — so the corpus-sized md5 chain evaluated twice per side
    # (and split(text) three times; verified in the executed plan, the
    # guide-§4.4 duplication pathology for a JVM expression).  The
    # checkpoint gives the join's constraints a materialized column to
    # filter instead — and IS the scale story: the existing-corpus index
    # is a stored 16-byte-hash table, not a recomputed expression.
    fp = (
        docs.where(F.size(toks) >= 3)
        .select("doc_id", "source", min_shingle.alias("min_shingle_fp"))
        .transform(round_checkpoint)
    )
    new_batch = fp.where(F.col("source") == "src19").select("doc_id", "min_shingle_fp")
    existing = (
        fp.where(F.col("source") != "src19")
        .select("min_shingle_fp")
        .distinct()
    )
    return new_batch.join(existing, "min_shingle_fp", "left_anti").select(
        "doc_id", "min_shingle_fp"
    )


@query(
    "dup_clusters",
    oracle=f"""
WITH RECURSIVE {_MINHASH_VERIFIED_CTES},
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM verified
    WHERE jaccard >= {JACCARD_THRESHOLD}
), sym AS (
    SELECT a, b FROM edges UNION SELECT b, a FROM edges
), nodes AS (
    SELECT DISTINCT a AS node FROM sym
), reach(node, src) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT s.b, reach.src FROM reach JOIN sym s ON s.a = reach.node
)
SELECT node AS doc_id, min(src) AS cluster_id
FROM reach
GROUP BY 1
""",
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pair graph: every doc
    touching at least one near-dup edge is labeled with the smallest doc_id
    reachable through near-dup links — the transitive-closure grouping that
    turns pairwise dedup into keep-one-per-cluster dedup.

    ITERATIVE algorithm (label propagation / hash-to-min): labels start as
    each node's own id and every round each node takes the min of its own
    and its neighbors' labels, until a fixpoint.  Rounds needed = graph
    diameter (near-dup clusters are shallow; the hash-to-min doubling
    variant drops it to O(log n) if ever needed).  Each round is ONE
    shuffle of the edge list joined to the label table, and
    ``localCheckpoint`` truncates the plan between rounds so lineage —
    and with it planning time — stays flat however many rounds run.  The
    driver-side convergence check is a scalar count per round, not a data
    collect.  The DuckDB oracle computes the same fixpoint declaratively
    with a recursive CTE — an engine-independent spec of the semantics."""
    pairs = q_minhash_near_dups(spark, sf_dir).select("doc_a", "doc_b")
    sym = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct()
        .transform(round_checkpoint)
    )
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(20):  # safety bound >> any real near-dup cluster diameter
        neighbor_min = (
            sym.join(labels, sym.a == labels.node)
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        # old label rides along so convergence is a filter+count on the
        # checkpointed round output — a separate old⋈new join would re-
        # shuffle the node relation once per round just to count changes
        # (the supplier_components r9 fix, guide §2.4)
        joined = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.col("label").alias("__old_label"),
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "label"
                ),
            )
            .transform(round_checkpoint)
        )
        changed = joined.where(F.col("label") != F.col("__old_label")).count()
        labels = joined.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError("dup_clusters: label propagation did not converge")
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


@query(
    "dup_cluster_representatives",
    oracle=f"""
WITH RECURSIVE {_MINHASH_VERIFIED_CTES},
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM verified
    WHERE jaccard >= {JACCARD_THRESHOLD}
), sym AS (
    SELECT a, b FROM edges UNION SELECT b, a FROM edges
), nodes AS (
    SELECT DISTINCT a AS node FROM sym
), reach(node, src) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT s.b, reach.src FROM reach JOIN sym s ON s.a = reach.node
), clusters AS (
    SELECT node AS doc_id, min(src) AS cluster_id FROM reach GROUP BY 1
), ranked AS (
    SELECT
        c.cluster_id,
        d.doc_id,
        d.n_chars,
        row_number() OVER (
            PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, d.doc_id
        ) AS rn,
        count(*) OVER (PARTITION BY c.cluster_id) AS n_members
    FROM clusters c JOIN documents d USING (doc_id)
)
SELECT
    cluster_id,
    doc_id              AS keep_doc_id,
    n_chars             AS keep_n_chars,
    CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
""",
)
def q_dup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-per-cluster: the step that turns pairwise near-dup detection
    into an actual deduplicated corpus.  Each connected component from
    ``dup_clusters`` elects one representative — longest document wins
    (n_chars DESC), smallest doc_id breaks ties — and reports how many
    members it displaced.

    Scale shape: the cluster labeling is corpus-bounded but the label table
    itself is tiny (only docs touching a near-dup edge), so it broadcasts
    into the documents join; the per-cluster argmax is one hash-partitioned
    window over cluster_id — no corpus-wide shuffle of text, only of
    (doc_id, n_chars) pairs for clustered docs."""
    clusters = q_dup_clusters(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    members = docs.join(F.broadcast(clusters), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        members.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(Window.partitionBy("cluster_id")))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_chars").alias("keep_n_chars"),
            "n_members",
        )
    )


# --------------------------------------------------------------------------
# Chunk-level (paragraph-style) cross-document dedup
# --------------------------------------------------------------------------

_CHUNK_WORDS = 8


@query(
    "chunk_dedup_retention",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t
    FROM documents WHERE text IS NOT NULL
), chunks AS (
    SELECT doc_id,
           md5(array_to_string(
               t[c * {_CHUNK_WORDS} + 1 : c * {_CHUNK_WORDS} + {_CHUNK_WORDS}], ' '
           )) AS h
    FROM toks,
         LATERAL unnest(generate_series(
             0, CAST(floor((len(t) - 1) / {_CHUNK_WORDS}.0) AS BIGINT)
         )) u(c)
    WHERE len(t) >= 1
), hc AS (
    SELECT h, count(*) AS n FROM chunks GROUP BY h
)
SELECT
    c.doc_id,
    CAST(count(*) AS INT)                                        AS n_chunks,
    CAST(sum(CASE WHEN hc.n > 1 THEN 1 ELSE 0 END) AS INT)       AS n_shared_chunks,
    round(1.0 - sum(CASE WHEN hc.n > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
                                                                 AS retention_frac
FROM chunks c JOIN hc USING (h)
GROUP BY c.doc_id
""",
)
def q_chunk_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level cross-document dedup (the paragraph/line-dedup stage of
    web-corpus pipelines, applied to 8-word chunks since the fixture text
    has no line structure): every chunk whose hash occurs more than once in
    the corpus is 'shared'; per document we report how much text survives
    if shared chunks are dropped — the retention metric that decides
    whether a document is boilerplate.

    Plan: chunking is row-local HOF work (split → sequence → slice → md5,
    all codegen); global chunk counts are one hash-agg whose shuffle
    carries distinct chunk hashes with map-side combine; the count join is
    an equi-join on the hash (AQE handles the popular-chunk skew — at web
    scale add a salt on hashes above a count ceiling, the counts themselves
    don't need exactness beyond 'more than one').  Driver holds nothing."""
    toks = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
    )
    n = _CHUNK_WORDS
    chunk_hashes = F.expr(
        f"transform(sequence(0, CAST(floor((size(t) - 1) / {n}) AS INT)), "
        f"c -> md5(concat_ws(' ', slice(t, c * {n} + 1, {n}))))"
    )
    chunks = toks.where(F.size("t") >= 1).select(
        "doc_id", F.explode(chunk_hashes).alias("h")
    )
    hc = chunks.groupBy("h").agg(F.count("*").alias("hn"))
    shared = F.sum(F.when(F.col("hn") > 1, 1).otherwise(0))
    return (
        chunks.join(hc, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            shared.cast("int").alias("n_shared_chunks"),
            fround(1.0 - shared * 1.0 / F.count("*"), 4).alias("retention_frac"),
        )
    )


# --------------------------------------------------------------------------
# Fuzzy key matching (edit distance)
# --------------------------------------------------------------------------

@query(
    "source_fuzzy_pairs",
    oracle="""
WITH s AS (
    SELECT DISTINCT source, len(source) AS l FROM documents
)
SELECT
    a.source                      AS source_a,
    b.source                      AS source_b,
    CAST(levenshtein(a.source, b.source) AS INT) AS edit_distance
FROM s a JOIN s b
  ON a.source < b.source
 AND abs(a.l - b.l) <= 3
WHERE levenshtein(a.source, b.source) <= 3
""",
)
def q_source_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy key matching: near-identical source names (edit distance ≤ 3)
    — the entity-resolution step that catches `web-001` vs `web-01` feed
    aliases before they fragment downstream groupings.

    Scale shape: O(n²) edit distance never runs on raw keys — candidates
    first block on a LENGTH BAND (|len(a)−len(b)| ≤ 3, a lower bound on
    edit distance, expressible as an equi-join on banded length buckets);
    the DISTINCT key relation is orders of magnitude smaller than the
    corpus, and for key sets that are still large the same blocking
    composes with prefix/q-gram buckets.  Here the band is a join-side
    filter on the 20-row key relation."""
    src = (
        load_table(spark, "documents", sf_dir)
        .select("source")
        .distinct()
        .select("source", F.length("source").alias("l"))
    )
    a = src.select(F.col("source").alias("source_a"), F.col("l").alias("la"))
    b = src.select(F.col("source").alias("source_b"), F.col("l").alias("lb"))
    return (
        a.join(
            b,
            (F.col("source_a") < F.col("source_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= 3),
        )
        .where(F.levenshtein("source_a", "source_b") <= 3)
        .select(
            "source_a",
            "source_b",
            F.levenshtein("source_a", "source_b").cast("int").alias("edit_distance"),
        )
    )


SEMANTIC_DEDUP_COSINE = 0.4  # fixture has no planted twins; 0.4 = real tail


@query(
    "semantic_dedup",
    oracle=f"""
WITH v AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS e FROM {VALID_EMBEDDINGS_SQL} embeddings
), dropped AS (
    SELECT DISTINCT b.vec_id
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {cosine6_sql("a.e", "b.e")} >= {SEMANTIC_DEDUP_COSINE}
)
SELECT
    v.label,
    count(*)                                          AS n_vectors,
    count(*) FILTER (d.vec_id IS NULL)                AS n_kept,
    count(*) FILTER (d.vec_id IS NOT NULL)            AS n_dropped,
    CAST(coalesce(min(CASE WHEN d.vec_id IS NULL THEN v.vec_id END), -1) AS BIGINT)
                                                      AS first_kept_id
FROM v LEFT JOIN dropped d ON d.vec_id = v.vec_id
GROUP BY 1
""",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023 — public):
    within each coarse cluster, a vector is dropped when it lies within
    cosine τ of any LOWER-id vector in the same cluster; survivors are the
    greedy id-order representatives.  Output: per-cluster keep/drop census.

    The greedy prefix rule is the standard one-pass approximation of
    connected-component dedup: it needs no iteration (unlike union-find),
    is deterministic under any execution order, and never drops an entire
    near-dup group (the lowest id always survives).

    Scale shape: IDENTICAL to `embedding_near_dups` — pair expansion is
    blocked by the cluster key (equi-join, quadratic only in cluster size;
    at 10^9 vectors the key is a k-means centroid id), then a distinct on
    the dropped side and one broadcast-able anti-join back.  No Python, no
    driver state, no iteration."""
    from e_commerce_streaming_datapipeline_spark.operators.similarity import (
        blocked_cosine_pairs,
        embedding_vectors,
    )

    emb = embedding_vectors(spark, sf_dir, "label")
    dropped = (
        blocked_cosine_pairs(emb, "label")
        .where(F.col("cos_sim") >= SEMANTIC_DEDUP_COSINE)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    flagged = emb.join(dropped, "vec_id", "left")
    return flagged.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.count(F.when(F.col("is_dropped").isNull(), 1)).alias("n_kept"),
        F.count(F.when(F.col("is_dropped").isNotNull(), 1)).alias("n_dropped"),
        F.coalesce(
            F.min(F.when(F.col("is_dropped").isNull(), F.col("vec_id"))), F.lit(-1)
        ).alias("first_kept_id"),
    )


_AUTOBLOCK_TARGET = 200  # target vectors per block; n_bits grows with N


@query(
    "semantic_dedup_autoblock",
    oracle=f"""
WITH planes AS (
    SELECT j, i,
        ((((CAST(1103515245 AS BIGINT) * (j * 64 + i) + 12345)
            % 2147483648) % 2001) - 1000) / 1000.0 AS h
    FROM generate_series(0, 15) t1(j), generate_series(0, 63) t2(i)
), v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM {VALID_EMBEDDINGS_SQL} embeddings
), bits AS (
    SELECT v.vec_id, p.j, round(sum(v.e[p.i + 1] * p.h), 4) >= 0 AS bit
    FROM v, planes p
    GROUP BY 1, 2
), sigs AS (
    SELECT vec_id,
        CAST(sum(CASE WHEN bit THEN 1 << j ELSE 0 END) AS BIGINT) AS sig16
    FROM bits GROUP BY 1
), nb AS (
    SELECT greatest(0, CAST(ceil(log2(count(*) / {_AUTOBLOCK_TARGET}.0)) AS INT))
        AS n_bits
    FROM v
), keyed AS (
    SELECT s.vec_id, s.sig16 % CAST(power(2, nb.n_bits) AS BIGINT) AS bucket
    FROM sigs s, nb
), vn AS (
    SELECT vec_id, e, {norm_sql("e")} AS nrm FROM v
), dropped AS (
    SELECT DISTINCT kb.vec_id
    FROM keyed ka
    JOIN keyed kb ON ka.bucket = kb.bucket AND ka.vec_id < kb.vec_id
    JOIN vn a ON a.vec_id = ka.vec_id
    JOIN vn b ON b.vec_id = kb.vec_id
    WHERE round(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 6)
          >= {SEMANTIC_DEDUP_COSINE}
), buckets AS (
    SELECT bucket, count(*) AS sz FROM keyed GROUP BY 1
)
SELECT
    (SELECT count(*) FROM keyed)                        AS n_vectors,
    (SELECT count(*) FROM buckets)                      AS n_buckets,
    (SELECT max(sz) FROM buckets)                       AS max_bucket,
    (SELECT count(*) FROM keyed) - (SELECT count(*) FROM dropped) AS n_kept,
    (SELECT count(*) FROM dropped)                      AS n_dropped
""",
)
def q_semantic_dedup_autoblock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`semantic_dedup` with a blocking key whose cardinality SCALES WITH
    the corpus — the production shape that keeps per-block pair cost
    constant as N grows (the fixed-K sibling's measured x8 probe row is
    ~49x precisely because replication grows block size; here n_bits =
    ceil(log2(N/200)) adds one signature bit per corpus doubling, holding
    blocks near the 200-vector target).

    The key is the first n_bits of the 16-bit LCG-hyperplane LSH signature
    (`embedding_topk_lsh`'s planes), so the DuckDB oracle regenerates
    blocking bit-identically — no engine-private hashing.  Same greedy
    prefix drop rule within a block; blocking-induced recall loss (near-dup
    pairs split across buckets) is the documented SemDeDup trade, tunable
    with multi-probe exactly like the ANN path.

    Output is the operational census: vectors, blocks, max block size (the
    quadratic bound), kept/dropped."""
    from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join
    from e_commerce_streaming_datapipeline_spark.functions.vector import dot_expr, norm_expr
    from e_commerce_streaming_datapipeline_spark.operators.similarity import (
        _lsh_band_sigs,
        embedding_vectors,
    )

    emb = embedding_vectors(spark, sf_dir)
    emb = emb.withColumn("nrm", norm_expr(F.col("e")))
    sigs = _lsh_band_sigs(emb.select("vec_id", "e")).select(
        "vec_id", (F.col("band0") + F.col("band1") * 256).alias("sig16")
    )
    nb = emb.agg(
        F.greatest(
            F.lit(0),
            F.ceil(F.log2(F.count("*") / float(_AUTOBLOCK_TARGET))).cast("int"),
        ).alias("n_bits")
    )
    keyed = scalar_join(sigs, nb).select(
        "vec_id",
        F.pmod(
            F.col("sig16"), F.expr("CAST(power(2, n_bits) AS BIGINT)")
        ).alias("bucket"),
    )
    # Not similarity.blocked_cosine_pairs: that kernel carries the vectors
    # through the bucket self-join, which here plans as a sort-merge join
    # that shuffles them (measured slower at sf0.1); pairing the narrow
    # (vec_id, bucket) rows first keeps every vector join a broadcast.
    ka = keyed.select(F.col("vec_id").alias("vec_a"), "bucket")
    kb = keyed.select(F.col("vec_id").alias("vec_b"), F.col("bucket").alias("bucket_b"))
    va = emb.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("e_a"), F.col("nrm").alias("nrm_a"))
    vb = emb.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("e_b"), F.col("nrm").alias("nrm_b"))
    cos = dot_expr(F.col("e_a"), F.col("e_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    dropped = (
        ka.join(kb, (F.col("bucket") == F.col("bucket_b")) & (F.col("vec_a") < F.col("vec_b")))
        .join(va, "vec_a")
        .join(vb, "vec_b")
        .where(fround(cos, 6) >= SEMANTIC_DEDUP_COSINE)
        .select("vec_b")
        .distinct()
    )
    buckets = keyed.groupBy("bucket").agg(F.count("*").alias("sz"))
    totals = keyed.agg(F.count("*").alias("n_vectors"))
    bstats = buckets.agg(
        F.count("*").alias("n_buckets"), F.max("sz").alias("max_bucket")
    )
    dstats = dropped.agg(F.count("*").alias("n_dropped"))
    return scalar_join(scalar_join(totals, bstats), dstats).select(
        "n_vectors",
        "n_buckets",
        "max_bucket",
        (F.col("n_vectors") - F.col("n_dropped")).alias("n_kept"),
        "n_dropped",
    )


# Deterministic doc-level sample for the audit's ground-truth side (r9
# VERDICT task #6): keep a doc when the high bit of its Knuth hash is 0
# (operators/sampling.py::hash_half) — 1/2 of docs, ~1/4 of ground-truth
# pairs.  The high bit decorrelates the sample from the duplicate
# generator's doc_id structure (a clone at id+1 can share its source's
# side), and the arithmetic stays in int64 on both engines, so DuckDB
# regenerates the identical sample and the audit stays hash-checked.
def _audit_sampled(col):
    return hash_half(col) == 0


def _audit_gate_sql(c: str) -> str:
    return f"{hash_half_sql(c)} = 0"


@query(
    "minhash_audit",
    oracle=f"""
WITH {_MINHASH_VERIFIED_CTES}, exploded_s AS (
    SELECT * FROM exploded WHERE {_audit_gate_sql("doc_id")}
), truth_cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM exploded_s a JOIN exploded_s b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), truth AS (
    SELECT t.doc_a, t.doc_b
    FROM truth_cands t
    JOIN shingled sa ON sa.doc_id = t.doc_a
    JOIN shingled sb ON sb.doc_id = t.doc_b
    WHERE len(list_intersect(sa.shingles, sb.shingles))
          / (len(sa.shingles) + len(sb.shingles)
             - len(list_intersect(sa.shingles, sb.shingles)))
          >= {JACCARD_THRESHOLD}
), hits AS (
    SELECT doc_a, doc_b FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
), hits_s AS (
    SELECT doc_a, doc_b FROM hits
    WHERE {_audit_gate_sql("doc_a")}
      AND {_audit_gate_sql("doc_b")}
), counts AS (
    SELECT
        (SELECT count(*) FROM truth)      AS n_truth_sampled,
        (SELECT count(*) FROM candidates) AS n_candidates,
        (SELECT count(*) FROM hits)       AS n_hits,
        (SELECT count(*) FROM hits_s)     AS n_hits_sampled
)
SELECT
    n_truth_sampled,
    n_candidates,
    n_hits,
    n_hits_sampled,
    round(n_hits * 1.0 / n_candidates, 4) AS precision,
    CASE WHEN n_truth_sampled > 0
         THEN round(n_hits_sampled * 1.0 / n_truth_sampled, 4) END
        AS recall_sampled,
    CASE WHEN n_truth_sampled > 0 THEN round(greatest(
        0.0,
        (n_hits_sampled * 1.0 / n_truth_sampled)
        - 1.96 * sqrt((n_hits_sampled * 1.0 / n_truth_sampled)
                      * (1 - n_hits_sampled * 1.0 / n_truth_sampled)
                      / n_truth_sampled)
    ), 4) END                             AS recall_lo95
FROM counts
""",
)
def q_minhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall audit of the MinHash+LSH pipeline against exact
    ground truth — the dedup-side sibling of `lsh_recall_audit` (which
    audits the ANN path).  Ground truth is every pair with exact Jaccard ≥
    τ, found via the shingle inverted index (a pair with positive Jaccard
    shares a shingle, so the index is EXHAUSTIVE — no sampling, and never
    an n² scan).  Precision = verified hits / band candidates (how much
    rerank work the bands waste); recall = hits / truth (what the S-curve
    misses at this band/row configuration).

    Scale: the ground truth is computed on a deterministic DOC-LEVEL
    SAMPLE (r9 VERDICT task #6 — the exhaustive shingle self-join was the
    bench's slowest tail query, and its Σ(docs-per-shingle choose 2)
    blow-up is the one cost the LSH pipeline under audit never pays):
    keep a doc when the high bit of knuth_hash(doc_id) is 0, so the pair rate is
    (1/2)², the truth join's inputs shrink linearly and its output
    quadratically.  recall_sampled estimates recall on within-sample
    pairs (every exact-verified hit with both ends sampled is a sampled
    truth pair by construction, so the numerator needs no join), and
    recall_lo95 reports the normal-approximation 95 % lower bound on the
    sampled denominator — the documented confidence contract (pairs that
    share a doc are not independent Bernoulli draws; the binomial bound
    is the standard operational approximation).  Precision stays EXACT:
    its denominator is the band-candidate set the production pipeline
    materializes anyway.  At 100 TB a narrower gate (more hash bits) keeps less;
    the sample is hash-deterministic, so reruns and both engines agree
    row-for-row."""
    docs = load_table(spark, "documents", sf_dir)
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    # one materialized shingle relation feeds ground truth (exploded, sa,
    # sb) AND the band signatures — 4 consumers, one evaluation
    sets = round_checkpoint(shingled_docs(docs))
    exploded = sets.where(_audit_sampled(F.col("doc_id"))).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    ta = exploded.select(F.col("doc_id").alias("doc_a"), "shingle")
    tb = exploded.select(F.col("doc_id").alias("doc_b"), "shingle")
    # |intersection| falls out of the self-join itself: shingles are
    # array_distinct per doc, so the shared-shingle row count per pair IS
    # the intersection size — the former shape re-derived it by joining
    # both docs' full shingle ARRAYS onto every candidate pair and running
    # array_intersect per pair, which was the audit's dominant stage
    # (measured 6.4 s of the ~8 s total at sf0.1: ~285k sampled pairs
    # x O(|sh_a|·|sh_b|) array work, squeezed onto 2 AQE-coalesced
    # partitions because the pair rows are byte-tiny).  Count + two joins
    # against the K-byte (doc_id, n_shingles) relation make the verify a
    # scalar comparison per pair (guide §2.3: shuffle/compute keys and
    # sizes, not payloads).
    overlap = (
        ta.join(tb, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    sizes = sets.select("doc_id", F.size("shingles").alias("n_sh"))
    truth = (
        overlap.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .where(
            F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
            >= JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jaccard = inter / (F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter)
    # ONE band pipeline feeds both counters: candidates come from the bucket
    # expansion, hits verify THOSE candidates by exact Jaccard (round-3
    # review: calling q_minhash_near_dups here re-ran the signature stage —
    # the dominant cost — a second time for identical output)
    bands = minhash_bands(docs, shingled=sets)
    candidates = _band_candidates(bands)
    hits = (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        # RAW threshold, same comparison as the truth set and the oracle —
        # a rounded-value filter would count boundary pairs as hits that
        # truth rejects, letting recall exceed 1.0
        .where(jaccard >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join

    t = truth.agg(F.count("*").alias("n_truth_sampled"))
    c = candidates.agg(F.count("*").alias("n_candidates"))
    # one pass over the verified hits yields BOTH counters (a second
    # aggregate would re-run the candidate+verify pipeline)
    h = hits.agg(
        F.count("*").alias("n_hits"),
        F.count(
            F.when(
                _audit_sampled(F.col("doc_a")) & _audit_sampled(F.col("doc_b")),
                1,
            )
        ).alias("n_hits_sampled"),
    )
    r_hat = F.col("n_hits_sampled") * 1.0 / F.col("n_truth_sampled")
    lo95 = F.greatest(
        F.lit(0.0),
        r_hat - 1.96 * F.sqrt(r_hat * (1 - r_hat) / F.col("n_truth_sampled")),
    )
    has_truth = F.col("n_truth_sampled") > 0
    return scalar_join(scalar_join(t, c), h).select(
        "n_truth_sampled",
        "n_candidates",
        "n_hits",
        "n_hits_sampled",
        fround(F.col("n_hits") * 1.0 / F.col("n_candidates"), 4).alias("precision"),
        F.when(has_truth, fround(r_hat, 4)).alias("recall_sampled"),
        F.when(has_truth, fround(lo95, 4)).alias("recall_lo95"),
    )


def minhash_index(index_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The stored side of the near-dup admission gate: the index corpus's
    shingle sets and LSH band signatures, both materialized
    (round_checkpoint) so a per-batch probe — batch query or every streaming
    micro-batch — reuses them without re-tokenizing the corpus.  In
    production these are bucketed tables keyed by (band, band_sig)."""
    sets = round_checkpoint(shingled_docs(index_docs))
    bands = round_checkpoint(minhash_bands(index_docs, shingled=sets))
    return sets, bands


def minhash_admission_pairs(
    new_docs: DataFrame, index_sets: DataFrame, index_bands: DataFrame
) -> DataFrame:
    """Probe a batch of NEW documents against a prebuilt MinHash index:
    batch-sized signature work, bucket-key equi-join candidates, exact
    Jaccard verification over colliding pairs only.  ONE definition shared
    by `incremental_minhash_dedup` and the streaming admission gate
    (`minhash_admission_stream`) so the gate semantics cannot drift
    between the batch and streaming paths."""
    new_sets = shingled_docs(new_docs)
    new_bands = minhash_bands(new_docs, shingled=new_sets)
    probe = new_bands.select(F.col("doc_id").alias("doc_new"), "band", "band_sig")
    index = index_bands.select(
        F.col("doc_id").alias("doc_index"), "band", "band_sig"
    )
    candidates = (
        probe.join(index, ["band", "band_sig"])
        .select("doc_new", "doc_index")
        .distinct()
    )
    sn = new_sets.select(
        F.col("doc_id").alias("doc_new"), F.col("shingles").alias("sh_n")
    )
    si = index_sets.select(
        F.col("doc_id").alias("doc_index"), F.col("shingles").alias("sh_i")
    )
    inter = F.size(F.array_intersect(F.col("sh_n"), F.col("sh_i")))
    jaccard = inter / (F.size("sh_n") + F.size("sh_i") - inter)
    with_n = sn.join(F.broadcast(candidates), "doc_new")
    return (
        si.join(F.broadcast(with_n), "doc_index")
        .withColumn("__raw_j", jaccard)
        .where(F.col("__raw_j") >= JACCARD_THRESHOLD)
        # no output orderBy: the pair relation can be large and the compare
        # is order-insensitive — a cosmetic global sort is a wasted exchange
        .select("doc_new", "doc_index", fround(F.col("__raw_j"), 4).alias("jaccard"))
    )


# shared by the batch admission gate and its streaming twin
# (minhash_admission_stream) — one oracle, two execution paths
INCREMENTAL_MINHASH_ORACLE = f"""
WITH {_MINHASH_VERIFIED_CTES}
SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS doc_new,
       CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS doc_index,
       round(jaccard, 4) AS jaccard
FROM verified
WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
  AND jaccard >= {JACCARD_THRESHOLD}
ORDER BY doc_new, doc_index
"""


@query(
    "incremental_minhash_dedup",
    oracle=INCREMENTAL_MINHASH_ORACLE,
)
def q_incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup admission: probe an arriving batch (doc_id % 10
    == 0 plays the new micro-batch) against the already-indexed corpus (the
    other 90%) — the shape a production ingest pipeline runs every batch,
    where `incremental_dedup` (exact hashes) upgrades to MinHash+LSH.

    Scale story: the index side's band signatures are computed once and
    stored bucketed by (band, band_sig) — per batch only the NEW docs are
    shingled/hashed (batch-sized, not corpus-sized), and candidate
    generation is a bucket-key equi-join of a batch-sized probe against the
    index, never a corpus self-join.  Exact-Jaccard verification then
    touches only colliding pairs; both verification joins broadcast the
    candidate-bounded side and probe the sharded shingle sets in place.
    Intra-batch duplicates are the batch near-dup pass's job
    (`minhash_near_dups`); this operator is the cross-index admission gate.

    The fixture computes both sides' bands in one pass (same signatures the
    stored index would hold — `minhash_bands` is deterministic), so the
    oracle shares `_MINHASH_VERIFIED_CTES` and just restricts to pairs that
    span the batch/index split."""
    docs = load_table(spark, "documents", sf_dir)
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    is_new = (F.col("doc_id") % 10) == 0
    index_sets, index_bands = minhash_index(docs.where(~is_new))
    return minhash_admission_pairs(docs.where(is_new), index_sets, index_bands)


@query(
    "dedup_rewrite_docs",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t
    FROM documents WHERE text IS NOT NULL
), chunks AS (
    SELECT doc_id, u.c AS c,
           array_to_string(
               t[c * {_CHUNK_WORDS} + 1 : c * {_CHUNK_WORDS} + {_CHUNK_WORDS}], ' '
           ) AS chunk
    FROM toks,
         LATERAL unnest(generate_series(
             0, CAST(floor((len(t) - 1) / {_CHUNK_WORDS}.0) AS BIGINT)
         )) u(c)
    WHERE len(t) >= 1
), hc AS (
    SELECT md5(chunk) AS h, count(*) AS n FROM chunks GROUP BY 1
)
SELECT
    c.doc_id,
    CAST(count(*) AS INT)                                  AS n_chunks,
    CAST(sum(CASE WHEN hc.n = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
    coalesce(string_agg(CASE WHEN hc.n = 1 THEN c.chunk END, ' ' ORDER BY c.c), '')
        AS clean_text
FROM chunks c JOIN hc ON hc.h = md5(c.chunk)
GROUP BY c.doc_id
""",
)
def q_dedup_rewrite_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-dedup REWRITE — the transformation stage downstream of
    `chunk_dedup_retention`'s audit: every chunk whose hash repeats anywhere
    in the corpus is dropped (all copies, the web-pipeline paragraph-dedup
    policy) and each document's text is REBUILT from its surviving chunks in
    original order.  Documents whose every chunk was boilerplate survive as
    empty strings — the downstream length filter's job, not silent row loss.

    Shares `_CHUNK_WORDS` chunking with the audit query so the two stages
    can never disagree about what a chunk is.

    Plan shape: chunking is row-local HOF work; the hash-count join is
    chunk-keyed; reassembly is ONE per-doc ``listagg ... WITHIN GROUP
    (ORDER BY c)`` aggregate (Spark 4) — no collected array exists at any
    point; the aggregation buffer is the output string itself, the same
    memory class as the document being rebuilt, and the chunk index is
    carried through the shuffle so output order is a property of the data,
    not of partitioning."""
    toks = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
    )
    n = _CHUNK_WORDS
    chunk_structs = F.expr(
        f"transform(sequence(0, CAST(floor((size(t) - 1) / {n}) AS INT)), "
        f"c -> struct(c AS c, concat_ws(' ', slice(t, c * {n} + 1, {n})) AS chunk))"
    )
    chunks = (
        toks.where(F.size("t") >= 1)
        .select("doc_id", F.explode(chunk_structs).alias("s"))
        .select("doc_id", F.col("s.c").alias("c"), F.col("s.chunk").alias("chunk"))
        .withColumn("h", F.md5("chunk"))
    )
    hc = chunks.groupBy("h").agg(F.count("*").alias("hn"))
    # dropped chunks become NULL inside the CASE and listagg skips NULLs —
    # the keep-filter rides inside the aggregate, no second join; WITHIN
    # GROUP (ORDER BY c) makes reassembly order a property of the data, not
    # of partitioning, with no collected array anywhere (the aggregation
    # buffer is the output string itself, the same memory class as the
    # document being rebuilt)
    return (
        chunks.join(hc, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.sum(F.when(F.col("hn") == 1, 1).otherwise(0)).cast("int").alias("n_kept"),
            F.coalesce(
                F.expr(
                    "listagg(CASE WHEN hn = 1 THEN chunk END, ' ') "
                    "WITHIN GROUP (ORDER BY c)"
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
    )


# -- prefix-filtered exact similarity join (PPJoin-style) ---------------------

# word-level Jaccard threshold tau = 3/5, kept as an exact integer ratio:
# every threshold comparison below is integer arithmetic (inter*5 >= uni*3,
# ceil(tau*n) = (3n+4) div 5), so no knife-edge float can flip a pair in or
# out on either engine — and the prefix length can never be computed one
# short (a FALSE NEGATIVE) by a ceil() over a binary 0.6
_PFX_TAU_NUM, _PFX_TAU_DEN = 3, 5  # over 3-word shingles (the MinHash grain)


@query(
    "prefix_filter_simjoin",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           list_distinct({shingles_sql()}) AS ws
    FROM documents
    WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= {SHINGLE_K}
), sized AS (
    SELECT doc_id, ws, len(ws) AS n FROM toks WHERE len(ws) > 0
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.ws, b.ws)) AS inter,
           a.n + b.n - len(list_intersect(a.ws, b.ws)) AS uni
    FROM sized a JOIN sized b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(inter AS BIGINT) AS n_shared,
       round((CAST(inter AS DOUBLE) / uni) * 10000) / 10000 AS jaccard
FROM pairs
WHERE inter * {_PFX_TAU_DEN} >= uni * {_PFX_TAU_NUM}
ORDER BY doc_a, doc_b
""",
)
def q_prefix_filter_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs similarity join above a Jaccard threshold via PREFIX
    FILTERING (PPJoin family, Xiao et al. 2008) — the deterministic
    complement to MinHash: zero false negatives by construction, with the
    O(n²) candidate space cut down by the prefix-filter theorem instead of
    by probability.

    Mechanism: order every token by ascending corpus document-frequency
    (rarest first, vocabulary-sized two-phase rank), sort each document's
    token-id set in that order, and index ONLY each document's first
    ``|d| - ceil(tau*|d|) + 1`` ids — if J(x, y) >= tau the two prefixes
    must share at least one id, so candidates = the equi-self-join on
    prefix ids and everything else is provably below threshold unseen.
    Candidates are then verified with the exact intersection, so the
    output equals the brute-force all-pairs oracle bit-for-bit.

    100 TB shape: the joined relation is (prefix id -> doc) — rare-first
    ordering makes prefixes hit the df-ascending tail, so candidate lists
    per id stay small and the join shuffles prefix postings, never the
    corpus squared; verification touches only candidate pairs.  The same
    skeleton carries PPJoin's tighter length/positional filters when
    needed (the length filter ``n_b <= n_a/tau`` is applied below).
    """
    from e_commerce_streaming_datapipeline_spark.functions.ranks import (
        global_row_number,
    )

    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    toks = shingled_docs(docs).select(
        "doc_id", F.explode("shingles").alias("w")
    )
    # rare-first total order over the vocabulary (df asc, token asc) —
    # vocabulary-sized, the designed use of the two-phase rank.  Dense
    # integer ids are deliberate: a struct/string ordering key was measured
    # 3x SLOWER end-to-end at sf0.1 (30.5 s vs 9.1 s) because every array
    # sort, posting shuffle, and verify intersection then carries string
    # payloads instead of longs.
    vocab = toks.groupBy("w").agg(F.count("*").alias("df"))
    ranked_vocab = global_row_number(
        vocab,
        [F.col("df").asc_nulls_last(), F.col("w").asc_nulls_last()],
        rank_col="tid",
    ).select("w", "tid")
    ids = (
        toks.join(ranked_vocab, "w")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("tid")).alias("tids"))
        .withColumn("n", F.size("tids"))
        .where(F.col("n") > 0)
    )
    # THREE consumers read `ids` (the posting explode + both verify-side
    # array lookups below); without a pin each branch would recompute the
    # tokenize+rank+collect lineage.  Registered in the shared release list
    # so harnesses drop the blocks after the consuming action (r6 ADVICE #2
    # lifecycle).
    ids = register_cache(ids.persist(StorageLevel.MEMORY_AND_DISK))
    # ceil(tau*n) in exact integers: (3n + 4) div 5
    ceil_tau_n = F.expr(
        f"(n * {_PFX_TAU_NUM} + {_PFX_TAU_DEN - 1}) div {_PFX_TAU_DEN}"
    )
    prefix_len = (F.col("n") - ceil_tau_n + 1).cast("int")
    # postings carry NO arrays: the pid equi-join below shuffles only
    # (doc, n, pos, pid) longs.  The r6 version attached each side's full
    # tids array to every prefix occurrence, multiplying the shuffle
    # payload by the mean document length (~25x byte volume measured at
    # sf0.1: 12.7 s -> see SCALE.md); arrays are re-attached per DOC, per
    # side, only for the deduped candidate pairs.
    postings = ids.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("tids", F.lit(1), prefix_len)).alias("pos", "pid"),
    )
    a = postings.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
        F.col("pos").alias("pos_a"),
        "pid",
    )
    b = postings.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n_b"),
        F.col("pos").alias("pos_b"),
        "pid",
    )
    # PPJoin positional filter: a true pair's FIRST shared token occurrence
    # still leaves >= ceil(tau*(n_a+n_b)/(1+tau)) overlap in the two
    # suffixes, so occurrences violating the bound can be dropped BEFORE
    # pair dedup (exact integers: required*8 uses tau/(1+tau) = 3/8)
    required_o = F.expr(
        f"((n_a + n_b) * {_PFX_TAU_NUM} "
        f"+ {_PFX_TAU_NUM + _PFX_TAU_DEN - 1}) div {_PFX_TAU_NUM + _PFX_TAU_DEN}"
    )
    max_possible_o = (
        F.lit(1)
        + F.least(
            F.col("n_a") - F.col("pos_a") - 1, F.col("n_b") - F.col("pos_b") - 1
        )
    )
    cands = (
        a.join(b, "pid")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            # PPJoin length filter: J >= tau forces tau <= n_b/n_a <= 1/tau
            # (exact integers: 3*n_b <= 5*n_a and 3*n_a <= 5*n_b)
            & (F.col("n_b") * _PFX_TAU_NUM <= F.col("n_a") * _PFX_TAU_DEN)
            & (F.col("n_a") * _PFX_TAU_NUM <= F.col("n_b") * _PFX_TAU_DEN)
            & (max_possible_o >= required_o)
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # verification re-attaches the two token-id arrays BY DOC on the
    # candidate-pair relation (small after the prefix/length/positional
    # filters), not on the posting join
    verif = cands.join(
        ids.select(F.col("doc_id").alias("doc_a"), F.col("tids").alias("tids_a")),
        "doc_a",
    ).join(
        ids.select(F.col("doc_id").alias("doc_b"), F.col("tids").alias("tids_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("tids_a", "tids_b")).cast("long")
    uni = F.col("n_a") + F.col("n_b") - inter
    return (
        verif.where(inter * _PFX_TAU_DEN >= uni * _PFX_TAU_NUM)
        .select(
            "doc_a",
            "doc_b",
            inter.alias("n_shared"),
            fround(inter.cast("double") / uni, 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# -- telemetry double-fire audit (near-duplicate EVENTS, not documents) ------

_DOUBLE_FIRE_US = 1_000_000  # pairs within one second


@query(
    "telemetry_double_fire_audit",
    oracle=f"""
WITH e AS (
    SELECT event_id, user_id, event_type, epoch_us(ts) AS us
    FROM events
    WHERE event_id IS NOT NULL AND user_id IS NOT NULL
      AND event_type IS NOT NULL AND ts IS NOT NULL
), pairs AS (
    SELECT a.event_type, a.event_id AS id_a, b.event_id AS id_b
    FROM e a JOIN e b
      ON a.user_id = b.user_id AND a.event_type = b.event_type
     AND a.event_id < b.event_id
     AND abs(a.us - b.us) <= {_DOUBLE_FIRE_US}
), totals AS (
    SELECT event_type, count(*) AS n_events FROM e GROUP BY 1
)
SELECT
    t.event_type,
    t.n_events,
    CAST(coalesce(p.n_pairs, 0) AS BIGINT)                AS n_double_fire_pairs,
    CAST(coalesce(p.n_pairs, 0) * 1000000 // t.n_events AS BIGINT)
                                                          AS pairs_per_event_x1e6
FROM totals t
LEFT JOIN (SELECT event_type, count(*) AS n_pairs FROM pairs GROUP BY 1) p
  USING (event_type)
ORDER BY t.event_type
""",
)
def q_telemetry_double_fire_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry DOUBLE-FIRE audit — the near-duplicate problem for EVENTS:
    two records from the same user with the same type within one second
    but DIFFERENT event_ids are client retries / double-taps / SDK races
    that `dedup_events`' key dedup cannot see (the ids differ), yet they
    inflate every downstream count.  Reports pairs per type and the
    per-event rate — the measurement that decides whether the ingest
    pipeline needs a semantic dedup window on (user, type, ~1 s).

    Plan shape: the |Δt| <= 1 s predicate is an interval self-join,
    bucketized on whole seconds so each row joins only adjacent buckets on
    an equi-key (user, type, bucket) — the `user_activity_1h` bucketed
    rewrite; the build side explodes THREE bucket keys (bkt-1, bkt, bkt+1),
    so Catalyst plans a hash join with blow-up factor exactly 3 (pairs
    double-counted across bucket offsets collapse in the dropDuplicates),
    never a nested loop.  Microsecond arithmetic is exact integers
    (`unix_micros` = `epoch_us`)."""
    e = load_table(spark, "events", sf_dir).where(
        F.col("event_id").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.expr(f"unix_micros(ts) div {_DOUBLE_FIRE_US}").alias("bkt"),
    )
    a = e.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t"),
        F.col("event_id").alias("id_a"),
        F.col("us").alias("us_a"),
        F.col("bkt").alias("bkt_a"),
    )
    # each left row probes its own and the next second-bucket: any pair
    # within 1s lands in one of the two (b_right - b_left is 0 or 1 when
    # us_b >= us_a; symmetric pairs are generated once via id ordering
    # after expanding BOTH directions through the bucket offset)
    b = e.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t"),
        F.col("event_id").alias("id_b"),
        F.col("us").alias("us_b"),
        F.explode(
            F.array(F.col("bkt"), F.col("bkt") - 1, F.col("bkt") + 1)
        ).alias("bkt_a"),
    )
    pairs = (
        a.join(b, ["u", "t", "bkt_a"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("us_a") - F.col("us_b")) <= _DOUBLE_FIRE_US)
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    totals = e.groupBy("event_type").agg(F.count("*").alias("n_events"))
    pair_counts = pairs.groupBy(F.col("t").alias("event_type")).agg(
        F.count("*").alias("n_pairs")
    )
    return (
        totals.join(pair_counts, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.coalesce(F.col("n_pairs"), F.lit(0))
            .cast("long")
            .alias("n_double_fire_pairs"),
            F.expr("(coalesce(n_pairs, 0) * 1000000) div n_events").alias(
                "pairs_per_event_x1e6"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Dedup threshold sweep: the similarity-cutoff policy tuning curve
# --------------------------------------------------------------------------

_SWEEP_THRESHOLDS_X100 = (50, 60, 70, 80, 90)


@query(
    "jaccard_threshold_sweep",
    oracle=f"""
WITH {_MINHASH_VERIFIED_CTES},
ipairs AS (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(sa.shingles, sb.shingles)) AS inter,
           len(sa.shingles) + len(sb.shingles)
             - len(list_intersect(sa.shingles, sb.shingles)) AS un
    FROM candidates c
    JOIN shingled sa ON sa.doc_id = c.doc_a
    JOIN shingled sb ON sb.doc_id = c.doc_b
), corpus AS (
    SELECT count(*) AS n FROM shingled
), th AS (
    SELECT unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS_X100)}]) AS t
)
SELECT
    CAST(th.t AS INT) AS threshold_x100,
    CAST(count(p.doc_a) AS BIGINT) AS n_dup_pairs,
    CAST(count(DISTINCT p.doc_b) AS BIGINT) AS n_docs_removed,
    CAST(count(DISTINCT p.doc_b) * 1000000 // max(c.n) AS BIGINT)
        AS removed_share_x1e6
FROM th
CROSS JOIN corpus c
LEFT JOIN ipairs p ON 100 * p.inter >= th.t * p.un
GROUP BY th.t
ORDER BY th.t
""",
)
def q_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup POLICY tuning curve — `decontam_threshold_sweep`'s dedup
    sibling: for each Jaccard cutoff (0.50 … 0.90) report how many verified
    near-dup pairs survive the MinHash-LSH candidate gate, how many
    documents a keep-lowest-id policy would remove, and the corpus share
    lost — the table a data owner reads before choosing the production
    dedup threshold (too low removes legitimate boilerplate-sharing docs,
    too high ships training set duplicates).

    Exactness: the cutoff comparison is pure integer arithmetic —
    ``100*|A∩B| >= t*|A∪B|`` — so a pair sitting exactly ON a threshold
    (e.g. J = 3/5 at t = 60) classifies identically on both engines; no
    float division appears anywhere in the hashed relation.  Removal policy
    is per-PAIR (the higher doc_id of every flagged pair), not transitive
    closure — the closure variant is `dup_clusters`; this sweep prices the
    cheap policy.

    Scale: candidates come from the banded LSH equi-join
    (`_band_candidates` — one pass over band signatures, never the O(n²)
    pair space); the sweep itself is a 5-row broadcast threshold grid
    against the candidate-pair relation, and the per-threshold distinct is
    a two-phase aggregate on (threshold, doc) grain.  Reference analog:
    the reference dedups nothing (SURVEY §2 D1 covers only event-id dedup);
    this is the scale-up policy layer over the same MinHash machinery as
    `minhash_near_dups` (same signatures, same bands, same verification).
    """
    from e_commerce_streaming_datapipeline_spark.functions.scalars import bounded_cross_join, scalar_join

    docs = load_table(spark, "documents", sf_dir)
    # deliberately NOT persisted: shingling is cheap map-side HOF work and
    # a MEMORY_AND_DISK pin of the array column measured SLOWER end-to-end
    # (2.52 s vs 2.19 s at sf0.1) — unlike the simjoin's token-id sets,
    # whose lineage includes a rank and a corpus join worth pinning
    sets = shingled_docs(docs)
    bands = minhash_bands(docs, shingled=sets)
    cand = _band_candidates(bands)
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("inter"),
            (F.size("sh_a") + F.size("sh_b") - inter).cast("long").alias("un"),
        )
    )
    th = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS_X100])
        ).alias("threshold_x100")
    )
    flagged = bounded_cross_join(pairs, th).where(
        F.lit(100) * F.col("inter") >= F.col("threshold_x100") * F.col("un")
    )
    pair_counts = flagged.groupBy("threshold_x100").agg(
        F.count("*").alias("n_dup_pairs")
    )
    # two-phase distinct (dedupe then count) keeps the plan Expand-free
    doc_counts = (
        flagged.select("threshold_x100", "doc_b")
        .distinct()
        .groupBy("threshold_x100")
        .agg(F.count("*").alias("n_docs_removed"))
    )
    corpus = sets.groupBy().agg(F.count("*").alias("__n_corpus"))
    return (
        scalar_join(th, corpus)
        .join(pair_counts, "threshold_x100", "left")
        .join(doc_counts, "threshold_x100", "left")
        .select(
            F.col("threshold_x100").cast("int").alias("threshold_x100"),
            F.coalesce(F.col("n_dup_pairs"), F.lit(0))
            .cast("long")
            .alias("n_dup_pairs"),
            F.coalesce(F.col("n_docs_removed"), F.lit(0))
            .cast("long")
            .alias("n_docs_removed"),
            F.expr(
                "(coalesce(n_docs_removed, 0) * 1000000) div __n_corpus"
            ).alias("removed_share_x1e6"),
        )
        .orderBy("threshold_x100")
    )


# --------------------------------------------------------------------------
# SymSpell deletion-neighborhood record linkage (fuzzy entity resolution)
# --------------------------------------------------------------------------

_SYMSPELL_DIGITS = 9  # the numeric tail of c_name ("Customer#NNNNNNNNN")


@query(
    "symspell_typo_linkage",
    oracle=f"""
WITH clean AS (
    SELECT c_custkey, c_nationkey, substr(c_name, 10) AS digits
    FROM customer WHERE c_name IS NOT NULL AND c_custkey IS NOT NULL
), dirty AS (
    -- deterministic corruption: delete the (custkey % 9)+1-th digit
    SELECT c_custkey AS true_key, c_nationkey,
           substr(digits, 1, c_custkey % {_SYMSPELL_DIGITS})
           || substr(digits, c_custkey % {_SYMSPELL_DIGITS} + 2) AS dirty_digits
    FROM clean
), variants AS (
    -- SymSpell index: every 1-deletion variant of every clean record
    SELECT c_custkey AS cand_key, digits AS cand_digits,
           substr(digits, 1, i - 1) || substr(digits, i + 1) AS variant
    FROM clean, LATERAL unnest(generate_series(1, {_SYMSPELL_DIGITS})) AS t(i)
), cands AS (
    SELECT DISTINCT d.true_key, d.c_nationkey, d.dirty_digits,
           v.cand_key, v.cand_digits
    FROM dirty d JOIN variants v ON v.variant = d.dirty_digits
), resolved AS (
    SELECT true_key, c_nationkey, cand_key,
           row_number() OVER (
               PARTITION BY true_key
               ORDER BY levenshtein(cand_digits, dirty_digits), cand_key
           ) AS rn
    FROM cands
)
SELECT
    c.c_nationkey                              AS nationkey,
    CAST(count(*) AS BIGINT)                   AS n_dirty,
    CAST(coalesce(any_value(p.n_pairs), 0) AS BIGINT)    AS n_candidate_pairs,
    CAST(count(r.cand_key) AS BIGINT)          AS n_resolved,
    CAST(count_if(r.cand_key = c.true_key) AS BIGINT)    AS n_correct,
    CAST(count_if(r.cand_key = c.true_key) * 1000000 // count(*) AS BIGINT)
                                               AS recall_x1e6
FROM dirty c
LEFT JOIN (SELECT * FROM resolved WHERE rn = 1) r USING (true_key)
LEFT JOIN (
    SELECT c_nationkey, count(*) AS n_pairs FROM cands GROUP BY 1
) p ON p.c_nationkey = c.c_nationkey
GROUP BY 1
ORDER BY 1
""",
)
def q_symspell_typo_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy RECORD LINKAGE via the SymSpell deletion-neighborhood index —
    entity resolution for typo'd keys at scale: a deterministically
    corrupted registry (each customer's 9-digit name tail with one digit
    deleted at position custkey%9) is re-linked to the clean registry by
    materializing every 1-deletion variant of each clean key and
    equi-joining variants against the dirty strings, then verifying the
    survivors with exact ``levenshtein`` and resolving multi-candidate
    collisions by (edit distance, candidate key).  Per nation: dirty-record
    count, candidate-pair volume, resolution count, and exact recall
    against the known ground truth.  Recall < 1 is the operator's honest
    output, not a defect: leading-zero digit strings make some dirty
    strings genuinely ambiguous (two clean parents one deletion away),
    every neighborhood candidate sits at distance exactly 1, and the
    deterministic tie-break picks the smallest key — so the recall column
    MEASURES the corpus's ambiguity rate, the number a linkage pipeline
    tunes its blocking key against.

    Why THIS shape at 100 TB: naive fuzzy linkage is an O(n²) pairwise
    scan; per-row trigram lookups leave the relational planner entirely.
    The deletion-neighborhood index is a bounded ×L row explode (L = key
    length) feeding a plain hash EQUI-join — one shuffle keyed on the
    variant string, candidate volume bounded by true collisions, never a
    CartesianProduct — with the expensive ``levenshtein`` evaluated only
    on surviving candidates (the prefix-filter-simjoin discipline applied
    to edit distance).  This is SymSpell's server-side design re-expressed
    relationally.

    Exactness: corruption, variants, and the resolve tie-break are pure
    string/integer expressions identical on both engines; NULL-name/key
    rows produce NULL dirty strings, which the equi-join drops on both
    sides (r8 lineitem-edge pin covers the customer NULLs)."""
    clean = (
        load_table(spark, "customer", sf_dir)
        .where(F.col("c_name").isNotNull() & F.col("c_custkey").isNotNull())
        .select(
            "c_custkey",
            "c_nationkey",
            F.substring("c_name", 10, _SYMSPELL_DIGITS).alias("digits"),
        )
    )
    p = F.col("c_custkey") % _SYMSPELL_DIGITS
    dirty = clean.select(
        F.col("c_custkey").alias("true_key"),
        "c_nationkey",
        F.concat(
            F.expr(f"substr(digits, 1, c_custkey % {_SYMSPELL_DIGITS})"),
            F.expr(f"substr(digits, c_custkey % {_SYMSPELL_DIGITS} + 2)"),
        ).alias("dirty_digits"),
    )
    variants = clean.select(
        F.col("c_custkey").alias("cand_key"),
        F.col("digits").alias("cand_digits"),
        F.explode(
            F.expr(
                f"transform(sequence(1, {_SYMSPELL_DIGITS}), "
                "i -> concat(substr(digits, 1, i - 1), substr(digits, i + 1)))"
            )
        ).alias("variant"),
    )
    cands = (
        dirty.join(variants, dirty.dirty_digits == variants.variant)
        .select("true_key", "c_nationkey", "dirty_digits", "cand_key", "cand_digits")
        .distinct()
    )
    rw = Window.partitionBy("true_key").orderBy(
        F.levenshtein(F.col("cand_digits"), F.col("dirty_digits")), "cand_key"
    )
    resolved = (
        cands.withColumn("rn", F.row_number().over(rw))
        .where(F.col("rn") == 1)
        .select("true_key", "cand_key")
    )
    pair_counts = cands.groupBy("c_nationkey").agg(F.count("*").alias("n_pairs"))
    return (
        dirty.join(resolved, "true_key", "left")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_dirty"),
            F.count("cand_key").cast("long").alias("n_resolved"),
            F.sum(F.when(F.col("cand_key") == F.col("true_key"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
        .join(pair_counts, "c_nationkey", "left")
        .select(
            F.col("c_nationkey").alias("nationkey"),
            "n_dirty",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_candidate_pairs"),
            "n_resolved",
            "n_correct",
            F.expr("(n_correct * 1000000) div n_dirty").alias("recall_x1e6"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# Golden-record survivorship: merge duplicate submissions into one canonical
# --------------------------------------------------------------------------


@query(
    "golden_record_survivorship",
    oracle="""
WITH keyed AS (
    SELECT *, date_trunc('hour', ts) AS hour_bucket
    FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
), sized AS (
    SELECT user_id, event_type, hour_bucket,
           count(*) AS n_dupes,
           max(coalesce(value, 0.0)) AS best_value,
           count(value) AS n_valued,
           count(props) AS n_props
    FROM keyed GROUP BY 1, 2, 3
), survivor AS (
    SELECT user_id, event_type, hour_bucket, event_id AS survivor_event_id
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, event_type, hour_bucket
            ORDER BY epoch_us(ts) DESC,
                     coalesce(value, -1) DESC,
                     coalesce(event_id, 4611686018427387904)
        ) AS rn
        FROM keyed
    ) WHERE rn = 1
)
SELECT
    s.user_id, s.event_type, s.hour_bucket,
    CAST(s.n_dupes AS BIGINT)   AS n_dupes,
    v.survivor_event_id,
    round(s.best_value, 2)      AS best_value,
    CAST(s.n_valued AS BIGINT)  AS n_valued,
    CAST(s.n_props AS BIGINT)   AS n_props
FROM sized s JOIN survivor v USING (user_id, event_type, hour_bucket)
WHERE s.n_dupes >= 2
ORDER BY s.user_id, s.event_type, s.hour_bucket
""",
)
def q_golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN-RECORD construction — the step AFTER duplicate detection: each
    semantic-duplicate cluster (same user, same type, same hour — the
    coarse-grain sibling of `telemetry_double_fire_audit`'s 1-second
    retry window) is merged into one
    canonical record by an explicit SURVIVORSHIP policy: the survivor is
    the most recent event (ties: highest value, then lowest id, NULL ids
    last), while merged fields take the best evidence across the cluster
    (max value, field-completeness tallies).  Only real clusters (>= 2
    members) are emitted, so output is bounded by the duplicate volume.

    This is the master-data-management half of dedup that
    `dedup_events`-style winner-picking skips: downstream consumers get
    one enriched row per entity instead of an arbitrary member.

    Plan: ONE shuffle on the cluster key serves both the rollup (hash
    aggregate) and the survivor pick (WindowGroupLimit top-1 — map-side
    bounded); the final join re-uses the same key so AQE plans it
    shuffle-free on the already-co-partitioned sides.  Policy ordering
    pins every cross-engine trap: timestamps compare as exact micros,
    NULL values coalesce below any real value, NULL ids tie-break via the
    2^62 sentinel (Spark sorts ASC NULLS FIRST, DuckDB NULLS LAST)."""
    keyed = (
        load_table(spark, "events", sf_dir)
        .where(
            F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
        )
        .withColumn("hour_bucket", F.date_trunc("hour", F.col("ts")))
    )
    sized = keyed.groupBy("user_id", "event_type", "hour_bucket").agg(
        F.count("*").cast("long").alias("n_dupes"),
        F.max(F.coalesce(F.col("value"), F.lit(0.0))).alias("__best_value"),
        F.count("value").cast("long").alias("n_valued"),
        F.count("props").cast("long").alias("n_props"),
    )
    sw = Window.partitionBy("user_id", "event_type", "hour_bucket").orderBy(
        F.unix_micros("ts").desc(),
        F.coalesce(F.col("value"), F.lit(-1.0)).desc(),
        F.coalesce(F.col("event_id"), F.lit(4611686018427387904)),
    )
    survivor = (
        keyed.withColumn("rn", F.row_number().over(sw))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "hour_bucket",
            F.col("event_id").alias("survivor_event_id"),
        )
    )
    return (
        sized.where(F.col("n_dupes") >= 2)
        .join(survivor, ["user_id", "event_type", "hour_bucket"])
        .select(
            "user_id",
            "event_type",
            "hour_bucket",
            "n_dupes",
            "survivor_event_id",
            fround(F.col("__best_value"), 2).alias("best_value"),
            "n_valued",
            "n_props",
        )
        .orderBy("user_id", "event_type", "hour_bucket")
    )


# --------------------------------------------------------------------------
# Sorted-neighborhood blocking (SNM) — the sort-based candidate generator
# --------------------------------------------------------------------------

_SNM_WINDOW = 5             # sliding window size over the sorted order (w)
_SNM_BURST_US = 300_000_000  # ground truth: same user within 5 minutes
_SNM_KEY_US = 60_000_000     # sort-key time granularity: whole minutes


@query(
    "sorted_neighborhood_pairs",
    oracle=f"""
WITH e AS (
    SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
           epoch_us(ts) // {_SNM_KEY_US} AS minute
    FROM events
    WHERE event_id IS NOT NULL AND user_id IS NOT NULL
      AND event_type IS NOT NULL AND ts IS NOT NULL
), r AS (
    SELECT *, row_number() OVER (
        ORDER BY minute, user_id, us, event_id) AS rn
    FROM e
), cand AS (
    SELECT least(a.event_type, b.event_type)    AS type_a,
           greatest(a.event_type, b.event_type) AS type_b,
           CASE WHEN a.user_id = b.user_id
                 AND abs(a.us - b.us) <= {_SNM_BURST_US}
                THEN 1 ELSE 0 END AS found
    FROM r a JOIN r b
      ON b.rn > a.rn AND b.rn <= a.rn + {_SNM_WINDOW - 1}
), cand_counts AS (
    SELECT type_a, type_b,
           count(*) AS n_candidates, sum(found) AS n_found
    FROM cand GROUP BY 1, 2
), truth_counts AS (
    SELECT least(a.event_type, b.event_type)    AS type_a,
           greatest(a.event_type, b.event_type) AS type_b,
           count(*) AS n_truth
    FROM e a JOIN e b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND abs(a.us - b.us) <= {_SNM_BURST_US}
    GROUP BY 1, 2
)
SELECT
    coalesce(c.type_a, t.type_a)                      AS type_a,
    coalesce(c.type_b, t.type_b)                      AS type_b,
    CAST(coalesce(c.n_candidates, 0) AS BIGINT)       AS n_candidates,
    CAST(coalesce(t.n_truth, 0) AS BIGINT)            AS n_truth_pairs,
    CAST(coalesce(c.n_found, 0) AS BIGINT)            AS n_found_pairs,
    CAST(CASE WHEN coalesce(t.n_truth, 0) > 0
         THEN coalesce(c.n_found, 0) * 10000 // t.n_truth END AS BIGINT)
                                                      AS recall_bp
FROM cand_counts c
FULL OUTER JOIN truth_counts t USING (type_a, type_b)
ORDER BY 1, 2
""",
)
def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo's merge/purge
    method, public) — the THIRD candidate-generation strategy in the
    record-linkage family, next to the bucketized interval join
    (`telemetry_double_fire_audit`) and the deletion-neighborhood hash
    (`symspell_typo_linkage`): sort everything ONCE on a composite
    blocking key (minute, user), slide a w={_SNM_WINDOW} window over the
    sorted order, and compare only rows that share a window — O(n·w)
    comparisons instead of O(n²).  Ground truth is the session-burst
    relation (same user within {_SNM_BURST_US // 60_000_000} minutes —
    what sessionization stitches); the per-type-pair `recall_bp`
    quantifies SNM's textbook weakness: a true pair straddling a MINUTE
    boundary in the sort key sorts far apart (every other user's events
    in between), so the recall curve is exactly the number a linkage
    pipeline reads to choose window size w and key granularity.

    Plan shape: the global sort order comes from the two-phase
    distributed rank (`functions/ranks.py` — range-repartition + local
    rank + bounded offsets; no single-partition window over event-scale
    data); window pairs join on rank-bucket equi-keys with the build side
    exploding two bucket offsets (blow-up exactly 2, hash join, never a
    nested loop, each pair matches under exactly one offset); the
    ground-truth leg is the double-fire-style bucketized interval join
    (three bucket offsets, dropDuplicates collapses the double-counted).
    All time math is exact integer microseconds; recall is integer basis
    points (`div`), NULL where a type pair has no true pairs."""
    from e_commerce_streaming_datapipeline_spark.functions.ranks import (
        global_row_number,
    )

    w = _SNM_WINDOW
    e = (
        load_table(spark, "events", sf_dir)
        .where(
            F.col("event_id").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
            F.expr(f"unix_micros(ts) div {_SNM_KEY_US}").alias("minute"),
        )
    )
    ranked = global_row_number(
        e,
        [
            F.col("minute").asc_nulls_last(),
            F.col("user_id").asc_nulls_last(),
            F.col("us").asc_nulls_last(),
            F.col("event_id").asc_nulls_last(),
        ],
        rank_col="rn",
    ).withColumn("bkt", F.expr(f"(rn - 1) div {w}"))
    a = ranked.select(
        F.col("event_type").alias("t_a"),
        F.col("user_id").alias("u_a"),
        F.col("us").alias("us_a"),
        F.col("rn").alias("rn_a"),
        F.col("bkt").alias("jbkt"),
    )
    # a pair at rank distance <= w-1 lands in the same or the previous
    # rank bucket of the right row, so the build side probes both: blow-up
    # exactly 2, and each pair matches under exactly one offset
    b = ranked.select(
        F.col("event_type").alias("t_b"),
        F.col("user_id").alias("u_b"),
        F.col("us").alias("us_b"),
        F.col("rn").alias("rn_b"),
        F.explode(F.array(F.col("bkt"), F.col("bkt") - 1)).alias("jbkt"),
    )
    cand_counts = (
        a.join(b, "jbkt")
        .where(
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") <= F.col("rn_a") + (w - 1))
        )
        .select(
            F.least("t_a", "t_b").alias("type_a"),
            F.greatest("t_a", "t_b").alias("type_b"),
            F.when(
                (F.col("u_a") == F.col("u_b"))
                & (F.abs(F.col("us_a") - F.col("us_b")) <= _SNM_BURST_US),
                1,
            )
            .otherwise(0)
            .alias("found"),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum("found").alias("n_found"),
        )
    )
    ta = e.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("et_a"),
        F.col("event_id").alias("id_a"),
        F.col("us").alias("us_a"),
        F.expr(f"us div {_SNM_BURST_US}").alias("tbkt"),
    )
    tb = e.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("et_b"),
        F.col("event_id").alias("id_b"),
        F.col("us").alias("us_b"),
        F.explode(
            F.array(
                F.expr(f"us div {_SNM_BURST_US}"),
                F.expr(f"us div {_SNM_BURST_US}") - 1,
                F.expr(f"us div {_SNM_BURST_US}") + 1,
            )
        ).alias("tbkt"),
    )
    truth_counts = (
        ta.join(tb, ["u", "tbkt"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("us_a") - F.col("us_b")) <= _SNM_BURST_US)
        )
        .dropDuplicates(["id_a", "id_b"])
        .groupBy(
            F.least("et_a", "et_b").alias("type_a"),
            F.greatest("et_a", "et_b").alias("type_b"),
        )
        .agg(F.count("*").alias("n_truth"))
    )
    return (
        cand_counts.join(truth_counts, ["type_a", "type_b"], "full_outer")
        .select(
            "type_a",
            "type_b",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.coalesce(F.col("n_truth"), F.lit(0))
            .cast("long")
            .alias("n_truth_pairs"),
            F.coalesce(F.col("n_found"), F.lit(0))
            .cast("long")
            .alias("n_found_pairs"),
            F.when(
                F.coalesce(F.col("n_truth"), F.lit(0)) > 0,
                F.expr("coalesce(n_found, 0) * 10000 div n_truth"),
            )
            .cast("long")
            .alias("recall_bp"),
        )
        .orderBy("type_a", "type_b")
    )
