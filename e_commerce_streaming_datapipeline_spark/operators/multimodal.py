"""Multimodal column plumbing (BASELINE.json scale-up mandate).

Images/audio/video are opaque ``binary`` payloads with typed metadata
structs; decode / feature-extract / resize / frame-sample run as Arrow-batched
Pandas UDFs over ``mapInPandas``.  The media codec libraries are not in this
container, so the *decode kernel* is stubbed (deterministic fake derived from
the payload bytes, clearly marked) while everything Spark-side — schema,
batch iteration, partitioning, UDF signatures — is real and tested.

Scale notes: binary payloads ride in parquet column chunks; the metadata-only
queries never deserialize them (column pruning), and the decode stage is an
embarrassingly parallel ``mapInPandas`` whose batch size is controlled by
``spark.sql.execution.arrow.maxRecordsPerBatch`` to bound executor memory at
large asset sizes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.rounding import cents, fround
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

MODALITIES = ("image", "audio", "video", "text")


def as_assets(docs: DataFrame) -> DataFrame:
    """Wrap the documents fixture as a multimodal asset table:
    (asset_id, modality, payload binary, meta struct).

    NULL ``doc_id`` rows are excluded on BOTH engines: the asset id IS the
    key, and a keyless asset has no stable modality (Spark's
    ``element_at(arr, NULL)`` and DuckDB's ``arr[NULL]`` disagree in
    downstream Python-kernel handling) — r8 edge-fixture pin."""
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        F.pmod(F.col("doc_id"), F.lit(len(MODALITIES))).cast("int") + 1,
    )
    docs = docs.where(F.col("doc_id").isNotNull())
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.col("source").alias("origin"),
            F.col("lang").alias("lang"),
            # BYTE length of the payload (length over the encoded binary),
            # not the character count — they differ on any non-ASCII text
            F.length(F.encode(F.col("text"), "UTF-8")).alias("n_bytes_decl"),
        ).alias("meta"),
    )


# the oracles' twin of as_assets: (asset_id, modality, payload)
ASSETS_CTE = f"""assets AS (
    SELECT
        doc_id AS asset_id,
        {list(MODALITIES)}[(doc_id % {len(MODALITIES)}) + 1] AS modality,
        encode(text) AS payload
    FROM documents WHERE doc_id IS NOT NULL
)"""


@query(
    "multimodal_asset_stats",
    oracle=f"""
WITH {ASSETS_CTE}
SELECT
    modality,
    count(*)                                  AS n_assets,
    CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
    round(avg(octet_length(payload)), 2)       AS avg_bytes,
    CAST(max(octet_length(payload)) AS INT)    AS max_bytes
FROM assets
GROUP BY 1
""",
)
def q_multimodal_asset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata rollup over binary asset payloads — the query pattern
    that must NOT read the blobs: only byte lengths and metadata columns."""
    assets = as_assets(load_table(spark, "documents", sf_dir))
    return assets.groupBy("modality").agg(
        F.count("*").alias("n_assets"),
        F.sum(F.length(F.col("payload"))).cast("long").alias("total_bytes"),
        fround(F.avg(F.length(F.col("payload"))), 2).alias("avg_bytes"),
        F.max(F.length(F.col("payload"))).alias("max_bytes"),
    )


_IMAGE_MAGIC = (b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"GIF87a", b"GIF89a")


def _pil_image_module():
    """PIL import probe — None in this container; real deployments get the
    real decoder with zero code change."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except Exception:
        return None


def _decode_fake(payload: bytes | None, modality: str) -> dict:
    """Deterministic fake decode: pseudo-metadata from an md5 of the payload,
    reproducible across engines (the DuckDB oracles rebuild it from
    ``md5(payload)`` hex).

    A NULL payload (NULL-text document — in-domain per the edge fixture)
    propagates NULL through every digest-derived field while literals stay
    literal, exactly like the oracle's CASE arithmetic (64 + NULL*4 is NULL,
    the constant 1 is still 1)."""
    if payload is None:
        d0 = d1 = d2 = d3 = None
    else:
        digest = hashlib.md5(payload).digest()
        d0, d1, d2, d3 = digest[0], digest[1], digest[2], digest[3]

    def _maybe(base, x, mult):
        return None if x is None else base + x * mult

    if modality == "image":
        return {"width": _maybe(64, d0, 4), "height": _maybe(64, d1, 4), "frames": 1}
    if modality == "video":
        return {"width": _maybe(64, d0, 4), "height": _maybe(64, d1, 4),
                "frames": _maybe(1, d2, 1)}
    if modality == "audio":
        return {"width": 0, "height": 0, "frames": _maybe(1, d3, 100)}
    return {"width": 0, "height": 0, "frames": 0}


def decode_asset_bytes(payload: bytes, modality: str) -> dict:
    """Decode kernel with real-codec dispatch: payloads whose magic bytes
    identify a container the runtime can actually parse go through the real
    decoder (PIL for PNG/JPEG/GIF when importable; stdlib ``wave`` for
    RIFF/WAVE audio — available even in this container); everything else
    falls back to the deterministic fake.

    The magic-byte gate is what keeps the oracle-checked queries exact: the
    fixture payloads are UTF-8 text and never carry container magic, so they
    deterministically take the fake path whether or not codec libraries are
    installed.  Both paths return the same dict shape, so the Arrow kernel
    schema is identical either way (asserted in tests/test_multimodal.py).
    Video has no stdlib codec — it always uses the fake until ffmpeg/pyav
    is present (same dispatch seam)."""
    if payload is None:
        return _decode_fake(None, modality)
    raw = bytes(payload)
    if modality == "image" and raw.startswith(_IMAGE_MAGIC):
        image_mod = _pil_image_module()
        if image_mod is not None:
            try:
                import io  # noqa: PLC0415

                with image_mod.open(io.BytesIO(raw)) as im:
                    return {
                        "width": int(im.width),
                        "height": int(im.height),
                        "frames": int(getattr(im, "n_frames", 1)),
                    }
            except Exception:
                pass  # corrupt container -> deterministic fake
    if modality == "audio" and raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
        try:
            import io  # noqa: PLC0415
            import wave  # noqa: PLC0415

            with wave.open(io.BytesIO(raw)) as w:
                return {"width": 0, "height": 0, "frames": int(w.getnframes())}
        except Exception:
            pass
    return _decode_fake(raw, modality)


def decode_assets(assets: DataFrame) -> DataFrame:
    """Arrow-batched decode stage: mapInPandas over (asset_id, modality,
    payload) -> decoded metadata.  This is the real 100 TB shape: one Python
    worker per core, Arrow batches in, no driver involvement."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [decode_asset_bytes(p, m) for p, m in zip(pdf["payload"], pdf["modality"])]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "n_bytes": [None if p is None else len(p) for p in pdf["payload"]],
                "width": [m["width"] for m in meta],
                "height": [m["height"] for m in meta],
                "frames": [m["frames"] for m in meta],
            })

    return assets.mapInPandas(
        decode,
        "asset_id long, modality string, n_bytes long, width long, height long, frames long",
    )


@query(
    "multimodal_decode",
    oracle=f"""
WITH {ASSETS_CTE}, decoded AS (
    SELECT
        asset_id,
        modality,
        CAST(octet_length(payload) AS BIGINT) AS n_bytes,
        ('0x' || substr(md5(payload::VARCHAR), 1, 2))::BIGINT AS b0,
        ('0x' || substr(md5(payload::VARCHAR), 3, 2))::BIGINT AS b1,
        ('0x' || substr(md5(payload::VARCHAR), 5, 2))::BIGINT AS b2,
        ('0x' || substr(md5(payload::VARCHAR), 7, 2))::BIGINT AS b3
    FROM assets
)
SELECT
    asset_id,
    modality,
    n_bytes,
    CASE WHEN modality IN ('image', 'video') THEN 64 + b0 * 4 ELSE 0 END AS width,
    CASE WHEN modality IN ('image', 'video') THEN 64 + b1 * 4 ELSE 0 END AS height,
    CASE modality WHEN 'image' THEN 1
                  WHEN 'video' THEN 1 + b2
                  WHEN 'audio' THEN 1 + b3 * 100
                  ELSE 0 END AS frames
FROM decoded
""",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode pipeline end-to-end (binary -> Pandas UDF -> metadata).
    The stub kernel is md5-derived, so even this Python stage is
    oracle-checkable — DuckDB reproduces the fake decode in SQL."""
    return decode_assets(as_assets(load_table(spark, "documents", sf_dir)))


RESIZE_TARGET = 224
FRAME_STEP = 8


@query(
    "multimodal_resize",
    oracle=f"""
WITH {ASSETS_CTE}, decoded AS (
    SELECT
        asset_id, modality,
        64 + ('0x' || substr(md5(payload::VARCHAR), 1, 2))::BIGINT * 4 AS width,
        64 + ('0x' || substr(md5(payload::VARCHAR), 3, 2))::BIGINT * 4 AS height
    FROM assets
    WHERE modality IN ('image', 'video')
)
SELECT
    asset_id, modality, width, height,
    CAST(greatest(1, floor(width  * ({RESIZE_TARGET}.0 / greatest(width, height)))) AS BIGINT) AS out_width,
    CAST(greatest(1, floor(height * ({RESIZE_TARGET}.0 / greatest(width, height)))) AS BIGINT) AS out_height
FROM decoded
""",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage: aspect-preserving fit of every image/video frame into
    {RESIZE_TARGET}px, fused with the decode kernel in ONE ``mapInPandas``
    pass (kernel fusion is the scale shape: one Arrow hop, one Python worker
    traversal, instead of decode->resize as two chained Python stages).

    The modality filter runs Spark-side BEFORE the Python stage, so audio and
    text payloads never cross the Arrow boundary.  The pixel-resample kernel
    itself would live inside the same function (PIL/ffmpeg, stubbed here);
    the output geometry math is deterministic and oracle-checked."""
    import numpy as np

    assets = as_assets(load_table(spark, "documents", sf_dir)).where(
        F.col("modality").isin("image", "video")
    )

    def decode_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [decode_asset_bytes(p, m) for p, m in zip(pdf["payload"], pdf["modality"])]
            has_null = any(m["width"] is None for m in meta)
            if not has_null:
                w = np.array([m["width"] for m in meta], dtype="int64")
                h = np.array([m["height"] for m in meta], dtype="int64")
                scale = float(RESIZE_TARGET) / np.maximum(w, h)
                ow = np.maximum(1, np.floor(w * scale)).astype("int64")
                oh = np.maximum(1, np.floor(h * scale)).astype("int64")
                w_col, h_col, ow_col, oh_col = w, h, ow, oh
            else:
                # NULL-payload rows: width/height stay NULL; the out dims
                # follow the oracle's greatest(1, NULL) -> 1 (DuckDB greatest
                # ignores NULL arguments)
                import math as _math

                w_col, h_col, ow_col, oh_col = [], [], [], []
                for m in meta:
                    wv, hv = m["width"], m["height"]
                    w_col.append(wv)
                    h_col.append(hv)
                    if wv is None or hv is None:
                        ow_col.append(1)
                        oh_col.append(1)
                    else:
                        s = float(RESIZE_TARGET) / max(wv, hv)
                        ow_col.append(max(1, _math.floor(wv * s)))
                        oh_col.append(max(1, _math.floor(hv * s)))
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "width": w_col,
                "height": h_col,
                "out_width": ow_col,
                "out_height": oh_col,
            })

    return assets.mapInPandas(
        decode_resize,
        "asset_id long, modality string, width long, height long, out_width long, out_height long",
    )


@query(
    "multimodal_frame_sample",
    oracle=f"""
WITH {ASSETS_CTE}, decoded AS (
    SELECT
        asset_id,
        1 + ('0x' || substr(md5(payload::VARCHAR), 5, 2))::BIGINT AS frames
    FROM assets
    WHERE modality = 'video'
)
SELECT
    asset_id,
    frames,
    array_to_string(generate_series(0, frames - 1, {FRAME_STEP}), ',') AS sampled_frames,
    CAST(len(generate_series(0, frames - 1, {FRAME_STEP})) AS INT) AS n_sampled
FROM decoded
""",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stage for video assets: every {FRAME_STEP}th frame
    index, decode fused into the same ``mapInPandas`` pass.  At scale the
    sampled frames would be emitted as one binary row each (explode after
    this stage); the index math is the oracle-checked part.  Frame indices
    are emitted comma-joined (scalar output columns stay hashable by
    pandas-based canonicalizers; ArrayType columns do not)."""
    assets = as_assets(load_table(spark, "documents", sf_dir)).where(
        F.col("modality") == "video"
    )

    def decode_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = [
                decode_asset_bytes(p, m)["frames"]
                for p, m in zip(pdf["payload"], pdf["modality"])
            ]
            # NULL frames (NULL payload) -> NULL sample columns, matching the
            # oracle's generate_series(0, NULL - 1, step) -> NULL
            sampled = [
                None if n is None else list(range(0, n, FRAME_STEP)) for n in frames
            ]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "frames": pd.Series(frames, dtype="Int64"),
                "sampled_frames": [
                    None if s is None else ",".join(map(str, s)) for s in sampled
                ],
                "n_sampled": pd.Series(
                    [None if s is None else len(s) for s in sampled], dtype="Int32"
                ),
            })

    return assets.mapInPandas(
        decode_sample,
        "asset_id long, frames long, sampled_frames string, n_sampled int",
    )


@query(
    "multimodal_features",
    oracle=f"""
WITH {ASSETS_CTE}
SELECT
    asset_id,
    modality,
    array_to_string(list_transform(
        [('0x' || substr(md5(payload::VARCHAR), 1, 2))::BIGINT / 255.0,
         ('0x' || substr(md5(payload::VARCHAR), 3, 2))::BIGINT / 255.0,
         ('0x' || substr(md5(payload::VARCHAR), 5, 2))::BIGINT / 255.0,
         ('0x' || substr(md5(payload::VARCHAR), 7, 2))::BIGINT / 255.0],
        x -> CAST(round(x * 1000000) AS BIGINT)), ',') AS features_q6
FROM assets
""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction stage: binary payload -> fixed-width float vector
    (the CLIP-embedding / mel-spectrogram slot, stubbed as normalized md5
    bytes).  Demonstrates the vector-output-column UDF shape that feeds the
    similarity-search operators; exact doubles, so even the Python stage
    hash-matches the SQL oracle.

    The registered output carries the vector as fixed-point (x10^6) integers
    comma-joined into one string — the Arrow kernel still produces
    ``array<double>`` (the shape downstream ANN consumes), and the
    stringification is a codegen'd Spark-side projection appended only so the
    result stays hashable by pandas-based canonicalizers (ArrayType output
    columns are not)."""
    assets = as_assets(load_table(spark, "documents", sf_dir))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                None if p is None else [b / 255.0 for b in hashlib.md5(p).digest()[:4]]
                for p in pdf["payload"]
            ]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "features": feats,
            })

    vectors = assets.mapInPandas(
        extract, "asset_id long, modality string, features array<double>"
    )
    # concat_ws never returns NULL (it skips null inputs) while the oracle's
    # array_to_string over a NULL list IS NULL — gate explicitly
    quantized = F.concat_ws(
        ",",
        F.transform(
            F.col("features"),
            lambda x: cents(x, 1000000).cast("string"),
        ),
    )
    return vectors.select(
        "asset_id",
        "modality",
        F.when(F.col("features").isNull(), F.lit(None).cast("string"))
        .otherwise(quantized)
        .alias("features_q6"),
    )


@query(
    "multimodal_dedup",
    oracle=f"""
WITH {ASSETS_CTE}, hashed AS (
    -- DuckDB md5 takes VARCHAR only: hash the hex encoding of the bytes
    -- (Spark side mirrors md5(hex(payload)); hex casing matches)
    SELECT asset_id, modality, md5(hex(payload)) AS payload_hash FROM assets
)
SELECT
    modality,
    payload_hash,
    CAST(min(asset_id) AS BIGINT) AS keep_asset_id,
    count(*)                      AS n_copies
FROM hashed
GROUP BY 1, 2
HAVING count(*) > 1
""",
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload exact dedup across modalities: md5 over the raw BYTES
    (not a text cast — byte-identical duplicates only), grouped within
    modality, min-id winner — the asset-store dedup that runs before any
    decode (dedup on 16-byte hashes, never on blobs).

    Scale shape: the hash is computed in the scan stage (payload column read
    once, immediately reduced to 16 bytes), so only (modality, hash, id)
    triples shuffle — at 100 TB of media the shuffle is ~40 bytes per asset
    regardless of asset size.  Near-dup (perceptual) hashing slots into the
    same plan by swapping the kernel: pHash over the decode stage's output,
    then this exact groupBy on the perceptual hash."""
    assets = as_assets(load_table(spark, "documents", sf_dir))
    hashed = assets.select(
        "asset_id", "modality", F.md5(F.hex(F.col("payload"))).alias("payload_hash")
    )
    return (
        hashed.groupBy("modality", "payload_hash")
        .agg(
            F.min("asset_id").alias("keep_asset_id"),
            F.count("*").alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
    )
