"""Multimodal query registrations — all oracle-checked: byte stats
and digest are SQL-expressible over the text the payload was
fabricated from; the fake-decode and frame-sample paths re-derive
their outputs from the md5 hex digest, so even the Python
``mapInPandas`` plumbing is value-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.operators import multimodal as MM
from flink_repartition_watermark_example_spark.queries import register, register_extra
from flink_repartition_watermark_example_spark.sources.tables import load_table


@register(
    "multimodal_features",
    """
    SELECT doc_id,
           'text' AS modality,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS digest
    FROM documents
    """,
    doc="Binary-payload plumbing: documents → opaque payload + meta "
    "struct → byte stats + digest as pure JVM expressions (md5/"
    "octet_length in whole-stage codegen — no Python, no shuffle); "
    "the oracle recomputes size/digest from the source text.",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return MM.extract_features(MM.attach_payload(docs))


# The pseudo-decoder derives feature i from byte i of the payload's md5
# digest (features[i] = byte/255.0); the oracle recomputes the byte sum
# from DuckDB's md5 hex string.  Comparing the integer byte sum (not
# the double feature sum) keeps the check exact across engines.
_HEXVAL = "(strpos('0123456789abcdef', substr(md5(text), {pos}, 1)) - 1)"
_BYTES_SUM = " + ".join(
    f"(16 * {_HEXVAL.format(pos=2 * i + 1)} + {_HEXVAL.format(pos=2 * i + 2)})"
    for i in range(MM.FEATURE_DIM)
)


@register_extra(
    "multimodal_fake_decode",
    f"""
    SELECT doc_id, CAST({_BYTES_SUM} AS BIGINT) AS feature_bytes_sum
    FROM documents
    """,
    doc="Deterministic pseudo-decode to fixed-width feature vectors via "
    "mapInPandas — the real-decoder plumbing (Arrow batches, "
    "array<double> output, per-partition streaming) with a seeded "
    "stand-in, since media libs are stubbed in this environment. The "
    "oracle re-derives each feature byte from the md5 hex digest, so "
    "the Python decode path itself is value-checked end to end.",
)
def q_multimodal_fake_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    decoded = MM.fake_decode_features(MM.attach_payload(docs))
    # round(x*255) recovers the exact digest byte from the double
    # feature (x = byte/255.0), making the sum integer-exact.
    return decoded.select(
        "doc_id",
        F.aggregate(
            F.col("features"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.round(x * 255).cast("long"),
        ).alias("feature_bytes_sum"),
    )


@register_extra(
    "image_decode_stats",
    """
    WITH dims AS (
      SELECT doc_id,
             4 + doc_id % 5 AS w,
             4 + doc_id % 3 AS h
      FROM documents
    ),
    px AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims),
    pxy AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM px)
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS format,
           CAST(max(w) AS INT) AS width,
           CAST(max(h) AS INT) AS height,
           CAST(sum((doc_id + 3*x + 7*y) % 256) AS BIGINT) AS sum_r,
           CAST(sum((2*doc_id + 5*x + y) % 256) AS BIGINT) AS sum_g,
           CAST(sum((3*doc_id + x + 11*y) % 256) AS BIGINT) AS sum_b
    FROM pxy
    GROUP BY doc_id
    """,
    doc="REAL image decode, value-checked end to end: each doc gets a "
    "genuine encoded image (24-bit padded bottom-up BMP for even ids, "
    "PPM P6 for odd — pixel(x,y) a closed form of doc_id), and "
    "decode_image parses the actual bytes back (magic sniff, header, "
    "padding, BGR/RGB) via Arrow-batched mapInPandas.  The oracle "
    "recomputes dimensions and exact per-channel pixel sums from the "
    "pixel formula — if any byte of the codec path (encoder OR "
    "decoder) is wrong, the integer sums cannot match.",
)
def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # synth payloads are well-formed, so the decoded-rows filter is a
    # no-op here; the err column is the dirty-bytes path, exercised in
    # tests/test_multimodal_robustness.py
    decoded = MM.synth_decode_image(docs)
    return decoded.where(F.col("err").isNull()).drop("err")


@register_extra(
    "audio_decode_stats",
    """
    WITH dims AS (
      SELECT doc_id,
             1 + doc_id % 2 AS ch,
             8000 * (1 + doc_id % 3) AS sr,
             64 + doc_id % 33 AS n
      FROM documents
    ),
    fi  AS (SELECT doc_id, ch, sr, n, unnest(range(0, n)) AS i FROM dims),
    fic AS (SELECT doc_id, ch, sr, n, i, unnest(range(0, ch)) AS c FROM fi),
    s   AS (SELECT doc_id, ch, sr, n,
                   ((31*doc_id + 17*i + 7*c) % 4001) - 2000 AS v
            FROM fic)
    SELECT doc_id,
           CAST(max(sr) AS INT) AS sample_rate,
           CAST(max(ch) AS INT) AS channels,
           CAST(max(n) AS BIGINT) AS n_frames,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
           CAST(max(abs(v)) AS INT) AS peak
    FROM s GROUP BY doc_id
    """,
    doc="REAL audio decode, value-checked end to end: each doc gets a "
    "genuine RIFF/WAVE PCM16 clip (mono for even ids, stereo for odd, "
    "sample(i,c) a closed form of doc_id; every 5th doc carries an "
    "unknown odd-sized chunk the parser must skip+pad), and "
    "decode_audio walks the actual chunk list back via Arrow-batched "
    "mapInPandas.  The oracle recomputes format fields and exact "
    "integer amplitude stats from the sample formula — any wrong byte "
    "in the codec path (encoder OR decoder, either channel order) "
    "breaks the integer sums.",
)
def q_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    decoded = MM.synth_decode_audio(docs)
    return decoded.where(F.col("err").isNull()).drop("err")


@register_extra(
    "audio_block_energy",
    f"""
    WITH dims AS (
      SELECT doc_id,
             1 + doc_id % 2 AS ch,
             64 + doc_id % 33 AS n
      FROM documents
    ),
    fi  AS (SELECT doc_id, ch, n, unnest(range(0, n)) AS i FROM dims),
    fic AS (SELECT doc_id, ch, i, unnest(range(0, ch)) AS c FROM fi),
    s   AS (SELECT doc_id, i // {MM.AUDIO_BLOCK_FRAMES} AS block_idx,
                   ((31*doc_id + 17*i + 7*c) % 4001) - 2000 AS v
            FROM fic)
    SELECT doc_id,
           CAST(block_idx AS BIGINT) AS block_idx,
           CAST(sum(v * v) AS BIGINT) AS energy,
           CAST(NULL AS VARCHAR) AS err
    FROM s GROUP BY doc_id, block_idx
    """,
    doc="Blockwise audio feature extraction (the audio analog of video "
    "frame sampling): every decoded clip expands to one row per "
    f"{MM.AUDIO_BLOCK_FRAMES}-frame block with the block's exact "
    "integer energy — the 1-to-N flatMap shape across the Arrow "
    "boundary a real spectral extractor uses.  The oracle re-derives "
    "each block's sum-of-squares from the sample formula, so the row "
    "expansion AND the decode are value-checked.  A corrupt payload is "
    "one row with null block_idx/energy and a populated err (null on "
    "every decoded row).",
)
def q_audio_block_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return MM.synth_audio_block_energy(docs)


@register_extra(
    "video_frame_stats",
    f"""
    WITH dims AS (
      SELECT doc_id,
             4 + doc_id % 4 AS w,
             3 + doc_id % 3 AS h,
             3 + doc_id % 5 AS n
      FROM documents
    ),
    fr  AS (SELECT doc_id, w, h,
                   unnest(range(0, n, {MM.FRAME_STRIDE})) AS f
            FROM dims),
    px  AS (SELECT doc_id, w, h, f, unnest(range(0, w)) AS x FROM fr),
    pxy AS (SELECT doc_id, f, x, w, h, unnest(range(0, h)) AS y FROM px)
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(sum((doc_id + 13*f + 3*x + 7*y) % 256) AS BIGINT) AS sum_r,
           CAST(sum((2*doc_id + 13*f + 5*x + y) % 256) AS BIGINT) AS sum_g,
           CAST(sum((3*doc_id + 13*f + x + 11*y) % 256) AS BIGINT) AS sum_b
    FROM pxy GROUP BY doc_id, f
    """,
    doc="REAL video decode + frame sampling, value-checked end to end: "
    "each doc gets a genuine AVI container (RIFF LIST structure, avih "
    "main header, uncompressed bottom-up BGR DIB frames — pixel(f,x,y) "
    "a closed form of doc_id), and decode_video_frames parses the "
    "actual bytes back, decoding every 2nd frame into exact "
    "per-frame channel sums.  The oracle recomputes the sums from the "
    "pixel formula, so container walk, frame sampling, AND the DIB "
    "row/channel/padding logic are all value-checked.",
)
def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    decoded = MM.synth_decode_video_frames(docs)
    return decoded.where(F.col("err").isNull()).drop("err")


@register_extra(
    "multimodal_frame_sample",
    f"""
    WITH f AS (SELECT doc_id, text,
                      octet_length(encode(text)) % 7 + 3 AS nf
               FROM documents)
    SELECT doc_id,
           CAST(unnest(range(0, nf, {MM.FRAME_STRIDE})) AS BIGINT) AS frame_idx,
           md5(text || ':' ||
               CAST(unnest(range(0, nf, {MM.FRAME_STRIDE})) AS VARCHAR))
             AS frame_digest
    FROM f
    """,
    doc="Frame-sampling plumbing: every payload row expands to one row "
    "per sampled frame through mapInPandas (the 1-to-N flatMap shape "
    "across the Arrow boundary a real video sampler uses); the oracle "
    "re-derives each sampled frame's digest from the source text, so "
    "the row expansion itself is value-checked.",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return MM.fake_frame_sample(MM.attach_payload(docs))
