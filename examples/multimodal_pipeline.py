"""End-to-end multimodal curation pipeline over the documents table.

The media-filtering funnel a multimodal training-data build runs,
composed from this engine's REAL codecs (operators/multimodal.py —
each one value-checked against a closed-form SQL oracle):

  1. decode   — image (BMP/PPM), audio (RIFF/WAVE PCM16), and video
                (AVI + DIB frames) payloads parsed from genuine bytes
                via Arrow-batched mapInPandas, synth and decode in one
                pass per modality; per-item exact stats.
  2. gate     — per-modality quality filters:
                  image: mean channel brightness inside [16, 240]
                         (reject washed-out / black scans)
                  audio: sample_rate >= 16 kHz (reject telephony-band
                         clips the acoustic model can't use)
                  video: >= 3 sampled frames (reject stubs too short
                         to cover with the frame sampler)
  3. join     — a doc survives only if ALL THREE modalities pass;
                the curated manifest carries the per-modality stats.

Scale shape: every decode is scan-shaped (no shuffle); the gates are
filters on the decode output; the 3-way manifest join is on doc_id —
at 100 TB that is three narrow hash joins of already-reduced stats
relations, AQE-planned.

Run:  python examples/multimodal_pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.operators import multimodal as MM
from flink_repartition_watermark_example_spark.sources.tables import load_table


def run(spark, sf_dir: str) -> dict[str, int]:
    """Execute the funnel; returns per-stage counts (the E2E test
    asserts the deterministic gates exactly)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    total = docs.count()

    img = MM.synth_decode_image(docs)
    img_ok = img.where(
        (
            (F.col("sum_r") + F.col("sum_g") + F.col("sum_b"))
            / (3 * F.col("width") * F.col("height"))
        ).between(16, 240)
    ).select("doc_id", "width", "height")

    aud = MM.synth_decode_audio(docs)
    aud_ok = aud.where(F.col("sample_rate") >= 16000).select(
        "doc_id", "sample_rate", "channels", "n_frames"
    )

    vid = (
        MM.synth_decode_video_frames(docs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sampled_frames"))
    )
    vid_ok = vid.where(F.col("sampled_frames") >= 3)

    manifest = img_ok.join(aud_ok, "doc_id").join(vid_ok, "doc_id")
    return {
        "total": total,
        "image_ok": img_ok.count(),
        "audio_ok": aud_ok.count(),
        "video_ok": vid_ok.count(),
        "curated": manifest.count(),
    }


def main() -> None:
    from flink_repartition_watermark_example_spark import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="multimodal-pipeline")
    funnel = run(spark, sf_dir)
    for stage, n in funnel.items():
        print(f"{stage:>10}: {n}")


if __name__ == "__main__":
    main()
