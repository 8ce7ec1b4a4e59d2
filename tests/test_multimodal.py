"""Multimodal plumbing tests: payload fabrication, Arrow-batched
feature extraction, the real BMP/PPM codec (round-trip + distributed
decode vs the pixel formula), and the fake-decode feature path."""

from __future__ import annotations

import hashlib

import pytest

from flink_repartition_watermark_example_spark.operators import multimodal as MM
from flink_repartition_watermark_example_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def payloads(spark, sf_dir):
    return MM.attach_payload(load_table(spark, sf_dir, "documents"))


def test_payload_shape(payloads):
    row = payloads.first()
    assert isinstance(row.payload, (bytes, bytearray))
    assert row.meta.modality == "text"
    assert row.meta.n_bytes == len(row.payload)


def test_extract_features_matches_python(spark, sf_dir, payloads):
    feats = {r.doc_id: r for r in MM.extract_features(payloads).collect()}
    docs = {r.doc_id: r.text for r in load_table(spark, sf_dir, "documents").collect()}
    assert set(feats) == set(docs)
    for doc_id, text in list(docs.items())[:20]:
        b = text.encode("utf-8")
        assert feats[doc_id].n_bytes == len(b)
        assert feats[doc_id].digest == hashlib.md5(b).hexdigest()


def test_image_codec_roundtrip_local():
    # The decoder must recover the exact pixel array from real bytes —
    # including the BMP cases that break naive parsers: row padding
    # (w*3 not a multiple of 4), bottom-up row order, BGR channel
    # order, and the negative-height top-down variant.
    import numpy as np

    rng = np.random.default_rng(7)
    for w, h in [(5, 3), (4, 4), (7, 2), (1, 1)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        fmt, back = MM.decode_image_bytes(MM.encode_bmp(img))
        assert fmt == "bmp" and np.array_equal(back, img)
        fmt, back = MM.decode_image_bytes(MM.encode_ppm(img))
        assert fmt == "ppm" and np.array_equal(back, img)

    # hand-build a top-down BMP (negative height) from a bottom-up one
    import struct

    img = rng.integers(0, 256, (3, 5, 3), dtype=np.uint8)
    raw = bytearray(MM.encode_bmp(img[::-1]))  # rows pre-flipped
    struct.pack_into("<i", raw, 22, -3)  # height := -3 → top-down
    fmt, back = MM.decode_image_bytes(bytes(raw))
    assert fmt == "bmp" and np.array_equal(back, img)

    with pytest.raises(ValueError, match="unknown image magic"):
        MM.decode_image_bytes(b"\x89PNG....")


def test_decode_image_distributed_matches_formula(spark, sf_dir):
    # End-to-end through mapInPandas: synthesize real BMP/PPM bytes,
    # decode them back, and check dimensions + exact channel sums
    # against the closed-form pixel function.
    docs = load_table(spark, sf_dir, "documents").limit(50)
    out = {r.doc_id: r for r in MM.decode_image(MM.synth_image_payload(docs)).collect()}
    assert len(out) == 50
    for d, r in out.items():
        w, h = 4 + d % 5, 4 + d % 3
        assert (r.format, r.width, r.height) == (
            "bmp" if d % 2 == 0 else "ppm", w, h
        )
        assert r.sum_r == sum(
            (d + 3 * x + 7 * y) % 256 for x in range(w) for y in range(h)
        )
        assert r.sum_g == sum(
            (2 * d + 5 * x + y) % 256 for x in range(w) for y in range(h)
        )
        assert r.sum_b == sum(
            (3 * d + x + 11 * y) % 256 for x in range(w) for y in range(h)
        )


def test_wav_codec_roundtrip_local():
    # The decoder must recover the exact frame array from real RIFF
    # bytes — including the cases that break naive parsers: stereo
    # interleave, an unknown chunk between fmt_ and data, and the
    # odd-chunk-size pad byte the RIFF spec requires.
    import numpy as np

    rng = np.random.default_rng(11)
    for n, ch, sr, junk in [(64, 1, 8000, False), (33, 2, 16000, True),
                            (1, 2, 44100, False), (7, 1, 24000, True)]:
        frames = rng.integers(-32768, 32768, (n, ch)).astype(np.int16)
        sr2, back = MM.decode_wav_bytes(MM.encode_wav(frames, sr, junk_chunk=junk))
        assert sr2 == sr and back.shape == (n, ch)
        assert np.array_equal(back, frames)

    with pytest.raises(ValueError, match="not a RIFF/WAVE"):
        MM.decode_wav_bytes(b"OggS....")
    with pytest.raises(ValueError, match="missing fmt_/data"):
        MM.decode_wav_bytes(b"RIFF\x04\x00\x00\x00WAVE")


def test_decode_audio_distributed_matches_formula(spark, sf_dir):
    # End-to-end through mapInPandas: synthesize real WAV bytes,
    # decode them back, and check format fields + exact amplitude
    # stats against the closed-form sample function.
    docs = load_table(spark, sf_dir, "documents").limit(50)
    out = {r.doc_id: r for r in MM.decode_audio(MM.synth_audio_payload(docs)).collect()}
    assert len(out) == 50
    for d, r in out.items():
        ch, sr, n = 1 + d % 2, 8000 * (1 + d % 3), 64 + d % 33
        assert (r.sample_rate, r.channels, r.n_frames) == (sr, ch, n)
        vals = [
            ((31 * d + 17 * i + 7 * c) % 4001) - 2000
            for i in range(n)
            for c in range(ch)
        ]
        assert r.sum_abs == sum(abs(v) for v in vals)
        assert r.peak == max(abs(v) for v in vals)


def test_avi_codec_roundtrip_local():
    # The decoder must recover the exact frame stack from real AVI
    # bytes — nested LIST chunks, avih dimensions, and per-frame DIB
    # pixel blocks (bottom-up rows, BGR, 4-byte padding).
    import numpy as np

    rng = np.random.default_rng(13)
    for n, h, w in [(1, 3, 5), (4, 2, 2), (3, 5, 7)]:
        clip = rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)
        w2, h2, back = MM.decode_avi_bytes(MM.encode_avi(clip))
        assert (w2, h2) == (w, h)
        assert np.array_equal(back, clip)

    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        MM.decode_avi_bytes(b"RIFF\x04\x00\x00\x00WAVE")


def test_decode_video_distributed_matches_formula(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(40)
    out = MM.decode_video_frames(MM.synth_video_payload(docs)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == 40
    for d, rows in by_doc.items():
        w, h, n = 4 + d % 4, 3 + d % 3, 3 + d % 5
        assert sorted(r.frame_idx for r in rows) == list(
            range(0, n, MM.FRAME_STRIDE)
        )
        for r in rows:
            f = r.frame_idx
            assert r.sum_r == sum(
                (d + 13 * f + 3 * x + 7 * y) % 256
                for x in range(w) for y in range(h)
            )
            assert r.sum_g == sum(
                (2 * d + 13 * f + 5 * x + y) % 256
                for x in range(w) for y in range(h)
            )
            assert r.sum_b == sum(
                (3 * d + 13 * f + x + 11 * y) % 256
                for x in range(w) for y in range(h)
            )


def test_fake_decode_is_deterministic_fixed_width(payloads):
    a = MM.fake_decode_features(payloads).orderBy("doc_id").collect()
    b = MM.fake_decode_features(payloads).orderBy("doc_id").collect()
    assert a == b
    assert all(len(r.features) == MM.FEATURE_DIM for r in a)
    assert all(0.0 <= x <= 1.0 for r in a[:20] for x in r.features)


def test_feature_plan_has_no_shuffle(payloads):
    """Byte stats + digest are scan-side JVM expressions — the whole
    plan must be shuffle-free."""
    plan = MM.extract_features(payloads)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, f"expected a shuffle-free plan:\n{plan}"


def test_single_deliberate_shuffle_in_decode_plan(payloads):
    """The only Exchange in the Python decode path is the fan_out
    repartition that widens parallelism before the CPU-bound stage."""
    plan = (
        MM.fake_decode_features(payloads)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, f"expected only the fan_out shuffle:\n{plan}"


@pytest.mark.parametrize(
    "one_pass, synth, decode",
    [
        ("synth_decode_image", "synth_image_payload", "decode_image"),
        ("synth_decode_audio", "synth_audio_payload", "decode_audio"),
        ("synth_audio_block_energy", "synth_audio_payload", "audio_block_energy"),
        ("synth_decode_video_frames", "synth_video_payload", "decode_video_frames"),
    ],
)
def test_one_pass_chain_equals_synth_then_decode(spark, sf_dir, one_pass, synth, decode):
    """The one-pass synth→decode form returns exactly the rows of the
    decode step run over the synth step's payload relation, from ONE
    Python exec node in the plan instead of two."""
    docs = load_table(spark, sf_dir, "documents").limit(60)
    fused = getattr(MM, one_pass)(docs)
    # the plan before it runs: a run's AQE plan prints initial and final
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    chained = getattr(MM, decode)(getattr(MM, synth)(docs))
    rows = fused.collect()
    assert rows and sorted(rows) == sorted(chained.collect())
