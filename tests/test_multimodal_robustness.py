"""Dirty-bytes robustness of the media decoders: at 100 TB a corpus
ALWAYS carries truncated/corrupt payloads, and one bad byte stream must
cost one null-stats row with a populated ``err`` column — never the
task (a task failure would retry the whole partition into the same
byte and fail the job).

Each test mixes well-formed synthetic payloads with hand-corrupted
ones in a single DataFrame and asserts (a) no exception escapes the
Arrow batch, (b) every corrupt payload surfaces as exactly one err
row, and (c) the good rows still decode to their exact closed-form
stats.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import types as T

from flink_repartition_watermark_example_spark.operators import multimodal as MM

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _img(doc_id: int) -> np.ndarray:
    rng = np.random.default_rng(doc_id)
    return rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)


def test_image_decoder_survives_corrupt_payloads(spark):
    good = MM.encode_bmp(_img(1))
    rows = [
        (1, good),
        (2, good[:10]),                       # truncated mid-header
        (3, b"\x89PNG\r\n\x1a\n" + b"x" * 64),  # unknown magic
        # BMP with a pixel-data offset pointing past the buffer
        (4, good[:10] + struct.pack("<I", 10**6) + good[14:]),
        (5, b""),                             # empty payload
        (6, MM.encode_ppm(_img(6))),
    ]
    out = spark.createDataFrame(rows, PAYLOAD_SCHEMA)
    got = {r.doc_id: r for r in MM.decode_image(out).collect()}
    assert len(got) == 6
    assert got[1].err is None and got[6].err is None
    exp = _img(1).astype("int64").sum(axis=(0, 1))
    assert (got[1].sum_r, got[1].sum_g, got[1].sum_b) == tuple(map(int, exp))
    for bad in (2, 3, 4, 5):
        assert got[bad].err, f"doc {bad} should carry an err"
        assert got[bad].width is None and got[bad].sum_r is None


def test_audio_decoder_survives_corrupt_payloads(spark):
    samples = ((np.arange(40, dtype=np.int64) * 977) % 4001 - 2000).astype(
        np.int16
    ).reshape(20, 2)
    good = MM.encode_wav(samples, 8000)
    # a RIFF whose fmt_ chunk size field overflows the buffer
    overflow = good[:16] + struct.pack("<I", 10**6) + good[20:]
    rows = [
        (1, good),
        (2, good[:12]),        # RIFF/WAVE header only, no chunks
        (3, b"OggS" + b"\x00" * 40),  # wrong container magic
        (4, overflow),
        (5, good[:-7]),        # truncated data chunk (odd byte count)
    ]
    out = spark.createDataFrame(rows, PAYLOAD_SCHEMA)
    got = {r.doc_id: r for r in MM.decode_audio(out).collect()}
    assert len(got) == 5
    assert got[1].err is None
    assert got[1].sum_abs == int(abs(samples.astype("int64")).sum())
    assert got[1].channels == 2 and got[1].n_frames == 20
    for bad in (2, 3):
        assert got[bad].err and got[bad].sum_abs is None
    # 4/5 may parse-fail OR decode a truncated-but-consistent stream;
    # either way: no exception, exactly one row, err xor stats.
    for d in (4, 5):
        assert (got[d].err is None) != (got[d].sum_abs is None)


def test_audio_block_energy_survives_corrupt_payloads(spark):
    """One corrupt payload is one err row with null block_idx/energy, in
    the two-pass form and in the one-pass synth→energy form (both run
    ``_audio_energy``); the good clip's blocks keep their exact energy."""
    import pandas as pd

    samples = ((np.arange(40, dtype=np.int64) * 977) % 4001 - 2000).astype(
        np.int16
    ).reshape(20, 2)
    payloads = {1: MM.encode_wav(samples, 8000), 2: b"OggS" + b"\x00" * 40}
    out = spark.createDataFrame(sorted(payloads.items()), PAYLOAD_SCHEMA)

    def synth(batches):  # stands in for the synth step: same bytes
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"],
                 "payload": [payloads[int(d)] for d in pdf["doc_id"]]}
            )

    one_pass = out.select("doc_id").mapInPandas(
        MM._one_pass(synth, MM._audio_energy), MM.AUDIO_ENERGY_SCHEMA
    )
    sq = samples.astype("int64") ** 2
    want = [
        (1, b, int(sq[b * MM.AUDIO_BLOCK_FRAMES : (b + 1) * MM.AUDIO_BLOCK_FRAMES].sum()))
        for b in range(-(-20 // MM.AUDIO_BLOCK_FRAMES))
    ]
    for df in (MM.audio_block_energy(out), one_pass):
        got = df.collect()
        ok = sorted((r.doc_id, r.block_idx, r.energy) for r in got if r.err is None)
        assert ok == want
        (bad,) = [r for r in got if r.doc_id == 2]
        assert bad.err.startswith("ValueError: not a RIFF/WAVE payload")
        assert bad.block_idx is None and bad.energy is None


def test_video_decoder_survives_corrupt_payloads(spark):
    clip = np.stack([_img(f) for f in range(4)])
    good = MM.encode_avi(clip)
    # nested LIST whose size field points past the end of the buffer
    lst = good.find(b"LIST")
    overflow = good[: lst + 4] + struct.pack("<I", 10**7) + good[lst + 8 :]
    rows = [
        (1, good),
        (2, good[:20]),            # truncated after the AVI header
        (3, b"RIFF" + struct.pack("<I", 4) + b"WAVE"),  # wrong RIFF kind
        (4, overflow),
        # valid container, no avih header: strip the hdrl LIST
        (5, good[:12] + good[good.find(b"LIST", lst + 4) :]),
    ]
    out = spark.createDataFrame(rows, PAYLOAD_SCHEMA)
    res = MM.decode_video_frames(out).collect()
    by_doc: dict[int, list] = {}
    for r in res:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2, 3, 4, 5}
    ok = sorted(by_doc[1], key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in ok] == [0, 2] and all(
        r.err is None for r in ok
    )
    exp0 = clip[0].astype("int64").sum(axis=(0, 1))
    assert (ok[0].sum_r, ok[0].sum_g, ok[0].sum_b) == tuple(map(int, exp0))
    for bad in (2, 3, 5):
        (row,) = by_doc[bad]
        assert row.err and row.frame_idx is None
    # the LIST-overflow payload must not escape the batch either way
    for row in by_doc[4]:
        assert (row.err is None) != (row.sum_r is None)


def test_decode_queries_drop_err_rows_not_schema(spark, sf_dir):
    """The registered stats queries keep their oracle schema: err is
    filtered+dropped, so clean corpora are unchanged and dirty ones
    lose only the undecodable rows."""
    from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES

    for name, cols in (
        ("image_decode_stats",
         ["doc_id", "format", "width", "height", "sum_r", "sum_g", "sum_b"]),
        ("audio_decode_stats",
         ["doc_id", "sample_rate", "channels", "n_frames", "sum_abs", "peak"]),
        ("video_frame_stats",
         ["doc_id", "frame_idx", "sum_r", "sum_g", "sum_b"]),
    ):
        df = EXTRA_QUERIES[name].spark(spark, sf_dir)
        assert df.columns == cols, name
