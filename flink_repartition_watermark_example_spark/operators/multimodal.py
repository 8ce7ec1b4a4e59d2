"""Multimodal column plumbing (north-star surface).

Images/audio/video are opaque ``binary`` columns plus a typed metadata
struct; decode / feature-extraction run as Arrow-batched pandas
iterators (``mapInPandas``) so bytes move Spark→Python in columnar
batches, never row-at-a-time.

- ``attach_payload``      text → (payload binary, meta struct) — stands
  in for reading real media bytes from a blob store.
- ``extract_features``    per-item byte stats + digest (pure JVM
  expressions — no Python in this hot path).
- ``decode_image``        REAL decoder for the uncompressed raster
  formats pure numpy can parse (24-bit BMP, PPM P6): header fields,
  row padding, bottom-up order, channel order — plus
  ``synth_image_payload`` fabricating genuine bytes from a closed-form
  pixel function so a SQL oracle value-checks the decode.  Compressed
  codecs (JPEG/PNG) would swap only the inner parse for an imaging
  library; the Spark-side contract is identical.
- ``fake_decode_features``  deterministic pseudo-decode (seeded from
  the digest) exercising the fixed-width feature-vector path end-to-end.
- ``synth_decode_image`` / ``synth_decode_audio`` /
  ``synth_audio_block_energy`` / ``synth_decode_video_frames``  the
  synth→decode chain of each codec as ONE mapInPandas pass.

Each codec is one pair of module-level batch functions (pandas batch
iterator → pandas batch iterator): a synth step and a decode step.
``synth_*_payload`` runs the synth step alone, ``decode_*`` the decode
step alone over any payload relation (the dirty-bytes path), and
``synth_decode_*`` composes both into one pass, so the decode step
consumes the synth step's batches in the same worker.

Rule: one Python pass per stage.  Each Python exec node in a stage gets
its own Python worker per task, and two chained ``mapInPandas`` nodes
with no exchange between them make every task hold two workers at once
and send the payload bytes across JVM↔Python twice.  Compose the steps
into one pass instead (tests/test_plan_audit.py fails a query whose
stage holds two Python exec nodes).

Scale: mapInPandas is per-partition streaming — no shuffle, no driver
collect; 100 TB of media shards across executors exactly like any
other scan.  Batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` so a partition of
large blobs cannot OOM the Python worker; a composed pass holds one
batch per step at a time, so the bound is unchanged.
"""

from __future__ import annotations

import functools
import hashlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_repartition_watermark_example_spark.scale import fan_out

FEATURE_DIM = 8

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("digest", T.StringType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_digest", T.StringType()),
    ]
)

FRAME_STRIDE = 2  # sample every 2nd frame

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

Step = Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]


def _one_pass(*steps: Step) -> Step:
    """Compose batch-iterator steps into one mapInPandas function: each
    step's batches feed the next inside the same Python worker."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for step in steps:
            batches = step(batches)
        return batches

    return run


def _synth_pass(docs: DataFrame, schema: T.StructType, *steps: Step) -> DataFrame:
    """Fan the cheap doc_id rows out BEFORE any bytes exist, then run
    ``steps`` (a synth step, optionally followed by a decode step) as
    one Python pass."""
    flat = fan_out(docs.select("doc_id"), "doc_id")
    return flat.mapInPandas(_one_pass(*steps), schema)


def _decode_pass(payloads: DataFrame, schema: T.StructType, step: Step) -> DataFrame:
    """One decode step over a payload relation.  NO fan_out here: the
    payload relation arrives already fanned (the synth/load stage
    repartitions the cheap doc_id rows BEFORE the bytes exist) —
    re-fanning would shuffle O(corpus bytes) of media a second time
    for nothing.  Feed adequately-partitioned input."""
    return payloads.select("doc_id", "payload").mapInPandas(step, schema)


def attach_payload(docs: DataFrame, modality: str = "text") -> DataFrame:
    """Opaque payload + typed metadata, the canonical multimodal row
    shape: (id, payload: binary, meta: struct<modality, n_bytes>)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit(modality).alias("modality"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def extract_features(payloads: DataFrame) -> DataFrame:
    """Byte-level feature extraction over the payload column: size +
    md5 digest.  Both are JVM expressions (``octet_length``/``md5``
    run inside whole-stage codegen over the binary column) — crossing
    into Python to hash bytes costs ~10× for nothing.  Python belongs
    in this pipeline only where a real media decoder does
    (fake_decode_features shows that mapInPandas shape)."""
    return payloads.select(
        "doc_id",
        F.col("meta.modality").alias("modality"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5(F.col("payload")).alias("digest"),
    )


def fake_frame_sample(payloads: DataFrame, stride: int = FRAME_STRIDE) -> DataFrame:
    """Video-style frame sampling plumbing: each payload row expands to
    one output row per sampled frame (every ``stride``-th of the
    payload's deterministic pseudo frame count) — the 1→N flatMap
    shape across the Arrow boundary a real ffmpeg-backed sampler uses.
    The per-frame decode is a deterministic stand-in (digest of
    payload + frame index); a real decoder replaces only the inner
    loop, the Spark-side contract (schema, batching, per-partition
    independence, row expansion) is exactly this."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, digests = [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(b)
                n_frames = len(raw) % 7 + 3  # fake container metadata
                for i in range(0, n_frames, stride):
                    ids.append(doc_id)
                    idxs.append(i)
                    digests.append(
                        hashlib.md5(raw + b":" + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_digest": digests}
            )

    flat = fan_out(payloads.select("doc_id", "payload"), "doc_id")
    return flat.mapInPandas(batches, FRAMES_SCHEMA)


# --- real image codec (uncompressed formats, no imaging lib needed) -------
#
# The container ships no Pillow/ffmpeg, but uncompressed raster
# formats are pure byte layout — so the decoder below is REAL: it
# parses genuine BMP (BITMAPINFOHEADER, 24-bit, bottom-up rows, 4-byte
# row padding, BGR order) and PPM P6 (ASCII header + raw RGB) payloads
# with numpy only.  A JPEG/PNG decoder would replace only the inner
# parse; the Spark-side contract (mapInPandas over binary, Arrow
# batches, per-partition streaming) is identical.

IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        # per-row decode error (null = decoded).  At 100 TB a corpus
        # ALWAYS carries truncated/corrupt payloads; one bad byte
        # stream must cost one null row, never the task (a task
        # failure retries the whole partition into the same byte).
        T.StructField("err", T.StringType()),
    ]
)


def encode_bmp(arr) -> bytes:
    """24-bit uncompressed BMP from an (h, w, 3) uint8 RGB array —
    BITMAPINFOHEADER, bottom-up row order, BGR pixels, rows padded to
    4 bytes."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    row_size = (w * 3 + 3) // 4 * 4
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 0, 0, 0, 0)
    return header + info + _dib_encode(a)


def encode_ppm(arr) -> bytes:
    """PPM P6 (binary) from an (h, w, 3) uint8 RGB array."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    return f"P6\n{w} {h}\n255\n".encode() + a.tobytes()


# (magic bytes → minimal well-formed payload length) for every format
# decode_image_bytes understands.  decode_image's structural pre-gate
# derives from THIS table: adding a format below means adding a row
# here, or the gate would route valid payloads of the new format to
# err rows without ever calling the decoder.
IMAGE_MAGICS: dict[bytes, int] = {
    b"BM": 54,  # BITMAPFILEHEADER (14 B) + BITMAPINFOHEADER (40 B)
    b"P6": 14,  # "P6 1 1 255 " header + one 3 B pixel
}


def decode_image_bytes(raw: bytes):
    """Parse one BMP (uncompressed 24-bit) or PPM P6 payload to an
    (h, w, 3) uint8 RGB array.  Format dispatch by magic bytes — the
    shape a production decoder takes, minus the compressed codecs.
    Supported magics are enumerated in IMAGE_MAGICS (keep in lockstep:
    decode_image's pre-gate trusts that table)."""
    import struct

    import numpy as np

    if raw[:2] == b"BM":
        (offset,) = struct.unpack_from("<I", raw, 10)
        _, w, h = struct.unpack_from("<Iii", raw, 14)
        (bpp,) = struct.unpack_from("<H", raw, 28)
        (comp,) = struct.unpack_from("<I", raw, 30)
        if bpp != 24 or comp != 0:
            raise ValueError(f"unsupported BMP profile: bpp={bpp} comp={comp}")
        top_down, h = h < 0, abs(h)
        return "bmp", _dib_decode(raw, w, h, offset=offset, top_down=top_down)
    if raw[:2] == b"P6":
        # header: magic, width, height, maxval — whitespace separated
        parts, pos = [], 2
        while len(parts) < 3:
            while raw[pos] in b" \t\r\n":
                pos += 1
            end = pos
            while raw[end] not in b" \t\r\n":
                end += 1
            parts.append(int(raw[pos:end]))
            pos = end
        pos += 1  # single whitespace after maxval
        w, h, maxval = parts
        if maxval != 255:
            raise ValueError(f"unsupported PPM maxval {maxval}")
        return "ppm", np.frombuffer(raw, np.uint8, w * h * 3, pos).reshape(h, w, 3)
    raise ValueError(f"unknown image magic {raw[:2]!r}")


def _image_synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Synth step of the image codec: each doc gets a small RGB image
    whose pixel (x, y) is a closed-form function of doc_id (so a SQL
    oracle can recompute the decoded stats), encoded to REAL bytes —
    BMP for even doc_ids, PPM for odd."""
    import numpy as np

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h = 4 + d % 5, 4 + d % 3
            x = np.arange(w, dtype=np.int64)[None, :]
            y = np.arange(h, dtype=np.int64)[:, None]
            img = np.stack(
                [
                    (d + 3 * x + 7 * y) % 256,
                    (2 * d + 5 * x + y) % 256,
                    (3 * d + x + 11 * y) % 256,
                ],
                axis=-1,
            ).astype(np.uint8)
            payloads.append(encode_bmp(img) if d % 2 == 0 else encode_ppm(img))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _image_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode step of the image codec: parses each BMP/PPM byte stream
    (magic sniff, header fields, row padding, bottom-up order, channel
    order) to per-image dimensions and exact per-channel pixel sums;
    a corrupt payload costs one err row."""
    for pdf in batches:
        n = len(pdf)
        # Pre-sized columns + index writes: the hardening cost is
        # confined to corrupt rows — well-formed rows take one
        # magic/length pre-check and a straight-line parse (the try
        # block is a safety net that costs nothing unless it fires);
        # the dict-of-append version charged 8 dict lookups + appends
        # to every row.
        fmts: list = [None] * n
        ws: list = [None] * n
        hs: list = [None] * n
        rs: list = [None] * n
        gs: list = [None] * n
        bs: list = [None] * n
        errs: list = [None] * n
        for i, b in enumerate(pdf["payload"]):
            raw = bytes(b) if b is not None else b""
            # cheap structural gate: magic + minimal header length,
            # driven by the IMAGE_MAGICS table next to
            # decode_image_bytes so gate and decoder can't drift —
            # obvious junk skips the full parse AND the exception
            # plumbing entirely
            m = raw[:2]
            min_len = IMAGE_MAGICS.get(m)
            if min_len is None or len(raw) < min_len:
                errs[i] = f"ValueError: unknown or truncated image magic {m!r}"
                continue
            try:
                fmt, img = decode_image_bytes(raw)
                # dtype= accumulates in int64 without materializing an
                # int64 copy of the pixel array first
                sums = img.sum(axis=(0, 1), dtype="int64")
            except Exception as e:  # dirty bytes → row, not task
                errs[i] = f"{type(e).__name__}: {e}"[:200]
                continue
            fmts[i] = fmt
            ws[i] = img.shape[1]
            hs[i] = img.shape[0]
            rs[i] = int(sums[0])
            gs[i] = int(sums[1])
            bs[i] = int(sums[2])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "format": fmts,
                "width": ws,
                "height": hs,
                "sum_r": rs,
                "sum_g": gs,
                "sum_b": bs,
                "err": errs,
            }
        )


def synth_image_payload(docs: DataFrame) -> DataFrame:
    """Deterministic image fixture (the image synth step) as a
    (doc_id, payload) relation.  Stands in for reading media blobs
    from object storage."""
    return _synth_pass(docs, PAYLOAD_SCHEMA, _image_synth)


def decode_image(payloads: DataFrame) -> DataFrame:
    """REAL image decode over any binary payload relation via
    mapInPandas: per-image dimensions and exact per-channel pixel sums.
    Arrow-batched, per-partition streaming — at 100 TB this is a
    scan-shaped stage with no shuffle; batch size bounded by
    arrow.maxRecordsPerBatch."""
    return _decode_pass(payloads, IMAGE_STATS_SCHEMA, _image_decode)


def synth_decode_image(docs: DataFrame) -> DataFrame:
    """``decode_image(synth_image_payload(docs))`` as one Python pass."""
    return _synth_pass(docs, IMAGE_STATS_SCHEMA, _image_synth, _image_decode)


# --- real audio codec (RIFF/WAVE PCM16, no audio lib needed) --------------
#
# Same thesis as the image codec above: uncompressed audio is pure
# byte layout, so this decoder is REAL — it walks RIFF chunks
# generically (unknown chunks skipped, odd sizes padded to even, per
# the spec), parses the fmt_ chunk (PCM, channels, rate, block
# align), and de-interleaves little-endian int16 frames with numpy.
# An MP3/OGG decoder would replace only the inner parse; the
# Spark-side contract (mapInPandas over binary, Arrow batches,
# per-partition streaming) is identical.

AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("err", T.StringType()),  # null = decoded (see IMAGE_STATS_SCHEMA)
    ]
)

AUDIO_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("block_idx", T.LongType()),
        T.StructField("energy", T.LongType()),
        T.StructField("err", T.StringType()),  # null = decoded (see IMAGE_STATS_SCHEMA)
    ]
)

AUDIO_BLOCK_FRAMES = 16


def encode_wav(samples, sample_rate: int, junk_chunk: bool = False) -> bytes:
    """RIFF/WAVE PCM16 from an (n_frames, channels) int16 array —
    canonical fmt_ chunk, interleaved little-endian data chunk, and
    (optionally) an unknown odd-sized chunk between fmt_ and data to
    exercise the decoder's generic chunk walk + even-padding rule."""
    import struct

    import numpy as np

    a = np.asarray(samples, dtype="<i2")
    n, ch = a.shape
    block_align = ch * 2
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * block_align, block_align, 16
    )
    chunks = [(b"fmt ", fmt)]
    if junk_chunk:
        chunks.append((b"cue ", b"\x01\x02\x03"))  # odd size → pad byte
    chunks.append((b"data", a.tobytes()))
    body = b"".join(
        struct.pack("<4sI", cid, len(data)) + data + (b"\x00" if len(data) % 2 else b"")
        for cid, data in chunks
    )
    return struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body


def decode_wav_bytes(raw: bytes):
    """Parse one RIFF/WAVE PCM16 payload to (sample_rate, (n_frames,
    channels) int16 array).  Generic chunk walk: unknown chunks are
    skipped, odd chunk sizes consume a pad byte — the shape a
    production parser takes."""
    import struct

    import numpy as np

    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE payload: {raw[:4]!r}")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(raw):
        cid, size = struct.unpack_from("<4sI", raw, pos)
        body = raw[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size % 2)
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("missing fmt_/data chunk")
    audio_format, ch, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV profile: fmt={audio_format} bits={bits}")
    frames = np.frombuffer(data, "<i2").reshape(-1, ch)
    return sample_rate, frames


def _audio_synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Synth step of the audio codec: each doc gets a short PCM16 clip
    whose sample (frame i, channel c) is a closed form of doc_id (so a
    SQL oracle can recompute the decoded stats), encoded to REAL
    RIFF/WAVE bytes.  Mono for even ids, stereo for odd; every 5th doc
    carries an unknown odd-sized chunk the decoder must skip."""
    import numpy as np

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            ch = 1 + d % 2
            sr = 8000 * (1 + d % 3)
            n = 64 + d % 33
            i = np.arange(n, dtype=np.int64)[:, None]
            c = np.arange(ch, dtype=np.int64)[None, :]
            v = ((31 * d + 17 * i + 7 * c) % 4001) - 2000
            payloads.append(encode_wav(v.astype(np.int16), sr, junk_chunk=d % 5 == 0))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _audio_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode step of the audio codec: walks each RIFF chunk list,
    parses fmt_, de-interleaves PCM16 frames, and emits per-clip format
    fields plus exact integer amplitude stats (sum of |sample|, peak);
    a corrupt payload costs one err row."""
    for pdf in batches:
        rows = {k: [] for k in ("doc_id", "sample_rate", "channels",
                                "n_frames", "sum_abs", "peak", "err")}
        for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
            rows["doc_id"].append(doc_id)
            try:
                sr, frames = decode_wav_bytes(bytes(b))
                absv = abs(frames.astype("int64"))
                stats = (sr, frames.shape[1], frames.shape[0],
                         int(absv.sum()),
                         int(absv.max()) if frames.size else 0)
            except Exception as e:  # dirty bytes → row, not task
                for k in ("sample_rate", "channels", "n_frames",
                          "sum_abs", "peak"):
                    rows[k].append(None)
                rows["err"].append(f"{type(e).__name__}: {e}"[:200])
                continue
            for k, v in zip(("sample_rate", "channels", "n_frames",
                             "sum_abs", "peak"), stats):
                rows[k].append(v)
            rows["err"].append(None)
        yield pd.DataFrame(rows)


def _audio_energy(
    batches: Iterator[pd.DataFrame], block_frames: int = AUDIO_BLOCK_FRAMES
) -> Iterator[pd.DataFrame]:
    """Blockwise decode step of the audio codec: each clip expands to
    one row per ``block_frames``-frame block with the block's exact
    integer energy (sum of sample², all channels); a corrupt payload
    costs ONE err row."""
    for pdf in batches:
        rows = {k: [] for k in ("doc_id", "block_idx", "energy", "err")}
        for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
            try:
                _, frames = decode_wav_bytes(bytes(b))
            except Exception as e:  # dirty bytes → ONE err row
                rows["doc_id"].append(doc_id)
                rows["block_idx"].append(None)
                rows["energy"].append(None)
                rows["err"].append(f"{type(e).__name__}: {e}"[:200])
                continue
            sq = frames.astype("int64") ** 2
            for blk in range(0, frames.shape[0], block_frames):
                rows["doc_id"].append(doc_id)
                rows["block_idx"].append(blk // block_frames)
                rows["energy"].append(int(sq[blk : blk + block_frames].sum()))
                rows["err"].append(None)
        yield pd.DataFrame(rows)


def synth_audio_payload(docs: DataFrame) -> DataFrame:
    """Deterministic audio fixture (the audio synth step) as a
    (doc_id, payload) relation."""
    return _synth_pass(docs, PAYLOAD_SCHEMA, _audio_synth)


def decode_audio(payloads: DataFrame) -> DataFrame:
    """REAL audio decode over any binary payload relation via
    mapInPandas: per-clip format fields plus exact integer amplitude
    stats.  Scan-shaped at 100 TB — no shuffle, Arrow-batched,
    per-partition streaming."""
    return _decode_pass(payloads, AUDIO_STATS_SCHEMA, _audio_decode)


def audio_block_energy(
    payloads: DataFrame, block_frames: int = AUDIO_BLOCK_FRAMES
) -> DataFrame:
    """Blockwise feature extraction — the audio analog of video frame
    sampling: the 1→N row expansion across the Arrow boundary a real
    spectral-feature extractor uses."""
    step = functools.partial(_audio_energy, block_frames=block_frames)
    return _decode_pass(payloads, AUDIO_ENERGY_SCHEMA, step)


def synth_decode_audio(docs: DataFrame) -> DataFrame:
    """``decode_audio(synth_audio_payload(docs))`` as one Python pass."""
    return _synth_pass(docs, AUDIO_STATS_SCHEMA, _audio_synth, _audio_decode)


def synth_audio_block_energy(docs: DataFrame) -> DataFrame:
    """``audio_block_energy(synth_audio_payload(docs))`` as one Python
    pass."""
    return _synth_pass(docs, AUDIO_ENERGY_SCHEMA, _audio_synth, _audio_energy)


# --- real video codec (AVI + uncompressed DIB frames) ---------------------
#
# Completes the modality trio: AVI is RIFF (the WAV chunk walk above,
# plus nested LIST chunks) and its uncompressed 'DIB ' video frames
# are BMP pixel data without the file header (the BMP row logic
# above: bottom-up rows, BGR order, 4-byte row padding).  So this is
# a REAL parser for the container format MJPEG/DIB AVIs actually use
# — an H.264 decoder would replace only the per-frame parse.

VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("err", T.StringType()),  # null = decoded (see IMAGE_STATS_SCHEMA)
    ]
)


def _dib_encode(arr) -> bytes:
    """BMP pixel block (no file header): bottom-up BGR rows padded to
    4 bytes — the payload of an AVI '00db' uncompressed frame chunk."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    row_size = (w * 3 + 3) // 4 * 4
    pad = b"\x00" * (row_size - w * 3)
    bgr = a[:, :, ::-1]
    return b"".join(bgr[y].tobytes() + pad for y in range(h - 1, -1, -1))


def _dib_decode(raw: bytes, w: int, h: int, offset: int = 0, top_down: bool = False):
    """Inverse of _dib_encode, shared by the BMP file decoder (which
    passes its pixel-array offset and sign-derived row order) and the
    AVI frame decoder (offset 0, bottom-up)."""
    import numpy as np

    row_size = (w * 3 + 3) // 4 * 4
    out = np.empty((h, w, 3), np.uint8)
    for i in range(h):
        row = np.frombuffer(raw, np.uint8, w * 3, offset + i * row_size)
        out[i if top_down else h - 1 - i] = row.reshape(w, 3)[:, ::-1]
    return out


def encode_avi(frames, fps: int = 10) -> bytes:
    """Minimal genuine AVI from an (n, h, w, 3) uint8 RGB array:
    RIFF('AVI ') → LIST(hdrl){avih, LIST(strl){strh('vids'/'DIB '),
    strf(BITMAPINFOHEADER)}} → LIST(movi){'00db' DIB frames}."""
    import struct

    import numpy as np

    a = np.asarray(frames, dtype=np.uint8)
    n, h, w, _ = a.shape
    frame_bytes = (w * 3 + 3) // 4 * 4 * h

    def chunk(cid: bytes, data: bytes) -> bytes:
        return (
            struct.pack("<4sI", cid, len(data))
            + data
            + (b"\x00" if len(data) % 2 else b"")
        )

    def lst(ltype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", ltype + data)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, frame_bytes * fps, 0, 0x10, n, 0, 1, frame_bytes,
        w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, n, frame_bytes, 0, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 0, 0, 0, 0
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", _dib_encode(f)) for f in a))
    body = b"AVI " + hdrl + movi
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def decode_avi_bytes(raw: bytes):
    """Parse one AVI payload to (width, height, (n, h, w, 3) uint8 RGB
    array).  Generic RIFF walk with LIST recursion: dimensions from
    the avih main header, frames from the movi '00db'/'00dc' chunks —
    unknown chunks skipped, odd sizes padded, per the spec."""
    import struct

    import numpy as np

    if raw[:4] != b"RIFF" or raw[8:12] != b"AVI ":
        raise ValueError(f"not a RIFF/AVI payload: {raw[:4]!r}")

    dims: list = [None]
    frames: list = []

    def walk(buf: bytes, pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid, size = struct.unpack_from("<4sI", buf, pos)
            body_start = pos + 8
            pos = body_start + size + (size % 2)
            if cid == b"LIST":
                walk(buf, body_start + 4, body_start + size)
            elif cid == b"avih":
                fields = struct.unpack_from("<10I", buf, body_start)
                dims[0] = (fields[8], fields[9])
            elif cid in (b"00db", b"00dc"):
                frames.append(buf[body_start : body_start + size])

    walk(raw, 12, len(raw))
    if dims[0] is None:
        raise ValueError("missing avih header")
    w, h = dims[0]
    return w, h, np.stack([_dib_decode(f, w, h) for f in frames])


def _video_synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Synth step of the video codec: each doc gets a short clip whose
    frame f's pixel (x, y) is a closed form of doc_id (so a SQL oracle
    can recompute per-frame channel sums), encoded to REAL AVI bytes
    with uncompressed DIB frames."""
    import numpy as np

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h, n = 4 + d % 4, 3 + d % 3, 3 + d % 5
            f = np.arange(n, dtype=np.int64)[:, None, None]
            y = np.arange(h, dtype=np.int64)[None, :, None]
            x = np.arange(w, dtype=np.int64)[None, None, :]
            clip = np.stack(
                [
                    (d + 13 * f + 3 * x + 7 * y) % 256,
                    (2 * d + 13 * f + 5 * x + y) % 256,
                    (3 * d + 13 * f + x + 11 * y) % 256,
                ],
                axis=-1,
            ).astype(np.uint8)
            payloads.append(encode_avi(clip))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _video_decode(
    batches: Iterator[pd.DataFrame], stride: int = FRAME_STRIDE
) -> Iterator[pd.DataFrame]:
    """Decode step of the video codec: parses each AVI container,
    decodes every ``stride``-th DIB frame (row padding, bottom-up,
    BGR), and emits exact per-frame channel sums; a corrupt payload
    costs ONE err row."""
    for pdf in batches:
        rows = {k: [] for k in ("doc_id", "frame_idx", "sum_r",
                                "sum_g", "sum_b", "err")}
        for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
            try:
                _, _, clip = decode_avi_bytes(bytes(b))
            except Exception as e:  # dirty bytes → ONE err row
                rows["doc_id"].append(doc_id)
                for k in ("frame_idx", "sum_r", "sum_g", "sum_b"):
                    rows[k].append(None)
                rows["err"].append(f"{type(e).__name__}: {e}"[:200])
                continue
            for f in range(0, clip.shape[0], stride):
                sums = clip[f].astype("int64").sum(axis=(0, 1))
                rows["doc_id"].append(doc_id)
                rows["frame_idx"].append(f)
                rows["sum_r"].append(int(sums[0]))
                rows["sum_g"].append(int(sums[1]))
                rows["sum_b"].append(int(sums[2]))
                rows["err"].append(None)
        yield pd.DataFrame(rows)


def synth_video_payload(docs: DataFrame) -> DataFrame:
    """Deterministic video fixture (the video synth step) as a
    (doc_id, payload) relation."""
    return _synth_pass(docs, PAYLOAD_SCHEMA, _video_synth)


def decode_video_frames(
    payloads: DataFrame, stride: int = FRAME_STRIDE
) -> DataFrame:
    """REAL video decode + frame sampling over any binary payload
    relation — the 1→N row expansion of fake_frame_sample with a
    genuine codec inside.  Scan-shaped at 100 TB: no shuffle,
    Arrow-batched."""
    step = functools.partial(_video_decode, stride=stride)
    return _decode_pass(payloads, VIDEO_FRAME_SCHEMA, step)


def synth_decode_video_frames(docs: DataFrame) -> DataFrame:
    """``decode_video_frames(synth_video_payload(docs))`` as one Python
    pass."""
    return _synth_pass(docs, VIDEO_FRAME_SCHEMA, _video_synth, _video_decode)


def fake_decode_features(payloads: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Deterministic stand-in for a media decoder: a fixed-width feature
    vector derived from the payload digest.  Exercises the exact
    mapInPandas path (schema, Arrow batches, array<double> output) a
    real decoder would use."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for b in pdf["payload"]:
                d = hashlib.md5(bytes(b)).digest()
                feats.append([d[i] / 255.0 for i in range(dim)])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    # Flat columns only across the Arrow boundary (struct columns
    # materialize as per-row Python dicts on the pandas side — measured
    # ~15× slower than flat columns on 5k docs).  fan_out raises the
    # narrow scan's parallelism to the session default before the
    # CPU-bound Python stage — the pre-shuffle rows are cheap (ids +
    # payloads), the decode work is what must run full-width.
    flat = fan_out(payloads.select("doc_id", "payload"), "doc_id")
    return flat.mapInPandas(batches, DECODED_SCHEMA)
