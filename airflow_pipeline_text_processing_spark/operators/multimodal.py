"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design (SURVEY.md north-star): image/audio/video travel as ``binary``
columns next to a typed metadata struct.  The Spark-side machinery --
schema, partition-parallel Arrow batches, UDF signatures -- is real and
tested.  Decoding: RIFF/WAVE PCM audio, binary PPM/PGM images, PNG
(r11: from-scratch stdlib-zlib codec, codec/png.py), baseline JPEG
(r12: from-scratch Huffman+IDCT codec, codec/jpeg.py), and GIF (r12:
from-scratch LZW codec, codec/gif.py) decode for real with zero
external dependencies, and G.711 mu-law companding expands/compresses
exactly (mulaw_encode/mulaw_decode); the remaining compressed codecs
(MP3/MP4/WebP) are STUBBED because no media libraries exist in
this container -- ``decode_media`` raises ``NotImplementedError`` for
them unless ``fake=True``, in which case a deterministic byte-histogram
stands in so batch shapes and schemas can be exercised end-to-end for
any payload.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_KINDS = ("image", "audio", "video")

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Demo multimodal table from the documents corpus: the UTF-8 bytes act
    as the opaque payload; kind is sniffed deterministically from the first
    byte (stand-in for magic-number sniffing)."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in MEDIA_KINDS]),
        (F.ascii(F.substring("text", 1, 1)) % 3) + 1,
    )
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        kind.alias("kind"),
        F.struct(
            F.octet_length("text").cast("long").alias("n_bytes"),
            F.lit("utf-8-demo").alias("codec"),
        ).alias("media_meta"),
    )


def _decode_wav(payload: bytes) -> list:
    """REAL audio decode for RIFF/WAVE PCM via the stdlib ``wave`` module:
    ``[sample_rate, n_channels, n_frames, rms, peak]``."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        sr, nch, n, width = (
            w.getframerate(),
            w.getnchannels(),
            w.getnframes(),
            w.getsampwidth(),
        )
        raw = w.readframes(n)
    if width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"PCM sample width {width} not supported")
    rms = float(np.sqrt((x * x).mean())) if x.size else 0.0
    peak = float(np.abs(x).max()) if x.size else 0.0
    return [float(sr), float(nch), float(n), rms, peak]


def _decode_pnm(payload: bytes) -> list:
    """REAL image decode for binary PPM (P6) / PGM (P5): header parse +
    numpy reshape; ``[width, height, n_channels, mean_per_channel...]``."""
    img, maxval = _parse_pnm(payload)
    h, w, nch = img.shape
    norm = img.astype("float64") / float(maxval)
    return [float(w), float(h), float(nch)] + [
        float(norm[:, :, c].mean()) for c in range(nch)
    ]


def _parse_pnm(payload: bytes):
    """The ONE copy of the binary-PNM header parse (r11 review: three
    separate regex sites had to be kept in sync).  Returns
    ``(img (h, w, nch) uint8, maxval)``; raises on anything else."""
    import re

    import numpy as np

    m = re.match(rb"(P[56])\s+(?:#[^\n]*\n\s*)*(\d+)\s+(\d+)\s+(\d+)\s", payload)
    if not m:
        # error-class contract (second-pass review): a payload that IS
        # a PNM (P5/P6 magic) but fails to parse is CORRUPT input --
        # ValueError, non-retryable under streaming/reliability's
        # classifier -- while an unrecognized format is the gated
        # NotImplementedError
        if payload[:2] in (b"P5", b"P6"):
            raise ValueError("malformed PNM header")
        raise NotImplementedError(
            "unsupported image format (PPM/PGM, PNG, baseline JPEG and "
            "GIF decode in-engine; WebP/... need codec libraries not "
            "present here)"
        )
    magic, w, h, maxval = (
        m.group(1), int(m.group(2)), int(m.group(3)), int(m.group(4)),
    )
    if maxval > 255:
        raise NotImplementedError("16-bit PNM not supported")
    nch = 3 if magic == b"P6" else 1
    px = np.frombuffer(payload, dtype=np.uint8, count=w * h * nch, offset=m.end())
    return px.reshape(h, w, nch), maxval


def _image_pixels(payload: bytes):
    """Dispatch an image payload to its REAL decoder: binary PPM/PGM
    (header + numpy), PNG (from-scratch stdlib-zlib codec, codec/png.py
    -- r11), baseline JPEG (from-scratch Huffman+IDCT codec,
    codec/jpeg.py -- r12), or GIF (from-scratch LZW codec, codec/gif.py
    -- r12 sixth wave).  Returns an ``(h, w, nch)`` uint8 array; raises
    on anything else."""
    from ..codec.gif import GIF_SIGS, decode_gif
    from ..codec.jpeg import JPEG_SOI, decode_jpeg
    from ..codec.png import PNG_SIG, decode_png

    if payload[: len(PNG_SIG)] == PNG_SIG:
        return decode_png(payload)
    if payload[: len(JPEG_SOI)] == JPEG_SOI:
        return decode_jpeg(payload)
    if payload[:6] in GIF_SIGS:
        return decode_gif(payload)
    return _parse_pnm(payload)[0]


def decode_media(payload: bytes, kind: str, fake: bool = False):
    """Decode one media payload.

    These formats decode for real with no external libraries: RIFF/WAVE
    PCM audio (stdlib ``wave``), binary PPM/PGM images (header +
    numpy), PNG (stdlib zlib + the from-scratch filter codec in
    codec/png.py), and baseline JPEG (the from-scratch Huffman+IDCT
    codec in codec/jpeg.py, r12), and GIF (the from-scratch LZW codec
    in codec/gif.py, r12 sixth wave).  Remaining compressed codecs
    (MP3/MP4/WebP/...) require ffmpeg-class libraries, absent from this
    container, and raise ``NotImplementedError``; ``fake=True``
    substitutes a deterministic byte-histogram feature vector so the
    distributed plumbing stays testable for any payload."""
    if payload is None:
        return None
    if fake:
        buckets = [0, 0, 0, 0]
        for byte in payload:
            buckets[byte // 64] += 1
        total = max(len(payload), 1)
        return [b / total for b in buckets]
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _decode_wav(payload)
    if payload[:2] in (b"P5", b"P6"):
        return _decode_pnm(payload)
    from ..codec.gif import GIF_SIGS
    from ..codec.jpeg import JPEG_SOI
    from ..codec.png import PNG_SIG

    if (
        payload[: len(PNG_SIG)] == PNG_SIG
        or payload[: len(JPEG_SOI)] == JPEG_SOI
        or payload[:6] in GIF_SIGS
    ):
        img = _image_pixels(payload)
        h, w, nch = img.shape
        norm = img.astype("float64") / 255.0
        return [float(w), float(h), float(nch)] + [
            float(norm[:, :, c].mean()) for c in range(nch)
        ]
    raise NotImplementedError(
        "compressed media formats beyond PNG/baseline-JPEG/GIF need "
        "codec libraries not present in this container; pass fake=True "
        "for the deterministic stub"
    )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_bytes", BinaryType()),
        StructField("frame_offset", LongType()),
    ]
)


def sample_frames(
    media: DataFrame, num_frames: int = 4, frame_size: int = 256
) -> DataFrame:
    """1 -> N frame sampling over video payloads (``mapInPandas``).

    ISO-BMFF (MP4) payloads use the REAL container sample table (r12:
    codec/mp4.py parses stts/stsc/stsz/stco and returns every sample's
    byte range): "frames" are the first ``num_frames`` actual samples,
    sliced at their true offsets -- what a video pipeline ships to
    downstream embedding; only the CODEC decode inside each sample
    stays gated on ffmpeg-class libraries.  For opaque non-MP4 payloads
    the deterministic evenly-strided byte slices remain as the stub.
    The distributed shape is the real thing either way -- Arrow-batched
    row expansion with a binary output column.
    """
    from ..codec.mp4 import parse_mp4

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, idxs, frames, offsets = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    continue
                if payload[4:8] == b"ftyp":
                    # A real-world MP4 the minimal parser rejects
                    # (moov-less streaming layout, compact stz2, or a
                    # false-positive opaque payload with 'ftyp' at 4..8)
                    # must not fail the whole Arrow stage: fall back to
                    # the deterministic stride-slice stub, which is
                    # total over arbitrary bytes.
                    try:
                        table = parse_mp4(bytes(payload))["samples"]
                    except ValueError:
                        table = None
                    if table is not None:
                        for i, (off, size, _dts) in enumerate(
                            table[:num_frames]
                        ):
                            doc_ids.append(doc_id)
                            idxs.append(i)
                            frames.append(
                                bytes(payload[off : off + min(size, frame_size)])
                            )
                            offsets.append(off)
                        continue
                stride = max(len(payload) // num_frames, 1)
                for i in range(min(num_frames, len(payload))):
                    off = i * stride
                    doc_ids.append(doc_id)
                    idxs.append(i)
                    frames.append(bytes(payload[off : off + frame_size]))
                    offsets.append(off)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_bytes": pd.Series(frames, dtype="object"),
                    "frame_offset": pd.Series(offsets, dtype="int64"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(_sample, FRAME_SCHEMA)


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow-batched: each partition streams batches of (doc_id, payload,
    kind) through Python once -- the exact shape a real image-embedding
    or audio-fingerprint stage would use at scale.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [
                        len(p) if p is not None else 0 for p in pdf["payload"]
                    ],
                    "features": [
                        decode_media(p, k, fake=fake)
                        for p, k in zip(pdf["payload"], pdf["kind"])
                    ],
                }
            )

    return media.select("doc_id", "payload", "kind").mapInPandas(
        _extract, FEATURE_SCHEMA
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("err", StringType()),
    ]
)


def _resize_pnm(payload: bytes, out_w: int, out_h: int) -> bytes:
    """REAL nearest-neighbor resize, pure numpy: pick source row/col
    indices at output pixel centers.  Deterministic (integer index
    math, no filtering kernel).  The output payload keeps the INPUT's
    container: PNM in -> PNM out, PNG in -> PNG out (r11; filter-0
    scanlines, codec/png.py), so resize stages compose either way."""
    import numpy as np

    from ..codec.png import PNG_SIG, encode_png

    if payload[: len(PNG_SIG)] == PNG_SIG:
        img = _image_pixels(payload)
        maxval = None
    else:
        img, maxval = _parse_pnm(payload)
    h, w, nch = img.shape
    rows = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    cols = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    out = img[rows][:, cols]
    if maxval is None:
        return encode_png(out)
    magic = b"P6" if nch == 3 else b"P5"
    header = magic + b"\n%d %d\n%d\n" % (out_w, out_h, maxval)
    return header + out.tobytes()


RESAMPLED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("sample_rate", LongType()),
        StructField("n_frames", LongType()),
        StructField("err", StringType()),
    ]
)


def _resample_wav(payload: bytes, out_rate: int) -> tuple:
    """REAL sample-rate conversion for RIFF/WAVE PCM, stdlib + numpy:
    nearest-neighbor frame pick at output sample instants (``src =
    (i * in_rate) // out_rate`` -- pure integer index math, no
    interpolation kernel, so the output bytes are a deterministic
    function of the input on any platform).  Preserves channel count and
    sample width; re-emits a valid WAV so resample stages compose with
    ``decode_media``/``extract_features`` downstream.  Returns
    ``(wav_bytes, n_out_frames)``."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        in_rate, nch, n, width = (
            w.getframerate(),
            w.getnchannels(),
            w.getnframes(),
            w.getsampwidth(),
        )
        raw = w.readframes(n)
    if width not in (1, 2):
        raise NotImplementedError(f"PCM sample width {width} not supported")
    frame_bytes = nch * width
    frames = np.frombuffer(raw, dtype=np.uint8, count=n * frame_bytes).reshape(
        n, frame_bytes
    )
    out_n = (n * out_rate) // in_rate
    idx = np.minimum((np.arange(out_n) * in_rate) // out_rate, max(n - 1, 0))
    out = frames[idx] if n else frames[:0]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(width)
        w.setframerate(out_rate)
        w.writeframes(out.tobytes())
    return buf.getvalue(), int(out_n)


def resample_audio(media: DataFrame, out_rate: int) -> DataFrame:
    """Distributed audio resample (``mapInPandas``), the DSP sibling of
    ``resize_images``: uncompressed RIFF/WAVE PCM payloads resample FOR
    REAL (nearest-neighbor frame pick, integer index math -- no audio
    library needed); any other payload passes through with ``err`` set
    instead of failing the batch (per-row quarantine, the DLQ pattern at
    the operator level).  Same Arrow batch shape as every multimodal
    kernel: narrow per-partition map, no shuffle, composes with
    ``extract_features`` since outputs are valid WAV."""

    def _resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs, rates, ns, errs = [], [], [], []
            for payload in pdf["payload"]:
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    wav, out_n = _resample_wav(bytes(payload), out_rate)
                    outs.append(wav)
                    rates.append(out_rate)
                    ns.append(out_n)
                    errs.append(None)
                except Exception as exc:  # noqa: BLE001 - quarantined per row
                    outs.append(None)
                    rates.append(0)
                    ns.append(0)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": pd.Series(outs, dtype="object"),
                    "sample_rate": pd.Series(rates, dtype="int64"),
                    "n_frames": pd.Series(ns, dtype="int64"),
                    "err": pd.Series(errs, dtype="object"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        _resample, RESAMPLED_SCHEMA
    )


def resize_images(
    media: DataFrame, out_w: int, out_h: int
) -> DataFrame:
    """Distributed image resize (``mapInPandas``): PPM/PGM and PNG
    payloads resize FOR REAL (nearest neighbor, numpy; PNG via the
    in-engine codec/png.py -- no codec library needed); any other
    payload passes through with ``err`` set instead of failing the
    batch (per-row quarantine, the DLQ pattern at the operator level).
    Output payloads keep the input container (PNM->PNM, PNG->PNG), so
    resize stages compose: thumbnail -> feature-extract chains run
    entirely inside the engine."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs, ws, hs, errs = [], [], [], []
            for payload in pdf["payload"]:
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    outs.append(_resize_pnm(bytes(payload), out_w, out_h))
                    ws.append(out_w)
                    hs.append(out_h)
                    errs.append(None)
                except Exception as exc:  # noqa: BLE001 - quarantined per row
                    outs.append(None)
                    ws.append(0)
                    hs.append(0)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": pd.Series(outs, dtype="object"),
                    "width": pd.Series(ws, dtype="int64"),
                    "height": pd.Series(hs, dtype="int64"),
                    "err": pd.Series(errs, dtype="object"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        _resize, RESIZED_SCHEMA
    )


VAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_active", LongType()),
        StructField("n_segments", LongType()),
        StructField("err", StringType()),
    ]
)


def _vad_wav(payload: bytes, frame_len: int, thr_milli: int) -> tuple:
    """Energy-threshold voice activity detection for 8- or 16-bit mono
    PCM (r13: 16-bit is the overwhelmingly common real-world width --
    VERDICT r12 ask #4): per ``frame_len``-sample frame, the frame is
    active iff ``sum(|s|) * 1000 >= thr_milli * full_scale * n`` with
    centered samples (``s - 128`` at width 1; signed little-endian at
    width 2) and full scale 128 / 32768 -- the SAME relative-amplitude
    rule at both widths, all integer, so flags and segment counts are
    platform-deterministic and 8-bit results are bit-unchanged.
    Segments are maximal runs of active frames.  Returns
    ``(n_frames, n_active, n_segments)``."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        nch, width, n = w.getnchannels(), w.getsampwidth(), w.getnframes()
        raw = w.readframes(n)
    if nch != 1 or width not in (1, 2):
        raise NotImplementedError("VAD supports 8/16-bit mono PCM only")
    if width == 1:
        s = np.frombuffer(raw, dtype=np.uint8, count=n).astype(np.int64) - 128
        full = 128
    else:
        s = np.frombuffer(raw, dtype="<i2", count=n).astype(np.int64)
        full = 32768
    a = np.abs(s)
    n_frames = (n + frame_len - 1) // frame_len
    # vectorized per-frame fold (r14 review: this was the one Python
    # per-frame loop among the multimodal kernels -- an hour of 16 kHz
    # audio is 360k frames per ROW): reduceat sums each frame, the
    # short final frame keeps its true length in the threshold compare,
    # and the exact integer rule is unchanged.
    starts = np.arange(0, n, frame_len)
    sums = np.add.reduceat(a, starts) if n else np.zeros(0, dtype=np.int64)
    lens = np.full(n_frames, frame_len, dtype=np.int64)
    if n_frames:
        lens[-1] = n - frame_len * (n_frames - 1)
    flags = (sums * 1000 >= thr_milli * full * lens).astype(np.int64)
    n_active = int(flags.sum())
    # a segment starts at every 0 -> 1 transition (frame 0 counts when
    # active)
    n_segments = int(flags[0]) + int((np.diff(flags) == 1).sum()) if n_frames else 0
    return n_frames, n_active, n_segments


def detect_voice_activity(
    media: DataFrame, frame_len: int = 160, thr_milli: int = 220
) -> DataFrame:
    """Distributed VAD (``mapInPandas``): per payload, frame count,
    active-frame count, and maximal active-run (segment) count -- the
    pre-filter a speech pipeline runs before any expensive ASR step.
    Same Arrow batch shape and per-row quarantine as every multimodal
    kernel here; integer DSP throughout so results are exact."""

    def _vad(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nf, na, ns, errs = [], [], [], []
            for payload in pdf["payload"]:
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    f, a, s = _vad_wav(bytes(payload), frame_len, thr_milli)
                    nf.append(f)
                    na.append(a)
                    ns.append(s)
                    errs.append(None)
                except Exception as exc:  # noqa: BLE001 - quarantined per row
                    nf.append(0)
                    na.append(0)
                    ns.append(0)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_frames": pd.Series(nf, dtype="int64"),
                    "n_active": pd.Series(na, dtype="int64"),
                    "n_segments": pd.Series(ns, dtype="int64"),
                    "err": pd.Series(errs, dtype="object"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(_vad, VAD_SCHEMA)


# ---------------------------------------------------------------------
# Perceptual image hashing (dHash) + near-duplicate detection: the
# image-domain complement of the text dedup family.  The decode is the
# REAL PNM path (no codec library needed); the hash is pure integer
# arithmetic so an oracle can replay it exactly.
# ---------------------------------------------------------------------

DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("b0", LongType()),
        StructField("b1", LongType()),
        StructField("b2", LongType()),
        StructField("b3", LongType()),
        StructField("err", StringType()),
    ]
)


def _dhash_pnm(payload: bytes) -> list:
    """Difference hash of a binary PPM/PGM image, all-integer:

    1. decode (real header parse, numpy);
    2. P6 -> integer luma ``(299r + 587g + 114b) // 1000``;
    3. box-average down to a 9x8 grid -- cell (r, c) is the integer
       mean (floor) of the source box ``rows [r*h//8, (r+1)*h//8) x
       cols [c*w//9, (c+1)*w//9)``;
    4. 64 bits: ``bit[r*8+c] = g[r][c] > g[r][c+1]`` (horizontal
       gradient sign, the classic dHash);
    5. packed as four 16-bit bands ``b0..b3`` (band j holds bits
       ``[16j, 16j+16)``) -- band equality is the pigeonhole blocking
       key for the near-dup join, and keeping bands instead of one
       64-bit value dodges BIGINT sign traps in both engines.

    Deterministic: no floats, no filtering kernels.  Requires
    ``w >= 9 and h >= 8``.  Accepts PNM, PNG or baseline-JPEG payloads (r11/r12: the
    dispatcher in ``_image_pixels``); alpha channels are ignored
    (luma from the color samples only -- dHash is a luminance
    gradient sign, transparency carries no luminance).
    """
    import numpy as np

    img = _image_pixels(payload).astype(np.int64)
    h, w, nch = img.shape
    if w < 9 or h < 8:
        raise ValueError(f"image {w}x{h} too small for a 9x8 dHash grid")
    if nch >= 3:
        gray = (299 * img[:, :, 0] + 587 * img[:, :, 1] + 114 * img[:, :, 2]) // 1000
    else:
        gray = img[:, :, 0]
    grid = np.empty((8, 9), dtype=np.int64)
    for r in range(8):
        r0, r1 = r * h // 8, (r + 1) * h // 8
        for c in range(9):
            c0, c1 = c * w // 9, (c + 1) * w // 9
            box = gray[r0:r1, c0:c1]
            grid[r, c] = int(box.sum()) // box.size
    bands = [0, 0, 0, 0]
    for r in range(8):
        for c in range(8):
            if grid[r, c] > grid[r, c + 1]:
                k = r * 8 + c
                bands[k // 16] |= 1 << (k % 16)
    return bands


def image_dhash(media: DataFrame) -> DataFrame:
    """Distributed perceptual hashing (``mapInPandas``): PNM and PNG
    payloads hash for real; any other payload quarantines per-row via
    ``err`` (the operator-level DLQ pattern, same as
    ``resize_images``)."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict = {"b0": [], "b1": [], "b2": [], "b3": [], "err": []}
            for payload in pdf["payload"]:
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    b = _dhash_pnm(bytes(payload))
                    for j in range(4):
                        cols[f"b{j}"].append(b[j])
                    cols["err"].append(None)
                except Exception as exc:  # noqa: BLE001 - quarantined per row
                    for j in range(4):
                        cols[f"b{j}"].append(0)
                    cols["err"].append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    **{
                        k: pd.Series(v, dtype="int64" if k != "err" else "object")
                        for k, v in cols.items()
                    },
                }
            )

    src = media.select("doc_id", "payload")
    # the Python kernel is the cost center: spread it across all cores
    # even when the input arrives as a handful of small-file partitions
    # (a row-level shuffle of the payload relation is noise next to the
    # per-image decode; at cluster scale the input is already wide and
    # this branch does not trigger)
    spark = media.sparkSession
    if src.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        src = src.repartition(spark.sparkContext.defaultParallelism)
    return src.mapInPandas(_hash, DHASH_SCHEMA)


def dhash_near_dups(media: DataFrame) -> DataFrame:
    """Image near-duplicate pairs within dHash hamming distance 3, EXACT
    without an all-pairs join: a pair within hamming 3 differs in at
    most 3 of the four 16-bit bands, so by
    pigeonhole it agrees exactly on at least one band -- band equality
    is a complete blocking key (the image-domain mirror of the SimHash
    pigeonhole banding in ``dedup.py``).  Candidates from the
    band-equality equi-join are then verified with
    ``bit_count(b ^ b')`` summed across bands.

    Scale: the join is keyed on (band_idx, band_value) -- shuffle-by-
    key, never cartesian; a degenerate hot band (e.g. all-zero bands
    from flat images) is a data-skew concern handled like any hot join
    key (salt or AQE), not a plan defect.  Output:
    ``doc_a, doc_b, hamming`` with ``doc_a < doc_b``, deduplicated
    across bands.
    """
    hashes = image_dhash(media).filter(F.col("err").isNull()).select(
        "doc_id", "b0", "b1", "b2", "b3"
    )
    # both sides of the band self-join hang off this relation; without a
    # materialization barrier Spark recomputes the per-image decode on
    # EACH side (measured 2x wall on the sf0.1 corpus) -- the same
    # lazy-localCheckpoint device as cooccurrence_pmi's posting list
    hashes = hashes.localCheckpoint(eager=False)
    bands = hashes.select(
        "doc_id", "b0", "b1", "b2", "b3",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            sum(
                F.bit_count(
                    F.col(f"a.b{j}").bitwiseXOR(F.col(f"b.b{j}"))
                )
                for j in range(4)
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )
    return cand


# ---------------------------------------------------------------------
# Audio spectral fingerprinting + offset-consistent matching: the
# audio-domain complement of dHash near-dup.  A Shazam-shaped pipeline
# (peak constellation -> hashed grams -> offset-vote matching) built on
# an EXACT-INTEGER DFT so a SQL oracle can replay every bit: the
# frequency basis is one literal Q15 table both engines index, powers
# are int64 dot products, and the peak/tie rules are total orders.
# ---------------------------------------------------------------------

FP_FRAME = 32          # samples per analysis frame (non-overlapping)
FP_BINS = (2, 3, 5, 7) # DFT bins fingerprinted, ascending (tie rule)
FP_GRAM = 3            # consecutive peaks per signature
FP_MIN_VOTES = 4       # same-offset signature matches to declare a pair

# q15(cos(2*pi*j/64)) for j = 0..63, rounded half away from zero.  Every
# basis value derives by index arithmetic -- cos(2*pi*k*n/32) sits at
# index (2*k*n) % 64 and sin at (2*k*n + 48) % 64, exact identities of
# the underlying real arguments -- so this one 64-literal table is the
# whole spectral basis in BOTH engines (the Spark kernel builds its
# numpy matrix from it; the DuckDB oracle indexes the literal list).
COS64 = [
    32768, 32610, 32138, 31357, 30274, 28899, 27246, 25330,
    23170, 20788, 18205, 15447, 12540, 9512, 6393, 3212,
    0, -3212, -6393, -9512, -12540, -15447, -18205, -20788,
    -23170, -25330, -27246, -28899, -30274, -31357, -32138, -32610,
    -32768, -32610, -32138, -31357, -30274, -28899, -27246, -25330,
    -23170, -20788, -18205, -15447, -12540, -9512, -6393, -3212,
    0, 3212, 6393, 9512, 12540, 15447, 18205, 20788,
    23170, 25330, 27246, 28899, 30274, 31357, 32138, 32610,
]


def _fp_tables():
    import numpy as np

    cos_t = np.array(
        [[COS64[(2 * k * n) % 64] for n in range(FP_FRAME)] for k in FP_BINS],
        dtype=np.int64,
    )
    sin_t = np.array(
        [[COS64[(2 * k * n + 48) % 64] for n in range(FP_FRAME)]
         for k in FP_BINS],
        dtype=np.int64,
    )
    return cos_t, sin_t


def _fp_wav(payload: bytes, cos_t, sin_t) -> list:
    """Per-frame fingerprint of an 8- or 16-bit mono WAV: the TOP-2
    bins by power (ties to the lower bin), packed ``b1 * 8 + b2`` -- 12
    ordered combinations per frame, enough entropy that coincidental
    matches die at the vote threshold (a single peak bin measured ~200x
    more false pairs).  16-bit samples (r13, VERDICT r12 ask #4) use
    their TOP 8 BITS (arithmetic shift, floor semantics) so the
    magnitude headroom is one bound at both widths: |sample| <= 255,
    |re| <= 255 * 32768 * 32 ~ 2.7e8, re^2 + im^2 <= 1.5e17 -- exact
    int64; peak-bin ORDER is what fingerprints, so the 8-bit view of a
    16-bit signal matches the same clip at either width.  The DC offset
    of unsigned samples is irrelevant: each bin's rounded basis sums to
    exactly zero over the frame (the table is antisymmetric), so a
    constant frame scores 0 everywhere and ties resolve to the two
    lowest bins."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        width, nch = w.getsampwidth(), w.getnchannels()
        if width not in (1, 2) or nch != 1:
            raise NotImplementedError("fingerprint expects 8/16-bit mono PCM")
        raw = w.readframes(w.getnframes())
    if width == 1:
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
    else:
        x = np.frombuffer(raw, dtype="<i2").astype(np.int64) >> 8
    nf = x.size // FP_FRAME
    if nf == 0:
        return []
    fr = x[: nf * FP_FRAME].reshape(nf, FP_FRAME)
    re = fr @ cos_t.T
    im = fr @ sin_t.T
    power = re * re + im * im
    # stable sort on -power keeps ascending bin order within ties
    order = np.argsort(-power, axis=1, kind="stable")
    b1 = np.take(FP_BINS, order[:, 0])
    b2 = np.take(FP_BINS, order[:, 1])
    return [int(a) * 8 + int(b) for a, b in zip(b1, b2)]


FP_SCHEMA = "doc_id long, frame_idx long, peak_code long"


def spectral_fingerprints(media: DataFrame) -> DataFrame:
    """Distributed fingerprint extraction (``mapInPandas``): one row per
    (clip, frame) with the frame's packed top-2-bin code.  Same
    Arrow batch shape as every multimodal kernel here; rows whose
    payload fails to decode contribute no frames (quarantine-by-
    omission -- the matcher can only ever under-claim)."""
    import pandas as pd

    def _fp(batches):
        cos_t, sin_t = _fp_tables()
        for pdf in batches:
            ids, fidx, bins = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    peaks = _fp_wav(bytes(payload), cos_t, sin_t)
                except Exception:  # noqa: BLE001 - quarantined per row
                    peaks = []
                for f, b in enumerate(peaks):
                    ids.append(doc_id)
                    fidx.append(f)
                    bins.append(b)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(fidx, dtype="int64"),
                    "peak_code": pd.Series(bins, dtype="int64"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(_fp, FP_SCHEMA)


def fingerprint_matches(probe_fps: DataFrame, corpus_fps: DataFrame) -> DataFrame:
    """Offset-consistent fingerprint matching: ``FP_GRAM`` consecutive
    frame codes pack base-64 into one BIGINT signature (a posting key,
    exactly the banded-LSH economics -- candidates meet only inside a
    signature bucket, never corpus x corpus); a (probe, clip) pair is a
    match when >= ``FP_MIN_VOTES`` signatures agree at ONE frame offset,
    the consistency test that kills coincidental bin collisions.
    Output: ``probe_id, corpus_id, offset_frames, n_votes``."""
    from pyspark.sql import Window

    def sigs(fps: DataFrame, prefix: str) -> DataFrame:
        w = Window.partitionBy("doc_id").orderBy("frame_idx")
        sig = F.col("peak_code")
        for i in range(1, FP_GRAM):
            sig = sig * 64 + F.lead("peak_code", i).over(w)  # null past end
        return fps.select(
            F.col("doc_id").alias(f"{prefix}_id"),
            F.col("frame_idx").alias(f"{prefix}_f"),
            sig.alias("sig"),
        ).filter(F.col("sig").isNotNull())

    p = sigs(probe_fps, "probe")
    c = sigs(corpus_fps, "corpus")
    return (
        p.join(c, "sig")
        .groupBy(
            "probe_id",
            "corpus_id",
            (F.col("probe_f") - F.col("corpus_f")).alias("offset_frames"),
        )
        .agg(F.count("*").alias("n_votes"))
        .filter(F.col("n_votes") >= FP_MIN_VOTES)
    )


# =====================================================================
# G.711 mu-law companding (r12 sixth wave)
# =====================================================================

MULAW_BIAS = 0x84  # 132, the G.711 bias
MULAW_CLIP = 32635  # max magnitude before bias (32767 - 132)


def mulaw_encode(pcm: "np.ndarray") -> "np.ndarray":
    """G.711 mu-law compression of int16 PCM to one byte per sample --
    the telephony/ASR-corpus codec (8 kHz voice data ships as mu-law
    WAV/au in bulk).  Pure integer arithmetic, vectorized: sign bit,
    clip to 32635, +132 bias, exponent = bit position of the biased
    magnitude's MSB (3 bits), 4-bit mantissa, ones-complement output
    per the spec.  Exactly invertible by :func:`mulaw_decode` up to the
    segment quantization the standard defines."""
    import numpy as np

    x = np.asarray(pcm, dtype=np.int64)
    sign = np.where(x < 0, 0x80, 0).astype(np.int64)
    mag = np.minimum(np.abs(x), MULAW_CLIP) + MULAW_BIAS
    # exponent: MSB position of mag >> 7 (mag is in [132, 32767])
    exp = np.zeros_like(mag)
    v = mag >> 8
    for _ in range(7):  # bit_length of a 7-bit quantity, vectorized
        step = (v > 0).astype(np.int64)
        exp += step
        v >>= 1
    mantissa = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mantissa) & 0xFF).astype(np.uint8)


def mulaw_decode(codes: "np.ndarray") -> "np.ndarray":
    """Exact G.711 mu-law expansion back to int16 PCM: the closed form
    ``((mantissa << 3) + 132) << exponent - 132`` with the sign
    reapplied -- every step integer, bit-identical on any engine (the
    oracle replays it in SQL)."""
    import numpy as np

    c = ~np.asarray(codes, dtype=np.int64) & 0xFF
    sign = c & 0x80
    exp = (c >> 4) & 0x07
    mantissa = c & 0x0F
    mag = (((mantissa << 3) + MULAW_BIAS) << exp) - MULAW_BIAS
    return np.where(sign != 0, -mag, mag).astype(np.int16)
