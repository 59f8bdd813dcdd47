"""Multimodal column operators (north star: image/audio/video as opaque
binary columns with typed metadata).

The decoders are REAL parsers for the public formats that need no
external libraries: PNM images (PPM P6 / PGM P5 — header parse + numpy
reshape), RIFF WAV PCM16 (chunk walk + frombuffer), and Y4M video
(stream header + FRAME markers). Formats that genuinely require
PIL/soundfile/pyav (JPEG/PNG/MP3/MP4 — absent in this container) raise
``NotImplementedError`` via magic-byte dispatch instead of mis-parsing.

Every Spark-side operator makes one Python hop, ``_map_rows``: an
Arrow-batched ``mapInPandas`` with a declared DDL output schema that
calls a per-row function on each input row.  That function returns any
number of output rows, so the same hop serves row-preserving stages and
one-to-many ones (``sample_frames``, ``image_histogram_features``).
Partitioning follows the upstream table: the extract stage adds no
shuffle.

The payload shapes (image and video sizes, sample cap, frame size,
sampling stride, histogram bins) are module constants, not parameters:
each query runs exactly one shape, and its DuckDB oracle in
plans/multimodal.py repeats the numbers, so changing a shape means
changing the oracle with it.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the ``meta.modality`` tag of ``attach_binary_payload``
MODALITY = "text"
#: decoded PPM size of ``decode_image_stats`` / ``image_histogram_features``
IMAGE_W, IMAGE_H = 16, 4
#: intensity buckets of ``image_histogram_features``
HIST_BINS = 16
#: samples per synthetic WAV: min(n_chars, AUDIO_CAP), at least 1
AUDIO_CAP = 128
#: Y4M plane size, frame count cap and sampling stride of
#: ``decode_video_stats``
VIDEO_W, VIDEO_H = 8, 8
VIDEO_MAX_FRAMES = 5
VIDEO_EVERY_N = 2
#: output buffer size of ``resize_payloads``
RESIZE_W, RESIZE_H = 8, 8
#: byte-frame size and sampling stride of ``sample_frames``
FRAME_SIZE = 32
FRAME_EVERY_N = 4


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Model a multimodal table: opaque binary payload + typed metadata.

    (Here the payload is the utf-8 text itself; for real image/audio the
    binary comes straight from the source parquet.)
    """
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit(MODALITY).alias("modality"),
            F.col("n_chars").cast("long").alias("size_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def _read_pnm_header(payload: bytes) -> tuple[bytes, list[int], int]:
    """Parse a PNM (PPM/PGM) header: magic, then 3 ASCII ints (width,
    height, maxval) separated by whitespace, with '#' comments allowed.
    Returns (magic, [w, h, maxval], data_offset)."""
    magic = payload[:2]
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and payload[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError(f"malformed PNM header at byte {pos}")
        vals.append(int(payload[start:pos]))
    return magic, vals, pos + 1  # single whitespace after maxval


def decode_image(payload: bytes) -> "object":
    """REAL image decode for the PNM family (PPM 'P6' RGB, PGM 'P5'
    gray) — a pure header-parse + numpy reshape, no external libs.
    Returns a numpy uint8 array of shape (h, w, 3) or (h, w).

    JPEG/PNG need PIL/opencv (absent in this container) and raise: the
    dispatch is by magic bytes, so real files of those formats fail
    loudly instead of mis-parsing.
    """
    import numpy as np

    if payload[:2] in (b"P6", b"P5"):
        magic, (w, h, maxval), off = _read_pnm_header(payload)
        if maxval > 255:
            raise ValueError("16-bit PNM not supported")
        ch = 3 if magic == b"P6" else 1
        n = w * h * ch
        px = np.frombuffer(payload, dtype=np.uint8, count=n, offset=off)
        return px.reshape((h, w, 3)) if ch == 3 else px.reshape((h, w))
    if payload[:3] == b"\xff\xd8\xff" or payload[:8] == b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError(
            "JPEG/PNG decode requires PIL/opencv (not installed in this "
            "container); PNM (PPM/PGM) decodes natively"
        )
    raise ValueError(f"unrecognized image magic {payload[:4]!r}")


def decode_audio(payload: bytes) -> "tuple":
    """REAL audio decode for WAV (RIFF little-endian, PCM16) — pure
    struct parse of the chunk list + numpy frombuffer, no external libs.
    Returns (sample_rate, channels, samples) with samples int16 of shape
    (n,) mono or (n, channels).

    Compressed codecs (MP3/OGG/FLAC) need soundfile/librosa and raise.
    """
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        if payload[:3] == b"ID3" or payload[:2] == b"\xff\xfb":
            raise NotImplementedError(
                "MP3 decode requires soundfile/librosa (not installed); "
                "WAV PCM decodes natively"
            )
        raise ValueError(f"unrecognized audio magic {payload[:4]!r}")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack(
            "<I", payload[pos + 4 : pos + 8]
        )[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, sample_rate, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise NotImplementedError("only PCM16 WAV is supported")
    samples = np.frombuffer(data, dtype="<i2")
    if channels > 1:
        samples = samples.reshape((-1, channels))
    return sample_rate, channels, samples


def sample_video_frames(payload: bytes, every_n: int = 30) -> "list":
    """REAL video frame sampling for Y4M (YUV4MPEG2) — plain-text stream
    header, then 'FRAME\\n' + raw planar YUV per frame; pure parse, no
    external libs. Returns every Nth frame as a numpy uint8 array of the
    Y plane, shape (h, w).

    Container formats (MP4/MKV/AVI) need pyav/opencv and raise.
    """
    import numpy as np

    if payload[:9] != b"YUV4MPEG2":
        if payload[4:8] == b"ftyp" or payload[:4] == b"\x1aE\xdf\xa3":
            raise NotImplementedError(
                "MP4/MKV decode requires pyav/opencv (not installed); "
                "Y4M decodes natively"
            )
        raise ValueError(f"unrecognized video magic {payload[:9]!r}")
    nl = payload.index(b"\n")
    w = h = 0
    colorspace = "420"
    for tok in payload[9:nl].split():
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"C":
            colorspace = tok[1:].decode()
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    if colorspace.startswith("420"):  # C420 / C420jpeg / C420mpeg2 ...
        frame_bytes = w * h * 3 // 2
    elif colorspace.startswith("422"):
        frame_bytes = w * h * 2
    elif colorspace.startswith("444"):
        frame_bytes = w * h * 3
    elif colorspace == "mono":
        frame_bytes = w * h
    else:
        raise ValueError(f"unsupported Y4M colorspace C{colorspace}")
    frames, pos, idx = [], nl + 1, 0
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)  # FRAME line (may carry params)
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        body = payload[fnl + 1 : fnl + 1 + frame_bytes]
        if len(body) < frame_bytes:
            raise ValueError("truncated frame")
        if idx % every_n == 0:
            y = np.frombuffer(body, dtype=np.uint8, count=w * h)
            frames.append(y.reshape((h, w)))
        idx += 1
        pos = fnl + 1 + frame_bytes
    return frames


# ---------------------------------------------------------------------------
# Encoders (the write side of the same formats) — used by the decode
# roundtrip queries to synthesize deterministic payloads from the text
# corpus, since the test tables carry no real media. The DECODERS above
# are the component under test; they parse the public on-disk formats.
# ---------------------------------------------------------------------------


def encode_ppm(pixels: bytes, width: int, height: int) -> bytes:
    """Encode raw RGB bytes (len == w*h*3, cycled/truncated) as PPM P6."""
    n = width * height * 3
    body = (pixels * (n // max(len(pixels), 1) + 1))[:n] if pixels else b"\x00" * n
    return b"P6\n%d %d\n255\n" % (width, height) + body


def encode_wav(samples: "object", sample_rate: int = 8000) -> bytes:
    """Encode a mono int16 numpy array as a PCM16 WAV file."""
    import struct

    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def encode_y4m(
    frames_y: "list", width: int, height: int
) -> bytes:
    """Encode a list of (h, w) uint8 Y planes as Y4M mono."""
    out = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 Cmono\n" % (width, height)
    for y in frames_y:
        out += b"FRAME\n" + y.astype("uint8").tobytes()
    return out



# ---------------------------------------------------------------------------
# Spark-side operators. The corpus carries no real media, so most stages
# synthesize a deterministic payload per document, push it through the
# REAL format decoder above, and emit SQL-checkable stats.
# ---------------------------------------------------------------------------


def _map_rows(
    df: DataFrame,
    cols: Sequence[str],
    schema: str,
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """The module's one Python hop: ``fn`` maps the ``cols`` values of
    one input row to zero or more output tuples in ``schema`` order.
    ``schema`` is a flat DDL string ("name type, ..."); the output column
    names are read from it."""
    names = [field.split()[0] for field in schema.split(",")]

    def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            rows = [
                out for vals in zip(*(pdf[c] for c in cols)) for out in fn(*vals)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(gen, schema)


def _checksum(b: bytes) -> int:
    """Rolling polynomial hash of a byte string (base 31, mod 1e9+7)."""
    checksum = 0
    for byte in b:
        checksum = (checksum * 31 + byte) % 1_000_000_007
    return checksum


def _decoded_image(text: str) -> np.ndarray:
    """The document's utf-8 bytes, cycled into an IMAGE_W x IMAGE_H PPM
    P6 and parsed back by ``decode_image``: a (h, w, 3) uint8 array."""
    return decode_image(encode_ppm(text.encode("utf-8"), IMAGE_W, IMAGE_H))


def _decoded_samples(doc_id: int, n_chars: int) -> tuple:
    """A deterministic int16 signal of min(n_chars, AUDIO_CAP) >= 1
    samples, s[i] = (doc_id*7919 + i*31) % 20001 - 10000, written as a
    WAV and parsed back by ``decode_audio``: (rate, channels, samples)."""
    i = np.arange(max(1, min(int(n_chars), AUDIO_CAP)), dtype=np.int64)
    sig = ((int(doc_id) * 7919 + i * 31) % 20001 - 10000).astype(np.int16)
    return decode_audio(encode_wav(sig, 8000))


def extract_features(mm: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The per-payload 'decode' is a deterministic stand-in (byte stats +
    a rolling checksum) so the pipeline is testable end-to-end; swap the
    body for a real decoder without touching the Spark plumbing.
    """

    def row(doc_id, payload, meta):
        b = bytes(payload)
        yield (
            doc_id, meta["modality"], len(b), b[0] if b else -1,
            _checksum(b), len(b) % 251 / 251.0,
        )

    return _map_rows(
        mm, ("doc_id", "payload", "meta"),
        "doc_id long, modality string, payload_bytes long, "
        "first_byte long, checksum long, feature double",
        row,
    )


def resize_payloads(mm: DataFrame) -> DataFrame:
    """Arrow-batched 'resize': maps each payload to a fixed
    RESIZE_W*RESIZE_H byte buffer (truncate/zero-pad — the deterministic
    stand-in for a real PIL/opencv resample, which would slot into the
    same per-row function).

    Plumbing that IS real: binary-in/binary-out columns across Arrow,
    declared output schema, row-count-preserving batch shape, no shuffle.
    """
    n = RESIZE_W * RESIZE_H

    def row(doc_id, payload):
        b = bytes(payload)[:n]
        yield doc_id, RESIZE_W, RESIZE_H, b + b"\x00" * (n - len(b))

    return _map_rows(
        mm, ("doc_id", "payload"),
        "doc_id long, width int, height int, resized binary", row,
    )


def sample_frames(mm: DataFrame) -> DataFrame:
    """Arrow-batched frame sampling: each payload is treated as a
    sequence of FRAME_SIZE-byte 'frames'; every FRAME_EVERY_N-th frame
    is emitted as its own output row (one-to-many batch shape — the part
    a naive UDF can't do).

    A real decoder (pyav/opencv) replaces the byte-slicing only.
    """

    def row(doc_id, payload):
        b = bytes(payload)
        for idx in range(0, max(1, len(b) // FRAME_SIZE), FRAME_EVERY_N):
            frame = b[idx * FRAME_SIZE : (idx + 1) * FRAME_SIZE]
            yield doc_id, idx, len(frame), _checksum(frame)

    return _map_rows(
        mm, ("doc_id", "payload"),
        "doc_id long, frame_idx int, frame_bytes long, frame_checksum long",
        row,
    )


def decode_image_stats(docs: DataFrame) -> DataFrame:
    """PPM roundtrip: text bytes (cycled) -> encode_ppm -> decode_image
    (real P6 parse) -> pixel-array stats."""

    def row(doc_id, text):
        img = _decoded_image(text)
        h, w = img.shape[:2]
        yield doc_id, w, h, w * h, int(img[0, 0, 0])

    return _map_rows(
        docs, ("doc_id", "text"),
        "doc_id long, width long, height long, n_pixels long, first_r long",
        row,
    )


def decode_audio_stats(docs: DataFrame) -> DataFrame:
    """WAV roundtrip: deterministic int16 signal from (doc_id, i) ->
    encode_wav -> decode_audio (real RIFF/PCM16 parse) -> sample stats."""

    def row(doc_id, n_chars):
        rate, channels, s = _decoded_samples(doc_id, n_chars)
        yield doc_id, rate, channels, len(s), int(s[0]), int(s[-1])

    return _map_rows(
        docs, ("doc_id", "n_chars"),
        "doc_id long, sample_rate long, channels long, n_samples long, "
        "first_sample long, last_sample long",
        row,
    )


def decode_video_stats(docs: DataFrame) -> DataFrame:
    """Y4M roundtrip: text bytes (cycled) -> VIDEO_W x VIDEO_H Y planes,
    at most VIDEO_MAX_FRAMES -> encode_y4m -> sample_video_frames (real
    YUV4MPEG2 parse, every VIDEO_EVERY_N-th frame)."""
    fb = VIDEO_W * VIDEO_H

    def row(doc_id, text):
        b = text.encode("utf-8")
        n_frames = max(1, min(len(b) // fb, VIDEO_MAX_FRAMES))
        planes = np.resize(  # cycles the bytes; an empty text gives zeros
            np.frombuffer(b or b"\x00", dtype=np.uint8),
            (n_frames, VIDEO_H, VIDEO_W),
        )
        sampled = sample_video_frames(
            encode_y4m(planes, VIDEO_W, VIDEO_H), every_n=VIDEO_EVERY_N
        )
        h, w = sampled[0].shape
        yield doc_id, w, h, n_frames, len(sampled), int(sampled[0][0, 0])

    return _map_rows(
        docs, ("doc_id", "text"),
        "doc_id long, width long, height long, n_frames long, "
        "n_sampled long, first_y long",
        row,
    )


def audio_energy_features(docs: DataFrame) -> DataFrame:
    """Feature extraction over DECODED audio: synthesize the per-doc WAV,
    run the real RIFF/PCM16 parse, then compute signal features from the
    sample array — total magnitude, energy (sum of squares), peak, and
    zero-crossing count (sign flips between adjacent samples). All exact
    int64 (samples widen from int16 BEFORE squaring).

    This is the plumbing a real audio-curation pass needs (silence /
    clipping / noisiness screens); per-row work is bounded by AUDIO_CAP.
    """

    def row(doc_id, n_chars):
        s = _decoded_samples(doc_id, n_chars)[2].astype(np.int64)
        neg = s < 0
        yield (
            doc_id, len(s), int(np.abs(s).sum()), int((s * s).sum()),
            int(np.abs(s).max()), int((neg[1:] != neg[:-1]).sum()),
        )

    return _map_rows(
        docs, ("doc_id", "n_chars"),
        "doc_id long, n_samples long, sum_abs long, energy long, "
        "peak long, zero_cross long",
        row,
    )


def image_histogram_features(docs: DataFrame) -> DataFrame:
    """Feature extraction over DECODED images: encode each document's
    bytes as a real PPM, run the actual P6 parse, then bin every RGB
    byte of the decoded pixel array into a HIST_BINS-bucket intensity
    histogram — the exposure/contrast screen an image-curation pass
    runs (all-dark / all-bright / low-dynamic-range filters). One
    (doc_id, bin, count) row per non-empty bucket, exact integers.
    """

    def row(doc_id, text):
        hist = np.bincount(
            _decoded_image(text).reshape(-1) // (256 // HIST_BINS),
            minlength=HIST_BINS,
        )
        for b in np.nonzero(hist)[0]:
            yield doc_id, int(b), int(hist[b])

    return _map_rows(
        docs, ("doc_id", "text"), "doc_id long, bin long, n long", row
    )
