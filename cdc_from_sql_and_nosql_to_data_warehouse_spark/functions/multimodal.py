"""Multimodal (image/audio/video) column support for LLM-data pipelines.

North-star NEW operators (no reference counterpart — required by
BASELINE.json): media are **opaque ``binary`` columns with typed
metadata structs**, processed by Arrow-batched ``mapInPandas`` /
``pandas_udf`` stages. One real dependency-free codec ships per
modality — WAV (stdlib ``wave``) for audio, PPM/PGM + 24-bit BMP
(numpy header parsing) for images — and ``decode_media`` routes by
payload magic, with PIL / soundfile as optional wider-format fallbacks
and ``NotImplementedError`` for anything else (video included: a real
implementation would shell out to ffmpeg/pyav, which this container
lacks). ``fake_decode*`` provide deterministic byte-derived stand-ins
with the same shape contracts for payloads that are not real media.
The Spark-side plumbing — schema, partition behavior, UDF signatures,
Arrow batch shape — is the contract this module owns.

Scale design (100 TB of media): payloads never enter a shuffle — every
stage here is a narrow ``mapInPandas`` over the scan partitioning, and
aggregations happen on the extracted (small, fixed-width) features
only. ``spark.sql.files.maxPartitionBytes`` bounds per-task memory; the
per-batch work is bounded by Arrow's ``maxRecordsPerBatch``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Canonical media schema: one row per asset; payload opaque; metadata typed.
# ---------------------------------------------------------------------------

MEDIA_METADATA_TYPE = T.StructType(
    [
        T.StructField("width", T.IntegerType()),        # image/video
        T.StructField("height", T.IntegerType()),       # image/video
        T.StructField("channels", T.IntegerType()),     # image
        T.StructField("sample_rate", T.IntegerType()),  # audio
        T.StructField("n_samples", T.LongType()),       # audio
        T.StructField("fps", T.DoubleType()),           # video
        T.StructField("n_frames", T.LongType()),        # video
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("metadata", MEDIA_METADATA_TYPE),
    ]
)


def synthesize_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic media table derived from ``documents`` — the test
    harness for the binary plumbing (no codecs in the container).

    payload = utf-8 bytes of the text; kind cycles image/audio/video by
    id; metadata fields are derived integer functions of the payload
    length, so every value is reproducible in ANSI SQL for the oracle.
    """
    n = F.length(F.col(text_col)).cast("long")
    kind = (
        F.when(F.col(id_col) % 3 == 0, "image")
        .when(F.col(id_col) % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.when(kind == "image", (n % 64 + 1).cast("int")).alias("width"),
            F.when(kind == "image", (n % 48 + 1).cast("int")).alias("height"),
            F.when(kind == "image", F.lit(3)).alias("channels"),
            F.when(kind == "audio", F.lit(16000)).alias("sample_rate"),
            F.when(kind == "audio", n * 4).alias("n_samples"),
            F.when(kind == "video", F.lit(24.0)).alias("fps"),
            F.when(kind == "video", n % 300 + 1).alias("n_frames"),
        ).alias("metadata"),
    )


# ---------------------------------------------------------------------------
# Decode: stubbed behind import-try; deterministic fake for tests.
# ---------------------------------------------------------------------------

try:  # pragma: no cover - codecs absent in this container
    from PIL import Image as _PIL_Image  # noqa: N812
except ImportError:
    _PIL_Image = None

try:  # pragma: no cover - codecs absent in this container
    import soundfile as _soundfile
except ImportError:
    _soundfile = None


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Real WAV decode with stdlib ``wave`` + numpy only: returns
    (samples, sample_rate) where samples are float32 in [-1, 1] —
    mono ``(n,)``, multi-channel ``(n, channels)`` (the ``soundfile``
    shape/dtype contract). Handles 8/16/32-bit integer PCM."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        n_ch = w.getnchannels()
        width = w.getsampwidth()
        rate = w.getframerate()
        raw = w.readframes(w.getnframes())
    if width == 1:  # 8-bit WAV is unsigned
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise NotImplementedError(f"unsupported WAV sample width: {width}")
    if n_ch > 1:
        x = x.reshape(-1, n_ch)
    return x.astype(np.float32), rate


def decode_ppm(payload: bytes) -> np.ndarray:
    """Real PPM/PGM decode (numpy only): binary P6 -> (h, w, 3) uint8,
    binary P5 -> (h, w) uint8. Header = magic, optional #-comments,
    width, height, maxval (<= 255), one whitespace, raw samples."""
    if payload[:2] not in (b"P6", b"P5"):
        raise NotImplementedError(f"not a binary PPM/PGM: {payload[:2]!r}")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    channels = 3 if payload[:2] == b"P6" else 1
    need = width * height * channels
    arr = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos)
    shape = (height, width, 3) if channels == 3 else (height, width)
    return arr.reshape(shape)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Real BMP decode (numpy only): uncompressed 24-bit bottom-up BMP
    -> (h, w, 3) uint8 RGB. Rows are 4-byte aligned in the file."""
    if payload[:2] != b"BM":
        raise NotImplementedError("not a BMP payload")
    data_offset = int.from_bytes(payload[10:14], "little")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"only uncompressed 24-bit BMP (got bpp={bpp})")
    top_down = height < 0
    height = abs(height)
    stride = (width * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * height, offset=data_offset
    ).reshape(height, stride)[:, : width * 3]
    img = rows.reshape(height, width, 3)[:, :, ::-1]  # BGR -> RGB
    return img if top_down else img[::-1]


def _decode_dib_frame(
    buf: bytes, offset: int, width: int, height: int
) -> np.ndarray:
    """One uncompressed 24-bit DIB frame (BMP pixel layout): bottom-up
    BGR rows, 4-byte aligned -> (h, w, 3) uint8 RGB."""
    top_down = height < 0
    h = abs(height)
    stride = (width * 3 + 3) & ~3
    img = (
        np.frombuffer(buf, dtype=np.uint8, count=stride * h, offset=offset)
        .reshape(h, stride)[:, : width * 3]
        .reshape(h, width, 3)[:, :, ::-1]
    )
    return img if top_down else img[::-1]


def parse_avi(payload: bytes) -> tuple[int, int, float, list[tuple[int, int]]]:
    """Parse an uncompressed-video AVI container (numpy/stdlib only):
    returns (width, height, fps, frame_chunks) where ``frame_chunks``
    is the ordered list of (offset, size) of the ``NNdb``/``NNdc``
    video chunks inside the ``movi`` list. Separated from the frame
    decode so a seek-and-decode of ONE frame never touches the others
    (the property ``sample_frames`` relies on).

    RIFF walk: [fourcc][le32 size][data, even-padded]; LIST chunks
    recurse past their 4-byte list type. Video geometry comes from the
    BITMAPINFOHEADER in the ``strf`` following the ``vids`` ``strh``;
    fps = dwRate/dwScale from that ``strh``."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise NotImplementedError("not an AVI payload")
    width = height = 0
    rate, scale = 0, 1
    vids_pending = False
    frames: list[tuple[int, int]] = []

    def walk(lo: int, hi: int) -> None:
        nonlocal width, height, rate, scale, vids_pending
        pos = lo
        while pos + 8 <= hi:
            fcc = payload[pos : pos + 4]
            size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
            data_lo = pos + 8
            data_hi = min(data_lo + size, hi)
            if fcc in (b"LIST", b"RIFF"):
                walk(data_lo + 4, data_hi)
            elif fcc == b"strh":
                vids_pending = payload[data_lo : data_lo + 4] == b"vids"
                if vids_pending:
                    scale = (
                        int.from_bytes(payload[data_lo + 20 : data_lo + 24], "little")
                        or 1
                    )
                    rate = int.from_bytes(
                        payload[data_lo + 24 : data_lo + 28], "little"
                    )
            elif fcc == b"strf" and vids_pending:
                vids_pending = False
                width = int.from_bytes(
                    payload[data_lo + 4 : data_lo + 8], "little", signed=True
                )
                height = int.from_bytes(
                    payload[data_lo + 8 : data_lo + 12], "little", signed=True
                )
                bpp = int.from_bytes(payload[data_lo + 14 : data_lo + 16], "little")
                comp = int.from_bytes(payload[data_lo + 16 : data_lo + 20], "little")
                if bpp != 24 or comp != 0:
                    raise NotImplementedError(
                        f"only uncompressed 24-bit AVI video (got bpp={bpp}, "
                        f"compression={comp})"
                    )
            elif fcc[2:4] in (b"db", b"dc") and fcc[:2].isdigit():
                frames.append((data_lo, size))
            pos = data_lo + size + (size & 1)

    walk(12, len(payload))
    if width == 0 or height == 0:
        raise NotImplementedError("AVI has no uncompressed video stream")
    return width, height, (rate / scale if rate else 0.0), frames


def decode_avi(payload: bytes) -> tuple[np.ndarray, float]:
    """Real uncompressed-AVI decode (numpy/stdlib only): returns
    (frames, fps) with frames (n_frames, h, w, 3) uint8 RGB — the
    frame-stack contract of a real ffmpeg/pyav decode."""
    width, height, fps, chunks = parse_avi(payload)
    imgs = [_decode_dib_frame(payload, off, width, height) for off, _ in chunks]
    if not imgs:
        return np.zeros((0, abs(height), width, 3), dtype=np.uint8), fps
    return np.stack(imgs), fps


def decode_media(payload: bytes, kind: str) -> np.ndarray:
    """Decode a real media payload to an ndarray.

    Real dependency-free decoders handle one format per modality —
    WAV (stdlib ``wave``) for audio, PPM/PGM and 24-bit BMP (numpy
    header parsing) for images, uncompressed-video AVI (RIFF
    ``00db``/``00dc`` DIB frames) for video — with PIL / soundfile as
    optional wider-format fallbacks when importable. Compressed video
    codecs would need ffmpeg/pyav (not in this container) and raise —
    tests use the deterministic ``fake_decode*`` family for those."""
    if kind == "image":
        if payload[:2] in (b"P6", b"P5"):
            return decode_ppm(payload)
        if payload[:2] == b"BM":
            return decode_bmp(payload)
        if _PIL_Image is not None:  # pragma: no cover
            import io

            return np.asarray(_PIL_Image.open(io.BytesIO(payload)))
    if kind == "audio":
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            return decode_wav(payload)[0]
        if _soundfile is not None:  # pragma: no cover
            import io

            data, _rate = _soundfile.read(io.BytesIO(payload), dtype="float32")
            return np.asarray(data)
    if kind == "video" and payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return decode_avi(payload)[0]
    raise NotImplementedError(
        f"no codec available for kind={kind!r} payload head="
        f"{bytes(payload[:4])!r}; supported without extra deps: "
        "PPM/PGM/BMP (image), WAV (audio), uncompressed AVI (video); "
        "install PIL/soundfile for more, or use the fake_decode* stand-ins"
    )


def fake_decode(payload: bytes, width: int, height: int, channels: int = 3) -> np.ndarray:
    """Deterministic stand-in image decoder: tile the payload bytes into
    a (height, width, channels) uint8 array. Same shape contract as a
    real image decode, fully reproducible."""
    need = max(width * height * channels, 1)
    buf = np.frombuffer(payload, dtype=np.uint8) if payload else np.zeros(1, np.uint8)
    tiled = np.resize(buf, need)
    return tiled.reshape(height, width, channels)


def fake_decode_audio(payload: bytes, n_samples: int) -> np.ndarray:
    """Deterministic stand-in audio decoder: (n_samples,) float32 PCM in
    [-1, 1] — the shape/dtype/range contract of ``soundfile.read``.
    Samples derive from the payload bytes (tiled, centered, scaled)."""
    need = max(int(n_samples), 1)
    buf = np.frombuffer(payload, dtype=np.uint8) if payload else np.zeros(1, np.uint8)
    tiled = np.resize(buf, need).astype(np.float32)
    return ((tiled - 127.5) / 127.5).astype(np.float32)


def fake_decode_video(
    payload: bytes, n_frames: int, width: int, height: int, channels: int = 3
) -> np.ndarray:
    """Deterministic stand-in video decoder: (n_frames, height, width,
    channels) uint8 — the frame-stack contract of a real ffmpeg/pyav
    decode. Frame i is the payload tiling rolled by i bytes, so frames
    differ deterministically and any frame is reproducible in isolation
    (seekable-decode contract: ``fake_decode_video(p, n, w, h)[i]`` ==
    roll(tile, i))."""
    f = max(int(n_frames), 1)
    per = max(int(width) * int(height) * int(channels), 1)
    buf = np.frombuffer(payload, dtype=np.uint8) if payload else np.zeros(1, np.uint8)
    base = np.resize(buf, per)
    frames = np.stack([np.roll(base, i) for i in range(f)])
    return frames.reshape(f, height, width, channels)


# ---------------------------------------------------------------------------
# Feature extraction: mapInPandas — Arrow batches in, narrow features out.
# ---------------------------------------------------------------------------

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256_hex", T.StringType()),
        T.StructField("byte_entropy", T.DoubleType()),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)


def extract_features(media: DataFrame) -> DataFrame:
    """Byte-level features per asset via ``mapInPandas``.

    One pass over the scan partitioning (narrow — no shuffle); payloads
    die inside the stage, only ~60 B of features per asset survive.

    The generator is self-contained (its own imports, no references to
    this module's globals) so cloudpickle ships it by value — workers
    never need this package importable on their ``sys.path``.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        def entropy(buf: bytes) -> float:
            if not buf:
                return 0.0
            counts = _np.bincount(_np.frombuffer(buf, dtype=_np.uint8), minlength=256)
            p = counts[counts > 0] / len(buf)
            return float(-(p * _np.log2(p)).sum())

        for pdf in batches:
            n_bytes, sha, ent, mean = [], [], [], []
            for b in pdf["payload"]:
                b = b or b""
                n_bytes.append(len(b))
                sha.append(_hashlib.sha256(b).hexdigest())
                ent.append(entropy(b))
                arr = _np.frombuffer(b if b else b"\x00", _np.uint8)
                mean.append(float(arr.mean()))
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": _pd.Series(n_bytes, dtype="int64"),
                    "sha256_hex": sha,
                    "byte_entropy": ent,
                    "mean_byte": mean,
                }
            )

    return media.mapInPandas(gen, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Resize / frame-sample: decode-dependent stages over the fake decoder.
# ---------------------------------------------------------------------------

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),  # raw HxWxC uint8 buffer
    ]
)


def resize_images(media: DataFrame, out_width: int, out_height: int) -> DataFrame:
    """Nearest-neighbor resize of image assets to a fixed size.

    Real PPM/PGM and 24-bit-BMP payloads decode for real (numpy header
    parsing, same logic as ``decode_ppm``/``decode_bmp``); any other
    payload falls back to the deterministic byte-tile stand-in shaped by
    the metadata (no wider codecs in this container). Output is the raw
    pixel buffer, again an opaque binary column.
    """

    out_cols = [f.name for f in RESIZED_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained for cloudpickle-by-value (see extract_features)
        import numpy as _np
        import pandas as _pd

        def try_real(b: bytes):
            # magic-sniffed real decode; any parse failure (e.g. a text
            # payload that happens to start with "BM") returns None and
            # the caller falls back to the deterministic stand-in
            try:
                if b[:2] in (b"P6", b"P5"):  # real PPM/PGM
                    pos, fields = 2, []
                    while len(fields) < 3:
                        while b[pos : pos + 1].isspace():
                            pos += 1
                        if b[pos : pos + 1] == b"#":
                            while b[pos : pos + 1] != b"\n":
                                pos += 1
                            continue
                        start = pos
                        while not b[pos : pos + 1].isspace():
                            pos += 1
                        fields.append(int(b[start:pos]))
                    pos += 1
                    w, h, maxval = fields
                    ch = 3 if b[:2] == b"P6" else 1
                    if not (0 < w and 0 < h and maxval <= 255):
                        return None
                    if len(b) < pos + w * h * ch:
                        return None
                    img = _np.frombuffer(
                        b, dtype=_np.uint8, count=w * h * ch, offset=pos
                    ).reshape((h, w, ch) if ch == 3 else (h, w))
                    if ch == 1:
                        img = _np.repeat(img[:, :, None], 3, axis=2)
                    return img
                if b[:2] == b"BM":  # real 24-bit bottom-up BMP
                    bpp = int.from_bytes(b[28:30], "little")
                    comp = int.from_bytes(b[30:34], "little")
                    if bpp != 24 or comp != 0:
                        return None
                    off = int.from_bytes(b[10:14], "little")
                    w = int.from_bytes(b[18:22], "little", signed=True)
                    h = int.from_bytes(b[22:26], "little", signed=True)
                    top_down, h = h < 0, abs(h)
                    stride = (w * 3 + 3) & ~3
                    if not (0 < w and 0 < h) or len(b) < off + stride * h:
                        return None
                    img = (
                        _np.frombuffer(
                            b, dtype=_np.uint8, count=stride * h, offset=off
                        )
                        .reshape(h, stride)[:, : w * 3]
                        .reshape(h, w, 3)[:, :, ::-1]
                    )
                    return img if top_down else img[::-1]
            except (ValueError, IndexError):
                return None
            return None

        def decode(payload: bytes, width: int, height: int, channels: int = 3):
            b = bytes(payload) if payload else b""
            real = try_real(b)
            if real is not None:
                return real
            need = max(width * height * channels, 1)
            buf = (
                _np.frombuffer(b, dtype=_np.uint8)
                if b
                else _np.zeros(1, _np.uint8)
            )
            return _np.resize(buf, need).reshape(height, width, channels)

        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for _, r in pdf.iterrows():
                md = r["metadata"]
                w = int(md["width"] or 1)
                h = int(md["height"] or 1)
                img = decode(r["payload"], w, h)
                h, w = img.shape[:2]  # real decodes override metadata dims
                yi = _np.minimum((_np.arange(out_height) * h) // out_height, h - 1)
                xi = _np.minimum((_np.arange(out_width) * w) // out_width, w - 1)
                out = img[yi][:, xi]
                rows.append(
                    {
                        "media_id": r["media_id"],
                        "out_width": out_width,
                        "out_height": out_height,
                        "pixels": out.tobytes(),
                    }
                )
            yield _pd.DataFrame(rows, columns=out_cols)

    return media.filter(F.col("kind") == "image").mapInPandas(gen, schema=RESIZED_SCHEMA)


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
    ]
)


def extract_audio_stats(media: DataFrame) -> DataFrame:
    """Waveform-level stats of audio assets (duration, RMS, peak) via
    ``mapInPandas``. RIFF/WAV payloads decode for real (stdlib ``wave``,
    8/16/32-bit PCM, same logic as ``decode_wav``); other payloads use
    the deterministic byte-tile stand-in shaped by the metadata.

    Narrow stage: payloads decode and die inside the task; ~40 B of
    stats per asset survive. Self-contained closure (cloudpickle by
    value), like every stage in this module.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def decode_audio(payload: bytes, n_samples: int):
            b = bytes(payload) if payload else b""
            if b[:4] == b"RIFF":  # real WAV via stdlib
                try:
                    import io as _io
                    import wave as _wave

                    with _wave.open(_io.BytesIO(b), "rb") as wv:
                        width = wv.getsampwidth()
                        rate = wv.getframerate()
                        raw = wv.readframes(wv.getnframes())
                    if width == 1:
                        x = (
                            _np.frombuffer(raw, dtype=_np.uint8).astype(_np.float32)
                            - 128.0
                        ) / 128.0
                    elif width == 2:
                        x = (
                            _np.frombuffer(raw, dtype="<i2").astype(_np.float32)
                            / 32768.0
                        )
                    else:
                        x = (
                            _np.frombuffer(raw, dtype="<i4").astype(_np.float32)
                            / 2147483648.0
                        )
                    return x.astype(_np.float32), len(x), rate
                except Exception:
                    pass  # not a parseable WAV: deterministic stand-in below
            need = max(int(n_samples), 1)
            buf = (
                _np.frombuffer(b, dtype=_np.uint8) if b else _np.zeros(1, _np.uint8)
            )
            tiled = _np.resize(buf, need).astype(_np.float32)
            return ((tiled - 127.5) / 127.5).astype(_np.float32), int(n_samples), None

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                md = r["metadata"]
                n = int(md["n_samples"] or 0)
                rate = int(md["sample_rate"] or 1)
                wave, n, real_rate = decode_audio(r["payload"], n)
                rate = real_rate or rate
                rows.append(
                    {
                        "media_id": r["media_id"],
                        "n_samples": n,
                        "duration_s": n / rate,
                        "rms": float(_np.sqrt((wave.astype(_np.float64) ** 2).mean())),
                        "peak": float(_np.abs(wave).max()),
                    }
                )
            yield _pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_STATS_SCHEMA.fields]
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(
        gen, schema=AUDIO_STATS_SCHEMA
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.LongType()),
        T.StructField("frame_checksum", T.StringType()),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 24) -> DataFrame:
    """Sample every ``every_n``-th frame index of video assets.

    Fan-out happens JVM-side with ``sequence``+``explode`` so the
    payload is not replicated per frame; the per-frame stage is a
    pandas_udf over (payload, index). Real uncompressed-AVI payloads
    are seek-decoded — the container index is parsed once and ONLY the
    sampled frame's chunk is materialized, so per-row work is bounded
    by one frame, not the whole video — and the checksum is the md5 of
    that frame's RGB pixels. Non-AVI payloads (no codec available) get
    the deterministic payload-window stand-in hash.
    """
    frames = (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            "payload",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("metadata.n_frames") - 1, F.lit(0)),
                    F.lit(every_n),
                )
            ).alias("frame_index"),
        )
    )

    @F.pandas_udf(T.StringType())
    def frame_checksum(payload: pd.Series, idx: pd.Series) -> pd.Series:
        # self-contained (own imports) so cloudpickle ships it by value
        import hashlib as _hashlib

        from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.multimodal import (
            _decode_dib_frame,
            parse_avi,
        )

        avi_cache: dict[str, tuple] = {}

        def one(b: bytes | None, i: int) -> str:
            b = bytes(b) if b else b""
            if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
                # full-payload digest as the cache key: a truncated
                # head/tail fingerprint can collide across distinct AVIs
                # with equal size and identical header/trailing bytes,
                # silently reusing the wrong chunk offsets
                key = _hashlib.md5(b).hexdigest()
                if key not in avi_cache:
                    avi_cache[key] = parse_avi(b)
                w, h, _fps, chunks = avi_cache[key]
                if i < len(chunks):
                    img = _decode_dib_frame(b, chunks[i][0], w, h)
                    return _hashlib.md5(img.tobytes()).hexdigest()
            lo = (i * 37) % max(len(b), 1)
            return _hashlib.md5(b[lo : lo + 64] + str(i).encode()).hexdigest()

        return pd.Series([one(b, i) for b, i in zip(payload, idx)])

    return frames.select(
        "media_id",
        "frame_index",
        frame_checksum("payload", "frame_index").alias("frame_checksum"),
    )
