"""Multimodal columns: image/audio/video as opaque ``binary`` + typed metadata.

The Spark-side plumbing (schemas, mapInPandas batch shape, partitioning,
metadata structs) is real and tested everywhere. Codecs are split by what
pure stdlib can genuinely decode:

- **real**: PNG (ops/png.py — zlib + filter reconstruction) and RIFF/WAVE
  audio containers (`parse_wav`); the image/audio ops sniff these and run
  on decoded bytes;
- **header-real**: JPEG (SOF marker walk), GIF and BMP dimensions/
  components come from genuine container headers (ops/png.image_meta);
  only their PIXEL decode stays out;
- **fake**: video/compressed-audio pixel+sample payloads remain the
  deterministic ``FIMG``/``FVID``/``FAUD`` formats below — swapping a
  real codec (PIL/ffmpeg) in is a one-function change at the marked seam
  (`_decode_real`).

Every op's output is independently derivable from ``doc_id`` alone, so the
DuckDB oracle cross-checks the binary round-trip without itself parsing
binaries.

Fake formats (big-endian):
  image: b"FIMG" w:int32 h:int32 c:uint8 payload[w*h*c] (constant byte v)
  video: b"FVID" nframes:int32 fw:int32 fh:int32 frames (each one FIMG payload-less: constant byte per frame)
  audio: b"FAUD" rate:int32 nsamples:int32 payload[nsamples] (constant byte)
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .corpus import read_docs
from .mp4 import build_mp4 as _build_mp4
from .mp4 import build_mp4_pcm as _build_mp4_pcm

# deterministic per-doc parameters (the oracle recomputes these in SQL)
def _img_params(doc_id: int) -> tuple[int, int, int, int]:
    w = 16 + doc_id % 32
    h = 8 + doc_id % 16
    c = 1 + doc_id % 3
    v = doc_id % 251
    return w, h, c, v


def _vid_params(doc_id: int) -> tuple[int, int, int]:
    nframes = 4 + doc_id % 12
    fw = 8 + doc_id % 8
    fh = 8 + (doc_id // 2) % 8
    return nframes, fw, fh


def _aud_params(doc_id: int) -> tuple[int, int]:
    rate = 8000 + (doc_id % 3) * 4000
    nsamples = 1000 + (doc_id % 97) * 100
    return rate, nsamples


def make_image(doc_id: int) -> bytes:
    w, h, c, v = _img_params(doc_id)
    return b"FIMG" + struct.pack(">iiB", w, h, c) + bytes([v]) * (w * h * c)


def make_video(doc_id: int) -> bytes:
    nframes, fw, fh = _vid_params(doc_id)
    frames = b"".join(bytes([(doc_id + k) % 256]) * (fw * fh) for k in range(nframes))
    return b"FVID" + struct.pack(">iii", nframes, fw, fh) + frames


def make_video_gif(doc_id: int) -> bytes:
    """REAL animated GIF (ops/gif.py: LZW-compressed frames, grayscale
    GCT) carrying the SAME deterministic pixel law as the FVID fake — the
    frame-sampling oracle is format-independent."""
    from .gif import encode_gif

    nframes, fw, fh = _vid_params(doc_id)
    frames = [
        bytes([(doc_id + k) % 256]) * (fw * fh) for k in range(nframes)
    ]
    return encode_gif(frames, fw, fh)


def make_video_apng(doc_id: int) -> bytes:
    """REAL APNG (ops/apng.py: acTL/fcTL/fdAT, zlib-compressed frames)
    carrying the SAME deterministic pixel law as FVID and the GIF twin —
    the frame-sampling oracle is format-independent."""
    from .apng import encode_apng

    nframes, fw, fh = _vid_params(doc_id)
    frames = [
        bytes([(doc_id + k) % 256]) * (fw * fh) for k in range(nframes)
    ]
    return encode_apng(frames, fw, fh)


def make_png(doc_id: int) -> bytes:
    """REAL PNG (ops/png.py encoder): greyscale gradient, row-constant —
    pixel(x, y) = (doc_id + x) % 256, so mean/min/max are SQL-derivable."""
    from .png import encode_png

    w, h, _c, _v = _img_params(doc_id)
    row = bytes((doc_id + x) % 256 for x in range(w))
    return encode_png(w, h, 1, row * h, filter_type=doc_id % 5)


def make_audio(doc_id: int) -> bytes:
    rate, nsamples = _aud_params(doc_id)
    return b"FAUD" + struct.pack(">ii", rate, nsamples) + bytes([doc_id % 256]) * nsamples


def make_jpeg(doc_id: int) -> bytes:
    """REAL baseline JPEG (ops/jpeg.py encoder): grayscale, unit quant
    tables, 8x8-block-constant pixels — the one configuration where JPEG
    round-trips BIT-EXACTLY, so the decode oracle can predict every pixel:
    px(x, y) = (doc_id + 16 * (x // 8)) % 256."""
    from .jpeg import encode_gray

    w, h, _c, _v = _img_params(doc_id)
    px = bytes(
        (doc_id + 16 * (x // 8)) % 256 for _y in range(h) for x in range(w)
    )
    return encode_gray(px, w, h)


def make_tiff(doc_id: int) -> bytes:
    """REAL multi-page TIFF (ops/tiff.py encoder): grayscale Deflate
    strips with horizontal Predictor 2, n_pages = 1 + doc_id % 3,
    page p pixel law px(x, y) = (doc_id + x + y + 128 * p) % 256 —
    varies along BOTH axes so a wrong predictor undo shifts every row."""
    from .tiff import encode_tiff_gray

    w, h, _c, _v = _img_params(doc_id)
    npages = 1 + doc_id % 3
    pages = [
        bytes(
            (doc_id + x + y + 128 * p) % 256
            for y in range(h)
            for x in range(w)
        )
        for p in range(npages)
    ]
    return encode_tiff_gray(pages, w, h, compression="deflate", predictor=2)


def make_jpeg_header(doc_id: int) -> bytes:
    """Minimal REAL JPEG container (SOI + JFIF APP0 + SOF0 + EOI): the
    frame header carries genuine dimensions/components, which is exactly
    what header-level metadata extraction reads. No entropy-coded scan —
    pixel decode stays behind the codec seam."""
    w, h, _c, _v = _img_params(doc_id)
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">HBHHB", 8 + 3 * 3, 8, h, w, 3)
        + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def make_gif_header(doc_id: int) -> bytes:
    w, h, _c, _v = _img_params(doc_id)
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00\x3b"


def make_bmp_header(doc_id: int) -> bytes:
    w, h, _c, _v = _img_params(doc_id)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, 0, 0, 0, 0, 0)
    return b"BM" + struct.pack("<IHHI", 54, 0, 0, 54) + info


def make_webp_header(doc_id: int) -> bytes:
    """Minimal REAL WebP container (RIFF + VP8L chunk): the lossless
    signature byte plus the LSB-first packed 14-bit dims and alpha flag —
    genuine header-level metadata without a VP8 entropy codec.
    alpha (→ 4 channels) iff doc_id is odd."""
    w, h, _c, _v = _img_params(doc_id)
    bits = (w - 1) | ((h - 1) << 14) | ((doc_id % 2) << 28)
    payload = b"\x2f" + bits.to_bytes(4, "little")
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload + b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def make_wav(doc_id: int) -> bytes:
    """REAL RIFF/WAVE container (PCM16 mono): canonical 44-byte header +
    deterministic ramp samples — no codec library involved, WAV headers are
    plain struct fields."""
    rate, nsamples = _aud_params(doc_id)
    payload = b"".join(
        struct.pack("<h", ((doc_id * 7 + i) % 2001) - 1000)
        for i in range(nsamples)
    )
    data_size = len(payload)
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + data_size)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", data_size)
    )
    return hdr + payload


def parse_wav(blob: bytes):
    """→ (rate, channels, bits, n_samples). Walks RIFF chunks; raises on a
    non-WAV or truncated container."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    rate = channels = bits = None
    data_size = None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        (size,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            _fmt, channels, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
        elif cid == b"data":
            data_size = len(body)
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data_size is None:
        raise ValueError("missing fmt/data chunk")
    n_samples = data_size // (channels * (bits // 8))
    return rate, channels, bits, n_samples


def _decode_real(blob: bytes):
    """Real-codec seam. PNG (ops/png.py), animated GIF (ops/gif.py) and
    baseline JPEG (ops/jpeg.py) are fully implemented from-scratch
    codecs; ffmpeg-class video/audio formats still raise until a codec
    exists in the environment."""
    from .png import decode_png, is_png

    if is_png(blob):
        return decode_png(blob)
    if blob[:6] in (b"GIF89a", b"GIF87a"):
        from .gif import decode_gif

        w, h, frames, _gct = decode_gif(blob)
        return w, h, 1, frames[0] if frames else b""
    if blob[:2] == b"\xff\xd8":
        from .jpeg import decode as decode_jpeg

        return decode_jpeg(blob)
    if blob[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import decode_tiff

        return decode_tiff(blob, page=0)
    raise NotImplementedError(
        "only PNG/GIF/baseline-JPEG/TIFF have real codecs in this env"
    )


# ---------------------------------------------------------------- synthesis
def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, image binary, video binary, audio binary)."""
    docs = read_docs(spark, sf_dir, "doc_id")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = [int(i) for i in b["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "image": [make_image(i) for i in ids],
                    "png": [make_png(i) for i in ids],
                    "video": [make_video(i) for i in ids],
                    "gif_video": [make_video_gif(i) for i in ids],
                    "apng_video": [make_video_apng(i) for i in ids],
                    "audio": [make_audio(i) for i in ids],
                    "wav": [make_wav(i) for i in ids],
                    "jpeg": [make_jpeg_header(i) for i in ids],
                    "jpeg_full": [make_jpeg(i) for i in ids],
                    "tiff": [make_tiff(i) for i in ids],
                    "gif": [make_gif_header(i) for i in ids],
                    "bmp": [make_bmp_header(i) for i in ids],
                    "webp": [make_webp_header(i) for i in ids],
                    "mp4": [_build_mp4(i) for i in ids],
                    "mp4_pcm": [_build_mp4_pcm(i) for i in ids],
                }
            )

    return docs.mapInPandas(
        build,
        schema=(
            "doc_id long, image binary, png binary, video binary, "
            "gif_video binary, apng_video binary, audio binary, "
            "wav binary, jpeg binary, jpeg_full binary, tiff binary, "
            "gif binary, bmp binary, webp binary, mp4 binary, "
            "mp4_pcm binary"
        ),
    )


# ------------------------------------------------------------------ decode ops
def decode_image_meta(media: DataFrame, col: str = "image") -> DataFrame:
    """binary → typed metadata struct (format-sniff + header parse/decode).
    Dual-format: real PNG (ops/png.py) or the fake FIMG container —
    ``n_bytes`` is the DECODED payload size either way."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b[col]):
                blob = bytes(blob)
                if blob[:4] == b"FIMG":
                    w, h, c = struct.unpack(">iiB", blob[4:13])
                    rows.append((int(doc_id), w, h, c, len(blob) - 13))
                else:
                    try:
                        w, h, c, payload = _decode_real(blob)
                        rows.append((int(doc_id), w, h, c, len(payload)))
                    except Exception:
                        rows.append((int(doc_id), None, None, None, None))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "channels", "n_bytes"]
            )

    return media.select("doc_id", col).mapInPandas(
        run, schema="doc_id long, width int, height int, channels int, n_bytes long"
    )


def image_features(media: DataFrame, col: str = "image") -> DataFrame:
    """Payload statistics (mean/min/max pixel) — the feature-extract stage.
    PNG inputs are genuinely decoded (unfiltered pixels), FIMG reads raw."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b[col]):
                blob = bytes(blob)
                # per-row containment, mirroring decode_image_meta: one
                # corrupt/unsupported blob yields a null-stats row instead
                # of failing the whole Spark task (ADVICE r4)
                try:
                    if blob[:4] == b"FIMG":
                        payload = blob[13:]
                    else:
                        _w, _h, _c, payload = _decode_real(blob)
                    arr = np.frombuffer(payload, dtype=np.uint8)
                    if arr.size == 0:
                        raise ValueError("empty payload")
                    rows.append(
                        (
                            int(doc_id),
                            float(arr.mean()),
                            int(arr.min()),
                            int(arr.max()),
                        )
                    )
                except Exception:
                    rows.append((int(doc_id), None, None, None))
            yield pd.DataFrame(rows, columns=["doc_id", "mean_px", "min_px", "max_px"])

    return media.select("doc_id", col).mapInPandas(
        run, schema="doc_id long, mean_px double, min_px int, max_px int"
    )


def resize_image(
    media: DataFrame, factor: int = 2, col: str = "image"
) -> DataFrame:
    """Downsample by integer factor. PNG inputs get a REAL nearest-neighbor
    resample (decode → stride-sample → re-encode, ops/png.py) with the
    resized PNG returned in ``resized``; FIMG keeps the constant-payload
    fake. ``mean_px`` is the resampled pixel mean (value-oracle-able, unlike
    the compressor-dependent encoded length)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .png import decode_png, encode_png, is_png

        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b[col]):
                blob = bytes(blob)
                if is_png(blob):
                    w, h, c, payload = decode_png(blob)
                    nw, nh = max(w // factor, 1), max(h // factor, 1)
                    arr = np.frombuffer(payload, dtype=np.uint8).reshape(h, w, c)
                    small = arr[::factor, ::factor][:nh, :nw]
                    resized = encode_png(nw, nh, c, small.tobytes())
                    mean_px = float(small.mean())
                else:
                    w, h, c = struct.unpack(">iiB", blob[4:13])
                    nw, nh = max(w // factor, 1), max(h // factor, 1)
                    payload = blob[13:14] * (nw * nh * c) if len(blob) > 13 else b""
                    resized = b"FIMG" + struct.pack(">iiB", nw, nh, c) + payload
                    mean_px = float(payload[0]) if payload else None
                rows.append((int(doc_id), nw, nh, mean_px, resized))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "mean_px", "resized"]
            )

    return media.select("doc_id", col).mapInPandas(
        run,
        schema=(
            "doc_id long, width int, height int, mean_px double, "
            "resized binary"
        ),
    )


def sample_frames(
    media: DataFrame, every_k: int = 2, col: str = "video"
) -> DataFrame:
    """Video frame sampling: one output row per kept frame (fan-out op —
    the mapInPandas yields more rows than it receives). Tri-format:
    REAL animated GIF (ops/gif.py LZW decode), REAL APNG (ops/apng.py
    zlib frame decode) or the FVID fake — same output law either way."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b[col]):
                blob = bytes(blob)
                if blob[:6] in (b"GIF89a", b"GIF87a"):
                    from .gif import decode_gif

                    _w, _h, frames, _gct = decode_gif(blob)
                    for k in range(0, len(frames), every_k):
                        f = frames[k]
                        rows.append(
                            (int(doc_id), k, len(f), f[0] if f else None)
                        )
                    continue
                if blob[:8] == b"\x89PNG\r\n\x1a\n":
                    from .apng import decode_apng

                    _w, _h, _c, frames = decode_apng(blob)
                    for k in range(0, len(frames), every_k):
                        f = frames[k]
                        rows.append(
                            (int(doc_id), k, len(f), f[0] if f else None)
                        )
                    continue
                if blob[:4] != b"FVID":
                    continue
                nframes, fw, fh = struct.unpack(">iii", blob[4:16])
                fsize = fw * fh
                for k in range(0, nframes, every_k):
                    frame = blob[16 + k * fsize : 16 + (k + 1) * fsize]
                    rows.append((int(doc_id), k, len(frame), frame[0] if frame else None))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_bytes", "first_px"]
            )

    return media.select("doc_id", col).mapInPandas(
        run, schema="doc_id long, frame_idx int, frame_bytes long, first_px int"
    )


def audio_features(media: DataFrame, col: str = "wav") -> DataFrame:
    """PCM16 sample statistics over genuinely decoded RIFF/WAVE payloads
    (the audio feature-extract stage): signed mean, absolute peak, RMS —
    all numpy-vectorized over the Arrow batch, never per-sample Python."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b[col]):
                blob = bytes(blob)
                _rate, _ch, bits, n = parse_wav(blob)
                if bits != 16:
                    rows.append((int(doc_id), None, None, None))
                    continue
                # chunk walk for the data payload offset (a bare rfind
                # could match b"data" inside the sample bytes)
                pos, data_at = 12, None
                while pos + 8 <= len(blob):
                    (size,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
                    if blob[pos : pos + 4] == b"data":
                        data_at = pos + 8
                        break
                    pos += 8 + size + (size & 1)
                samples = np.frombuffer(
                    blob, dtype="<i2", offset=data_at, count=n
                ).astype(np.float64)
                rows.append(
                    (
                        int(doc_id),
                        float(samples.mean()),
                        int(np.abs(samples).max()),
                        round(float(np.sqrt((samples**2).mean())), 6),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "mean_amp", "peak", "rms"]
            )

    return media.select("doc_id", col).mapInPandas(
        run,
        schema="doc_id long, mean_amp double, peak int, rms double",
    )


def tiff_pages(media: DataFrame, col: str = "tiff") -> DataFrame:
    """Multi-page TIFF fan-out: one row per decoded page (the multimodal
    analog of the reference's page-per-image conversion loop) with the
    page's pixel mean — every value rides through ops/tiff.py strip
    decode + predictor undo."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .tiff import decode_tiff, tiff_meta

        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b[col]):
                blob = bytes(blob)
                try:
                    n_pages, _w, _h, _spp = tiff_meta(blob)
                except ValueError:
                    continue
                for p in range(n_pages):
                    w, h, c, px = decode_tiff(blob, page=p)
                    arr = np.frombuffer(px, dtype=np.uint8)
                    rows.append(
                        (int(doc_id), p, w, h, c, float(arr.mean()))
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "page", "width", "height", "channels", "mean_px",
                ],
            )

    return media.select("doc_id", col).mapInPandas(
        run,
        schema=(
            "doc_id long, page int, width int, height int, channels int, "
            "mean_px double"
        ),
    )


def audio_meta(media: DataFrame, col: str = "audio") -> DataFrame:
    """Audio header decode → duration. Dual-format: real RIFF/WAVE
    containers (parse_wav) or the FAUD fake."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b[col]):
                blob = bytes(blob)
                if blob[:4] == b"RIFF":
                    rate, _ch, _bits, nsamples = parse_wav(blob)
                else:
                    rate, nsamples = struct.unpack(">ii", blob[4:12])
                rows.append(
                    (int(doc_id), rate, nsamples, round(nsamples * 1000.0 / rate, 4))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "rate", "n_samples", "duration_ms"])

    return media.select("doc_id", col).mapInPandas(
        run, schema="doc_id long, rate int, n_samples int, duration_ms double"
    )


def mp4_meta(media: DataFrame, col: str = "mp4") -> DataFrame:
    """ISO-BMFF container metadata (ops/mp4.parse_mp4): ftyp brand, mvhd
    timescale → duration, max trak tkhd dims, track count. Real box walk
    over real container bytes; sample decode stays behind the codec seam."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .mp4 import parse_mp4

        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b[col]):
                m = parse_mp4(bytes(blob))
                rows.append(
                    (
                        int(doc_id),
                        m["brand"],
                        m["duration_ms"],
                        m["width"],
                        m["height"],
                        m["n_tracks"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "brand", "duration_ms", "width", "height", "n_tracks"
                ],
            )

    return media.select("doc_id", col).mapInPandas(
        run,
        schema=(
            "doc_id long, brand string, duration_ms long, width int, "
            "height int, n_tracks int"
        ),
    )


def sniff_image_meta(media: DataFrame, col: str) -> DataFrame:
    """Header-only metadata for real raster containers (ops/png.image_meta:
    PNG IHDR, JPEG SOF marker walk, GIF screen descriptor, BMP info
    header) → (doc_id, format, width, height, channels)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .png import image_meta

        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b[col]):
                try:
                    fmt, w, h, c = image_meta(bytes(blob))
                    rows.append((int(doc_id), fmt, w, h, c))
                except Exception:
                    rows.append((int(doc_id), None, None, None, None))
            yield pd.DataFrame(
                rows, columns=["doc_id", "format", "width", "height", "channels"]
            )

    return media.select("doc_id", col).mapInPandas(
        run,
        schema="doc_id long, format string, width int, height int, channels int",
    )


def mp4_audio_features(media: DataFrame, col: str = "mp4_pcm") -> DataFrame:
    """PCM16 statistics decoded from ISO-BMFF sample tables (ops/mp4.py
    extract_pcm_mp4: 'twos'/'sowt' stsd entries, stsc/stsz/stco chunk
    walk) — REAL in-container sample decode for uncompressed audio
    tracks; compressed codecs (avc1/mp4a) stay behind the documented
    seam and surface as null rows, never task failures."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .mp4 import extract_pcm_mp4

        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b[col]):
                try:
                    r = extract_pcm_mp4(bytes(blob))
                    samples = np.frombuffer(r["samples"], dtype=np.int16).astype(
                        np.float64
                    )
                    rows.append(
                        (
                            int(doc_id),
                            int(r["rate"]),
                            int(r["n_samples"]),
                            float(samples.mean()),
                            int(np.abs(samples).max()),
                            round(float(np.sqrt((samples**2).mean())), 6),
                        )
                    )
                except Exception:
                    rows.append((int(doc_id), None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "rate", "n_samples", "mean_amp", "peak", "rms"
                ],
            )

    return media.select("doc_id", col).mapInPandas(
        run,
        schema=(
            "doc_id long, rate int, n_samples int, mean_amp double,"
            " peak int, rms double"
        ),
    )
