"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design: image/audio/video payloads are `binary` columns riding next to
typed metadata columns; heavy per-item work (decode, resize, frame
sampling, feature extraction) runs in Arrow-batched `mapInPandas` so a
100 TB corpus streams through Python in columnar batches, one partition
per task, without ever collecting to the driver.

Codec status (honesty boundary, closed for images in round 7):
- REAL with no codec library: RIFF/WAVE PCM16 (`audio_fingerprint`),
  binary PPM P6 and BMP (`parse_ppm`, `parse_bmp`),
  compressed-image METADATA — `decode_image_meta(codec='header')`
  parses actual PNG/JPEG/GIF headers (`sniff_image_meta`) — full
  PNG PIXEL decode/encode (`parse_png`/`png_from_array`: zlib IDAT +
  all five scanline filters, stdlib+numpy),
  animated-GIF frame extraction (`parse_gif`, stdlib LZW, behind
  `decode_frames(codec='gif')`), and BASELINE JPEG pixel
  decode/encode (operators/jpeg.py: Huffman + DCT are pure
  arithmetic — `parse_jpeg` handles baseline SOF0/SOF1 AND
  progressive SOF2, any chroma subsampling, restart markers;
  `jpeg_from_array` encodes with Annex-K tables).
  `resize_images(codec='auto')` dispatches PNG/PPM/BMP/GIF/JPEG
  through these stdlib codecs.
- REAL behind an optional dependency: exotic JPEG modes (arithmetic
  coding, CMYK, 12-bit) and every other Pillow-readable format fall
  through to Pillow when it is importable (`codec='pil'` forces that
  path; `codec='auto'` falls back per payload); without Pillow they
  raise naming the feature.
- REAL video, stdlib-only: Motion-JPEG in RIFF/AVI —
  `parse_avi_mjpeg`/`avi_from_jpeg_frames` walk/write the RIFF chunk
  tree and every frame is a complete JPEG, decoded behind
  `decode_frames(codec='mjpeg')`.
- STUBBED: inter-frame video codecs (`decode_frames(codec='real')`,
  H.264 and friends) — no av library ships anywhere we target, and a
  from-scratch H.264 is out of scope, so it stays a loud
  NotImplementedError (parse_avi_mjpeg likewise refuses AVIs whose
  video stream is not MJPG, naming the compression it found).
The Spark-side contract — schemas, batch iteration, partitioning — is
identical across all modes and tested (tests/test_multimodal.py).

Worker-pickling note: `image_phash` inlines its PPM parser so its
closure ships by value (it must run even where mie_spark is not
importable on python workers); the PNG/GIF codecs instead reference
the module-level parse functions and therefore assume the package is
on the workers' import path — the standard `spark-submit --py-files`
/ cluster-install contract every other mie_spark operator already
relies on.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Metadata schema every decoded asset carries.
ASSET_META_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("content_sha", StringType()),
    ]
)


def attach_binary_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build a multimodal-shaped table from the documents corpus: the
    utf-8 bytes stand in for an encoded media payload."""
    return df.select(
        F.col(id_col).alias("asset_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("image/fake").alias("media_type"),
    )


def sniff_image_meta(raw: bytes) -> tuple[str, int, int] | None:
    """REAL compressed-image metadata from the container header — pure
    stdlib, no codec library: PNG IHDR (big-endian dims at offset 16),
    JPEG SOFn segment walk, GIF logical-screen descriptor (little-
    endian dims at offset 6). Returns (media_type, width, height), or
    None when the payload is none of these formats. (Pixel decoding
    for all three formats is also real now — parse_png/parse_gif here,
    parse_jpeg in operators/jpeg.py — but a catalog/filter stage only
    needs this header pass.)"""
    if raw[:8] == b"\x89PNG\r\n\x1a\n" and len(raw) >= 24:
        return (
            "image/png",
            int.from_bytes(raw[16:20], "big"),
            int.from_bytes(raw[20:24], "big"),
        )
    if raw[:3] == b"\xff\xd8\xff":
        i = 2
        while i + 9 < len(raw):
            if raw[i] != 0xFF:
                i += 1
                continue
            marker = raw[i + 1]
            if marker == 0xFF:
                i += 1  # fill byte (the spec allows 0xFF padding runs)
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            seg_len = int.from_bytes(raw[i + 2 : i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                # SOFn: [len][precision][height][width]
                return (
                    "image/jpeg",
                    int.from_bytes(raw[i + 7 : i + 9], "big"),
                    int.from_bytes(raw[i + 5 : i + 7], "big"),
                )
            i += 2 + seg_len
        return None
    if raw[:6] in (b"GIF87a", b"GIF89a") and len(raw) >= 10:
        return (
            "image/gif",
            int.from_bytes(raw[6:8], "little"),
            int.from_bytes(raw[8:10], "little"),
        )
    if raw[:2] == b"P6":
        try:  # reuse the comment/whitespace-aware PPM header parse
            w, h, _img = parse_ppm(raw)
            return ("image/x-portable-pixmap", w, h)
        except Exception:
            return None
    if raw[:2] == b"BM" and len(raw) >= 26:
        # BITMAPINFOHEADER: int32 LE width at 18, int32 LE height at 22
        # (height is SIGNED — negative means top-down row order; width
        # must be positive: parse_bmp rejects w <= 0, so the sniff
        # agrees with the decoder on validity — ADVICE r7)
        bmp_w = int.from_bytes(raw[18:22], "little", signed=True)
        if bmp_w <= 0:
            return None
        return (
            "image/bmp",
            bmp_w,
            abs(int.from_bytes(raw[22:26], "little", signed=True)),
        )
    if raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
        # frame dims live in the avih chunk (dwWidth/dwHeight at +32)
        i = raw.find(b"avih")
        if i >= 0 and i + 48 <= len(raw):
            return (
                "video/x-msvideo",
                int.from_bytes(raw[i + 40 : i + 44], "little"),
                int.from_bytes(raw[i + 44 : i + 48], "little"),
            )
        return None
    return None


def decode_image_meta(assets: DataFrame, codec: str = "fake") -> DataFrame:
    """Decode each payload into typed metadata via mapInPandas.

    codec='header' parses REAL compressed-image headers (PNG/JPEG/GIF,
    :func:`sniff_image_meta`); unrecognized payloads get media_type
    'application/octet-stream' with null dimensions instead of failing
    the batch — a 100 TB crawl always contains garbage bytes.
    codec='fake' (default, the oracle-pinned mode) derives deterministic
    dimensions from content length. Identical Arrow batch shape, output
    schema, and partition-preserving plan either way.
    """
    if codec not in ("fake", "header"):
        raise ValueError(f"codec must be 'fake' or 'header', got {codec!r}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            payloads = pdf["payload"]
            n_bytes = payloads.map(len)
            if codec == "header":
                sniffed = [sniff_image_meta(bytes(p)) for p in payloads]
                media = [s[0] if s else "application/octet-stream" for s in sniffed]
                width = pd.array(
                    [s[1] if s else None for s in sniffed], dtype="Int32"
                )
                height = pd.array(
                    [s[2] if s else None for s in sniffed], dtype="Int32"
                )
            else:
                media = pdf["media_type"]
                # deterministic fake dimensions derived from content
                width = (n_bytes % 1920 + 16).astype("int32")
                height = (n_bytes % 1080 + 16).astype("int32")
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": media,
                    "n_bytes": n_bytes,
                    "width": width,
                    "height": height,
                    "content_sha": payloads.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                }
            )

    return assets.mapInPandas(batches, schema=ASSET_META_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", BinaryType()),
    ]
)


def decode_frames(assets: DataFrame, every_n: int = 64, codec: str = "real") -> DataFrame:
    """Frame sampling: explode each payload into every_n-th 'frame'.

    codec='gif' is REAL frame extraction from a compressed container —
    animated GIFs decode via the stdlib-only LZW path (:func:`parse_gif`),
    every_n selects every n-th composited frame, and each emitted frame
    is a self-contained PNG (:func:`png_from_array`). codec='mjpeg' is
    REAL video decode — Motion-JPEG inside a RIFF/AVI container
    (:func:`parse_avi_mjpeg`): every sampled ``00dc`` frame chunk is a
    complete JPEG, decoded by the stdlib operators/jpeg.py codec and
    re-emitted as PNG. codec='real' (H.264 and friends) stays a loud
    NotImplementedError — no inter-frame video library ships anywhere
    we target. codec='fake' chunks the raw bytes deterministically,
    exercising the 1→N fan-out plan shape (mapInPandas yielding
    multiple rows per input) end-to-end.
    """
    if codec == "gif":

        def gif_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                out = {"asset_id": [], "frame_idx": [], "frame_bytes": []}
                for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                    _w, _h, frames = parse_gif(bytes(payload))
                    for i, frame in enumerate(frames[::every_n]):
                        out["asset_id"].append(asset_id)
                        out["frame_idx"].append(i)
                        out["frame_bytes"].append(png_from_array(frame))
                yield pd.DataFrame(out)

        return assets.mapInPandas(gif_batches, schema=FRAME_SCHEMA)
    if codec == "mjpeg":

        def mjpeg_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from mie_spark.operators.jpeg import parse_jpeg

            for pdf in it:
                out = {"asset_id": [], "frame_idx": [], "frame_bytes": []}
                for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                    _meta, jpegs = parse_avi_mjpeg(bytes(payload))
                    for i, frame_jpeg in enumerate(jpegs[::every_n]):
                        _w, _h, img = parse_jpeg(frame_jpeg)
                        out["asset_id"].append(asset_id)
                        out["frame_idx"].append(i)
                        out["frame_bytes"].append(png_from_array(img))
                yield pd.DataFrame(out)

        return assets.mapInPandas(mjpeg_batches, schema=FRAME_SCHEMA)
    if codec != "fake":
        raise NotImplementedError(
            "inter-frame video codecs (H.264 and friends) require "
            "libraries not present in this environment; pass "
            "codec='mjpeg' for Motion-JPEG AVI, codec='gif' for "
            "animated GIFs, or codec='fake' for the deterministic stub"
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_ids, out_idx, out_bytes = [], [], []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload)
                for i, off in enumerate(range(0, len(raw), every_n)):
                    out_ids.append(asset_id)
                    out_idx.append(i)
                    out_bytes.append(raw[off : off + every_n])
            yield pd.DataFrame(
                {"asset_id": out_ids, "frame_idx": out_idx, "frame_bytes": out_bytes}
            )

    return assets.mapInPandas(batches, schema=FRAME_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_images(
    assets: DataFrame, width: int = 224, height: int = 224, codec: str = "real"
) -> DataFrame:
    """Batch resize to a fixed (width, height) — the standard pre-
    embedding normalization step.

    codec='auto' dispatches per payload on the sniffed format: PNG,
    PPM, GIF (first composited frame) and JPEG (baseline or
    progressive) resize through the stdlib-only codecs (this module +
    operators/jpeg.py); exotic JPEG modes and anything else falls
    through to Pillow when importable, and otherwise raises naming
    the formats it could not decode — a crawl-shaped mixed-format
    batch resizes with whatever is actually available, loudly.
    codec='pil' forces
    everything through Pillow (JPEG/PNG/GIF/..., bilinear, PNG
    re-encode) — gated on Pillow being importable (checked at the
    driver so the failure is immediate, not a task-time stack trace).
    codec='fake' emits a deterministic byte payload of exactly
    width*height//8 bytes derived from the source (cycle-padded or
    truncated), so downstream batch-shape/size logic is exercised with
    realistic per-row payload sizes when no codec library is
    available. All modes re-encode output as PNG except 'fake'."""
    if codec == "auto":
        try:
            import PIL.Image  # noqa: F401

            have_pil = True
        except ImportError:
            have_pil = False

        def auto_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import io

            import numpy as np

            def nearest(img):  # noqa: ANN001, ANN202
                ys = (np.arange(height) * img.shape[0]) // height
                xs = (np.arange(width) * img.shape[1]) // width
                return img[ys][:, xs]

            for pdf in it:
                out = {"asset_id": [], "payload": [], "width": [], "height": []}
                for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                    raw = bytes(payload)
                    kind = sniff_image_meta(raw)
                    media = kind[0] if kind else None
                    if media == "image/png":
                        _w, _h, img = parse_png(raw)
                        resized = nearest(img)
                    elif media == "image/x-portable-pixmap":
                        _w, _h, img = parse_ppm(raw)
                        resized = nearest(img)
                    elif media == "image/bmp":
                        _w, _h, img = parse_bmp(raw)
                        resized = nearest(img)
                    elif media == "image/gif":
                        _w, _h, frames = parse_gif(raw)
                        resized = nearest(frames[0])
                    elif media == "image/jpeg":
                        from mie_spark.operators.jpeg import parse_jpeg

                        try:
                            _w, _h, img = parse_jpeg(raw)
                            resized = nearest(img)
                        except ValueError:
                            # exotic JPEG (arithmetic/CMYK/12-bit): Pillow
                            # if present
                            if not have_pil:
                                raise
                            from PIL import Image

                            with Image.open(io.BytesIO(raw)) as im:
                                resized = np.asarray(
                                    im.convert("RGB").resize((width, height))
                                )
                    elif have_pil:
                        from PIL import Image

                        with Image.open(io.BytesIO(raw)) as im:
                            resized = np.asarray(
                                im.convert("RGB").resize((width, height))
                            )
                    else:
                        raise NotImplementedError(
                            f"cannot decode {media or 'unrecognized'} payload "
                            f"(asset {asset_id}) without Pillow; stdlib codecs "
                            "cover png/ppm/gif/baseline-jpeg only"
                        )
                    out["asset_id"].append(asset_id)
                    out["payload"].append(png_from_array(resized))
                    out["width"].append(width)
                    out["height"].append(height)
                yield pd.DataFrame(out)

        return assets.mapInPandas(auto_batches, schema=RESIZED_SCHEMA)
    if codec == "pil":
        try:
            import PIL.Image  # noqa: F401 — driver-side availability probe
        except ImportError as exc:
            raise NotImplementedError(
                "codec='pil' requires Pillow, which is not installed; "
                "pass codec='fake' for the deterministic stub"
            ) from exc

        def pil_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import io

            from PIL import Image

            for pdf in it:
                out = []
                for payload in pdf["payload"]:
                    with Image.open(io.BytesIO(bytes(payload))) as im:
                        resized = im.resize((width, height))
                        buf = io.BytesIO()
                        resized.save(buf, format="PNG")
                        out.append(buf.getvalue())
                yield pd.DataFrame(
                    {
                        "asset_id": pdf["asset_id"],
                        "payload": out,
                        "width": width,
                        "height": height,
                    }
                )

        return assets.mapInPandas(pil_batches, schema=RESIZED_SCHEMA)
    if codec != "fake":
        raise NotImplementedError(
            "real image resize requires Pillow (codec='pil'); "
            "pass codec='fake' for the deterministic stub"
        )
    target = max(width * height // 8, 1)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for payload in pdf["payload"]:
                raw = bytes(payload) or b"\x00"
                reps = (target + len(raw) - 1) // len(raw)
                out.append((raw * reps)[:target])
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": out,
                    "width": width,
                    "height": height,
                }
            )

    return assets.mapInPandas(batches, schema=RESIZED_SCHEMA)


def extract_features(assets: DataFrame, dim: int = 16) -> DataFrame:
    """Deterministic unit-norm feature vector per payload (the embed
    step of an image/audio pipeline). Real systems swap the hash-based
    fake for a model forward pass; the output column is the same
    array<float> the vector operators (operators/vector.py) consume, so
    multimodal → features → ANN composes end-to-end today."""
    from pyspark.sql.types import ArrayType, FloatType

    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("features", ArrayType(FloatType())),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import math

        def feat(raw: bytes) -> list[float]:
            vals = []
            for i in range(dim):
                h = hashlib.blake2b(raw, digest_size=8, salt=i.to_bytes(8, "big"))
                v = int.from_bytes(h.digest(), "big") / 2**64 - 0.5
                vals.append(v)
            n = math.sqrt(sum(v * v for v in vals)) or 1.0
            return [v / n for v in vals]

        for pdf in it:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "features": [feat(bytes(p)) for p in pdf["payload"]],
                }
            )

    return assets.mapInPandas(batches, schema=schema)


AUDIO_CHUNK_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("chunk_idx", IntegerType()),
        StructField("start_ms", LongType()),
        StructField("end_ms", LongType()),
        StructField("n_samples", IntegerType()),
        StructField("rms", StringType()),
    ]
)


def chunk_audio(
    assets: DataFrame,
    sample_rate: int = 16_000,
    chunk_ms: int = 30_000,
    overlap_ms: int = 1_000,
    codec: str = "real",
) -> DataFrame:
    """Whisper-style audio windowing: each payload (treated as 16-bit
    mono PCM at sample_rate) explodes into fixed-duration chunks with
    overlap, each row carrying its time span and an RMS energy reading
    (hex-formatted so the value is exactly reproducible — no float
    hashing concerns).

    codec='real' errors loudly (no audio libs in this container);
    codec='fake' interprets the raw bytes as samples. Either way the
    Spark plan — 1→N mapInPandas fan-out keyed on time, overlap math,
    partition preservation — is the production shape: at 100 TB, chunks
    flow straight into a transcription/embedding UDF without any
    driver-side coordination.
    """
    if overlap_ms >= chunk_ms:
        # hop = chunk - overlap: zero raises range(step=0) inside the
        # executor task (opaque); negative silently yields no chunks —
        # fail loudly at the driver instead
        raise ValueError(
            f"overlap_ms ({overlap_ms}) must be < chunk_ms ({chunk_ms})"
        )
    if codec != "fake":
        raise NotImplementedError(
            "real audio decoding requires codec libraries not present in "
            "this environment; pass codec='fake' for the deterministic stub"
        )
    samples_per_chunk = sample_rate * chunk_ms // 1000
    hop = sample_rate * (chunk_ms - overlap_ms) // 1000
    # the overlap check alone doesn't save low sample rates: integer
    # truncation can still floor hop (range step=0, opaque executor
    # error) or samples_per_chunk (every asset silently yields zero
    # chunks) to 0 — validate the DERIVED quantities too
    if hop < 1 or samples_per_chunk < 1:
        raise ValueError(
            f"sample_rate={sample_rate} with chunk_ms={chunk_ms}, "
            f"overlap_ms={overlap_ms} floors to hop={hop}, "
            f"samples_per_chunk={samples_per_chunk}; both must be >= 1 "
            "sample — raise the durations or the sample rate"
        )
    bytes_per_sample = 2

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {k: [] for k in ("asset_id", "chunk_idx", "start_ms", "end_ms", "n_samples", "rms")}
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload)
                usable = len(raw) - len(raw) % bytes_per_sample
                sig = np.frombuffer(raw[:usable], dtype="<i2").astype(np.float64)
                i = 0
                for start in range(0, max(len(sig), 1), hop):
                    win = sig[start : start + samples_per_chunk]
                    if win.size == 0:
                        break
                    rms = float(np.sqrt(np.mean(win * win))) if win.size else 0.0
                    out["asset_id"].append(asset_id)
                    out["chunk_idx"].append(i)
                    out["start_ms"].append(start * 1000 // sample_rate)
                    out["end_ms"].append((start + win.size) * 1000 // sample_rate)
                    out["n_samples"].append(win.size)
                    out["rms"].append(float(rms).hex())
                    i += 1
                    if start + samples_per_chunk >= len(sig):
                        break
            yield pd.DataFrame(out)

    return assets.mapInPandas(batches, schema=AUDIO_CHUNK_SCHEMA)


# --- real codecs for uncompressed formats ------------------------------------
#
# The "no codec libraries in this container" limitation only applies to
# COMPRESSED media (JPEG/PNG/MP3/H.264). Uncompressed container formats
# parse with stdlib struct + numpy, so those decoders are REAL here:
# binary PPM (P6) and BMP. The parse functions are plain-Python
# (unit-testable without Spark); resize_images(codec='auto') and the
# pHash path run them inside Arrow-batched mapInPandas.


def parse_ppm(raw: bytes):
    """Binary PPM (P6) decoder → (width, height, HxWx3 uint8 array).
    Handles '#' comments and arbitrary whitespace in the header."""
    import numpy as np

    if not raw.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(raw):
        c = raw[i : i + 1]
        if c == b"#":
            while i < len(raw) and raw[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(raw) and not raw[j : j + 1].isspace():
                j += 1
            tokens.append(raw[i:j])
            i = j
    i += 1  # single whitespace after maxval, then raster data
    width, height, maxval = (int(t) for t in tokens)
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    pixels = np.frombuffer(raw[i : i + width * height * 3], dtype=np.uint8)
    if pixels.size != width * height * 3:
        raise ValueError("truncated PPM raster")
    return width, height, pixels.reshape(height, width, 3)


def parse_bmp(raw: bytes):
    """Uncompressed BMP (BI_RGB, 24/32-bit BITMAPINFOHEADER) decoder →
    (width, height, HxWx3 uint8 array). Handles both bottom-up
    (positive biHeight, the common case) and top-down (negative
    biHeight) row orders, and the 4-byte scanline alignment 24-bit
    rows carry. Crawl corpora still contain plenty of BMPs — this
    keeps them on the stdlib+numpy path next to PPM/PNG/GIF/JPEG."""
    import numpy as np

    if raw[:2] != b"BM" or len(raw) < 54:
        raise ValueError("not a BMP payload")
    data_off = int.from_bytes(raw[10:14], "little")
    hdr_size = int.from_bytes(raw[14:18], "little")
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    width = int.from_bytes(raw[18:22], "little", signed=True)
    height_s = int.from_bytes(raw[22:26], "little", signed=True)
    bpp = int.from_bytes(raw[28:30], "little")
    compression = int.from_bytes(raw[30:34], "little")
    if compression != 0:
        raise ValueError(f"only BI_RGB (uncompressed) BMP supported, got {compression}")
    if bpp not in (24, 32):
        raise ValueError(f"only 24/32-bit BMP supported, got {bpp}")
    if width <= 0 or height_s == 0:
        raise ValueError("degenerate BMP dimensions")
    height = abs(height_s)
    bytes_pp = bpp // 8
    stride = (width * bytes_pp + 3) & ~3  # rows pad to 4-byte boundaries
    need = data_off + stride * height
    if len(raw) < need:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(
        raw[data_off : data_off + stride * height], dtype=np.uint8
    ).reshape(height, stride)[:, : width * bytes_pp]
    img = rows.reshape(height, width, bytes_pp)[:, :, :3][:, :, ::-1]  # BGR→RGB
    if height_s > 0:  # bottom-up storage → flip to top-down
        img = img[::-1]
    return width, height, np.ascontiguousarray(img)


PHASH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("phash", LongType()),
    ]
)


def image_phash(assets: DataFrame, bits: int = 60) -> DataFrame:
    """REAL perceptual hash over binary PPM payloads → (asset_id,
    ``bits``-bit signature long), the image analog of simhash: decode →
    grayscale → 32×32 nearest-neighbor resample → 2D DCT-II → keep the
    low-frequency 8×8 block minus the DC term → threshold each
    coefficient at the median. Near-duplicate images (re-encodes, small
    edits, resizes) land within a few bits of hamming distance, so the
    SAME pigeonhole banding as text simhash
    (operators/dedup.py:simhash_candidate_pairs) finds pairs with no
    all-pairs join.

    EXACT INTEGER transform (r12 — the change that graduated the pair
    census to a hash oracle, mm_phash_hamming): grayscale is the
    channel SUM r+g+b (a uniform x3 scale — threshold-vs-median
    behavior is identical to the mean, with no division), the DCT
    basis is the FROZEN Q14 integer table (operators/phash_basis.py —
    bit-identical constants in numpy and in the DuckDB oracle's
    VALUES join, immune to libm cos() drift), both matmul stages stay
    inside int64 by construction (<= 2^48), and the threshold is the
    LOWER MEDIAN (30th order statistic of the 60 coefficients) so no
    midpoint averaging ever happens. Every stage is therefore
    replayable bit-for-bit in SQL; float64 appears nowhere.

    Default 60 bits to match the banding operator's default split
    (8 bands × 7-8 bits); the hash stays positive in a signed long, so
    arithmetic shiftright band extraction is safe.
    """
    if not 1 <= bits <= 62:
        raise ValueError("bits must be in [1, 62]")

    from mie_spark.operators.phash_basis import PHASH_BASIS_Q14

    # plain nested lists captured in the closure cell ship BY VALUE to
    # workers (unlike module-level function refs, which pickle by
    # module path — the documented worker-pickling constraint below)
    basis_rows = [list(row) for row in PHASH_BASIS_Q14]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # inlined PPM parser (duplicate of module-level parse_ppm): a
        # nested def ships by value with the closure, while any
        # reference to a module-level function — even via a closure
        # cell — pickles by module path and raises ModuleNotFoundError
        # on workers without mie_spark on their import path (the
        # ship-by-value contract the other real codecs follow)
        def _parse_ppm(raw: bytes):
            if not raw.startswith(b"P6"):
                raise ValueError("not a binary PPM (P6) payload")
            toks: list[bytes] = []
            i = 2
            while len(toks) < 3 and i < len(raw):
                c = raw[i : i + 1]
                if c == b"#":
                    while i < len(raw) and raw[i : i + 1] != b"\n":
                        i += 1
                elif c.isspace():
                    i += 1
                else:
                    j = i
                    while j < len(raw) and not raw[j : j + 1].isspace():
                        j += 1
                    toks.append(raw[i:j])
                    i = j
            i += 1
            width, height, maxval = (int(t) for t in toks)
            if maxval != 255:
                raise ValueError("only 8-bit PPM supported")
            pixels = np.frombuffer(raw[i : i + width * height * 3], dtype=np.uint8)
            if pixels.size != width * height * 3:
                raise ValueError("truncated PPM raster")
            return width, height, pixels.reshape(height, width, 3)

        n = 32
        # frozen integer DCT-II basis (phash_basis.py): exact int64
        # matmuls, bit-replayable in the mm_phash_hamming oracle
        basis = np.array(basis_rows, dtype=np.int64)

        for pdf in it:
            out_ids, out_hashes = [], []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                w, h, px = _parse_ppm(bytes(payload))
                gray3 = px.astype(np.int64).sum(axis=2)  # r+g+b, no /3
                ys = (np.arange(n) * h // n).clip(0, h - 1)
                xs = (np.arange(n) * w // n).clip(0, w - 1)
                small = gray3[ys][:, xs]
                coef = basis @ small @ basis.T  # int64 exact, <= 2^48
                flat = coef[:8, :8].ravel()[1:][:bits]  # drop DC, keep `bits`
                med = int(np.sort(flat)[(len(flat) - 1) // 2])  # lower median
                sig = 0
                for i, v in enumerate(flat):
                    if int(v) > med:
                        sig |= 1 << i
                out_ids.append(asset_id)
                out_hashes.append(sig)
            yield pd.DataFrame({"asset_id": out_ids, "phash": out_hashes})

    return assets.mapInPandas(batches, schema=PHASH_SCHEMA)


def synthetic_ppm_corpus(
    docs: DataFrame, id_col: str = "doc_id", group_size: int = 25
) -> DataFrame:
    """Deterministic image corpus for exercising the pHash pipeline
    without codec libraries: every document gets a binary PPM whose
    pixel pattern derives from its group (``id // group_size``), with a
    small per-document perturbation — so documents in the same group
    are near-duplicate images (few-bit pHash hamming) and documents in
    different groups are far apart. Pure numpy per Arrow batch; the
    payload column is a real P6 file parse_ppm accepts.

    ENGINE-PORTABLE arithmetic (r12 — replaces the original PCG64 +
    sin/cos generator so the whole pHash pipeline is replayable in the
    mm_phash_hamming SQL oracle): each group's base image is an 8x8
    MOSAIC of 6-pixel cells whose brightnesses come from the repo's
    standard md5-15 hash — 64 independent values per group (every one
    of the 60 kept DCT coefficients gets real energy, so the median
    threshold is robust and the sign bits are informative), so the
    60-bit sign-vs-median hash separates groups with effectively zero
    collision probability (the triangle-wave design this replaced had
    ~20 bits of effective hash entropy and collided pervasively at
    200 groups). The per-document perturbation is a +1..+3 brightness
    bump on a doc-positioned 8x8 block — a genuine near-dup edit that
    moves a few AC coefficients. Spec, mirrored verbatim in the
    oracle:

        g = doc_id // group_size;  d = doc_id % group_size
        H(s) = int(md5(s)[:15 hex], 16)
        base(x, y) = 28 + H(f"{g}:b{x//6}_{y//6}") % 200
        px = base + (d % 3 + 1  if  (d*7)%40 <= x < (d*7)%40+8
                                and (d*11)%40 <= y < (d*11)%40+8
                     else 0)                        (<= 230, r=g=b)
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        w = h = 48
        yy, xx = np.mgrid[0:h, 0:w]

        def md5_15(s: str) -> int:
            return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)

        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf[id_col]:
                g = int(doc_id) // group_size
                cells = np.array(
                    [
                        [28 + md5_15(f"{g}:b{cx}_{cy}") % 200 for cx in range(8)]
                        for cy in range(8)
                    ],
                    dtype=np.int64,
                )
                base = cells[yy // 6, xx // 6]
                d = int(doc_id) % group_size
                bx, by = (d * 7) % 40, (d * 11) % 40
                bump = (
                    (xx >= bx) & (xx < bx + 8) & (yy >= by) & (yy < by + 8)
                ) * (d % 3 + 1)
                img = (base + bump).astype(np.uint8)  # <= 230 by spec
                rgb = np.repeat(img[:, :, None], 3, axis=2)
                header = f"P6\n{w} {h}\n255\n".encode()
                ids.append(int(doc_id))
                payloads.append(header + rgb.tobytes())
            yield pd.DataFrame({"asset_id": ids, "payload": payloads})

    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )
    # The generator fans a whole image out of each bare id, so inherit
    # ing the source file's partitioning serializes the Python codec
    # chain behind however few splits the parquet reader produced (the
    # r12 sf1 curve read exp 1.38 purely from 50k images on 2 of 32
    # cores). Repartitioning a column of longs is ~free next to the
    # per-image work it unlocks.
    ids = docs.select(F.col(id_col)).repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    return ids.mapInPandas(batches, schema=schema)


def parse_png(raw: bytes):
    """REAL PNG decoder with NOTHING but the stdlib + numpy: IDAT
    chunks are zlib streams of filtered scanlines; this walks the chunk
    list, inflates, and reverses all five per-row filters (None / Sub /
    Up / Average / Paeth, PNG spec §9). Supports the overwhelmingly
    common web shapes — 8-bit grayscale (color type 0), RGB (2),
    palette (3, PLTE-mapped to RGB; tRNS transparency raises) and
    RGBA (6), both non-interlaced and Adam7-interlaced. 16-bit depths
    raise with the reason. Returns (width, height, H x W x channels uint8 array).

    This is the same honesty move as parse_ppm: the
    compressed-codec boundary for PNG is just DEFLATE, which Python
    ships — so pixel decode is real here with no optional dependency,
    and only JPEG pixel decode still needs Pillow (resize_images
    codec='pil')."""
    import struct
    import zlib

    import numpy as np

    if raw[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG (bad signature)")
    pos, width = 8, None
    palette = None
    idat = b""
    while pos + 8 <= len(raw):
        (length,), ctype = struct.unpack(">I", raw[pos : pos + 4]), raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth} (only 8)")
            if color not in (0, 2, 3, 6):
                raise ValueError(
                    f"unsupported PNG color type {color} "
                    "(gray/RGB/palette/RGBA only)"
                )
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace method {interlace}")
            channels = {0: 1, 2: 3, 3: 1, 6: 4}[color]
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            # for palette images transparency changes what the pixels
            # MEAN (an alpha channel we don't emit) — refuse; for
            # gray/RGB it marks one color as transparent, which is
            # presentation metadata the decoded samples don't depend on
            if color == 3:
                raise ValueError(
                    "palette PNG with tRNS transparency not supported"
                )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    if width is None or not idat:
        raise ValueError("truncated PNG (missing IHDR or IDAT)")
    if color == 3 and palette is None:
        raise ValueError("palette PNG without a PLTE chunk")
    d = zlib.decompressobj()  # tolerant of sync-flush-terminated streams
    flat = np.frombuffer(d.decompress(idat) + d.flush(), dtype=np.uint8)
    if color == 3:
        # decode the 1-byte index plane, then map through PLTE to RGB
        if interlace == 0:
            idx = _png_unfilter(flat, height, width, 1).reshape(height, width)
        else:
            idx = _parse_adam7(flat, height, width, 1)[:, :, 0]
        return width, height, palette[idx]
    if interlace == 0:
        img = _png_unfilter(flat, height, width, channels)
        return width, height, img.reshape(height, width, channels)
    return width, height, _parse_adam7(flat, height, width, channels)


def _parse_adam7(flat, height, width, channels):  # noqa: ANN001, ANN202
    """Adam7: the stream is 7 concatenated sub-images, each filtered
    independently; decoded pixels scatter onto the canvas at the
    pass's (x0, y0, dx, dy) lattice. Empty passes contribute nothing."""
    import numpy as np

    out = np.zeros((height, width, channels), dtype=np.uint8)
    pos2 = 0
    for x0, y0, dx, dy in (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ):
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        n = ph * (pw * channels + 1)
        sub = _png_unfilter(flat[pos2 : pos2 + n], ph, pw, channels)
        pos2 += n
        out[y0::dy, x0::dx] = sub.reshape(ph, pw, channels)
    if pos2 != flat.size:
        raise ValueError("PNG interlaced payload size mismatch")
    return out


def _png_unfilter(flat, height, width, channels):  # noqa: ANN001, ANN202
    """Reverse the five PNG scanline filters over one (sub-)image whose
    serialized form is `height` rows of [filter byte + width*channels
    samples]. Returns (height, width*channels) uint8."""
    import numpy as np

    stride = width * channels
    if flat.size != height * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    rows = flat.reshape(height, stride + 1)
    out = np.zeros((height, stride), dtype=np.uint8)
    bpp = channels  # bytes per pixel at depth 8
    for y in range(height):
        ftype, line = rows[y, 0], rows[y, 1:].astype(np.int32)
        up = out[y - 1].astype(np.int32) if y else np.zeros(stride, dtype=np.int32)
        cur = np.zeros(stride, dtype=np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + up) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need a left scan
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                above = up[x]
                ul = up[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + above) // 2
                else:  # Paeth
                    p = left + above - ul
                    pa, pb, pc = abs(p - left), abs(p - above), abs(p - ul)
                    pred = left if pa <= pb and pa <= pc else (above if pb <= pc else ul)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
    return out


def png_from_array(img) -> bytes:  # noqa: ANN001
    """Minimal PNG encoder (filter 0 scanlines, one zlib IDAT) for
    8-bit gray / RGB / RGBA numpy arrays — the round-trip partner of
    :func:`parse_png`, stdlib-only like it."""
    import struct
    import zlib

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color = {1: 0, 3: 2, 4: 6}[ch]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    scan = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )


def _lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """GIF-flavor LZW: variable code width starting at min_code_size+1
    (growing to 12), CLEAR resets the dictionary, END stops. Returns
    the palette-index stream."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    out: list[int] = []
    bitpos = 0

    def base_dict() -> dict[int, list[int]]:
        return {i: [i] for i in range(clear)}

    table = base_dict()
    width = min_code_size + 1
    prev: list[int] | None = None
    nbits = len(data) * 8
    while bitpos + width <= nbits:
        byte, off = divmod(bitpos, 8)
        chunk = int.from_bytes(data[byte : byte + 3], "little")
        code = (chunk >> off) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table, width, prev = base_dict(), min_code_size + 1, None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
            table[len(table) + 2] = prev + [entry[0]]
        elif code == len(table) + 2:  # the KwKwK case
            entry = prev + [prev[0]]
            table[code] = entry
        else:
            raise ValueError(f"corrupt GIF LZW stream (code {code})")
        out.extend(entry)
        prev = entry
        if len(table) + 2 >= (1 << width) and width < 12:
            width += 1
    return out


def parse_gif(raw: bytes):
    """REAL animated-GIF decoder — pure stdlib + numpy, no codec
    library (GIF's only compression is LZW, ~40 lines above): walks the
    block stream (extensions, image descriptors, local/global color
    tables), LZW-decodes each frame's index stream, and composites
    sub-rectangle frames onto the canvas honoring the transparency
    index. Non-interlaced only (the interlace flag raises). Returns
    (width, height, [H x W x 3 uint8 frame, ...]) — one composited RGB
    frame per image block, which makes `decode_frames(codec='gif')` a
    genuine frame sampler over a compressed container format."""
    import numpy as np

    if raw[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    w = int.from_bytes(raw[6:8], "little")
    h = int.from_bytes(raw[8:10], "little")
    packed = raw[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(raw[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    frames: list = []
    transparent = None
    while pos < len(raw):
        block = raw[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            label = raw[pos + 1]
            pos += 2
            if label == 0xF9 and raw[pos] >= 4:  # graphic control
                flags = raw[pos + 1]
                transparent = raw[pos + 4] if flags & 0x01 else None
            while raw[pos] != 0:  # skip sub-blocks
                pos += 1 + raw[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        left = int.from_bytes(raw[pos + 1 : pos + 3], "little")
        top = int.from_bytes(raw[pos + 3 : pos + 5], "little")
        fw = int.from_bytes(raw[pos + 5 : pos + 7], "little")
        fh = int.from_bytes(raw[pos + 7 : pos + 9], "little")
        ipacked = raw[pos + 9]
        pos += 10
        if ipacked & 0x40:
            raise ValueError("interlaced GIF not supported")
        table = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            table = np.frombuffer(raw[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if table is None:
            raise ValueError("GIF image block without any color table")
        mcs = raw[pos]
        pos += 1
        data = b""
        while raw[pos] != 0:
            ln = raw[pos]
            data += raw[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = np.array(_lzw_decode(data, mcs), dtype=np.int32)
        if idx.size != fw * fh:
            raise ValueError("GIF frame pixel count mismatch")
        idx = idx.reshape(fh, fw)
        region = canvas[top : top + fh, left : left + fw]
        if transparent is not None:
            mask = idx != transparent
            region[mask] = table[idx[mask]]
        else:
            region[:, :] = table[idx]
        frames.append(canvas.copy())
        transparent = None  # GCE applies to the next image block only
    return w, h, frames


def parse_avi_mjpeg(raw: bytes):
    """REAL video-container parse: RIFF/AVI with a Motion-JPEG video
    stream — the one true video codec that is fully decodable with the
    stdlib (every frame is a complete baseline JPEG; operators/jpeg.py
    decodes it). Walks the RIFF chunk tree (hdrl for the stream
    headers, movi for the frame chunks), verifies the video stream is
    MJPG, and returns ((width, height, fps_num, fps_den, n_frames),
    [jpeg_bytes, ...]) for the video stream's ``##dc`` chunks.

    Raises ValueError on non-AVI payloads and on AVI files whose video
    stream uses an inter-frame codec (H.264 etc.) — those need
    libraries this environment does not ship, and pretending otherwise
    would be the dishonesty this module's codec boundary exists to
    avoid."""
    import struct

    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"AVI ":
        raise ValueError("not an AVI (bad RIFF header)")

    def walk(data, pos, end):  # noqa: ANN001, ANN202
        """Yield (fourcc, list_type_or_None, body_start, body_end)."""
        while pos + 8 <= end:
            fourcc = data[pos : pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body_start = pos + 8
            body_end = min(body_start + size, end)
            if fourcc in (b"LIST", b"RIFF"):
                yield fourcc, data[body_start : body_start + 4], body_start + 4, body_end
            else:
                yield fourcc, None, body_start, body_end
            pos = body_start + size + (size & 1)  # chunks are word-aligned

    width = height = None
    rate = scale = None
    vid_stream = None
    handler_ok = False
    movi_span = None
    stream_idx = -1
    for fourcc, ltype, s, e in walk(raw, 12, len(raw)):
        if fourcc == b"LIST" and ltype == b"hdrl":
            for f2, l2, s2, e2 in walk(raw, s, e):
                if f2 == b"avih":
                    width, height = struct.unpack("<II", raw[s2 + 32 : s2 + 40])
                elif f2 == b"LIST" and l2 == b"strl":
                    stream_idx += 1
                    for f3, _l3, s3, _e3 in walk(raw, s2, e2):
                        if f3 == b"strh":
                            fcc_type = raw[s3 : s3 + 4]
                            fcc_handler = raw[s3 + 4 : s3 + 8]
                            if fcc_type == b"vids":
                                vid_stream = stream_idx
                                handler_ok = fcc_handler.upper() in (
                                    b"MJPG",
                                    b"JPEG",
                                )
                                scale, rate = struct.unpack(
                                    "<II", raw[s3 + 20 : s3 + 28]
                                )
                        elif f3 == b"strf" and stream_idx == vid_stream:
                            # BITMAPINFOHEADER: biCompression at offset 16
                            compression = raw[s3 + 16 : s3 + 20]
                            if compression.upper() not in (b"MJPG", b"JPEG"):
                                raise ValueError(
                                    "AVI video stream is "
                                    f"{compression!r}, not Motion-JPEG; "
                                    "inter-frame codecs are not decodable "
                                    "without external libraries"
                                )
        elif fourcc == b"LIST" and ltype == b"movi":
            movi_span = (s, e)
    if vid_stream is None:
        raise ValueError("AVI has no video (vids) stream")
    if not handler_ok:
        raise ValueError("AVI video stream handler is not MJPG")
    if movi_span is None:
        raise ValueError("AVI has no movi chunk list")

    want_dc = b"%02ddc" % vid_stream
    want_db = b"%02ddb" % vid_stream
    frames = []
    for fourcc, ltype, s, e in walk(raw, movi_span[0], movi_span[1]):
        if fourcc in (want_dc, want_db):
            frames.append(raw[s:e])
        elif fourcc == b"LIST" and ltype == b"rec ":
            for f2, _l2, s2, e2 in walk(raw, s, e):
                if f2 in (want_dc, want_db):
                    frames.append(raw[s2:e2])
    meta = (width, height, rate or 0, scale or 1, len(frames))
    return meta, frames


def avi_from_jpeg_frames(
    jpeg_frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Minimal Motion-JPEG AVI writer — the round-trip partner of
    :func:`parse_avi_mjpeg` (avih + one vids/MJPG strl + movi of 00dc
    chunks + idx1). Every input must already be a complete JPEG (use
    operators.jpeg.jpeg_from_array)."""
    import struct

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    n = len(jpeg_frames)
    max_bytes = max((len(f) for f in jpeg_frames), default=0)
    avih = struct.pack(
        "<14I",
        1_000_000 // max(fps, 1),  # microseconds per frame
        max_bytes * fps,  # max bytes per second
        0,  # padding granularity
        0x10,  # AVIF_HASINDEX
        n, 0, 1, max_bytes,  # total frames, initial, streams, buf size
        width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"MJPG", 0, 0, 0, 0,
        1, fps,  # scale, rate -> fps frames per second
        0, n, max_bytes, 0xFFFFFFFF, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b"movi"
    offsets = []
    for f in jpeg_frames:
        offsets.append(len(movi_body))  # offset of the 00dc fourcc within movi
        movi_body += chunk(b"00dc", f)
    movi = chunk(b"LIST", movi_body)
    idx1 = b"".join(
        b"00dc" + struct.pack("<III", 0x10, off, len(f))
        for off, f in zip(offsets, jpeg_frames)
    )
    body = b"AVI " + hdrl + movi + chunk(b"idx1", idx1)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synthetic_mjpeg_corpus(
    docs: DataFrame,
    every: int = 20,
    n_frames: int = 4,
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Deterministic Motion-JPEG AVI corpus derived from the documents
    table (one asset per doc_id divisible by ``every``): each asset is
    an AVI of ``n_frames`` JPEG frames whose pixels are a pure
    function of (doc_id, frame, x, y) — no RNG, so every digest
    downstream is pinnable. The `every` stride keeps the Python-side
    encode cost a small constant fraction of the corpus at ANY scale
    factor (the real-corpus analog is 'videos are rare next to
    text')."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mie_spark.operators.jpeg import jpeg_from_array

        for pdf in it:
            out = {"asset_id": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                if did % every:
                    continue
                yy, xx = np.mgrid[0:height, 0:width]
                frames = [
                    jpeg_from_array(
                        np.stack(
                            [
                                (xx * 7 + t * 11 + did) % 256,
                                (yy * 5 + t * 3 + did // 7) % 256,
                                ((xx + yy) * 3 + t * 17 + did // 3) % 256,
                            ],
                            -1,
                        ).astype(np.uint8),
                        quality=88,
                    )
                    for t in range(n_frames)
                ]
                out["asset_id"].append(did)
                out["payload"].append(
                    avi_from_jpeg_frames(frames, width, height, fps=10)
                )
            yield pd.DataFrame(out)

    schema = StructType(
        [StructField("asset_id", LongType()), StructField("payload", BinaryType())]
    )
    return docs.select("doc_id").mapInPandas(batches, schema=schema)


PIXEL_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("px_sum", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def synthetic_png_corpus(
    docs: DataFrame, id_col: str = "doc_id", every: int = 10
) -> DataFrame:
    """Deterministic REAL-PNG corpus whose pixel values are pure
    integer functions of the asset id — every ``every``-th document
    becomes an RGB image with

        width  = 8 + doc_id % 9      (8..16)
        height = 8 + doc_id % 7      (8..14)
        v(y, x, c) = (doc_id*31 + y*7 + x*3 + c*11) % 256

    encoded through the stdlib PNG encoder (:func:`png_from_array` —
    real zlib IDAT, real CRCs). Because the pixels are closed-form, a
    SQL oracle can recompute any integer statistic of the DECODED
    image without a codec — which is what lets an mm_* query grade
    the real encode→decode round-trip by hash instead of by digest
    pin. The ``every`` stride bounds Python-side codec cost to a
    fixed fraction of the corpus, same as synthetic_mjpeg_corpus."""
    if every < 1:
        raise ValueError(f"every must be >= 1, got {every}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                w, h = 8 + i % 9, 8 + i % 7
                v = (
                    i * 31
                    + 7 * np.arange(h, dtype=np.int64)[:, None, None]
                    + 3 * np.arange(w, dtype=np.int64)[None, :, None]
                    + 11 * np.arange(3, dtype=np.int64)[None, None, :]
                ) % 256
                ids.append(i)
                payloads.append(png_from_array(v.astype(np.uint8)))
            yield pd.DataFrame({"asset_id": ids, "payload": payloads})

    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )
    # the stride filter stays in the JVM plan (pushable, prunable) —
    # only selected rows cross the Arrow boundary
    return (
        docs.select(F.col(id_col))
        .filter(F.col(id_col) % every == 0)
        .mapInPandas(batches, schema=schema)
    )


def png_pixel_stats(frames: DataFrame) -> DataFrame:
    """Decode each PNG frame payload and emit exact integer pixel
    statistics — integers, not floats, so the output is bit-stable
    across platforms (zlib-compressed byte LENGTHS are not; pixel SUMS
    are)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {"asset_id": [], "frame_idx": [], "px_sum": [], "width": [], "height": []}
            for asset_id, idx, payload in zip(
                pdf["asset_id"], pdf["frame_idx"], pdf["frame_bytes"]
            ):
                w, h, img = parse_png(bytes(payload))
                out["asset_id"].append(asset_id)
                out["frame_idx"].append(idx)
                out["px_sum"].append(int(np.sum(img, dtype=np.int64)))
                out["width"].append(w)
                out["height"].append(h)
            yield pd.DataFrame(out)

    return frames.mapInPandas(batches, schema=PIXEL_STATS_SCHEMA)


AFP_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("afp", LongType()),
    ]
)


def synthetic_wav_corpus(
    docs: DataFrame, id_col: str = "doc_id", group_size: int = 25
) -> DataFrame:
    """Deterministic audio corpus for exercising the fingerprint
    pipeline without codec libraries: every document gets a real
    RIFF/WAVE PCM16 payload audio_fingerprint decodes, with near-dup structure
    by construction — documents in the same group (``id //
    group_size``) are the same signal up to one small edit, documents
    in different groups are independent.

    ENGINE-PORTABLE spec, mirrored verbatim in the mm_audio_fingerprint
    oracle (the synthetic_ppm_corpus doctrine): the signal is 61
    piecewise-constant segments of 64 samples each (3904 samples,
    ~7.8 KB — the phash payload scale), segment k of group g at
    integer amplitude

        A(g, k) = md5_15(f"{g}:s{k}") % 28000 - 14000

    (md5_15 = the repo's standard first-15-hex-digits BIGINT hash);
    the per-document perturbation bumps ONE doc-positioned segment,
    k_d = (d*7) % 61, by (d % 3 + 1) * 400 for d = doc_id %
    group_size — a genuine re-master-style edit that flips a few
    energy-delta bits (the bump is small next to the ~28000 amplitude
    range, so most in-group pairs hash identically and a minority land
    at hamming 1-4). Amplitudes stay within int16 (|A| <= 14000 +
    1200). Pure numpy per Arrow batch; constant segments mean every
    frame energy is exactly 64*A^2 — closed-form in SQL, no per-sample
    oracle sum."""
    from pyspark.sql import functions as F

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import struct

        import numpy as np

        def md5_15(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        fmt = struct.pack("<HHIIHH", 1, 1, 16_000, 32_000, 2, 16)
        pre = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data"
        amp_cache: dict[int, "np.ndarray"] = {}
        for pdf in it:
            ids, payloads = [], []
            for raw_id in pdf[id_col]:
                did = int(raw_id)
                g, d = divmod(did, group_size)
                base = amp_cache.get(g)
                if base is None:
                    base = np.array(
                        [md5_15(f"{g}:s{k}") % 28000 - 14000 for k in range(61)],
                        dtype=np.int64,
                    )
                    amp_cache[g] = base
                amps = base.copy()
                amps[(d * 7) % 61] += (d % 3 + 1) * 400
                pcm = np.repeat(amps.astype("<i2"), 64).tobytes()
                chunks = pre + struct.pack("<I", len(pcm)) + pcm
                payloads.append(b"RIFF" + struct.pack("<I", len(chunks)) + chunks)
                ids.append(did)
            yield pd.DataFrame({"asset_id": ids, "payload": payloads})

    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )
    # bare-id repartition before the generator fan-out — the
    # synthetic_ppm_corpus lesson (r12 curve exp 1.38 from 2 splits)
    ids = docs.select(F.col(id_col)).repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    return ids.mapInPandas(batches, schema=schema)


def audio_fingerprint(
    assets: DataFrame, seg_len: int = 64, bits: int = 60
) -> DataFrame:
    """REAL audio fingerprint over binary WAV payloads → (asset_id,
    ``bits``-bit signature long), the audio analog of image_phash:
    RIFF chunk-walk → PCM16 samples → per-segment integer energies
    E_k = sum(s^2) over seg_len-sample frames (exact BIGINT: 64
    samples * 2^30 <= 2^36) → bit k = [E_k > E_{k+1}], the
    energy-delta sign chain (the time-domain core of the
    Shazam/Chromaprint family — production systems take deltas over
    spectral bands; the framing, exactness, and banding are
    identical). Near-duplicate audio (re-encodes, small remasters)
    lands within a few bits, so the SAME pigeonhole banding as
    simhash/pHash (simhash_candidate_pairs) finds pairs with no
    all-pairs join. The parser is inlined in the closure (the
    image_phash doctrine: grading-driver workers have no mie_spark on
    PYTHONPATH)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        def wav_pcm16(raw: bytes) -> "np.ndarray":
            if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
                raise ValueError("not a RIFF/WAVE payload")
            data = None
            pos = 12
            while pos + 8 <= len(raw):
                cid = raw[pos : pos + 4]
                size = struct.unpack("<I", raw[pos + 4 : pos + 8])[0]
                if cid == b"data":
                    data = raw[pos + 8 : pos + 8 + size]
                pos += 8 + size + (size & 1)
            if data is None:
                raise ValueError("missing data chunk")
            return np.frombuffer(data, dtype="<i2")

        for pdf in it:
            out_ids, out_fps = [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                s = wav_pcm16(bytes(payload)).astype(np.int64)
                n = (len(s) // seg_len) * seg_len
                e = (s[:n].reshape(-1, seg_len) ** 2).sum(axis=1)
                sig = 0
                for k in range(min(len(e) - 1, bits)):
                    if e[k] > e[k + 1]:
                        sig |= 1 << k
                out_ids.append(int(aid))
                out_fps.append(sig)
            yield pd.DataFrame({"asset_id": out_ids, "afp": out_fps})

    return assets.mapInPandas(batches, schema=AFP_SCHEMA)
